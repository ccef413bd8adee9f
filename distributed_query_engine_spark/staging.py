"""The ``.tmp/`` layout: everything the engine derives from its inputs.

The engine runs on a Spark runtime it does not own, so every derived
artifact is a cache that must invalidate itself when its source changes
and must stay safe while a second process uses the same checkout.
Three kinds of dir live under ``TMP``:

- a *generation* (:func:`generation` + :func:`publish`): a build-once
  artifact derived from source parquet files — stream stage dirs, slice
  stages, the BM25 and ANN indexes, the bucketed tables — at
  ``TMP/<kind>/<tag>``. The tag is the sf_dir's :func:`key` plus a hash
  of the build knobs and the sources' :func:`fingerprint`, so a
  regenerated source or a changed knob gets a new dir, never a stale
  serve. A generation is built in a pid scratch dir and published by one
  ``os.rename``: a reader sees a complete generation or none.
- a *run dir* (:func:`run_dir`): a per-process store a run mutates —
  checkpoints, sinks, append-mode indexes — at
  ``TMP/<parent>/<key>-<pid>``. Only its own pid clears it; dirs of dead
  pids are swept.
- an *artifact dir* (:func:`artifact_dir`): ``TMP/<key>/<name>``,
  overwritten in place by queries whose round-trip writes converge under
  process races.

Every dir handed out for an sf_dir sits at depth 1 or 2 under ``TMP``
with :func:`key` in its name, so one sf_dir's derived state can be
purged by name.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable, Iterable
from pathlib import Path
from typing import NamedTuple

from distributed_query_engine_spark.catalog import staging_key

TMP = Path(__file__).resolve().parent.parent / ".tmp"

# Written last into a generation's scratch dir, so its presence in a
# published dir means the build completed.
MARKER = "_BUILT"

_IDENT = str.maketrans(".-", "__")


def key(sf_dir: str) -> str:
    """:func:`catalog.staging_key` in identifier-safe form, so the same
    key names dirs and catalog tables."""
    return staging_key(sf_dir).translate(_IDENT)


def fingerprint(*srcs: Path) -> str:
    """(path, mtime_ns, size) of every file under ``srcs``. Paths are
    resolved first, so a relative and an absolute spelling of one sf_dir
    share one fingerprint (and therefore one generation) instead of each
    superseding the other's."""
    parts = []
    for src in srcs:
        src = src.resolve()
        for f in sorted(src.rglob("*")) if src.is_dir() else [src]:
            if f.is_file():
                st = f.stat()
                parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    return ";".join(parts)


def _sweep_dead(parent: Path) -> None:
    """Remove ``*-<pid>`` entries of ``parent`` whose process is gone.
    A live pid's dir is never touched; a pid alive under another uid
    (PermissionError) is left alone."""
    if not parent.is_dir():
        return
    for d in parent.iterdir():
        pid = d.name.rsplit("-", 1)[-1]
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


_SWEPT: set[str] = set()


def run_dir(parent: str, key: str, keep: bool = False) -> Path:
    """This process's ``<key>-<pid>`` run dir under ``TMP/parent``,
    cleared of a previous run of this pid. The first call per parent in a
    process sweeps that parent's dead-pid siblings. ``keep=True`` returns
    the same path without clearing it: the crash-recovery resume must see
    the prior attempt's checkpoint, sink and store as the crash left
    them."""
    p = TMP / parent
    if parent not in _SWEPT:
        _SWEPT.add(parent)
        _sweep_dead(p)
    d = p / f"{key}-{os.getpid()}"
    if not keep:
        shutil.rmtree(d, ignore_errors=True)
    return d


def artifact_dir(sf_dir: str, name: str) -> str:
    """``TMP/<key>/<name>`` for an artifact its query overwrites in
    place; the parent is created."""
    p = TMP / key(sf_dir) / name
    p.parent.mkdir(parents=True, exist_ok=True)
    return str(p)


class Generation(NamedTuple):
    """A generation's dir and its tag (``<key>_<hash>``, also the suffix
    of its catalog tables' names)."""

    dir: Path
    tag: str


def generation(
    kind: str, sf_dir: str, tables: Iterable[str], knobs: str = ""
) -> Generation:
    """The generation of ``kind`` built from ``sf_dir``'s ``tables`` under
    ``knobs``. A pure lookup: it reads file stats and touches nothing."""
    fp = fingerprint(*(Path(sf_dir) / f"{t}.parquet" for t in tables))
    h = hashlib.md5(f"{knobs}\n{fp}".encode()).hexdigest()[:12]
    tag = f"{key(sf_dir)}_{h}"
    return Generation(TMP / kind / tag, tag)


def publish(
    gen: Generation,
    build: Callable[[Path], None],
    spark=None,
    tables: Iterable[str] = (),
) -> Path:
    """Return ``gen.dir``, building it first if it is not published.

    On a miss, ``build(scratch)`` writes into a pid scratch dir, the
    marker is written, and the scratch dir is renamed into place; a lost
    rename race discards the scratch build (the build is deterministic in
    its source, so the live one is identical). Then every other
    generation of the same key is swept as superseded — each catalog
    table ``<prefix><tag>`` for the ``tables`` prefixes is dropped first,
    so no table points at a deleted dir — as are the scratch dirs of
    dead processes."""
    if (gen.dir / MARKER).is_file():
        return gen.dir
    parent = gen.dir.parent
    parent.mkdir(parents=True, exist_ok=True)
    scratch = parent / f".build-{gen.tag}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    build(scratch)
    scratch.mkdir(exist_ok=True)
    (scratch / MARKER).write_text(gen.tag)
    try:
        os.rename(scratch, gen.dir)
    except OSError:
        shutil.rmtree(scratch, ignore_errors=True)
        if not (gen.dir / MARKER).is_file():
            raise
    k = gen.tag.rsplit("_", 1)[0]
    for sib in parent.iterdir():
        if sib != gen.dir and sib.name.rsplit("_", 1)[0] == k:
            for prefix in tables:
                spark.sql(f"DROP TABLE IF EXISTS {prefix}{sib.name}")
            shutil.rmtree(sib, ignore_errors=True)
    _sweep_dead(parent)
    return gen.dir


def register_bucketed(
    spark, tbl: str, location: Path, schema: str, col: str, n: int
) -> None:
    """Register ``tbl`` as the parquet table bucketed ``n`` ways on
    ``col`` over the published files at ``location`` — the one way every
    process, the one that built it included, gets a generation's bucketed
    table.
    The catalog is per-process, so the files are never rewritten to get
    one; IF NOT EXISTS makes a repeated registration a no-op."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {tbl} ({schema}) USING PARQUET "
        f"CLUSTERED BY ({col}) SORTED BY ({col}) INTO {n} BUCKETS "
        f"LOCATION '{location}'"
    )
