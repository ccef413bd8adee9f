"""The one on-disk layout of every index the engine builds: IVF, IVF-PQ,
SQ8, the kNN graph and BM25. Each kind supplies only its encoder (the
relations a segment holds) and its reader.

An index directory holds:

- ``quantizer/<name>/``: the trained, broadcast-sized parameters (IVF and
  graph centroids, IVF-PQ centroids and codebooks, SQ8 per-dimension
  ranges), written once by the build: every stored code was encoded
  against them.
- ``<relation>/seg=<id>/``: every corpus-sized relation, the segment id
  its outermost partition column (``assignments/seg=<id>/cell_id=<c>/``,
  ``codes/seg=<id>/``, ``edges/seg=<id>/``, BM25
  ``postings|stats|corpus/seg=<id>/``). A build writes segment 0, an
  append the id its caller names (a stream's batch id, say), and a
  compaction one base segment under the next negative id, which no
  caller writes.
- ``MANIFEST``: JSON ``{"segments": [...], "folded": [...]}``, the
  committed segments and the ids compactions merged, replaced whole by
  one ``os.replace`` of ``MANIFEST.tmp``.

One writer per index directory: a write to a segment id the MANIFEST
names (folded ids included) is a no-op; any other id is cleared, written
from scratch, then committed. A crash at any point leaves the previous
MANIFEST and every segment it names as they were. A compaction keeps the
segments of the MANIFEST it replaces as grace for readers still scanning
them and deletes every older or uncommitted one.

Readers read the MANIFEST (a local file, no Spark job), open each
relation once with its stored schema and filter ``seg IN (<committed
ids>)`` as a literal partition filter, so a scan never opens a file of an
uncommitted or retired segment; ``seg`` is dropped.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "MANIFEST"

# Leads the knob string of every staged index generation: a generation
# built in an earlier layout hashes differently, so staging.publish
# supersedes and sweeps it.
LAYOUT = "seg1"


class Rel(NamedTuple):
    """A corpus-sized relation: its columns (DDL, partition columns
    included), its partition columns inside a segment, its bucketing."""

    schema: str
    parts: tuple[str, ...] = ()
    bucket: "tuple[str, int] | None" = None


class Kind(NamedTuple):
    """An index kind: its quantizer (name -> DDL) and its relations, in
    the order a segment writes them."""

    quantizer: dict[str, str]
    relations: dict[str, Rel]


_IVF_CENTROIDS = {"centroids": "cell_id long, c_ivec array<long>, c_nsq long"}
_ASSIGNMENTS = Rel(
    "vec_id long, ivec array<long>, nsq long, cell_id long", ("cell_id",)
)

KINDS = {
    "ivf": Kind(_IVF_CENTROIDS, {"assignments": _ASSIGNMENTS}),
    "graph": Kind(
        _IVF_CENTROIDS,
        {"assignments": _ASSIGNMENTS, "edges": Rel("src_id long, dst_id long")},
    ),
    "ivfpq": Kind(
        {
            "centroids": "cell_id long, c_ivec array<long>",
            "codebooks": "m int, code_id long, c_sv array<long>",
        },
        {"codes": Rel("vec_id long, m int, code_id long, cell_id long", ("cell_id",))},
    ),
    "sq8": Kind(
        {"dims": "mn_arr array<long>, mx_arr array<long>"},
        {"codes": Rel("vec_id long, codes array<long>")},
    ),
    "bm25": Kind(
        {},
        {
            "postings": Rel(
                "tok string, doc_id long, tf long, dl long", bucket=("tok", 32)
            ),
            "stats": Rel("tok string, df long"),
            "corpus": Rel("n_docs long, a_tok long"),
        },
    ),
}


def _manifest(path: Path) -> "dict | None":
    """The committed MANIFEST, or None when nothing is committed yet. A
    directory holding anything the store does not write (the layouts
    that predate it kept loose relation files, cell dirs and pointer
    files at top level) raises: read as a store it would look empty."""
    try:
        return json.loads((path / MANIFEST).read_text())
    except FileNotFoundError:
        pass
    rels = {name for k in KINDS.values() for name in k.relations}
    for e in path.iterdir() if path.is_dir() else ():
        if e.name in ("quantizer", f"{MANIFEST}.tmp") or (
            e.name in rels
            and e.is_dir()
            and all(c.name.startswith("seg=") for c in e.iterdir())
        ):
            continue
        raise ValueError(
            f"{path} holds an index in a layout older than the index store "
            f"({e.name} at top level, no {MANIFEST}): rebuild it"
        )
    return None


def segments(path) -> list[int]:
    """The committed segment ids of the index at ``path``."""
    m = _manifest(Path(path))
    if m is None:
        raise ValueError(f"{path} holds no committed index: build it first")
    return m["segments"]


def _commit(path: Path, segs: list[int], folded: list[int]) -> None:
    tmp = path / f"{MANIFEST}.tmp"
    tmp.write_text(json.dumps({"segments": segs, "folded": folded}))
    os.replace(tmp, path / MANIFEST)


def _write(df: DataFrame, out: Path, rel: Rel) -> None:
    """Write one relation of one segment into ``out``, projected to its
    stored columns. A bucketed relation goes through a transient catalog
    table, the only way Spark writes bucketed files; the table is
    external, so dropping it keeps the files."""
    df = df.select(*[c.split()[0] for c in rel.schema.split(", ")])
    if rel.bucket is None:
        df.write.mode("overwrite").partitionBy(*rel.parts).parquet(str(out))
        return
    col, n = rel.bucket
    tmp = f"index_store_w{os.getpid()}"
    try:
        (
            df.write.format("parquet")
            .bucketBy(n, col)
            .sortBy(col)
            .option("path", str(out))
            .mode("overwrite")
            .saveAsTable(tmp)
        )
    finally:
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {tmp}")


def _write_segment(path: Path, kind: str, seg: int, rels: dict) -> None:
    spec = KINDS[kind].relations
    for name in spec:
        shutil.rmtree(path / name / f"seg={seg}", ignore_errors=True)
    for name, rel in spec.items():
        _write(rels[name], path / name / f"seg={seg}", rel)


def build(path, kind: str, quantizer: "dict[str, DataFrame]", encode: Callable) -> None:
    """Start a fresh index at ``path``: clear it, write the quantizer,
    then write and commit ``encode()``'s relations as segment 0."""
    p = Path(path)
    shutil.rmtree(p, ignore_errors=True)
    for name, df in quantizer.items():
        df.write.parquet(str(p / "quantizer" / name))
    append(p, kind, 0, encode)


def append(path, kind: str, seg: int, encode: Callable) -> None:
    """Write the relations ``encode()`` returns as segment ``seg`` and
    commit it; a no-op, ``encode`` not even called, when the MANIFEST
    already names ``seg``."""
    p = Path(path)
    m = _manifest(p) or {"segments": [], "folded": []}
    if seg in m["segments"] or seg in m["folded"]:
        return
    _write_segment(p, kind, seg, encode())
    _commit(p, m["segments"] + [seg], m["folded"])


def _regroup(df: DataFrame, rel: Rel) -> DataFrame:
    """A compaction's default fold: the rows regrouped so the writer
    emits one file per bucket or partition. Buckets regroup on the
    bucketed writer's own bucket function; a plain repartition on the
    column does not align with bucket ids."""
    if rel.bucket:
        col, n = rel.bucket
        return df.repartition(n, F.pmod(F.hash(col), F.lit(n)))
    return df.repartition(*rel.parts) if rel.parts else df


def compact(
    spark: SparkSession, path, kind: str, **fold: Callable[[DataFrame], DataFrame]
) -> None:
    """Fold the committed segments into one base segment and point the
    MANIFEST at it alone. ``fold[name]`` maps a relation's committed rows
    to the base segment's (default :func:`_regroup`). The replaced
    MANIFEST's segments stay on disk as reader grace; older and
    uncommitted segments are deleted."""
    p = Path(path)
    live, folded = segments(p), _manifest(p)["folded"]
    base = min([0, *live, *folded]) - 1
    rels = {}
    for name, rel in KINDS[kind].relations.items():
        df = read(spark, p, kind, name)
        rels[name] = fold[name](df) if name in fold else _regroup(df, rel)
    _write_segment(p, kind, base, rels)
    _commit(p, [base], folded + live)
    keep = {f"seg={s}" for s in (base, *live)}
    for name in KINDS[kind].relations:
        for d in (p / name).glob("seg=*"):
            if d.name not in keep:
                shutil.rmtree(d, ignore_errors=True)


def quantizer(spark: SparkSession, path, kind: str, name: str) -> DataFrame:
    """The quantizer relation ``name`` of the index at ``path``."""
    segments(path)  # a missing or pre-store index raises here
    return spark.read.schema(KINDS[kind].quantizer[name]).parquet(
        str(Path(path) / "quantizer" / name)
    )


def _committed(df: DataFrame, path) -> DataFrame:
    """``df``'s rows of the committed segments, without ``seg``. The
    filter is SQL text: a Column ``isin`` took about 30 ms more to build
    per relation, which every search pays."""
    ids = ", ".join(map(str, segments(path)))
    return df.where(f"seg IN ({ids})").drop("seg")


def read(spark: SparkSession, path, kind: str, name: str) -> DataFrame:
    """Relation ``name`` over the committed segments."""
    rel = KINDS[kind].relations[name]
    df = spark.read.schema(f"{rel.schema}, seg int").parquet(str(Path(path) / name))
    return _committed(df, path)


# tbl -> the MANIFEST this process last registered it at: its index
# path, file identity and segment ids.
_REGISTERED: dict[str, tuple] = {}


def bucketed(spark: SparkSession, path, kind: str, name: str, tbl: str) -> DataFrame:
    """:func:`read` of a bucketed relation through the catalog table
    ``tbl``, ``PARTITIONED BY (seg)`` and bucketed as the relation is, so
    a literal filter on the bucket column prunes buckets in every
    segment. The catalog is per process: each registers the table and
    the committed segments over the files, and the refresh drops file
    listings cached before a segment was rewritten.

    Committed segments are immutable, so while the MANIFEST is the one
    this process last registered ``tbl`` at (same path, same file — a
    commit replaces it — same segments) and the table still exists, the
    three statements are skipped: about 60 ms per search."""
    rel = KINDS[kind].relations[name]
    col, n = rel.bucket
    segs = segments(path)
    st = (Path(path) / MANIFEST).stat()
    stamp = (str(Path(path).resolve()), st.st_ino, st.st_mtime_ns, tuple(segs))
    if _REGISTERED.get(tbl) != stamp or not spark.catalog.tableExists(tbl):
        parts = " ".join(f"PARTITION (seg={s})" for s in segs)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {tbl} ({rel.schema}, seg int) USING PARQUET "
            f"PARTITIONED BY (seg) CLUSTERED BY ({col}) SORTED BY ({col}) "
            f"INTO {n} BUCKETS LOCATION '{Path(path) / name}'"
        )
        spark.sql(f"ALTER TABLE {tbl} ADD IF NOT EXISTS {parts}")
        spark.sql(f"REFRESH TABLE {tbl}")
        _REGISTERED[tbl] = stamp
    return _committed(spark.table(tbl), path)
