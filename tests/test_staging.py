"""The ``.tmp/`` layout (distributed_query_engine_spark/staging.py): one
generation per source fingerprint whatever the sf_dir's spelling,
bucketed tables registered instead of rewritten, and every dir handed out
for an sf_dir purgeable by its key."""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

import pytest

from tests.conftest import REPO, SF_UNIT
from distributed_query_engine_spark import staging
from distributed_query_engine_spark.catalog import staging_key
from distributed_query_engine_spark.operators import sparse as SP
from distributed_query_engine_spark.plans.analytic import _bucketed_tables
from distributed_query_engine_spark.registry import all_queries
from distributed_query_engine_spark.streaming import ops

_TABLES = ("documents", "lineitem", "orders", "embeddings", "events")


@pytest.fixture
def sf_copy(tmp_path) -> Path:
    src = tmp_path / "sf"
    src.mkdir()
    for t in _TABLES:
        shutil.copy(f"{SF_UNIT}/{t}.parquet", src / f"{t}.parquet")
    return src


def _generations(kind: str, sf: str) -> list[Path]:
    return sorted((staging.TMP / kind).glob(f"{staging.key(sf)}_*"))


def _bm25(spark, sf):
    SP.build_bm25_index(spark, spark.read.parquet(f"{sf}/documents.parquet"), sf)


def _ivf(spark, sf):
    all_queries()["llm_similarity_ivf_index"](spark, sf)


@pytest.mark.parametrize(
    "kind,build",
    [("bm25_index", _bm25), ("bucketed", _bucketed_tables), ("ivf_index", _ivf)],
    ids=["bm25", "bucketed", "ann"],
)
def test_relative_and_absolute_sf_dir_share_one_generation(
    spark, sf_copy, kind, build
):
    """A relative and an absolute spelling of one sf_dir must find the
    same generation: an unresolved fingerprint gave each spelling its own
    generation, and each build swept the other's (dropping its tables)."""
    absolute = str(sf_copy)
    relative = os.path.relpath(absolute)
    assert not os.path.isabs(relative)
    build(spark, absolute)
    (gen,) = _generations(kind, absolute)
    marker = (gen / staging.MARKER).stat().st_mtime_ns
    build(spark, relative)
    build(spark, absolute)
    assert _generations(kind, relative) == [gen]
    assert (gen / staging.MARKER).stat().st_mtime_ns == marker  # never rebuilt


def test_bucketed_tables_register_without_rewrite_in_a_new_process(spark, sf_dir):
    """The catalog is per-process, so a new process finds the published
    bucketed generation but no ``bkt_*`` table. It must register the
    tables over the existing files, never rewrite files a concurrent
    process may be scanning."""
    join = all_queries()["join_bucketed_colocated"]
    rows = sorted(map(tuple, join(spark, sf_dir).collect()))
    (gen,) = _generations("bucketed", sf_dir)

    def stamps():
        return {f: f.stat().st_mtime_ns for f in gen.rglob("*") if f.is_file()}

    before = stamps()
    for t in spark.catalog.listTables():
        if t.name.startswith("bkt_"):
            spark.sql(f"DROP TABLE {t.name}")  # as a new process's catalog
    assert sorted(map(tuple, join(spark, sf_dir).collect())) == rows
    assert stamps() == before
    for name, col in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        desc = {
            r.col_name: r.data_type
            for r in spark.sql(
                f"DESCRIBE TABLE EXTENDED bkt_{name}_{gen.name}"
            ).collect()
        }
        assert desc["Num Buckets"] == "8"
        assert desc["Bucket Columns"] == f"[`{col}`]"


def _literals(call: str) -> set[str]:
    """The string literals passed to ``call`` (after an ``sf_dir``
    argument, if any) anywhere in the package."""
    src = "".join(
        f.read_text() for f in (REPO / "distributed_query_engine_spark").rglob("*.py")
    )
    return set(re.findall(call + r'\(\s*(?:sf_dir,\s*)?"(\w+)"', src))


def test_purge_derived_state_removes_every_dir_for_the_key(spark, sf_copy):
    """The benchmark starts every run cold by deleting, under ``.tmp/``,
    each dir at depth 1 or 2 whose name holds the sf_dir's staging key.
    Every artifact kind and run-dir parent must follow that rule."""
    from perfbench.run import purge_derived_state

    sf = str(sf_copy)
    k = staging.key(sf)
    ops._stage_dir(sf)
    ops._stage_sliced(spark, sf, 2)
    _bm25(spark, sf)
    _bucketed_tables(spark, sf)
    kinds = _literals(r"staging\.generation") | _literals("_stage_slices")
    parents = _literals(r"staging\.run_dir")
    names = _literals("artifact_dir")
    built = {"stream_src", "stream_src_sliced", "bm25_index", "bucketed"}
    assert built | {"ivf_index", "graph_index_prod"} <= kinds
    assert {"checkpoints", "graph_index_prod_cpt", "sq8_index_incr"} <= parents
    assert "minhash_sig_store" in names
    for kind in kinds - built:
        staging.publish(staging.generation(kind, sf, ("events",)), Path.mkdir)
    for parent in parents:
        staging.run_dir(parent, k).mkdir(parents=True)
        staging.run_dir(parent, f"run-{k}").mkdir(parents=True)
    for name in names:
        Path(staging.artifact_dir(sf, name)).mkdir()

    purge_derived_state(sf_copy)

    keys = (k, staging_key(sf))
    left = []
    for root, dirs, files in os.walk(staging.TMP):
        depth = len(Path(root).relative_to(staging.TMP).parts)
        left += [
            Path(root) / n for n in dirs + files if any(x in n for x in keys)
        ]
        if depth >= 2:
            dirs.clear()
    assert left == []
