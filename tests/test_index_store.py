"""The index store (distributed_query_engine_spark/index_store.py): the
MANIFEST rules on plain files, the refusal of pre-store layouts, and a
crash inside every write of an append or compaction for each of the
five index kinds."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from distributed_query_engine_spark import index_store as IS
from distributed_query_engine_spark.operators import similarity as S
from distributed_query_engine_spark.operators import sparse as SP


@pytest.fixture
def file_writes(monkeypatch):
    """Segment writes as plain files: a relation write leaves one file
    holding what the encoder returned, and a compaction's read of a
    relation yields the committed segment ids."""

    def write(df, out, rel):
        out.mkdir(parents=True)
        (out / "part-0").write_text(str(df))

    monkeypatch.setattr(IS, "_write", write)
    monkeypatch.setattr(IS, "read", lambda spark, path, kind, name: IS.segments(path))


def test_manifest_rules(tmp_path, file_writes):
    p = tmp_path / "idx"
    encoded = []

    def encoder(tag):
        def encode():
            encoded.append(tag)
            return {"codes": tag}

        return encode

    def seg_dirs():
        return sorted(d.name for d in (p / "codes").iterdir())

    IS.append(p, "sq8", 0, encoder("a"))
    # a commit is idempotent: the replay never even encodes
    IS.append(p, "sq8", 0, encoder("b"))
    assert encoded == ["a"] and IS.segments(p) == [0]
    # an uncommitted segment dir is not listed
    (p / "codes" / "seg=7").mkdir()
    (p / "codes" / "seg=7" / "part-0").write_text("garbage")
    assert IS.segments(p) == [0]
    # a torn MANIFEST.tmp is ignored
    (p / "MANIFEST.tmp").write_text('{"segments": [0, 7')
    assert IS.segments(p) == [0]
    IS.append(p, "sq8", 1, encoder("c"))
    assert IS.segments(p) == [0, 1]
    # compaction keeps the replaced MANIFEST's segments as grace and
    # deletes every uncommitted one
    IS.compact(None, p, "sq8", codes=lambda live: f"base of {live}")
    assert IS.segments(p) == [-1]
    assert (p / "codes" / "seg=-1" / "part-0").read_text() == "base of [0, 1]"
    assert seg_dirs() == ["seg=-1", "seg=0", "seg=1"]
    # the next compaction deletes the segments older than its predecessor
    IS.append(p, "sq8", 2, encoder("d"))
    IS.compact(None, p, "sq8", codes=lambda live: f"base of {live}")
    assert IS.segments(p) == [-2]
    assert seg_dirs() == ["seg=-1", "seg=-2", "seg=2"]
    # a folded id stays committed: its replay is a no-op
    IS.append(p, "sq8", 1, encoder("e"))
    assert "e" not in encoded and IS.segments(p) == [-2]


@pytest.mark.parametrize(
    "entry",
    [
        "assignments/cell_id=3/part-00000.parquet",
        "codes/part-00000.parquet",
        "edges/part-00000.parquet",
        "postings/part-00000_00001.c000.parquet",
        "dims/part-00000.parquet",
        "EDGES_CURRENT",
    ],
)
def test_pre_store_layout_raises(tmp_path, entry):
    """An index dir written before the store has no MANIFEST; opening it
    must name the path and ask for a rebuild, never read as empty."""
    p = tmp_path / "old_index"
    (p / entry).parent.mkdir(parents=True, exist_ok=True)
    (p / entry).write_text("")
    (p / "quantizer").mkdir()
    with pytest.raises(ValueError, match="rebuild") as ei:
        IS.segments(p)
    assert str(p) in str(ei.value)
    with pytest.raises(ValueError, match="rebuild"):
        S.topk_cosine_ivf_index(None, str(p), [0])
    with pytest.raises(ValueError, match="rebuild"):
        IS.append(p, "bm25", 1, dict)


class _Lifecycle:
    """Build, append (segment 1), compact and search for one index kind
    at its registered knobs, over the 90% / 10% split the lifecycle
    queries use."""

    def __init__(self, kind, spark, sf_dir):
        self.kind, self.spark = kind, spark
        if kind == "bm25":
            d = spark.read.parquet(f"{sf_dir}/documents.parquet")
            self.old, self.new = d.filter("doc_id % 10 != 9"), d.filter("doc_id % 10 = 9")
            self.qterms = SP.panel_qterms(d, [0, 1, 2])
            self.sf_dir = sf_dir
        else:
            self.emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            is_new = F.pmod(F.col("vec_id"), F.lit(100)) >= 90
            self.old, self.new = self.emb.filter(~is_new), self.emb.filter(is_new)

    def build(self, p):
        {
            "ivf": lambda: S.build_ivf_index(self.old, p),
            "ivfpq": lambda: S.build_ivfpq_index(self.old, p),
            "sq8": lambda: S.build_sq8_index(self.old, p),
            "graph": lambda: S.build_graph_index(self.old, p),
            "bm25": lambda: SP.write_bm25_index(self.old, p),
        }[self.kind]()

    def append(self, p):
        spark, new = self.spark, self.new
        {
            "ivf": lambda: S.append_to_ivf_index(spark, new, p, seg=1),
            "ivfpq": lambda: S.append_to_ivfpq_index(spark, new, p, seg=1),
            "sq8": lambda: S.append_to_sq8_index(spark, new, p, seg=1),
            "graph": lambda: S.append_to_graph_index(spark, new, p, seg=1),
            "bm25": lambda: SP.append_to_bm25_index(new, p, seg=1),
        }[self.kind]()

    def compact(self, p):
        {
            "graph": lambda: S.compact_graph_index(self.spark, p),
            "bm25": lambda: SP.compact_bm25_index(self.spark, p),
        }.get(self.kind, lambda: IS.compact(self.spark, p, self.kind))()

    def search(self, p):
        # vec_id 95 is in the appended batch
        spark, q = self.spark, [0, 1, 2, 95]
        df = {
            "ivf": lambda: S.topk_cosine_ivf_index(spark, p, q),
            "ivfpq": lambda: S.topk_l2_ivfpq_index(spark, p, self.emb, q),
            "sq8": lambda: S.topk_cosine_sq8_index(spark, p, q),
            "graph": lambda: S.topk_cosine_graph_index(spark, p, q),
            "bm25": lambda: SP.bm25_search_index(
                spark, self.sf_dir, self.qterms, base=p,
                tbl=f"bm25_store_test_{os.path.basename(p)}",
            ),
        }[self.kind]()
        rows = sorted(tuple(r) for r in df.collect())
        assert rows
        return rows


def _fail_manifest_replace(monkeypatch):
    replace = os.replace

    def fail(src, dst):
        if str(dst).endswith(IS.MANIFEST):
            raise RuntimeError("injected crash before the MANIFEST replace")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", fail)


@pytest.mark.parametrize("kind", ["ivf", "ivfpq", "sq8", "graph", "bm25"])
def test_crash_anywhere_in_a_write_leaves_the_committed_index(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    """Crash an append after each of its relation writes and once just
    before the MANIFEST replace: the search still equals the
    pre-append one row for row. Replaying the segment then equals a
    clean build plus append, and a compaction that crashes before its
    flip leaves that result unchanged."""
    life = _Lifecycle(kind, spark, sf_dir)
    idx, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    life.build(idx)
    pre = life.search(idx)
    write = IS._write
    for n in range(1, len(IS.KINDS[kind].relations) + 1):
        done = []

        def crash_after_nth(df, out, rel, n=n):
            write(df, out, rel)
            done.append(out)
            if len(done) == n:
                raise RuntimeError(f"injected crash after write {n}")

        monkeypatch.setattr(IS, "_write", crash_after_nth)
        with pytest.raises(RuntimeError, match="injected crash"):
            life.append(idx)
        monkeypatch.undo()
        assert life.search(idx) == pre
    _fail_manifest_replace(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        life.append(idx)
    monkeypatch.undo()
    assert life.search(idx) == pre
    assert IS.segments(idx) == [0]

    life.append(idx)
    life.build(ref)
    life.append(ref)
    post = life.search(idx)
    assert post == life.search(ref) and post != pre

    _fail_manifest_replace(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        life.compact(idx)
    monkeypatch.undo()
    assert IS.segments(idx) == [0, 1]
    assert life.search(idx) == post
    if kind == "bm25":
        for p in (idx, ref):
            spark.sql(f"DROP TABLE IF EXISTS bm25_store_test_{os.path.basename(p)}")


def test_bm25_search_registers_its_table_once_per_manifest(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A search registers the postings table (CREATE, ADD PARTITION,
    REFRESH) only when the MANIFEST differs from the one this process
    last registered it at, or the table is gone: an unchanged second
    search issues no DDL; a search after an append, or after the table
    was dropped, registers it again and sees the new segment."""
    life = _Lifecycle("bm25", spark, sf_dir)
    idx = str(tmp_path / "idx")
    tbl = f"bm25_store_test_{os.path.basename(idx)}"
    life.build(idx)
    sql, ddl = spark.sql, []

    def logged(q, *a, **kw):
        if q.split(None, 1)[0].upper() in ("CREATE", "ALTER", "REFRESH"):
            ddl.append(q.split(None, 1)[0].upper())
        return sql(q, *a, **kw)

    monkeypatch.setattr(spark, "sql", logged)
    try:
        pre = life.search(idx)
        assert ddl == ["CREATE", "ALTER", "REFRESH"]
        assert life.search(idx) == pre
        assert len(ddl) == 3
        life.append(idx)
        post = life.search(idx)
        assert len(ddl) == 6 and post != pre
        sql(f"DROP TABLE {tbl}")
        assert life.search(idx) == post
        assert len(ddl) == 9
    finally:
        sql(f"DROP TABLE IF EXISTS {tbl}")
