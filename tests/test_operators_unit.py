"""Per-operator unit tests on tiny literal DataFrames — nulls, empties,
ties, guard paths (SURVEY.md §5: the reference's weak spot was exactly
these edges, cf. its partial Hive type map)."""

from __future__ import annotations

from pathlib import Path

import pytest

from pyspark.sql import functions as F

from scripts import oracle
from tests.conftest import SF_UNIT
from distributed_query_engine_spark import index_store as IS
from distributed_query_engine_spark.operators import dedup as D
from distributed_query_engine_spark.operators import multimodal as MM
from distributed_query_engine_spark.operators import similarity as S


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_minhash_identical_docs_are_dups(spark):
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "the quick brown fox jumps over the lazy dog", "en"),
            (3, "completely different words entirely here now", "en"),
        ],
    )
    out = {
        (r.doc_a, r.doc_b): (r.jaccard, r.is_dup)
        for r in D.minhash_dedup_pairs(docs).collect()
    }
    assert out[(1, 2)] == (1.0, True)
    assert all(k == (1, 2) or not v[1] for k, v in out.items())


def test_minhash_no_docs_no_pairs(spark):
    docs = _docs(spark, [])
    assert D.minhash_dedup_pairs(docs).count() == 0


def test_simhash_identical_zero_hamming(spark):
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta", "en"),
            (2, "alpha beta gamma delta", "en"),
        ],
    )
    rows = D.simhash_near_pairs(docs, max_hamming=0).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in rows] == [(1, 2, 0)]


def test_word_ngrams_sub_n_doc_is_empty(spark):
    # Spark's sequence(1, k) runs DESCENDING for k<1 — the guard must
    # yield zero bigrams for a one-word doc, not fabricated ones.
    docs = _docs(spark, [(1, "single", "en"), (2, "two words", "en")])
    grams = {
        (r.doc_id, r.tok) for r in D.word_ngrams(docs, 2).collect()
    }
    assert grams == {(2, "two words")}


def test_exact_jaccard_reports_disjoint_pairs_as_zero(spark):
    # Contract: every candidate pair gets its verified score, including
    # jaccard=0 for zero overlap (see exact_jaccard docstring; the SQL
    # oracles mirror this with LEFT JOIN + COALESCE).
    docs = _docs(
        spark, [(1, "a b c", "en"), (2, "x y z", "en"), (3, "a b q", "en")]
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    rows = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.exact_jaccard(
            pairs, doc_sets=D.doc_hash_sets_rowlocal(docs)
        ).collect()
    }
    assert rows[(1, 2)] == 0.0
    assert rows[(1, 3)] == 0.5  # {a,b} / {a,b,c,q}


def test_connected_components_chain_and_islands(spark):
    # A 4-node chain (diameter 3 → needs multiple propagation rounds)
    # plus a separate 2-node island; min reachable label wins.
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {r.node: r.comp for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert D.connected_components(pairs).count() == 0


def test_cosine_exact_on_known_vectors(spark):
    # Bucket-blocked contract (see cosine_near_dup_pairs): only
    # same-LSH-bucket pairs are candidates. Identical vectors share a
    # bucket by construction, so (0, 1) must appear with exact cosine
    # 1.0; the orthogonal vector 2 appears only if its bucket happens to
    # collide — and then its cosine must still be exactly 0.0.
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {
        (r.vec_a, r.vec_b): r.cosine
        for r in S.cosine_near_dup_pairs(emb, threshold=-2.0).collect()
    }
    assert rows[(0, 1)] == 1.0
    for (a, b), c in rows.items():
        if 2 in (a, b):
            assert c == 0.0


def test_cosine_near_dup_skips_empty_embeddings(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0), (2, [], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = S.cosine_near_dup_pairs(emb, threshold=-2.0).collect()
    assert all(2 not in (r.vec_a, r.vec_b) for r in rows)
    assert {(r.vec_a, r.vec_b) for r in rows} == {(0, 1)}


def test_zero_norm_embeddings_score_null_and_rank_last(spark):
    # A zero or empty vector has no cosine: the SQL-text cosine divides
    # with try_divide, so it scores NULL (ANSI mode used to raise
    # DIVIDE_BY_ZERO), ranks after every scored candidate, and is never
    # flagged a semantic duplicate — even at a threshold every real
    # cosine passes. A row scoring NULL against every centroid takes
    # the lowest cell.
    import math

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5]), (3, [])],
        "vec_id long, embedding array<float>",
    )

    def rows(df):
        return [tuple(r) for r in df.orderBy("q_id", "rn").collect()]

    # ivec = x * 2^20: dot(v0, v2) = 2^39, nsq0 = 2^40, nsq2 = 2^39
    cos02 = float(2**39) / (math.sqrt(2**40) * math.sqrt(2**39))
    assert rows(S.topk_cosine(emb, [0], 3)) == [
        (0, 2, cos02, 1), (0, 1, None, 2), (0, 3, None, 3),
    ]
    assert rows(S.topk_cosine(emb, [1], 3)) == [
        (1, 0, None, 1), (1, 2, None, 2), (1, 3, None, 3),
    ]
    sq8 = rows(S.topk_cosine_sq8(emb, [0], 3))
    assert [r[1] for r in sq8] == [2, 1, 3]
    assert sq8[0][2] is not None and sq8[1][2] is None and sq8[2][2] is None
    kept = {
        r.vec_id: (r.cell_id, r.kept)
        for r in S.semdedup(emb, threshold=-2.0).collect()
    }
    assert kept == {0: (0, True), 1: (0, True), 2: (2, True), 3: (0, True)}


def test_cosine_searches_topk_is_ranked_cut_of_candidates(spark, sf_dir):
    # The one ranked cut: each search's k=5 rows are exactly a Python
    # ranking of its own k=None candidates by (-cosine, vec_id), with
    # rn a long numbered 1..5 (bit-exact cosines).
    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    panel = [0, 1, 2, 3, 4]
    for search in (S.topk_cosine_ann, S.topk_cosine_ivf, S.topk_cosine_ivf_graph):
        by_q: dict = {}
        for r in search(e, panel, None).collect():
            by_q.setdefault(r.q_id, []).append((-r.cosine, r.vec_id))
        assert sorted(by_q) == panel, search.__name__
        want = sorted(
            (q, v, -c, i + 1)
            for q, cands in by_q.items()
            for i, (c, v) in enumerate(sorted(cands)[:5])
        )
        top = search(e, panel, 5)
        assert dict(top.dtypes)["rn"] == "bigint", search.__name__
        got = sorted(tuple(r) for r in top.collect())
        assert got == want, search.__name__
        assert all(sum(r[0] == q for r in got) == 5 for q in panel)


def test_lsh_bucket_keeps_empty_vector_at_zero(spark):
    # Zero-length vector: every plane dot is null, `pdot > 0` is false,
    # bucket stays 0 and the row is KEPT. The oracle's buckets CTE must
    # agree (it left-joins from nv with COALESCE(bucket, 0)); before
    # that fix the unnest-only derivation dropped such rows entirely.
    import duckdb

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [-1.0, 0.5], 0), (2, [], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    spark_buckets = {
        (r.vec_id, r.bucket)
        for r in S.lsh_bucket(S.with_int_vec(emb)).select("vec_id", "bucket").collect()
    }
    assert (2, 0) in spark_buckets

    from distributed_query_engine_spark.plans.llm import (
        _IVEC_CTE,
        _LSH_BUCKET_CTES,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        "(0, [1.0, 0.0], 0), (1, [-1.0, 0.5], 0), "
        "(2, CAST([] AS DOUBLE[]), 0)) t(vec_id, embedding, label)"
    )
    oracle_buckets = set(
        con.sql(
            f"WITH {_IVEC_CTE}, {_LSH_BUCKET_CTES} "
            "SELECT vec_id, bucket FROM buckets"
        ).fetchall()
    )
    assert oracle_buckets == spark_buckets


def test_topk_excludes_self_and_orders(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0), (2, [0.0, 1.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = S.topk_cosine(emb, [0], k=2).collect()
    assert [r.vec_id for r in rows] == [1, 2]
    assert [r.rn for r in rows] == [1, 2]
    assert all(r.q_id == 0 for r in rows)


def test_multimodal_decode_gated():
    if not MM.HAVE_PIL:
        with pytest.raises(NotImplementedError):
            MM.decode_image(b"\x89PNG")


def test_stride_resample_bounds(spark):
    docs = spark.createDataFrame(
        [(1, "abcd", "en", 4)], "doc_id long, text string, lang string, n_chars long"
    )
    row = MM.stride_resample(MM.with_blob_and_meta(docs), stride=2, limit=64).collect()[0]
    assert row.n_bytes == 4
    assert row.n_sampled == 2  # 'a', 'c'
    assert row.sampled_checksum == ord("a") + ord("c")


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    # The point of bucketBy(8, key) + sortBy(key) on BOTH fact tables:
    # the join itself must not shuffle either side. The only Exchange
    # allowed in the plan is the final aggregation's.
    from distributed_query_engine_spark.plans.analytic import _bucketed_tables

    lb, ob = _bucketed_tables(spark, sf_dir)
    # At unit scale the planner would broadcast (which bypasses bucketing
    # entirely); disable it to exercise the shape that matters at 100 TB.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).select("l_quantity")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def test_asof_tie_matches_same_timestamp(spark, sf_dir):
    # A purchase at exactly the click's timestamp must match ('>=').
    from distributed_query_engine_spark.plans.relational import join_asof_event

    # Build a micro events table through the same pipeline by reusing the
    # registered query at unit scale is overkill here; instead assert the
    # semantics directly with the window trick's building blocks.
    from pyspark.sql.window import Window

    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7, "purchase", 5.0),
         (2, "2024-01-01 10:00:00", 7, "click", 0.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_click"),
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(None).cast("double").alias("p_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("is_click"), F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    w = (
        Window.partitionBy("user_id").orderBy("ts", "is_click")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).select(
        "event_id", "is_click",
        F.last("p_value", ignorenulls=True).over(w).alias("pv"),
    )
    got = merged.filter(F.col("is_click") == 1).collect()[0]
    assert got.pv == 5.0


def test_multibatch_progression_is_actually_incremental(spark, sf_dir):
    # The sliced source must deliver one micro-batch per slice file —
    # otherwise the "incremental" demo silently degrades to a single
    # AvailableNow gulp and stops exercising cross-batch state.
    from distributed_query_engine_spark.registry import all_queries
    from distributed_query_engine_spark.streaming import ops

    out = all_queries()["stream_multibatch_progression"](spark, sf_dir)
    assert out.count() > 0
    assert ops.LAST_RUN["mem_multibatch"].batches == 4


def test_progress_log_at_retention_cap_raises(spark, sf_dir):
    # Spark keeps only the most recent progress entries (cap - 1 under
    # numRecentProgressUpdates): a 4-batch run under a cap of 2 would
    # record 1 batch and a partial exec-ms. The runner must refuse,
    # naming the conf.
    from distributed_query_engine_spark.registry import all_queries

    key = "spark.sql.streaming.numRecentProgressUpdates"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        with pytest.raises(RuntimeError, match=key):
            all_queries()["stream_multibatch_progression"](spark, sf_dir)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@pytest.mark.parametrize("bad", ["eight", "0", "-1"])
def test_spark_graft_cpus_knob_rejects_non_positive_int(monkeypatch, bad):
    # every query's tune_session sizes shuffle partitions from this knob:
    # a malformed value must name it, and 0 must not become local[0]
    from distributed_query_engine_spark import session as S

    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        S.default_parallelism()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert S.default_parallelism() == 6


def test_stream_state_partitions_knob_parsed_at_use(spark, sf_dir, monkeypatch):
    # The knob is read when a stateful run starts (an import-time parse
    # is the failure class that breaks the whole registry): a malformed
    # or non-positive value raises ValueError naming it, before any
    # query starts; a valid one sizes the run's shuffle partitions.
    from distributed_query_engine_spark.streaming import ops

    for bad in ("not-a-number", "0", "-4", "2.5"):
        monkeypatch.setenv("DQE_STREAM_STATE_PARTITIONS", bad)
        with pytest.raises(ValueError, match="DQE_STREAM_STATE_PARTITIONS"):
            ops.run_to_memory(
                ops.tumbling_window_agg(ops.read_events_stream(spark, sf_dir)),
                "mem_knob_check",
                "complete",
            )
    monkeypatch.setenv("DQE_STREAM_STATE_PARTITIONS", "5")
    assert ops._state_partitions() == {"spark.sql.shuffle.partitions": "5"}

    # the scoped conf restores a key that was unset before as unset
    key = "spark.sql.streaming.stateStore.rocksdb.compactOnCommit"
    assert spark.conf.get(key, None) is None
    with ops._scoped_conf(spark, {key: "true"}):
        assert spark.conf.get(key) == "true"
    assert spark.conf.get(key, None) is None


def test_sink_compaction_reduces_file_count(spark, sf_dir):
    # The compaction rewrite must actually consolidate: the scattered
    # layout has one file per shuffle partition (32), the compacted one
    # exactly _COMPACT_TARGET_FILES — and content is preserved (the
    # oracle checks that part).
    from pathlib import Path

    from distributed_query_engine_spark.plans.sources import _COMPACT_TARGET_FILES
    from distributed_query_engine_spark.registry import all_queries
    from distributed_query_engine_spark.staging import artifact_dir

    all_queries()["sink_compacted"](spark, sf_dir).collect()
    n_scattered = len(
        list(Path(artifact_dir(sf_dir, "lineitem_scattered")).glob("part-*.parquet"))
    )
    n_compacted = len(
        list(Path(artifact_dir(sf_dir, "lineitem_compacted")).glob("part-*.parquet"))
    )
    assert n_compacted == _COMPACT_TARGET_FILES
    assert n_scattered > n_compacted


def test_ann_knob_suggestions_scale_with_corpus():
    # Derived defaults must grow with the corpus and stay clamped.
    assert S.suggest_n_planes(100) == 4
    assert S.suggest_n_planes(10**6) == 10
    assert S.suggest_n_planes(10**11) == 24  # 100 TB-ish: clamped
    assert S.suggest_n_cells(100) == 10
    assert S.suggest_n_cells(10**6) == 1000
    assert S.suggest_n_cells(10**11) == 65536  # clamped
    assert len(S.probe_masks(8, 2)) == 37
    assert len(S.probe_masks(4, 1)) == 5


def test_ivf_hash_spread_and_lloyd_refinement(spark, sf_dir):
    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    n = e.count()
    for strategy, iters in (("hash_spread", 0), ("lowest_id", 2)):
        assigned = S.ivf_assign(e, n_cells=8, strategy=strategy, lloyd_iters=iters)
        rows = assigned.select("vec_id", "cell_id").collect()
        assert len(rows) == n  # every vector assigned exactly once
        assert len({r["vec_id"] for r in rows}) == n
        cells = {r["cell_id"] for r in rows}
        assert 1 <= len(cells) <= 8
        # Deterministic: a second run assigns identically.
        again = S.ivf_assign(e, n_cells=8, strategy=strategy, lloyd_iters=iters)
        assert sorted(map(tuple, rows)) == sorted(
            map(tuple, again.select("vec_id", "cell_id").collect())
        )


def test_ivf_incremental_append_matches_full_rebuild(spark, sf_dir, tmp_path):
    """Batch ingest without rebuild (append_to_ivf_index): new vectors
    assigned to the EXISTING learned cells land as a new segment of the
    cell-partitioned layout, and search over the updated index returns
    exactly what a full rebuild over old+new would — the quantizer is
    unchanged, so the contract is equality."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    # the registered query's split: 10% new batch, and the lowest-id
    # centroid seeds (vec_id < n_cells) all fall in the EXISTING side,
    # so the incremental quantizer equals the full-rebuild quantizer
    is_new = F.pmod(F.col("vec_id"), F.lit(100)) >= 90
    index = str(tmp_path / "ivf_index")
    S.build_ivf_index(e.filter(~is_new), index, n_cells=8)
    stamps = {
        f: f.stat().st_mtime_ns for f in Path(index, "assignments").rglob("*.parquet")
    }
    S.append_to_ivf_index(spark, e.filter(is_new), index, seg=1)
    assert IS.segments(index) == [0, 1]
    # append adds a segment, never rewrites existing files
    for f, m in stamps.items():
        assert f.stat().st_mtime_ns == m
    new = set(Path(index, "assignments", "seg=1").rglob("*.parquet"))
    assert new
    # the new segment's files sit under ALREADY-EXISTING cells
    old_cells = {f.parent.name for f in stamps}
    assert {f.parent.name for f in new} <= old_cells
    got = sorted(
        map(
            tuple,
            S.topk_cosine_ivf_index(spark, index, [0, 1, 2], k=5).collect(),
        )
    )
    want = sorted(
        map(tuple, S.topk_cosine_ivf(e, [0, 1, 2], k=5, n_cells=8).collect())
    )
    assert got and got == want


def test_ivf_derived_n_cells_uses_corpus_size(spark, sf_dir):
    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    n = e.count()
    assigned = S.ivf_assign(e, n_cells=None, strategy="hash_spread")
    n_cells = assigned.select("cell_id").distinct().count()
    assert n_cells <= S.suggest_n_cells(n)
    assert assigned.count() == n


def test_semdedup_kept_set_consistent_across_strategies(spark, sf_dir):
    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    for kwargs in ({"strategy": "hash_spread"}, {"lloyd_iters": 1}):
        out = S.semdedup(e, threshold=0.35, n_cells=8, **kwargs)
        rows = out.collect()
        assert len(rows) == e.count()
        # keep-lowest: the lowest vec_id of every cell is always kept
        by_cell = {}
        for r in rows:
            by_cell.setdefault(r["cell_id"], []).append(r)
        for members in by_cell.values():
            lowest = min(members, key=lambda r: r["vec_id"])
            assert lowest["kept"]

def test_staged_stream_slices_invalidate_on_source_change(spark, tmp_path):
    # ADVICE r3: the staging marker used to key only on the sf_dir
    # basename and never invalidate — a regenerated events.parquet (or a
    # second sf_dir sharing a basename) silently served stale slices.
    # Now the generation is keyed on a (mtime, size) fingerprint + slice
    # count.
    import os
    import shutil as sh

    from distributed_query_engine_spark import staging
    from distributed_query_engine_spark.streaming import ops

    src_dir = tmp_path / "sfX"
    src_dir.mkdir()
    sh.copy(f"{SF_UNIT}/events.parquet", src_dir / "events.parquet")

    d1 = ops._stage_sliced(spark, str(src_dir), 2)
    marker = d1 / staging.MARKER
    stamp1 = marker.stat().st_mtime_ns

    # Unchanged source: served from cache, marker untouched.
    assert ops._stage_sliced(spark, str(src_dir), 2) == d1
    assert marker.stat().st_mtime_ns == stamp1

    # Regenerated source (new mtime): restaged into a new generation,
    # the superseded one swept.
    st = (src_dir / "events.parquet").stat()
    os.utime(src_dir / "events.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    d2 = ops._stage_sliced(spark, str(src_dir), 2)
    assert d2 != d1 and not d1.exists()
    assert (d2 / staging.MARKER).is_file()

    # Different slice count: also restages.
    d3 = ops._stage_sliced(spark, str(src_dir), 3)
    assert len(list((d3 / "flat").iterdir())) == 3

    # Same basename under a different parent must NOT collide.
    other = tmp_path / "other" / "sfX"
    other.mkdir(parents=True)
    sh.copy(f"{SF_UNIT}/events.parquet", other / "events.parquet")
    d4 = ops._stage_sliced(spark, str(other), 2)
    assert d4 != d1


def test_signature_store_variant_matches_inline_incremental(spark, sf_dir):
    # The store path must be a pure mechanism change: reading persisted
    # signatures + fetch-by-id verification yields EXACTLY the pairs the
    # self-contained variant computes.
    from distributed_query_engine_spark.registry import all_queries

    qs = all_queries()
    inline = sorted(map(tuple, qs["llm_dedup_incremental"](spark, sf_dir).collect()))
    stored = sorted(map(tuple, qs["llm_dedup_signature_store"](spark, sf_dir).collect()))
    assert len(inline) > 0
    assert inline == stored


def test_corpus_signature_store_is_built_once_per_definition(spark, sf_dir):
    """The corpus store is one staging generation: a second call serves
    it without a rebuild, and its hash covers every definition a stored
    row depends on, so changing any of them names a new generation."""
    from distributed_query_engine_spark import staging

    pred = "doc_id % 5 != 0"
    store = D.corpus_signature_store(spark, sf_dir, pred)
    marker = (Path(store) / staging.MARKER).stat().st_mtime_ns
    assert D.corpus_signature_store(spark, sf_dir, pred) == store
    assert (Path(store) / staging.MARKER).stat().st_mtime_ns == marker

    def gen_dir():
        knobs = f"{pred}\n{D._store_knobs()}"
        return str(staging.generation("sig_store", sf_dir, ("documents",), knobs).dir)

    assert gen_dir() == store
    with pytest.MonkeyPatch.context() as mp:
        for name in ("SIG_STORE_SCHEMA", "_TOKS_SQL", "_TIDS_SQL", "_BAND_KEYS_SQL"):
            mp.setattr(D, name, getattr(D, name) + " ")
            assert gen_dir() != store, name
            mp.undo()
        mp.setattr(D, "_MINHASH_SQL", [*D._MINHASH_SQL[:-1], "0 AS m15"])
        assert gen_dir() != store
        mp.undo()
        mp.setattr(D, "hash_params", lambda i: (1, i))
        assert gen_dir() != store


def test_store_read_rejects_an_ungrouped_generation(spark, tmp_path):
    """The store is read with its stated schema, which would take a
    generation without members/rep as NULLs: the footer check raises
    instead, for a recursive store and an explicit generation list."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = tmp_path / "store"
    (store / "b0").mkdir(parents=True)
    per_doc = {"doc_id": [1, 2], **{c: [7, 8] for c in D.SIG_COLS}}
    pq.write_table(pa.table(per_doc), store / "b0" / "part-0.parquet")
    docs = _docs(spark, [(1, "a b", "en")])
    with pytest.raises(ValueError, match="grouped"):
        D.incremental_dedup_from_store(spark, str(store), docs, docs)
    with pytest.raises(ValueError, match="grouped"):
        D.incremental_dedup_from_store(
            spark, str(store), docs, docs, store_dirs=[str(store / "b0")]
        )


def test_grouped_store_fragmented_generations_match_inline(
    spark, sf_dir, tmp_path
):
    """r15 grouped signature store: generations are appended WITHOUT
    re-merging, so one signature may own group rows in several
    generations (the ingest loop's steady state). The candidate/verify
    pipeline must be invariant to that fragmentation: reps of
    identical-signature fragments band-join the batch independently and
    member lists are disjoint, so the report equals the self-contained
    variant's. Split the corpus store into two arbitrary generations
    (id parity — twin duplicates get separated, fragmenting their
    shared-signature groups) and require pair-identical output."""
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import dedup as D

    d = Tables(spark, sf_dir).documents
    incoming = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    store = str(tmp_path / "frag_store")
    D.build_signature_store(
        spark, corpus.filter(F.col("doc_id") % 2 == 0), store
    )
    D.signature_groups(
        D.signatures_rowlocal(corpus.filter(F.col("doc_id") % 2 == 1))
    ).write.mode("overwrite").parquet(f"{store}/b0")
    # sanity: the split really fragments at least one signature group
    gens = spark.read.option("recursiveFileLookup", "true").parquet(store)
    sig_cols = [f"m{i}" for i in range(D.N_HASHES)]
    assert gens.groupBy(*sig_cols).count().filter("count > 1").count() > 0
    frag = sorted(
        map(
            tuple,
            D.incremental_dedup_from_store(
                spark, store, corpus, incoming, threshold=0.5
            ).collect(),
        )
    )
    inline = sorted(
        map(
            tuple,
            D.incremental_minhash_dedup(corpus, incoming, threshold=0.5).collect(),
        )
    )
    assert len(frag) > 0
    assert frag == inline


def test_verify_build_hint_guard(spark, sf_dir, monkeypatch):
    """r16 verify-join size guard (VERDICT r15 item 7): Catalyst
    underestimates the doc→token-set relation ~280×, so the guard sizes
    it from the source scan instead. Below DQE_VERIFY_BROADCAST_CAP the
    local-optimal broadcast plan is kept; above it the verify joins
    must plan as SHUFFLE_HASH (OOM-safe on small executors), with
    set-identical output either way. A malformed cap raises."""
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import dedup as D

    docs = Tables(spark, sf_dir).documents

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # incremental_minhash_dedup verifies over corpus ∪ batch sets: the
    # same corpus-sized relation, so the same guard
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    # default cap (256 MB): unit-SF corpus stays on the broadcast plan
    assert D._verify_build_hint(docs) is None
    base = D.minhash_dedup_pairs(docs)
    inc_base = D.incremental_minhash_dedup(corpus, incoming)
    assert "ShuffledHashJoin" not in plan_of(base)
    assert "ShuffledHashJoin" not in plan_of(inc_base)

    # tripped cap: hint fires and the verify joins plan as shuffle-hash
    monkeypatch.setenv("DQE_VERIFY_BROADCAST_CAP", "1")
    assert D._verify_build_hint(docs) == "shuffle_hash"
    guarded = D.minhash_dedup_pairs(docs)
    inc_guarded = D.incremental_minhash_dedup(corpus, incoming)
    assert "ShuffledHashJoin" in plan_of(guarded)
    assert "ShuffledHashJoin" in plan_of(inc_guarded)

    for unguarded, hinted in ((base, guarded), (inc_base, inc_guarded)):
        a = sorted(map(tuple, unguarded.collect()))
        b = sorted(map(tuple, hinted.collect()))
        assert len(a) > 0
        assert a == b

    # malformed or non-positive cap: a clear error naming the knob,
    # not a bare int() crash mid-pipeline
    for bad in ("256MB", "0", "-1"):
        monkeypatch.setenv("DQE_VERIFY_BROADCAST_CAP", bad)
        with pytest.raises(ValueError, match="DQE_VERIFY_BROADCAST_CAP"):
            D._verify_build_hint(docs)


def test_read_parquet_table_normalizes_any_timestamp_encoding(spark, tmp_path):
    # The driver's generator has emitted TIMESTAMP(NANOS) (rounds 1-4)
    # and timestamp[us]/NTZ (round 5). Whatever the footer says, every
    # caller must see one type: session-zone TIMESTAMP, with values
    # equal to DuckDB's reading of the same file.
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_query_engine_spark.catalog import read_parquet_table

    ts = [
        datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
        datetime.datetime(2024, 6, 15, 23, 59, 59, 999999),
    ]
    for unit, fname in (("ns", "ev_ns.parquet"), ("us", "ev_us.parquet")):
        path = str(tmp_path / fname)
        pq.write_table(
            pa.table({"id": [1, 2], "ts": pa.array(ts, pa.timestamp(unit))}),
            path,
        )
        df = read_parquet_table(spark, path)
        assert df.schema["ts"].dataType.typeName() == "timestamp", unit
        got = sorted((r.id, r.ts) for r in df.collect())
        assert got == [(1, ts[0]), (2, ts[1])], unit


def test_read_parquet_table_handles_zero_row_group_files(spark, tmp_path):
    # An EMPTY table has no row groups, so the INT96 physical-type
    # probe raises — that failure must stay contained (ADVICE r7): the
    # unit/tz shims from read_schema alone must still normalize an
    # empty TIMESTAMP(NANOS) file (readable at all only via the shim)
    # and an empty NTZ file (must surface TIMESTAMP, not NTZ).
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_query_engine_spark.catalog import read_parquet_table

    for unit, tz, fname in (
        ("ns", None, "empty_ns.parquet"),
        ("us", None, "empty_ntz.parquet"),
    ):
        path = str(tmp_path / fname)
        pq.write_table(
            pa.table(
                {"id": pa.array([], pa.int64()),
                 "ts": pa.array([], pa.timestamp(unit, tz))}
            ),
            path,
        )
        df = read_parquet_table(spark, path)
        assert df.schema["ts"].dataType.typeName() == "timestamp", unit
        assert df.count() == 0, unit
    # and the converse trap: an EMPTY INT96 dataset (Spark-written,
    # zero rows) must NOT get the nanos shim — the file-level schema
    # probe still sees INT96 even with no row groups.
    p = str(tmp_path / "empty_int96.parquet")
    spark.createDataFrame([], "id long, ts timestamp").write.parquet(p)
    df = read_parquet_table(spark, p)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.count() == 0


def _inference_read(spark, path):
    """Spark's own schema inference plus the catalog's NTZ shim: what
    read_parquet_table returned before it derived schemas from footers."""
    df = spark.read.parquet(path)
    for f in df.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def _catalog_read_jobs(spark, path, group):
    """(DataFrame, Spark job ids) of one read_parquet_table call, the
    jobs counted by a job group set around the call only."""
    from distributed_query_engine_spark.catalog import read_parquet_table

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = read_parquet_table(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_read_parquet_table_footer_schema_equals_inference_with_no_job(spark):
    """Every star table at every test scale: the footer-derived schema
    is exactly the one Spark infers (nullability and containsNull
    included), and the catalog read launches no Spark job."""
    from pathlib import Path

    from distributed_query_engine_spark.catalog import STAR_TABLES
    from tests.conftest import SF_MID

    root = Path(SF_MID).parent
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for t in STAR_TABLES:
            path = str(root / sf / f"{t}.parquet")
            df, jobs = _catalog_read_jobs(spark, path, f"footer-{sf}-{t}")
            assert jobs == [], (sf, t)
            assert df.schema == _inference_read(spark, path).schema, (sf, t)


def test_local_rows_plan_in_the_jvm_with_list_schema_and_values(spark):
    """local_rows gives the schema and rows createDataFrame of the same
    list gives (ints past 2**53, NaN, nulls, arrays, the empty list),
    but plans as a LocalTableScan, which reading needs no Python worker
    for, with the Arrow conf on or off."""
    import math

    from distributed_query_engine_spark.catalog import local_rows

    ddl = "q_id long, m int, v array<long>, s string, d double"
    rows = [(2**62 + 1, 2, [3, 4], "x", 0.1), (None,) * 5, (5, 6, [], "", math.nan)]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            for rs in (rows, []):
                got = local_rows(spark, rs, ddl)
                want = spark.createDataFrame(rs, ddl)
                assert got.schema == want.schema
                assert repr(got.collect()) == repr(want.collect())
                plan = got._jdf.queryExecution().executedPlan().toString()
                assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    finally:
        spark.conf.set(key, prior)


def test_read_parquet_table_covered_types_and_fallbacks(spark, tmp_path):
    """Covered Arrow types read with an explicit schema (no job); a
    Spark-written directory, NANOS and INT96 timestamps, a decimal
    column and a hive-partitioned directory fall back to inference.
    Either way the schema and rows equal the inference read's."""
    import datetime
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_query_engine_spark.catalog import footer_struct

    ts = [datetime.datetime(2024, 1, 1, 12, 0, 0, 123456), None]
    covered = str(tmp_path / "covered.parquet")
    pq.write_table(
        pa.table(
            {
                "i": pa.array([1, None], pa.int32()),
                "l": pa.array([2, 3], pa.int64()),
                "f": pa.array([1.5, None], pa.float32()),
                "d": pa.array([2.25, 3.0], pa.float64()),
                "s": pa.array(["a", None]),
                "b": pa.array([True, None]),
                "ntz": pa.array(ts, pa.timestamp("us")),
                "utc": pa.array(ts, pa.timestamp("us", "UTC")),
                "vf": pa.array([[1.0, None], None], pa.list_(pa.float32())),
                "vl": pa.array([[1, 2], []], pa.list_(pa.int64())),
            }
        ),
        covered,
    )
    assert footer_struct(pq.read_schema(covered)) is not None
    df, jobs = _catalog_read_jobs(spark, covered, "footer-covered")
    assert jobs == []
    want = _inference_read(spark, covered)
    assert df.schema == want.schema
    assert df.schema["ntz"].dataType.typeName() == "timestamp"
    assert _rows(df) == _rows(want)

    spark_dir = str(tmp_path / "spark_dir")
    spark.range(6).selectExpr(
        "id", "CAST(id AS INT) AS i", "CAST(id AS STRING) AS s"
    ).write.parquet(spark_dir)
    decimal = str(tmp_path / "decimal.parquet")
    pq.write_table(
        pa.table({"id": [1, 2], "x": pa.array([Decimal("1.25"), None],
                                              pa.decimal128(10, 2))}),
        decimal,
    )
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ts, pa.timestamp("us"))}),
        int96,
        use_deprecated_int96_timestamps=True,
    )
    hive = str(tmp_path / "hive")
    pq.write_to_dataset(
        pa.table({"id": [1, 2, 3], "k": [1, 1, 2]}), hive, partition_cols=["k"]
    )
    for path in (spark_dir, decimal, int96, hive):
        df, _jobs = _catalog_read_jobs(spark, path, "footer-fallback")
        want = _inference_read(spark, path)
        assert df.schema == want.schema, path
        assert _rows(df) == _rows(want), path
    assert "k" in _catalog_read_jobs(spark, hive, "footer-hive")[0].columns

    # NANOS cannot be read by plain inference at all; the fallback's
    # nanos shim must still surface microsecond TIMESTAMPs
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ts, pa.timestamp("ns"))}), nanos
    )
    assert footer_struct(pq.read_schema(nanos)) is None
    df, _jobs = _catalog_read_jobs(spark, nanos, "footer-nanos")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert _rows(df) == [(1, ts[0]), (2, None)]


def test_release_gram_cache_unpersists(spark, sf_dir):
    """r10 ADVICE: the persisted span-gram relations accumulate one
    cache entry per (corpus plan, k) with no release path —
    release_gram_cache() must unpersist every entry and empty the
    registry so long-lived sessions can reclaim executor memory."""
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import dedup as D

    D.release_gram_cache()  # drain entries left by earlier tests
    docs = Tables(spark, sf_dir).documents
    D.duplicated_span_report(docs).count()  # materializes the grams
    assert len(D._PERSISTED_GRAMS) >= 1
    # r12: registry values are LISTS (hash -> sameResult-confirmed
    # relations) so a hash collision can hold both plans
    df = next(iter(D._PERSISTED_GRAMS.values()))[0]
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    # r11 ADVICE: repeat calls for the same (corpus plan, k) must NOT
    # grow the registry — the CacheManager dedups them to one entry.
    n_before = len(D._PERSISTED_GRAMS)
    D.duplicated_span_report(docs).count()
    assert len(D._PERSISTED_GRAMS) == n_before
    assert D.release_gram_cache() >= 1
    assert not D._PERSISTED_GRAMS
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)


def _assert_dead_pid_run_dirs_swept(parent: str) -> None:
    """Plant run dirs of a dead pid, this pid and a live pid under
    ``parent``; the process's first run_dir call for that parent removes
    the dead pid's dir and keeps the other two."""
    import os
    import shutil
    import subprocess

    from distributed_query_engine_spark import staging

    # a real, definitely-dead pid (its process has been waited on)
    p = subprocess.Popen(["true"])
    p.wait()
    dead, mine, live = (
        staging.TMP / parent / f"_sweep_test-{pid}"
        for pid in (p.pid, os.getpid(), os.getppid())  # parent process lives
    )
    for d in (dead, mine, live):
        d.mkdir(parents=True, exist_ok=True)
    staging._SWEPT.discard(parent)  # as if this process had not asked yet
    try:
        staging.run_dir(parent, "_sweep_probe")
        assert not dead.exists()
        assert mine.exists() and live.exists()
    finally:
        for d in (dead, mine, live):
            shutil.rmtree(d, ignore_errors=True)


def test_dead_pid_run_dirs_are_swept():
    """r10 ADVICE: pid-keyed run dirs (signature stores, foreachBatch
    sinks, checkpoints) are only ever cleared by their own pid, so
    crashed/finished processes leave one abandoned dir each forever.
    run_dir sweeps a parent's dead siblings once per process — a dir
    named with a no-longer-running pid is removed; the current pid's and
    a live pid's dirs are kept."""
    _assert_dead_pid_run_dirs_swept("checkpoints")


@pytest.mark.parametrize("parent", ["graph_index_prod_incr", "graph_index_prod_cpt"])
def test_vector_run_dir_parents_are_swept(parent):
    """The deployment-knob graph lifecycle queries' run dirs were missing
    from a hand-kept sweep list, so their dead-pid dirs accumulated;
    run_dir sweeps whichever parent it is asked for."""
    _assert_dead_pid_run_dirs_swept(parent)


def test_stream_ingest_dedup_is_multibatch_and_matches_batch_variant(spark, sf_dir):
    # The streaming ingest loop must (a) genuinely process one
    # micro-batch per slice and (b) produce a sink row-identical to the
    # one-shot batch incremental dedup — order-independence of the
    # cross-batch discovery contract, not luck.
    from distributed_query_engine_spark.registry import all_queries
    from distributed_query_engine_spark.streaming import ops

    qs = all_queries()
    streamed = sorted(map(tuple, qs["stream_ingest_dedup"](spark, sf_dir).collect()))
    assert ops.LAST_RUN["ingest_dedup"].batches == 4
    assert ops.LAST_RUN["ingest_dedup"].exec_ms > 0
    batch = sorted(map(tuple, qs["llm_dedup_incremental"](spark, sf_dir).collect()))
    assert len(streamed) > 0
    assert streamed == batch


def test_stream_ingest_dedup_crash_before_marker_replays_row_identical(spark, sf_dir):
    # Default-tier smoke of the riskiest ingest window (the full
    # recovery suite is slow-only): a crash mid-application of batch 1
    # (store generation written, sink not), then a resume from the
    # surviving checkpoint must land on the clean run's sink exactly.
    from pyspark.errors import StreamingQueryException

    from distributed_query_engine_spark.streaming import ops

    def rows(df):
        return sorted(map(tuple, df.collect()))

    expected = rows(ops.stream_ingest_dedup(spark, sf_dir, n_slices=2))
    ops._TEST_DEDUP_CRASH_BEFORE_MARKER.add(1)
    try:
        with pytest.raises((StreamingQueryException, RuntimeError)) as ei:
            ops.stream_ingest_dedup(spark, sf_dir, n_slices=2)
        assert "injected crash" in str(ei.value)
    finally:
        ops._TEST_DEDUP_CRASH_BEFORE_MARKER.discard(1)
    got = rows(ops.stream_ingest_dedup(spark, sf_dir, n_slices=2, _resume=True))
    assert len(expected) > 0
    assert got == expected


# py4j round trips to BUILD (not run) one ingest micro-batch's two
# DataFrames: 219 and 692 measured at sf0.001 with the row-local
# expressions (tokenization included) as SQL text and one store hit
# join, plus 10% (275 and 1,009 before the tokenization and the hit
# join; the Column-tree builders took 1,472 and 3,125). Each Column node
# is one driver→JVM call (~0.2 ms), so a builder that goes back to
# Column trees for the signatures, band keys, first-band predicate or
# verify sets blows these by thousands.
INGEST_SIG_GROUPS_PY4J_BUDGET = 240
INGEST_REPORT_PY4J_BUDGET = 761


def test_ingest_batch_build_py4j_round_trip_budget(spark, sf_dir, tmp_path):
    from distributed_query_engine_spark.catalog import Tables
    from tests.py4j_count import py4j_round_trips

    d_all = Tables(spark, sf_dir).documents
    D.build_signature_store(
        spark, d_all.filter(F.col("doc_id") % 5 != 0), str(tmp_path / "b_init")
    )
    batch = d_all.filter("doc_id % 5 = 0 AND (doc_id div 5) % 4 = 0")
    store_b = str(tmp_path / "b0")

    def sig_groups():
        return D.signature_groups(D.signatures_rowlocal(batch, spread=True))

    def report():
        return D.incremental_dedup_from_store(
            spark,
            str(tmp_path),
            d_all,
            batch,
            threshold=0.5,
            batch_groups=spark.read.schema(D.SIG_STORE_SCHEMA).parquet(store_b),
            store_dirs=[str(tmp_path / "b_init")],
        )

    sig_groups().write.mode("overwrite").parquet(store_b)
    report()  # warm the builders' one-time lookups
    n_sig = py4j_round_trips(spark, sig_groups)
    n_report = py4j_round_trips(spark, report)
    print(f"py4j round trips: signature groups {n_sig}, report {n_report}")
    assert n_sig <= INGEST_SIG_GROUPS_PY4J_BUDGET, n_sig
    assert n_report <= INGEST_REPORT_PY4J_BUDGET, n_report


# Spark jobs one ingest micro-batch may launch: the store generation
# write (group shuffle, write), the report's query stages (batch bands
# broadcast, the hit-id branch's pruned copy of it, member fan-out
# shuffle, hit-id and doc-set broadcasts) and the sink write — 8 at
# sf0.001 and sf0.01, where 16 ran before the store schema was stated
# and the store joined once.
INGEST_BATCH_JOB_BUDGET = 11

_INGEST_JOBS_RUN = """
import sys
sys.path.insert(0, {repo!r})
from distributed_query_engine_spark.session import get_spark
spark = get_spark("ingest-jobs", extra_conf={{
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": {log_uri!r},
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.compress": "false",
}})
from distributed_query_engine_spark.streaming import ops
print("rows", ops.stream_ingest_dedup(spark, {sf_dir!r}).count())
spark.stop()
"""


def test_ingest_micro_batch_job_budget(sf_dir, tmp_path):
    """Count the jobs of every ``ingest_dedup b<id>`` description in the
    event log of one stream_ingest_dedup run (its own Spark application:
    the event log is a launch-time setting)."""
    import json
    import os
    import re
    import subprocess
    import sys
    from collections import Counter

    from tests.conftest import REPO

    logs = tmp_path / "events"
    logs.mkdir()
    run = _INGEST_JOBS_RUN.format(
        repo=str(REPO), log_uri=logs.as_uri(), sf_dir=sf_dir
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    out = subprocess.run(
        [sys.executable, "-c", run], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split("rows", 1)[1]) > 0
    (log,) = logs.iterdir()
    jobs: Counter = Counter()
    for line in log.read_text().splitlines():
        e = json.loads(line)
        if e["Event"] == "SparkListenerJobStart":
            desc = e.get("Properties", {}).get("spark.job.description") or ""
            m = re.match(r"ingest_dedup (b\d+) ", desc)
            if m:
                jobs[m.group(1)] += 1
    print(f"jobs per micro-batch: {dict(jobs)}")
    assert len(jobs) >= 4
    assert max(jobs.values()) <= INGEST_BATCH_JOB_BUDGET, jobs


# py4j round trips to BUILD (not run) three llm_batch queries through
# the registry wrapper at sf0.001 — session tuning, catalog reads and
# builder, plus the BM25 panel-term collect: measured 519, 351 and 808
# with footer-derived schemas, the one-call SparkConf lookup, the vector
# expressions and the cosine as SQL text and the one-job panel terms,
# plus 10%. The cosine as a Column tree took 658 and 490; the
# Column-lambda builders, the SparkConf copy and the aggregated
# panel-term collect took 2,517, 919 and 1,063.
LLM_BUILDER_PY4J_BUDGET = {
    "llm_similarity_ann_lsh": 571,
    "llm_similarity_topk": 387,
    "llm_bm25_index": 889,
}


def test_llm_builder_py4j_round_trip_budget(spark, sf_dir):
    from distributed_query_engine_spark.registry import all_queries
    from tests.py4j_count import py4j_round_trips

    qs = all_queries()
    got = {}
    for name in LLM_BUILDER_PY4J_BUDGET:
        qs[name](spark, sf_dir)  # warm: index build, one-time lookups
        got[name] = py4j_round_trips(spark, lambda: qs[name](spark, sf_dir))
    print(f"py4j round trips: {got}")
    assert all(got[n] <= b for n, b in LLM_BUILDER_PY4J_BUDGET.items()), got


def test_tune_session_keeps_explicit_200_in_one_conf_lookup(spark):
    """A runtime-set ``spark.sql.shuffle.partitions=200`` survives
    tune_session even when the SparkConf does not carry the key (the
    session-settings lookup decides), and the explicit-set check costs
    at most 2 py4j round trips (copying the SparkConf took ~165)."""
    from distributed_query_engine_spark.session import (
        _shuffle_partitions_explicitly_set,
        tune_session,
    )
    from tests.py4j_count import py4j_round_trips

    key = "spark.sql.shuffle.partitions"
    sconf = spark.sparkContext._conf
    prior, prior_sconf = spark.conf.get(key), sconf.get(key, None)
    try:
        n = py4j_round_trips(
            spark, lambda: _shuffle_partitions_explicitly_set(spark)
        )
        assert n <= 2, n
        if prior_sconf is not None:
            sconf._jconf.remove(key)
        spark.conf.set(key, "200")
        tune_session(spark)
        assert spark.conf.get(key) == "200"
    finally:
        if prior_sconf is not None:
            sconf.set(key, prior_sconf)
        spark.conf.set(key, prior)


def test_incremental_dedup_empty_batch_and_empty_corpus(spark, sf_dir):
    # Ingestion edges: the first-ever batch (empty corpus) must dedup
    # purely within itself; a quiet tick (empty batch) must return an
    # empty report — neither may crash or mis-shape the schema.
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import dedup as DD

    docs = Tables(spark, sf_dir).documents
    none = docs.filter("doc_id < 0")

    empty_batch = DD.incremental_minhash_dedup(docs, none, threshold=0.5)
    assert empty_batch.count() == 0
    assert empty_batch.columns == ["new_doc", "dup_of", "jaccard", "is_dup"]

    first_batch = DD.incremental_minhash_dedup(none, docs.limit(50), threshold=0.5)
    # within-batch pairs only; all reported pairs orient later-as-new
    rows = first_batch.collect()
    assert all(r.new_doc > r.dup_of for r in rows)


def test_incremental_dedup_equals_full_dedup_restricted(spark, sf_dir):
    # Cross-validation invariant: per-doc signatures don't depend on
    # which side of the corpus/batch split a doc lands on, so the
    # incremental report must equal the FULL all-pairs dedup restricted
    # to pairs touching the batch — same pairs, bit-identical jaccard.
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import dedup as DD

    docs = Tables(spark, sf_dir).documents
    incoming = docs.filter("doc_id % 5 = 0")
    corpus = docs.filter("doc_id % 5 <> 0")

    inc = {
        (min(r.new_doc, r.dup_of), max(r.new_doc, r.dup_of)): r.jaccard
        for r in DD.incremental_minhash_dedup(
            corpus, incoming, threshold=0.5
        ).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.minhash_dedup_pairs(docs, threshold=0.5, hashed=True).collect()
        if r.doc_a % 5 == 0 or r.doc_b % 5 == 0
    }
    assert len(inc) > 0
    assert inc == full


def test_late_data_drops_are_real(spark, sf_dir):
    # The hash-match alone proves the counts exclude stragglers; this
    # pins the MECHANISM: the straggler batch's rows are reported
    # dropped by the watermark, and the emitted window set is strictly
    # smaller than the no-drop watermark query's.
    from distributed_query_engine_spark.registry import all_queries
    from distributed_query_engine_spark.streaming import ops

    qs = all_queries()
    dropped_rows = qs["stream_late_data_drops"](spark, sf_dir).count()
    no_drop_rows = qs["stream_watermark_late_data"](spark, sf_dir).count()
    assert 0 < dropped_rows < no_drop_rows
    # the COVERAGE.md claim, asserted for real: the straggler batch's
    # rows show up in the engine's numRowsDroppedByWatermark metric
    assert ops.LAST_RUN["mem_late_drops"].dropped > 0


def test_merge_upsert_cdc_invariants(spark, sf_dir):
    # Semantic invariants of the CDC apply, independent of the oracle:
    # |result| = |snapshot| - |deletes| + |inserts|; every update key's
    # balance moved by exactly +100; inserted keys live in fresh
    # key-space and carry the synthesized dimension attributes.
    from distributed_query_engine_spark.registry import all_queries
    from pyspark.sql import functions as F
    from distributed_query_engine_spark.catalog import Tables

    snap = Tables(spark, sf_dir).customer
    k = F.col("c_custkey")
    n_snap = snap.count()
    n_upd = snap.filter(k % 97 == 0).count()
    n_del = snap.filter((k % 89 == 3) & (k % 97 != 0)).count()
    n_ins = snap.filter(k % 101 == 5).count()
    assert n_upd > 0 and n_del > 0 and n_ins > 0  # the batch is non-trivial

    merged = all_queries()["merge_upsert_cdc"](spark, sf_dir)
    assert merged.count() == n_snap - n_del + n_ins

    old = {r["c_custkey"]: r["c_acctbal"]
           for r in snap.filter(k % 97 == 0).collect()}
    new = {r["c_custkey"]: r["c_acctbal"]
           for r in merged.filter(k % 97 == 0).filter(k < 1000000).collect()}
    assert set(new) == set(old)
    assert all(abs(new[key] - old[key] - 100.0) < 1e-9 for key in old)

    ins = merged.filter(k >= 1000000)
    assert ins.count() == n_ins
    assert ins.filter(F.col("c_mktsegment") != "NEW").count() == 0


def test_scd2_intervals_partition_time(spark, sf_dir):
    # SCD2 output is a valid history: per user, intervals are disjoint,
    # ordered, versions are 1..n, exactly one open (NULL valid_to) row,
    # and consecutive rows change event_type.
    from distributed_query_engine_spark.registry import all_queries

    rows = all_queries()["scd2_from_events"](spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, hist in by_user.items():
        hist.sort(key=lambda r: r["version"])
        assert [r["version"] for r in hist] == list(range(1, len(hist) + 1))
        assert sum(1 for r in hist if r["valid_to"] is None) == 1
        assert hist[-1]["valid_to"] is None
        for a, b in zip(hist, hist[1:]):
            assert a["valid_to"] == b["valid_from"]  # contiguous intervals
            assert a["valid_from"] < b["valid_from"]
            assert a["event_type"] != b["event_type"]


def test_pagerank_fixed_point_matches_python_reference(spark):
    # The integer recurrence is engine-independent by construction:
    # replay it in plain Python over a small asymmetric graph and
    # require bit-equality with the distributed result.
    from distributed_query_engine_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        UNIT,
        pagerank_fixed_point,
    )

    raw = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 1), (1, 4), (3, 4), (4, 3)]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    got = {
        r["node"]: r["r"]
        for r in pagerank_fixed_point(edges, iterations=5).collect()
    }

    out = {}
    for s, d in raw:
        out.setdefault(s, []).append(d)
    n = len(out)
    ranks = {v: UNIT // n for v in out}
    for _ in range(5):
        recv = {}
        for s, targets in out.items():
            c = ranks[s] // len(targets)
            for d in targets:
                recv[d] = recv.get(d, 0) + c
        ranks = {
            v: (DAMP_DEN - DAMP_NUM) * UNIT // (DAMP_DEN * n)
            + DAMP_NUM * s_ // DAMP_DEN
            for v, s_ in recv.items()
        }
    assert got == ranks
    # mass conservation up to integer-truncation loss
    assert 0.98 * UNIT < sum(got.values()) <= UNIT


def test_stream_cdc_apply_is_multibatch_and_matches_batch_merge(spark, sf_dir):
    # The streaming loop must run one micro-batch per CDC slice and
    # land on EXACTLY the one-shot batch merge (disjoint-key batches
    # commute) — the same discipline stream_ingest_dedup pins.
    from distributed_query_engine_spark.registry import all_queries
    from distributed_query_engine_spark.streaming import ops

    qs = all_queries()
    streamed = qs["stream_cdc_apply"](spark, sf_dir)
    batch = qs["merge_upsert_cdc"](spark, sf_dir)
    assert ops.LAST_RUN["cdc_apply"].batches == 3
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_read_parquet_table_normalizes_all_timestamp_encodings(spark, tmp_path):
    """The catalog reader must yield TIMESTAMP (ltz) for every parquet
    timestamp encoding in the wild: INT96 (Spark's legacy default —
    read natively, NO nanos shim: pyarrow reports it as timestamp[ns]
    but the physical type disambiguates), µs-NTZ (the driver
    generator), and values must survive unchanged."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_query_engine_spark.catalog import read_parquet_table

    want = datetime(2001, 2, 3, 4, 5, 6)
    # INT96 via Spark's own writer
    spark.createDataFrame([(1, want)], "id long, ts timestamp").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "int96.parquet"))
    got = read_parquet_table(spark, str(tmp_path / "int96.parquet"))
    assert got.schema["ts"].dataType.typeName() == "timestamp"
    assert got.collect()[0].ts == want
    # µs NTZ via pyarrow (driver-generator shape)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1], pa.int64()),
                "ts": pa.array([want], pa.timestamp("us")),
            }
        ),
        str(tmp_path / "us.parquet"),
    )
    got = read_parquet_table(spark, str(tmp_path / "us.parquet"))
    assert got.schema["ts"].dataType.typeName() == "timestamp"
    assert got.collect()[0].ts == want


def test_embedding_outliers_survives_overflow_scale(spark, tmp_path):
    """Regression pin for the r7 sf1 catch: the UNSHIFTED
    ||n·x − S||² overflows int64 once n·2^20 ≳ 3e9 (n ≈ 3k vectors).
    Run the fixed operator on 4000 synthetic unit-scale vectors —
    past the old overflow point — and check the scores against a
    pure-Python model of the same shifted arithmetic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_query_engine_spark.registry import all_queries

    n, dim = 4000, 8
    vecs = [
        [((i * 31 + d * 17) % 200 - 100) / 100.0 for d in range(dim)]
        for i in range(n)
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    df = all_queries()["llm_embedding_outliers"](spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == n
    # python model: SCALE=2^20 fixed point, r = n*x - S, h = floor(|r|/1024)
    SCALE = 1 << 20
    ivecs = [
        [int(round(float(pa.scalar(x, pa.float32()).as_py()) * SCALE))
         for x in v]
        for v in vecs
    ]
    sums = [sum(iv[d] for iv in ivecs) for d in range(dim)]
    import statistics as _st

    want_scores = [
        sum((abs(n * iv[d] - sums[d]) // 1024) ** 2 for d in range(dim))
        for iv in ivecs
    ]
    med = _st.median(want_scores)
    by_id = {r.vec_id: r for r in rows}
    for i in range(0, n, 499):
        r = by_id[i]
        assert r.is_outlier == (want_scores[i] > 4 * med), i


def test_pareto_running_share_exact_past_double_digits(spark, tmp_path):
    """Regression pin for the r7 sf1 catch: once the cumulative revenue
    exceeds double's ~16 exact digits, CAST(DECIMAL AS DOUBLE) rounds
    differently in Spark vs DuckDB (1884/10000 rows off by 1 ulp at
    sf1). The fixed query accumulates bigint micros; verify repr-exact
    against DuckDB on a synthetic corpus whose CUMULATIVE micros pass
    2^53 while every PER-SUPPLIER revenue stays inside dsum's
    documented exact envelope (< 2^53/10^6 dollars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_query_engine_spark.registry import all_oracles, all_queries

    n = 60
    rows = {
        "l_orderkey": pa.array(range(n), pa.int64()),
        "l_partkey": pa.array([1] * n, pa.int64()),
        "l_suppkey": pa.array(range(n), pa.int64()),  # one row per supplier
        "l_linenumber": pa.array([1] * n, pa.int32()),
        "l_quantity": pa.array([1.0] * n, pa.float64()),
        # ~5e8 per supplier (15 sig digits at 6 decimals — inside
        # dsum's exact double envelope) × 60 suppliers → cumulative
        # ≈ 2.9e16 micros: past 2^53 but inside the cum·20 int64 bound
        "l_extendedprice": pa.array(
            [5.0e8 + i * 1234.56 for i in range(n)], pa.float64()
        ),
        "l_discount": pa.array([0.05] * n, pa.float64()),
        "l_tax": pa.array([0.0] * n, pa.float64()),
        "l_returnflag": pa.array(["N"] * n),
        "l_linestatus": pa.array(["O"] * n),
        "l_shipdate": pa.array(
            [__import__("datetime").datetime(1996, 1, 1)] * n,
            pa.timestamp("us"),
        ),
    }
    pq.write_table(pa.table(rows), str(tmp_path / "lineitem.parquet"))
    df = all_queries()["pareto_abc_classification"](spark, str(tmp_path))
    con = oracle.duck(tmp_path)
    rel = con.sql(all_oracles()["pareto_abc_classification"])
    assert oracle.compare(df, rel) == (n, [])


def test_bpe_encode_matches_python_model(spark):
    # The delimiter-replace trick must reproduce greedy left-to-right
    # BPE merge application, including overlap runs ("aaa" + (a,a)) and
    # hierarchical merges (t+h -> th, then th+e -> the). Pin it against
    # a direct Python model, not the DuckDB oracle (which shares the
    # same trick and would miss a shared-logic bug).
    from distributed_query_engine_spark.functions.text import bpe_encode

    def py_bpe(word, merges):
        toks = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    merges = (
        ("t", "h"), ("a", "a"), ("e", "r"), ("th", "e"), ("er", "s"),
    )
    cases = [
        "the", "thethe", "aaa", "aaaa", "aaaaa", "ers", "erers",
        "thers", "x", "rer", "eerr", "panther", "aathe",
    ]
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(w,) for w in cases], ["w"])
    got = {
        r.w: r.toks
        for r in df.select(
            "w", bpe_encode(F.col("w"), merges).alias("toks")
        ).collect()
    }
    for w in cases:
        assert got[w] == py_bpe(w, merges), (w, got[w], py_bpe(w, merges))


@pytest.mark.slow  # r16: 30-60 s single test — slow tier
def test_bpe_train_degenerate_corpus_stops_early_and_matches_oracle(
    spark, tmp_path
):
    # r8 review catch: a corpus that runs out of adjacent pairs before
    # K merges must truncate the merge table (not IndexError), and the
    # oracle's scalar-subquery replay must degrade to the same rows.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_query_engine_spark.plans.llm import (
        _bpe_train_oracle,
        llm_bpe_train,
    )

    # 'ab' x3 merges once (a+b), then every word is a single token:
    # only 1 of K=6 merges is learnable.
    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(["ab ab ab", "x y"]),
        }),
        str(tmp_path / "documents.parquet"),
    )
    df = llm_bpe_train(spark, str(tmp_path))
    assert [tuple(r) for r in df.collect()] == [(1, "a", "b", "ab", 3)]
    con = oracle.duck(tmp_path)
    rel = con.sql(_bpe_train_oracle())
    assert oracle.compare(df, rel) == (1, [])


def test_substring_mask_consistent_with_report(spark):
    """mask_duplicated_spans and duplicated_span_report compute the
    interval union through DIFFERENT arithmetic (explicit per-token
    coverage filter vs the sorted-position lag-walk) — n_removed must
    equal dup_tokens doc-for-doc, and surviving text must be the
    original minus exactly the covered tokens, order preserved."""
    eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = _docs(
        spark,
        [
            (1, f"alpha {eight} beta", "en"),   # shares the 8-span with 2
            (2, f"{eight} gamma delta", "en"),
            (3, "a short unique doc", "en"),    # < k tokens: untouched
            (4, eight, "en"),                   # fully duplicated
        ],
    )
    rep = {r.doc_id: r for r in D.duplicated_span_report(docs).collect()}
    msk = {r.doc_id: r for r in D.mask_duplicated_spans(docs).collect()}
    assert set(rep) == set(msk) == {1, 2, 3, 4}
    for i in rep:
        assert msk[i].n_removed == rep[i].dup_tokens, i
    assert msk[1].clean_text == "alpha beta"
    assert msk[2].clean_text == "gamma delta"
    assert msk[3].clean_text == "a short unique doc"
    assert msk[4].clean_text == ""
    assert msk[4].n_removed == 8


# ---------------------------------------------------------------------------
# partitioned_running — the two-pass distributed prefix scan
# (operators/prefix.py; VERDICT r10 item 1). Exactness vs the
# single-sort global window it replaces, on asc and desc orders, plus
# the persist-registry release path.
# ---------------------------------------------------------------------------


def test_partitioned_running_matches_global_window(spark):
    import random

    from pyspark.sql.window import Window

    from distributed_query_engine_spark.operators.prefix import (
        partitioned_running,
    )

    random.seed(11)
    rows = [
        (i, random.randint(0, 40), random.randint(-5, 5))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "id long, k long, v long")
    order = [F.col("k").desc(), F.col("id")]
    w_run = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    ref = df.select(
        "id",
        F.sum("v").over(w_run).alias("cs"),
        F.row_number().over(Window.orderBy(*order)).alias("rn"),
    )
    got = partitioned_running(
        df, order, sum_cols=[("v", "cs")], rank_col="rn", num_partitions=16
    ).select("id", "cs", "rn")
    mismatches = (
        ref.alias("a")
        .join(got.alias("b"), "id")
        .filter(
            (F.col("a.cs") != F.col("b.cs")) | (F.col("a.rn") != F.col("b.rn"))
        )
        .count()
    )
    assert mismatches == 0
    assert got.count() == 3000


def test_partitioned_running_plan_has_no_global_sort(spark):
    from distributed_query_engine_spark.operators.prefix import (
        partitioned_running,
    )

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    got = partitioned_running(df, [F.col("id")], sum_cols=[("v", "cs")])
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the fact relation is range-exchanged, never single-partition-sorted
    assert "rangepartitioning" in plan
    import re

    assert not re.search(r"Sort \[[^\]]*\], true", plan), plan  # no global Sort
    # the only single-partition exchange is the partition-count-sized
    # offsets window (its sort orders by the internal _pp_pid key)
    assert plan.count("Exchange SinglePartition") == 1


def test_partitioned_running_requires_outputs(spark):
    from distributed_query_engine_spark.operators.prefix import (
        partitioned_running,
    )

    df = spark.range(3)
    with pytest.raises(ValueError):
        partitioned_running(df, [F.col("id")])


def test_release_prefix_cache_frees_entries(spark):
    from distributed_query_engine_spark.operators import prefix as P

    df = spark.range(0, 100).select("id", (F.col("id") % 3).alias("v"))
    before = len(P._PERSISTED)
    P.partitioned_running(df, [F.col("id")], sum_cols=[("v", "cs")]).count()
    assert len(P._PERSISTED) == before + 1
    assert P.release_prefix_cache() >= 1
    assert not P._PERSISTED


def test_ivf_incremental_index_dir_is_pid_keyed_and_swept():
    """r11 ADVICE: the append-mode incremental IVF index must be keyed
    per process (overwrite-mode indexes converge under races; append-
    mode ones interleave into phantom/missing rows) and its parent's
    dead-pid dirs must be swept so abandoned indexes don't accumulate."""
    import os

    from distributed_query_engine_spark import staging
    from distributed_query_engine_spark.plans.llm import _ivf_incr_index_dir

    d = _ivf_incr_index_dir("/root/testdata/sf0.001")
    assert d.endswith(f"-{os.getpid()}")
    assert str(staging.TMP / "ivf_index_incr") in d
    _assert_dead_pid_run_dirs_swept("ivf_index_incr")


def test_pq_mixed_dim_corpus_raises_instead_of_mis_slicing(spark):
    """r11 ADVICE: PQ subvector slicing on a heterogeneous-dim corpus
    must raise (the engine would silently mis-slice and the oracle —
    which slices per-row len//m — would diverge instead of erroring).
    The guard lives inside the consumed ivec expression, so it cannot
    be pruned out of the plan."""
    import pytest as _pytest

    emb = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0, 4.0], 0),
            (1, [5.0, 6.0, 7.0, 8.0], 0),
            (2, [9.0, 10.0], 0),  # wrong dim
        ],
        "vec_id long, embedding array<float>, label int",
    )
    with _pytest.raises(Exception, match="homogeneous vector dims"):
        S.topk_l2_pq(emb, [0], k=2, m_sub=2, k_codes=2, lloyd_iters=1).collect()


def test_pq_homogeneous_corpus_still_searches(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), float(i + 1), 0.0, 1.0], 0) for i in range(6)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = S.topk_l2_pq(emb, [0], k=2, m_sub=2, k_codes=2, lloyd_iters=1).collect()
    assert len(rows) == 2 and all(r.q_id == 0 for r in rows)


def test_bucket_stage_is_content_addressed_and_sweeps_stale(tmp_path, spark):
    """VERDICT r10 item 4: the bucketed staging dir must embed a
    fingerprint of the SOURCE parquet files (regenerated testdata gets
    a fresh dir + fresh tables instead of stale buckets) and stale
    siblings of the same sf key must be swept."""
    import shutil

    from distributed_query_engine_spark import staging
    from distributed_query_engine_spark.plans.analytic import _bucketed_tables

    src = tmp_path / "sfX"
    src.mkdir()
    for n in ("lineitem", "orders"):
        shutil.copy(f"{SF_UNIT}/{n}.parquet", src / f"{n}.parquet")
    parent = staging.TMP / "bucketed"
    key = staging.key(str(src))

    def generations():
        return sorted(parent.glob(f"{key}_*"))

    _bucketed_tables(spark, str(src))
    (gen1,) = generations()
    _bucketed_tables(spark, str(src))
    assert generations() == [gen1]  # unchanged source -> same generation
    # plant a stale sibling (same sf key, different hash); regenerating a
    # source changes the fingerprint -> fresh dir and tables, and both
    # the stale sibling and the old generation (with its tables) are swept
    stale = parent / f"{key}_deadbeef0000"
    stale.mkdir()
    (src / "orders.parquet").touch()  # bump mtime
    _bucketed_tables(spark, str(src))
    (gen2,) = generations()
    assert gen2 != gen1 and not gen1.exists() and not stale.exists()
    assert not spark.catalog.tableExists(f"bkt_orders_{gen1.name}")
    assert spark.catalog.tableExists(f"bkt_orders_{gen2.name}")
    shutil.rmtree(gen2)


def test_ivfpq_incremental_append_never_rewrites_codes(spark, sf_dir, tmp_path):
    """Compressed-index ingest (append_to_ivfpq_index): the new batch's
    codes land as a new segment under already-existing cells — existing
    files untouched — and every ingested
    vector is immediately searchable through the partition-pruned
    reads (its code rows exist and the search returns its id for a
    query that IS a new vector: self-excluded but siblings findable)."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    is_new = F.pmod(F.col("vec_id"), F.lit(100)) >= 90
    index = str(tmp_path / "ivfpq_index")
    S.build_ivfpq_index(e.filter(~is_new), index)
    stamps = {f: f.stat().st_mtime_ns for f in Path(index, "codes").rglob("*.parquet")}
    S.append_to_ivfpq_index(spark, e.filter(is_new), index, seg=1)
    for f, m in stamps.items():
        assert f.stat().st_mtime_ns == m
    new = set(Path(index, "codes", "seg=1").rglob("*.parquet"))
    assert new
    old_cells = {f.parent.name for f in stamps}
    assert {f.parent.name for f in new} <= old_cells
    # every ingested vector has exactly M_SUB code rows in the index
    codes = IS.read(spark, index, "ivfpq", "codes")
    n_new = e.filter(is_new).count()
    assert (
        codes.join(
            e.filter(is_new).select("vec_id"), "vec_id"
        ).count()
        == n_new * S.PQ_M_SUB
    )
    got = S.topk_l2_ivfpq_index(spark, index, e, [0, 1, 2], k=5).collect()
    assert len(got) == 15


@pytest.mark.parametrize("residual", [False, True])
def test_ivfpq_out_of_window_panel_matches(spark, sf_dir, residual):
    """Every registered IVF-PQ panel sits inside the collected
    lowest-id window; a panel reaching past it (vec_id 400) must give
    its in-window queries exactly the same top-k."""
    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings

    def rows(ids):
        return sorted(
            tuple(r)
            for r in S.topk_l2_ivfpq(e, ids, k=5, residual=residual).collect()
            if r["q_id"] in (0, 1)
        )

    want = rows([0, 1])
    assert len(want) == 10
    assert rows([0, 1, 400]) == want


def test_signature_store_predating_generation_layout_raises(tmp_path):
    """A pre-r16 signature store keeps its parquet files loose in the
    root; resuming on one must fail with a clear message, not hand
    spark.read.parquet an empty generation list."""
    from distributed_query_engine_spark.streaming import ops

    store = tmp_path / "sig_store"
    store.mkdir()
    (store / "part-00000.parquet").write_bytes(b"")
    current = store / "b3"
    current.mkdir()
    with pytest.raises(RuntimeError, match="predates the r16 generation layout"):
        ops._prior_store_generations(store, current)
    (store / "b_init").mkdir()
    assert ops._prior_store_generations(store, current) == [str(store / "b_init")]


def test_ivfpq_index_rejects_mismatched_dims(spark, sf_dir, tmp_path):
    """r12 ADVICE: _probe_dim_strict only enforces internal homogeneity
    of a batch — a homogeneous batch of the WRONG dim used to zip_with
    against mismatched centroids and silently append NULL-residual
    garbage codes. Both ingest and query must instead raise against the
    stored index's (m_sub, dim), derived from the codebooks."""
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    index = str(tmp_path / "ivfpq_dim_index")
    S.build_ivfpq_index(e, index)
    wrong = e.withColumn(
        "embedding", F.slice("embedding", 1, S.PQ_M_SUB * 2)
    )
    with pytest.raises(Exception, match="shape mismatch"):
        S.append_to_ivfpq_index(spark, wrong, index, seg=1)
    with pytest.raises(Exception, match="shape mismatch"):
        S.topk_l2_ivfpq_index(spark, index, wrong, [0, 1], k=5)
    # matching shape still flows end-to-end
    assert len(S.topk_l2_ivfpq_index(spark, index, e, [0, 1], k=5).collect()) == 10


def test_content_addressed_index_invalidates_on_regenerated_source(
    spark, tmp_path
):
    """r12 (VERDICT r11 item 4): the shared ANN index staging keys on
    the SOURCE CONTENT fingerprint (path, mtime_ns, size), not just the
    sf_dir path — regenerating the testdata must force a rebuild into a
    NEW generation dir, and an unchanged source must serve the cached
    generation without rebuilding."""
    import os
    import time
    from pathlib import Path

    from distributed_query_engine_spark import staging

    def _content_addressed_index(sf_dir, kind, knobs, build):
        gen = staging.generation(kind, sf_dir, ("embeddings",), knobs)
        return staging.publish(gen, build)

    sf = tmp_path / "sf"
    sf.mkdir()
    spark.range(8).selectExpr(
        "id AS vec_id",
        "array(CAST(id AS FLOAT), CAST(id+1 AS FLOAT)) AS embedding",
        "'x' AS label",
    ).coalesce(1).write.mode("overwrite").parquet(str(sf / "embeddings.parquet"))

    builds = []

    def build(path):
        Path(path).mkdir(parents=True)
        (Path(path) / "payload").write_text(str(len(builds)))
        builds.append(path)

    g1 = _content_addressed_index(str(sf), "catest_index", "k:1", build)
    g1_again = _content_addressed_index(str(sf), "catest_index", "k:1", build)
    assert g1 == g1_again and len(builds) == 1  # fingerprint hit: no rebuild
    assert (Path(g1) / staging.MARKER).is_file()

    # regenerate the source (content + mtime change)
    time.sleep(0.05)
    data_file = next(Path(sf, "embeddings.parquet").rglob("*.parquet"))
    os.utime(data_file)
    g2 = _content_addressed_index(str(sf), "catest_index", "k:1", build)
    assert g2 != g1 and len(builds) == 2
    assert not Path(g1).exists()  # superseded generation swept
    # different knobs are a different generation too
    g3 = _content_addressed_index(str(sf), "catest_index", "k:2", build)
    assert g3 != g2 and len(builds) == 3


def test_persist_semantic_confirms_on_hash_hit(spark):
    """r12 ADVICE: a semanticHash collision between two distinct plans
    must not serve the wrong persisted relation — equality is confirmed
    with sameResult on the analyzed plans (simulated collision: seed
    the registry with a DIFFERENT relation under the incoming plan's
    hash and require a fresh persist, not the seeded entry)."""
    from distributed_query_engine_spark.operators.semcache import (
        persist_semantic,
        release_semantic,
    )

    reg = {}
    a = spark.range(10).selectExpr("id", "id * 2 AS v")
    b = spark.range(10).selectExpr("id", "id * 3 AS v")
    got_a = persist_semantic(reg, a)
    # same SEMANTIC plan (fresh object) -> the registered relation
    a2 = spark.range(10).selectExpr("id", "id * 2 AS v")
    assert persist_semantic(reg, a2) is got_a
    # forced hash collision: b's hash key pre-seeded with a's relation
    key_b = b._jdf.queryExecution().analyzed().semanticHash()
    reg.setdefault(key_b, []).insert(0, got_a)
    got_b = persist_semantic(reg, b)
    assert got_b is not got_a
    assert [r["v"] for r in got_b.orderBy("id").collect()][:3] == [0, 3, 6]
    assert release_semantic(reg) >= 2


def test_filtered_ann_matches_label_and_stays_broadcast(spark, sf_dir):
    """r12 hybrid search: every hit must share its query's label, the
    metadata predicate must evaluate inside the probed-cell scan (no
    corpus join-back: the only joins are broadcast), and the plan stays
    JVM-side."""
    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    df = S.topk_cosine_ivf_filtered(e, [0, 1, 2, 3, 4], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan  # no corpus-grain shuffle join
    label = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["label"] == label[r["q_id"]], r


def test_tombstone_delete_excludes_and_changes_results(spark, sf_dir):
    """r12 delete lifecycle: tombstoned ids never appear in results,
    the query panel still resolves (full index), and the exclusion
    actually changes at least one top-k set vs the undeleted search
    (the tombstones are ~10% of the corpus — if results were identical
    the anti-join would be decorative)."""
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    tomb = e.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 7).select("vec_id")
    got = S.topk_cosine_ivf_deleted(e, [0, 1, 2, 3, 4], tomb, k=5).collect()
    assert len({r["q_id"] for r in got}) == 5
    assert all(r["vec_id"] % 10 != 7 for r in got)
    base = {(r["q_id"], r["vec_id"])
            for r in S.topk_cosine_ivf(e, [0, 1, 2, 3, 4], k=5).collect()}
    assert {(r["q_id"], r["vec_id"]) for r in got} != base


def test_compaction_report_partitions_cells_by_exact_threshold(spark, sf_dir):
    """r12: the rewrite decision is integer arithmetic (n_tomb*den >=
    n_total*num), the stored-count column reflects it, and totals
    reconcile with the corpus and the tombstone set."""
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.catalog import Tables

    e = Tables(spark, sf_dir).embeddings
    tomb = e.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 7).select("vec_id")
    rows = S.ivf_compaction_report(e, tomb, 2, 25).collect()
    n_corpus = e.filter(F.size(S.int_vec("embedding")) >= 0).count()
    assert sum(r["n_total"] for r in rows) == n_corpus
    assert sum(r["n_tomb"] for r in rows) == tomb.count()
    for r in rows:
        flagged = r["n_tomb"] * 25 >= r["n_total"] * 2
        assert r["compacted"] == flagged, r
        expect = r["n_total"] - r["n_tomb"] if flagged else r["n_total"]
        assert r["n_stored_after"] == expect, r


def test_mv_incremental_refresh_equals_full_recompute(spark, sf_dir):
    """r12: the merged algebraic states must equal a from-scratch
    aggregate over the full fact — including the decimal-exact revenue
    and the derived avg — and the base/delta split must cover the fact
    exactly once."""
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.registry import all_queries

    got = {
        r["o_orderpriority"]: r
        for r in all_queries()["mv_incremental_refresh"](spark, sf_dir).collect()
    }
    o = Tables(spark, sf_dir).orders
    full = {
        r["o_orderpriority"]: r
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .collect()
    }
    assert set(got) == set(full)
    for k, g in got.items():
        f = full[k]
        assert g["n_orders"] == f["n_orders"]
        assert g["revenue"] == f["revenue"]  # bit-exact via decimal states
        assert g["min_price"] == f["min_price"]
        assert g["max_price"] == f["max_price"]
        assert g["avg_price"] == f["revenue"] / f["n_orders"]


def test_snapshot_diff_audit_statuses_reconcile(spark, sf_dir):
    """r12: the four statuses must partition the key universe of the two
    snapshots, and drift is nonzero exactly on 'changed'/'added'/
    'removed' rows."""
    from distributed_query_engine_spark.registry import all_queries

    rows = {r["status"]: r for r in
            all_queries()["snapshot_diff_audit"](spark, sf_dir).collect()}
    assert set(rows) <= {"added", "removed", "changed", "unchanged"}
    assert rows["unchanged"]["total_drift_cents"] == 0
    assert rows["changed"]["total_drift_cents"] == 10000 * rows["changed"]["n_keys"]
    # key-universe reconciliation against the raw snapshots
    import duckdb

    con = duckdb.connect()
    n_old, n_new, n_common = con.sql(
        f"""
        WITH c AS (SELECT c_custkey FROM read_parquet('{sf_dir}/customer.parquet')),
        o AS (SELECT c_custkey FROM c WHERE c_custkey % 7 != 3),
        n AS (SELECT c_custkey FROM c WHERE c_custkey % 5 != 2)
        SELECT (SELECT count(*) FROM o), (SELECT count(*) FROM n),
               (SELECT count(*) FROM o JOIN n USING (c_custkey))
        """
    ).fetchone()
    total = sum(r["n_keys"] for r in rows.values())
    assert total == n_old + n_new - n_common
    assert rows["added"]["n_keys"] == n_new - n_common
    assert rows["removed"]["n_keys"] == n_old - n_common


def test_bfs_hop_distance_small_graph(spark):
    """r12: hand-checkable path graph 1-2-3-4-5 with landmark {1}:
    labels are minimum hops, the bound cuts at 3, and revisits never
    overwrite a smaller settled label."""
    from distributed_query_engine_spark.operators.graph import bfs_hop_distance

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 1), (3, 2), (4, 3), (5, 4)],
        "src long, dst long",
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_hop_distance(edges, src, 3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is 4 hops away: excluded


def test_frame_fingerprints_match_arithmetic(spark, sf_dir):
    """r12: the decoded fingerprint equals the synthetic-pixel formula's
    closed form for a sampled doc/frame."""
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import multimodal as M

    d = Tables(spark, sf_dir).documents.filter("doc_id < 3")
    rows = M.frame_fingerprints(M.synthesize_video(d)).collect()
    assert len(rows) == 3 * (M.VID_FRAMES // M.VID_STRIDE)
    for r in rows:
        expect = sum(
            ((r["doc_id"] * 31 + r["f"] * 17 + p * 7) % 256) * (p + 1)
            for p in range(M.VID_W * M.VID_H)
        )
        assert r["fhash"] == expect, r


def test_asof_nearest_duplicate_ts_deterministic_and_oracle_exact(spark, tmp_path):
    """r12 ADVICE (relational.py join_asof_nearest): two purchases at
    the IDENTICAL (user_id, ts) previously resolved nondeterministically
    in both engine and oracle. With the p_value tie-breaker, the engine
    must pick max-value backward / min-value forward, and the oracle's
    direction-signed CASE key must replay the same choice."""
    import pandas as pd

    from distributed_query_engine_spark.registry import _ORACLES, _QUERIES
    import distributed_query_engine_spark.plans  # noqa: F401

    t0 = pd.Timestamp("2024-06-01 12:00:00")
    m = pd.Timedelta(minutes=10)
    rows = [
        # user 1: duplicate-ts purchases BEHIND the click -> backward max (9.0)
        (1, t0, 1, "click", None, None),
        (101, t0 - m, 1, "purchase", 5.0, None),
        (102, t0 - m, 1, "purchase", 9.0, None),
        # user 2: duplicate-ts purchases AHEAD of the click -> forward min (5.0)
        (2, t0, 2, "click", None, None),
        (201, t0 + m, 2, "purchase", 5.0, None),
        (202, t0 + m, 2, "purchase", 9.0, None),
        # user 3: equal |delta| both sides -> backward-first convention (3.0)
        (3, t0, 3, "click", None, None),
        (301, t0 - m, 3, "purchase", 3.0, None),
        (302, t0 + m, 3, "purchase", 7.0, None),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["props"] = pdf["props"].astype("string")
    pdf.to_parquet(tmp_path / "events.parquet")

    df = _QUERIES["join_asof_nearest"](spark, str(tmp_path))
    got = {r["event_id"]: r["purchase_value"] for r in df.collect()}
    assert got == {1: 9.0, 2: 5.0, 3: 3.0}

    con = oracle.duck(tmp_path)
    rel = con.sql(_ORACLES["join_asof_nearest"])
    assert oracle.compare(df, rel) == (3, [])


def test_knn_graph_degree_bounded_and_directed(spark, sf_dir):
    from distributed_query_engine_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    g = 3
    edges = S.knn_graph(e, g=g).collect()
    assert edges
    from collections import Counter

    deg = Counter(r.src_id for r in edges)
    assert max(deg.values()) <= g
    for r in edges:
        assert r.src_id != r.dst_id
    # no duplicate directed edge survives the two-grouping union
    assert len({(r.src_id, r.dst_id) for r in edges}) == len(edges)


def test_graph_refine_recall_dominates_plain_ivf(spark, sf_dir):
    """Provable invariant, not a data accident: IVF's top-5 is a subset
    of the refinement's candidate set (seeds = IVF top-10), and the
    rerank uses the SAME exact cosine — so a true top-5 neighbor found
    by IVF can only be displaced by another true top-5 neighbor. Graph
    recall must therefore dominate per query."""
    from distributed_query_engine_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    panel = list(range(10))
    k = 5
    exact = {(r.q_id, r.vec_id) for r in S.topk_cosine(e, panel, k=k).collect()}
    ivf = {(r.q_id, r.vec_id) for r in S.topk_cosine_ivf(e, panel, k=k).collect()}
    ref = {
        (r.q_id, r.vec_id)
        for r in S.topk_cosine_ivf_graph(e, panel, k=k).collect()
    }
    for q in panel:
        ivf_hits = sum(1 for p in ivf & exact if p[0] == q)
        ref_hits = sum(1 for p in ref & exact if p[0] == q)
        assert ref_hits >= ivf_hits, (q, ivf_hits, ref_hits)


def test_stream_mv_refresh_multibatch_merge_and_drop(spark, sf_dir):
    """stream_mv_refresh must (1) actually run multi-batch (3 staged
    slices -> 3 data batches), (2) persist a generation per data batch
    whose row set GROWS monotonically under key-upsert merge, and
    (3) keep the straggler batch's late rows out of the final MV."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from distributed_query_engine_spark import staging
    from distributed_query_engine_spark.registry import all_queries
    from distributed_query_engine_spark.streaming import ops

    mv = all_queries()["stream_mv_refresh"](spark, sf_dir)
    assert ops.LAST_RUN["mv_refresh"].batches == 3
    run_key = f"mv_refresh-{staging.key(sf_dir)}"
    mv_dir = staging.run_dir("mv_state", run_key, keep=True)
    gens = sorted(
        int(p.name.split("=", 1)[1]) for p in Path(mv_dir).glob("gen=*")
    )
    assert len(gens) >= 3
    sizes = [
        spark.read.parquet(str(mv_dir / f"gen={g}")).count() for g in gens
    ]
    assert sizes == sorted(sizes), sizes  # upsert never loses a key
    # straggler batch (batch id 2 — slices are bulk/tick/stragglers in
    # mtime order; a trailing no-data batch may add gen 3) contributed
    # NOTHING: its generation equals the tick batch's as a row set
    last, prev = (
        spark.read.parquet(str(mv_dir / f"gen={gens[2]}")),
        spark.read.parquet(str(mv_dir / f"gen={gens[1]}")),
    )
    assert sorted(map(tuple, last.collect())) == sorted(
        map(tuple, prev.collect())
    )
    # and the final MV counts strictly fewer rows than a no-drop rerun
    total = mv.agg(F.sum("cnt")).first()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert total < ev.count()


def test_flush_retry_guard_detects_withheld_stateful_output(spark, sf_dir):
    """r13 sf3-sweep regression: an AvailableNow run that stops BEFORE
    the final no-data batch withholds every watermark-gated emission
    (the anti join's entire output rides that batch). The guard must
    (a) detect that progress shape, (b) NOT fire on healthy runs or on
    legitimately flush-free ones (complete mode; stateful-but-
    unwatermarked dedup), and (c) when fired, rerun once from a fresh
    checkpoint — proven end-to-end by reproducing the anomaly with
    no-data micro-batches disabled and observing the retry."""
    from distributed_query_engine_spark.streaming import ops

    # healthy run: no retry, full output
    healthy = ops.run_to_memory(
        ops.anti_join_unconverted_clicks(ops.read_events_stream(spark, sf_dir)),
        "mem_anti_healthy",
        "append",
    )
    assert healthy.count() > 0
    assert ops.LAST_RUN["mem_anti_healthy"].retried is False

    # detector unit: the anomaly's exact progress shape fires; healthy /
    # unwatermarked / complete-mode shapes do not
    wm = {"watermark": "2024-01-30T23:47:12.194Z"}
    data = {"numInputRows": 100, "stateOperators": [{}], "eventTime": wm}
    nodata = {"numInputRows": 0, "stateOperators": [{}], "eventTime": wm}
    plain_dedup = {"numInputRows": 100, "stateOperators": [{}], "eventTime": {}}
    stateless = {"numInputRows": 100, "stateOperators": [], "eventTime": {}}
    assert ops._needs_flush_retry([data], "append") is True
    assert ops._needs_flush_retry([data, nodata], "append") is False
    assert ops._needs_flush_retry([data], "complete") is False
    # update mode emits per data batch — a skipped no-data batch
    # withholds nothing, so no retry (r13 review)
    assert ops._needs_flush_retry([data], "update") is False
    assert ops._needs_flush_retry([plain_dedup], "append") is False
    assert ops._needs_flush_retry([stateless], "append") is False

    # end-to-end: disabling no-data micro-batches reproduces the
    # withheld-output anomaly deterministically; the guard must detect
    # it and take the one-shot retry path (the retry inherits the
    # disabled conf here, so output stays withheld — the assertion is
    # that the guard FIRED and the run stays bounded at one retry).
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        res = ops.run_to_memory(
            ops.anti_join_unconverted_clicks(
                ops.read_events_stream(spark, sf_dir)
            ),
            "mem_anti_withheld",
            "append",
        )
        assert ops.LAST_RUN["mem_anti_withheld"].retried is True
        assert res.count() == 0  # both runs withheld under the conf
    finally:
        spark.conf.set(key, prior)


def test_graph_index_matches_inplan_search_and_skips_rebuild(spark, sf_dir):
    from distributed_query_engine_spark.operators import similarity as S
    from distributed_query_engine_spark.registry import all_queries

    idx = sorted(
        tuple(r)
        for r in all_queries()["llm_similarity_graph_index"](
            spark, sf_dir
        ).collect()
    )
    inplan = sorted(
        tuple(r)
        for r in all_queries()["llm_similarity_graph_refine"](
            spark, sf_dir
        ).collect()
    )
    assert idx == inplan
    # fingerprint hit: second call serves the published generation
    from distributed_query_engine_spark import staging

    calls = []
    gen = staging.generation(
        "graph_index", sf_dir, ("embeddings",),
        f"{IS.LAYOUT}:graph:{S.KNN_G}:{S.N_CELLS}:{S.N_PLANES}:lowest_id:0",
    )
    p = staging.publish(gen, lambda path: calls.append(path))
    assert calls == []  # build skipped on hit
    assert (p / staging.MARKER).is_file()


def test_stage_dir_relative_sf_dir_stages_working_symlink(spark, sf_dir):
    """r13 sf3-sweep TRUE root cause: a RELATIVE sf_dir produced a
    relative symlink target (resolved against the symlink's own dir =
    broken), which the file stream source read as silently-zero rows.
    The staged link must resolve for relative and absolute spellings,
    both must share ONE staging dir (resolved fingerprint), and the
    streamed row count must match the source either way."""
    import os

    from distributed_query_engine_spark.streaming import ops

    rel = os.path.relpath(sf_dir)
    assert not os.path.isabs(rel)
    d_abs = ops._stage_dir(sf_dir)
    d_rel = ops._stage_dir(rel)
    assert d_abs == d_rel  # one staging dir for both spellings
    link = os.path.join(d_rel, "events.parquet")
    assert os.path.islink(link) and os.path.exists(link)
    assert os.path.isabs(os.readlink(link))
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    got = ops.run_to_memory(
        ops.read_events_stream(spark, rel).select("event_id"),
        "mem_relpath_stage",
        "append",
    )
    assert got.count() == n_src


def test_sq8_codes_bounded_and_recall_high(spark, sf_dir):
    from distributed_query_engine_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qz = S.sq8_quantized(e).collect()
    assert qz
    for r in qz:
        assert all(0 <= c <= S.SQ_LEVELS for c in r.codes)
        assert len(r.codes) == len(r.uvec)
    panel = list(range(10))
    exact = {(r.q_id, r.vec_id) for r in S.topk_cosine(e, panel, k=5).collect()}
    sq = {(r.q_id, r.vec_id) for r in S.topk_cosine_sq8(e, panel, k=5).collect()}
    # 8-bit quantization of 64-dim vectors loses little: empirically
    # 0.99+ here; 0.9 is the regression floor, not the measurement
    assert len(sq & exact) / len(exact) >= 0.9


def test_ivf_sq8_rerank_recovers_ivf_recall(spark, sf_dir):
    """The exact rerank over the SQ8 shortlist must recover plain IVF's
    recall whenever the true in-cell top-5 survives the 25-id SQ8
    shortlist — empirically exact on this corpus, floored at equality
    minus one hit to keep the test data-change-proof."""
    from distributed_query_engine_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    panel = list(range(10))
    exact = {(r.q_id, r.vec_id) for r in S.topk_cosine(e, panel, k=5).collect()}
    ivf = {(r.q_id, r.vec_id) for r in S.topk_cosine_ivf(e, panel, k=5).collect()}
    sq = {
        (r.q_id, r.vec_id)
        for r in S.topk_cosine_ivf_sq8(e, panel, k=5).collect()
    }
    assert len(sq & exact) >= len(ivf & exact) - 1


def test_weighted_sample_biases_toward_heavy_docs(spark, sf_dir):
    """Priority sampling's defining property: inclusion probability
    grows with weight, so the sample's mean token count must exceed the
    corpus mean (a coarse, data-regeneration-proof bound)."""
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.registry import all_queries

    samp = all_queries()["llm_weighted_sample"](spark, sf_dir)
    rows = samp.collect()
    assert len(rows) == 100
    assert len({r.doc_id for r in rows}) == 100  # without replacement
    mean_s = sum(r.weight for r in rows) / len(rows)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mean_c = (
        d.select(F.avg(F.size(F.split("text", " ")))).first()[0]
    )
    assert mean_s > mean_c


def test_graph_incremental_new_vectors_reachable_and_asymmetric(spark, sf_dir, tmp_path):
    """Incremental graph ingest contract: appended vectors appear in the
    assignments AND as edge SOURCES with full-quality out-edges, while
    existing sources gain no pointers into the batch (the documented
    staleness asymmetry the oracle models)."""
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_new = F.pmod(F.col("vec_id"), F.lit(100)) >= 90
    idx = str(tmp_path / "gidx")
    S.build_graph_index(e.filter(~is_new), idx)
    edges_before = IS.read(spark, idx, "graph", "edges").count()
    S.append_to_graph_index(spark, e.filter(is_new), idx, seg=1)
    assigned = IS.read(spark, idx, "graph", "assignments")
    new_ids = {r.vec_id for r in e.filter(is_new).select("vec_id").collect()}
    assert new_ids <= {r.vec_id for r in assigned.select("vec_id").collect()}
    edges = IS.read(spark, idx, "graph", "edges").collect()
    assert len(edges) > edges_before
    srcs_new = {r.src_id for r in edges if r.src_id in new_ids}
    assert srcs_new == new_ids  # every batch vector got out-edges
    # asymmetry: no EXISTING source points into the batch
    for r in edges:
        if r.src_id not in new_ids:
            assert r.dst_id not in new_ids, (r.src_id, r.dst_id)
    # and the search still runs end-to-end over the mutated index
    hits = S.topk_cosine_graph_index(spark, idx, [0, 1, 2], k=5).collect()
    assert len(hits) == 15


def test_graph_compaction_erases_ingest_asymmetry(spark, sf_dir, tmp_path):
    """After compact_graph_index, the edge relation must equal the
    symmetric full-corpus graph under the stored quantizer — existing
    sources regain pointers into the ingested batch."""
    import os as _os

    from pyspark.sql import functions as F

    from distributed_query_engine_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_new = F.pmod(F.col("vec_id"), F.lit(100)) >= 90
    idx = str(tmp_path / "gidx")
    S.build_graph_index(e.filter(~is_new), idx)
    S.append_to_graph_index(spark, e.filter(is_new), idx, seg=1)
    S.compact_graph_index(spark, idx)
    # the MANIFEST names the one base segment; the segments it replaced
    # stay on disk as reader grace
    (base,) = IS.segments(idx)
    assert base < 0
    assert {"seg=0", "seg=1", f"seg={base}"} <= set(_os.listdir(f"{idx}/edges"))
    got = sorted(
        (r.src_id, r.dst_id) for r in IS.read(spark, idx, "graph", "edges").collect()
    )
    # reference: symmetric edges over the SAME stored assignments
    full = IS.read(spark, idx, "graph", "assignments")
    want = sorted(
        (r.src_id, r.dst_id)
        for r in S._knn_edges(
            S._two_groupings(full, S.N_PLANES),
            S._two_groupings(full, S.N_PLANES),
            S.KNN_G,
        ).collect()
    )
    assert got == want
    new_ids = {r.vec_id for r in e.filter(is_new).select("vec_id").collect()}
    assert any(s not in new_ids and d in new_ids for s, d in got), (
        "compaction must restore existing->batch pointers"
    )


def test_graph_rebuild_into_compacted_path_repoints_generation(spark, sf_dir, tmp_path):
    """A build over an existing, compacted store starts a fresh MANIFEST:
    no segment of the old corpus stays on disk or readable, so neither
    readers nor append_to_graph_index can resolve stale edges from the
    PREVIOUS corpus (ADVICE r14)."""
    import os as _os

    from pyspark.sql import functions as F

    from distributed_query_engine_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "gidx")
    S.build_graph_index(e.filter(F.col("vec_id") < 60), idx)
    S.compact_graph_index(spark, idx)
    assert IS.segments(idx) == [-1]
    # REBUILD over a different corpus slice into the same path
    S.build_graph_index(e.filter(F.col("vec_id") >= 40), idx)
    assert IS.segments(idx) == [0]
    assert sorted(_os.listdir(f"{idx}/edges")) == ["seg=0"]
    edges = IS.read(spark, idx, "graph", "edges").collect()
    srcs = {r.src_id for r in edges} | {r.dst_id for r in edges}
    assert srcs and all(v >= 40 for v in srcs), "stale old-corpus edges resolved"
    # and incremental ingest after the rebuild adds to the fresh store
    S.append_to_graph_index(spark, e.filter(F.col("vec_id") < 10), idx, seg=1)
    assert IS.read(spark, idx, "graph", "edges").count() > len(edges)


def test_sq8_index_ingest_clamps_against_stored_dims(spark, sf_dir, tmp_path):
    """The SQ8 quantizer is a versioned artifact: appending a batch must
    encode against the STORED per-dim ranges (clamped — codes stay in
    [0,255] even for out-of-range values) and never rewrite existing
    codes or the dims relation."""
    import pathlib

    from pyspark.sql import functions as F

    from distributed_query_engine_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_new = F.pmod(F.col("vec_id"), F.lit(100)) >= 90
    idx = str(tmp_path / "sq8idx")
    S.build_sq8_index(e.filter(~is_new), idx)

    def stamps():
        return {
            p: p.stat().st_mtime_ns
            for p in pathlib.Path(idx).rglob("part-*.parquet")
        }

    before = stamps()
    S.append_to_sq8_index(spark, e.filter(is_new), idx, seg=1)
    after = stamps()
    # quantizer and existing codes untouched; the batch is a new segment
    assert {p: after[p] for p in before} == before
    assert all(p.parent.name == "seg=1" for p in set(after) - set(before))
    codes = IS.read(spark, idx, "sq8", "codes")
    assert codes.count() == e.count()
    bad = codes.filter(
        F.exists("codes", lambda c: (c < 0) | (c > S.SQ_LEVELS))
    ).count()
    assert bad == 0  # clamp keeps every code on the stored grid
    hits = S.topk_cosine_sq8_index(spark, idx, [0, 1, 2], k=5).collect()
    assert len(hits) == 15


def test_prod_graph_knobs_economic_floor():
    """Deployment-knob sizing (r15, VERDICT r14 item 4): below the
    economic floor the probe goes EXHAUSTIVE (an index regime does not
    exist on a few hundred vectors — the sf0.01 panel's true neighbors
    sit beyond any honest probe), above it the probe is 10% of cells
    (10x the measured 1%-probe recall floor of the r14 knob study),
    never below the pinned N_PROBE minimum."""
    from distributed_query_engine_spark.operators import similarity as S
    from distributed_query_engine_spark.plans.llm.vector import (
        _ANN_ECONOMIC_FLOOR,
        _prod_graph_knobs,
    )

    # toy scale (driver gate): exhaustive
    n_cells, n_planes, n_probe = _prod_graph_knobs(500)
    assert n_cells == S.suggest_n_cells(500)
    assert n_probe == n_cells
    # just above the floor: 10% of cells, floored at N_PROBE
    n_cells, _, n_probe = _prod_graph_knobs(_ANN_ECONOMIC_FLOOR)
    assert n_probe == max(S.N_PROBE, -(-n_cells // 10)) and n_probe < n_cells
    # sweep scales: genuine sub-exhaustive probe, ceil division
    for n in (2_000, 20_000, 60_000, 200_000):
        n_cells, n_planes, n_probe = _prod_graph_knobs(n)
        assert n_cells == S.suggest_n_cells(n)
        assert n_planes == S.suggest_n_planes(n)
        assert n_probe == max(S.N_PROBE, -(-n_cells // 10))
        assert n_probe < n_cells
