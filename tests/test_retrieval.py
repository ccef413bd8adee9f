"""Sparse/hybrid retrieval family (plans/retrieval.py): result-shape
invariants DuckDB repr-compare can't see, plus the physical-plan claims
the docstrings make (posting heads limited BEFORE collection, panel
relations broadcast, shard manifest shuffle-free up to its 64-row agg).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_query_engine_spark.registry import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _q(name, spark, sf_dir):
    return all_queries()[name](spark, sf_dir)


def test_inverted_index_postings_sorted_and_bounded(spark, sf_dir):
    rows = _q("llm_inverted_index", spark, sf_dir).collect()
    assert rows
    for r in rows:
        # postings_head is SERIALIZED (comma-joined) — a top-level array
        # column would not survive the driver's pandas canonicalizer.
        head = [int(x) for x in r.postings_head.split(",")]
        assert 1 <= len(head) <= 8
        assert head == sorted(head)
        assert len(head) == min(r.df, 8)
        assert r.cf >= r.df  # every posting contributes >= 1 occurrence


def test_inverted_index_head_is_window_limited(spark, sf_dir):
    # The rn<=8 head must be a WindowGroupLimit (map-side partial limit),
    # not a full collect_list + slice: no executor ever materializes a
    # stopword's complete posting list.
    plan = _plan(_q("llm_inverted_index", spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "slice(" not in plan


def test_bm25_scores_positive_and_ranked(spark, sf_dir):
    rows = _q("llm_bm25_topk", spark, sf_dir).collect()
    assert len(rows) == 25  # 5 queries x top-5
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.doc_id != r.q_id
        assert r.score_milli > 0
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rn)
        scores = [r.score_milli for r in rs]
        assert scores == sorted(scores, reverse=True), (q, scores)


def test_bm25_panel_relations_broadcast(spark, sf_dir):
    # qterms / dfreq / corpus are panel- or vocabulary-sized: all must
    # ride broadcast joins; the corpus-sized tf relation must never be
    # the build side.
    plan = _plan(_q("llm_bm25_topk", spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_fuses_both_rankers(spark, sf_dir):
    rows = _q("llm_hybrid_rrf", spark, sf_dir).collect()
    assert len(rows) == 25
    # A doc ranked #1 by BOTH rankers would score 2*floor(1e6/61); a doc
    # present in only one list tops out at floor(1e6/61). Every fused
    # score must be a sum of at most two valid contributions.
    max_single = 1_000_000 // 61
    for r in rows:
        assert 0 < r.rrf_scaled <= 2 * max_single
        assert r.doc_id != r.q_id


def test_rrf_agrees_with_component_rankers(spark, sf_dir):
    # Recompute RRF driver-side from the two registered rankers at the
    # same depth and compare the fused top-5 exactly.
    from distributed_query_engine_spark.operators import similarity as S
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.plans.retrieval import (
        _RRF_DEPTH,
        _RRF_K,
        _RRF_SCALE,
        _Q_IDS,
        _bm25_ranks,
    )

    sparse = {
        (r.q_id, r.doc_id): r.rn
        for r in _bm25_ranks(spark, sf_dir).collect()
    }
    dense = {
        (r.q_id, r.vec_id): r.rn
        for r in S.topk_cosine(
            Tables(spark, sf_dir).embeddings, _Q_IDS, k=_RRF_DEPTH
        ).collect()
    }
    fused: dict[tuple, int] = {}
    for key, rn in list(sparse.items()) + list(dense.items()):
        fused[key] = fused.get(key, 0) + _RRF_SCALE // (_RRF_K + rn)
    expect = {}
    for q in _Q_IDS:
        cand = [(s, d) for (qq, d), s in fused.items() if qq == q]
        cand.sort(key=lambda t: (-t[0], t[1]))
        expect[q] = cand[:5]
    got: dict[int, list] = {q: [] for q in _Q_IDS}
    for r in sorted(
        _q("llm_hybrid_rrf", spark, sf_dir).collect(), key=lambda r: (r.q_id, r.rn)
    ):
        got[r.q_id].append((r.rrf_scaled, r.doc_id))
    assert got == expect


def test_corpus_shuffle_manifest_conserves_corpus(spark, sf_dir):
    man = _q("llm_corpus_shuffle", spark, sf_dir).collect()
    assert 1 <= len(man) <= 64
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = d.count()
    n_tok = d.select(F.sum(F.size(F.split("text", " ")))).first()[0]
    assert sum(r.n_docs for r in man) == n_docs
    assert sum(r.n_tokens for r in man) == n_tok
    for r in man:
        assert r.first_key <= r.last_key


def test_corpus_shuffle_is_map_side_plus_tiny_agg(spark, sf_dir):
    # The manifest must cost exactly one shuffle (the 64-group agg);
    # no GLOBAL sort anywhere — the total order is (shard, skey) by
    # construction. (SortAggregate's within-partition sorts print as
    # `Sort [...], false, 0` — the `false` is the global flag.)
    plan = _plan(_q("llm_corpus_shuffle", spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "], true, 0" not in plan and "SinglePartition" not in plan


def test_bm25_index_scan_bucket_prunes(spark, sf_dir):
    # The postings scan must read only the query terms' buckets — the
    # sparse analog of IVF partition pruning.
    import re

    plan = _plan(_q("llm_bm25_index", spark, sf_dir))
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) < int(m.group(2)), m.group(0)
    assert "Bucketed: true" in plan


def test_bm25_search_plan_scans_only_the_postings(spark, sf_dir):
    # The stats and corpus partials resolve before planning, so the
    # search plan reads one parquet relation (the bucketed postings,
    # coalesced) and joins the local query-stats relation by key: no
    # nested-loop join for the corpus scalars.
    plan = _plan(_q("llm_bm25_index", spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan
    assert "bm25_postings_" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Coalesce" in plan


def test_bm25_search_resolves_stats_in_one_job(spark, sf_dir):
    """Building the search runs one Spark job (the collect of the query
    terms' stats partials plus the corpus partials), and a query term
    the index never saw drops out without changing the result."""
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import sparse as SP
    from distributed_query_engine_spark.plans.retrieval import _BM25_K, _Q_IDS

    d = Tables(spark, sf_dir).documents
    SP.build_bm25_index(spark, d, sf_dir)
    qterms = SP.panel_qterms(d, _Q_IDS)
    sc = spark.sparkContext
    sc.setJobGroup("bm25-search", "bm25-search")
    try:
        res = SP.bm25_search_index(spark, sf_dir, qterms, k=_BM25_K)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("bm25-search")) == 1
    absent = qterms + [(_Q_IDS[0], "zz-not-in-the-corpus")]
    got = SP.bm25_search_index(spark, sf_dir, absent, k=_BM25_K)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, res.collect()))


def test_bm25_index_matches_scan_everything(spark, sf_dir):
    # build-once/search-many contract: index search == full-scan BM25.
    idx = sorted(
        tuple(r) for r in _q("llm_bm25_index", spark, sf_dir).collect()
    )
    scan = sorted(
        tuple(r) for r in _q("llm_bm25_topk", spark, sf_dir).collect()
    )
    assert idx == scan


def test_bm25_index_fingerprint_skip_and_stale_sweep(spark, sf_dir, tmp_path):
    # A fingerprint hit skips the rebuild (the generation's marker
    # persists); a regenerated corpus gets a fresh tag and the stale
    # sibling dir is swept.
    import shutil

    from distributed_query_engine_spark import staging
    from distributed_query_engine_spark.operators import sparse as SP

    src = tmp_path / "corpus"
    src.mkdir()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    d.toPandas().to_parquet(src / "documents.parquet")
    docs = spark.read.parquet(str(src / "documents.parquet"))
    tag1 = SP.build_bm25_index(spark, docs, str(src))
    base1, _ = SP._generation(str(src))
    marker = base1 / staging.MARKER
    mtime1 = marker.stat().st_mtime_ns
    assert SP.build_bm25_index(spark, docs, str(src)) == tag1
    assert marker.stat().st_mtime_ns == mtime1  # no rebuild on hit
    # regenerate the corpus -> new fingerprint, old dir swept
    d.limit(40).toPandas().to_parquet(src / "documents.parquet")
    docs2 = spark.read.parquet(str(src / "documents.parquet"))
    tag2 = SP.build_bm25_index(spark, docs2, str(src))
    assert tag2 != tag1
    assert not base1.exists()
    # r13: the sweep also DROPs the stale catalog entry, so no table can
    # dangle on a deleted path (r12 ADVICE)
    assert not spark.catalog.tableExists(f"bm25_postings_{tag1}")
    base2, _ = SP._generation(str(src))
    assert (base2 / staging.MARKER).exists()
    shutil.rmtree(base2, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS bm25_postings_{tag1}")
    spark.sql(f"DROP TABLE IF EXISTS bm25_postings_{tag2}")


def test_bm25_search_restores_planner_conf(spark, sf_dir):
    """r12 ADVICE: bm25_search_index must not leak the
    autoBucketedScan planner flag into the shared session — the pruned
    physical plan is forced (and cached on QueryExecution) while the
    flag is set, then the prior value is restored."""
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prior = spark.conf.get(key)
    df = _q("llm_bm25_index", spark, sf_dir)
    assert spark.conf.get(key) == prior
    # the cached physical plan still bucket-prunes after the restore
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan
    assert df.count() > 0


def test_bm25_incremental_matches_full_rebuild(spark, sf_dir):
    # Incremental-ingest contract: search over the append-mutated index
    # == search over the one-shot full build, bit-identical (modulo the
    # is_new ingest-batch flag).
    incr = sorted(
        (r.q_id, r.doc_id, r.score_milli, r.rn)
        for r in _q("llm_bm25_index_incremental", spark, sf_dir).collect()
    )
    full = sorted(
        tuple(r) for r in _q("llm_bm25_index", spark, sf_dir).collect()
    )
    assert incr == full


def test_bm25_incremental_scan_still_bucket_prunes(spark, sf_dir):
    # Appended part-files land in the SAME token-bucket layout, so the
    # postings scan keeps pruning to the query terms' buckets.
    import re

    plan = _plan(_q("llm_bm25_index_incremental", spark, sf_dir))
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) <= int(m.group(2))


def test_bm25_append_is_batch_only_and_appends_partials(spark, sf_dir, tmp_path):
    # append_to_bm25_index must never rewrite existing index files
    # (ingest cost is the BATCH scan only), and stats/corpus gain
    # per-segment partials whose SUM equals the full-corpus stats.
    from distributed_query_engine_spark import index_store as IS
    from distributed_query_engine_spark.operators import sparse as SP

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    old, new = d.filter("doc_id % 3 != 0"), d.filter("doc_id % 3 = 0")
    base = tmp_path / "idx"
    SP.write_bm25_index(old, base)
    before = {p: p.stat().st_mtime_ns for p in base.rglob("*.parquet")}
    SP.append_to_bm25_index(new, base, seg=1)
    after = {p: p.stat().st_mtime_ns for p in base.rglob("*.parquet")}
    for p, m in before.items():
        assert after[p] == m, f"existing index file rewritten: {p}"
    assert len(after) > len(before)
    assert IS.segments(base) == [0, 1]
    # summed partials == full-corpus stats
    from pyspark.sql import functions as F

    corpus = IS.read(spark, base, "bm25", "corpus")
    assert corpus.count() == 2  # one partial per segment
    got = corpus.agg(F.sum("n_docs"), F.sum("a_tok")).first()
    rel = SP.tf_dl_relation(d)
    want = rel.agg(
        F.countDistinct("doc_id"), F.sum("tf")
    ).first()
    assert tuple(got) == tuple(want)
    merged_df = (
        IS.read(spark, base, "bm25", "stats")
        .groupBy("tok").agg(F.sum("df").alias("df"))
    )
    full_df = rel.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    assert sorted(map(tuple, merged_df.collect())) == sorted(
        map(tuple, full_df.collect())
    )


def test_panel_qterms_equal_tf_dl_terms_in_one_job(spark, sf_dir):
    """The panel's (q_id, term) literals are the (doc_id, tok) pairs the
    index's tf_dl relation holds for the panel docs, null and empty
    text included, and they come from one Spark job."""
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import sparse as SP
    from distributed_query_engine_spark.plans.retrieval import _Q_IDS

    real = Tables(spark, sf_dir).documents.select("doc_id", "text")
    edge = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "a  a b")], "doc_id long, text string"
    )
    d = real.unionByName(edge)
    ids = list(_Q_IDS) + [-1, -2, -3]
    sc = spark.sparkContext
    sc.setJobGroup("panel-qterms", "panel-qterms")
    try:
        got = SP.panel_qterms(d, ids)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("panel-qterms")) == 1
    want = {
        (r["doc_id"], r["tok"])
        for r in SP.tf_dl_relation(d.filter(F.col("doc_id").isin(ids))).collect()
    }
    assert got == sorted(want)
    assert {t for q, t in got if q < 0} == {"", "a", "b"}
    assert {q for q, _ in got} >= set(_Q_IDS)


def test_bm25_compaction_one_file_per_bucket_same_results(spark, sf_dir, tmp_path):
    """Compaction contract: the base segment's postings hold exactly one
    file per non-empty bucket (appends had accumulated one per bucket
    per segment and task), search results are bit-identical, and the
    compacted stats fold to single partials with unchanged totals."""
    import re

    from pyspark.sql import functions as F

    from distributed_query_engine_spark import index_store as IS
    from distributed_query_engine_spark.operators import sparse as SP
    from distributed_query_engine_spark.plans.retrieval import _Q_IDS, _BM25_K

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    old, new = d.filter("doc_id % 4 != 0"), d.filter("doc_id % 4 = 0")
    base, tbl = tmp_path / "idx", "bm25_cmp_unit_test"
    try:
        SP.write_bm25_index(old, base)
        SP.append_to_bm25_index(new, base, seg=1)
        files_before = len(list((base / "postings").rglob("part-*.parquet")))
        qterms = SP.panel_qterms(d, _Q_IDS)

        def search():
            return sorted(
                tuple(r)
                for r in SP.bm25_search_index(
                    spark, sf_dir, qterms, k=_BM25_K, base=base, tbl=tbl
                ).collect()
            )

        before = search()
        raw = (
            IS.read(spark, base, "bm25", "corpus")
            .agg(F.sum("n_docs"), F.sum("a_tok"))
            .first()
        )
        SP.compact_bm25_index(spark, base)
        (seg,) = IS.segments(base)
        files = list((base / "postings" / f"seg={seg}").glob("part-*.parquet"))
        assert len(files) < files_before
        assert len(files) <= SP.N_BUCKETS
        # one file per bucket id present (bucket id = the _NNNNN suffix
        # of a bucketed part file, not the leading task id)
        buckets = [re.search(r"_(\d{5})\.c", p.name).group(1) for p in files]
        assert len(buckets) == len(set(buckets))
        assert search() == before
        # folded stats: single partial, same totals
        assert len(list((base / "stats" / f"seg={seg}").glob("part-*.parquet"))) == 1
        tot = IS.read(spark, base, "bm25", "corpus").collect()
        assert len(tot) == 1
        assert (tot[0]["n_docs"], tot[0]["a_tok"]) == tuple(raw)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bm25_compact_search_still_bucket_prunes(spark, sf_dir):
    import re

    plan = _plan(_q("llm_bm25_index_compact", spark, sf_dir))
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan


def test_stream_bm25_ingest_multibatch_and_matches_batch_index(spark, sf_dir):
    """The streaming ingest must run genuinely multi-batch (4 slices)
    and its final index search must equal the batch scan-everything
    BM25 — the append-order-independence contract."""
    from distributed_query_engine_spark.streaming import ops

    got = sorted(
        tuple(r) for r in _q("stream_bm25_ingest", spark, sf_dir).collect()
    )
    assert ops.LAST_RUN["bm25_ingest"].batches == 4
    want = sorted(
        tuple(r) for r in _q("llm_bm25_topk", spark, sf_dir).collect()
    )
    assert got == want


def test_bm25_ingest_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: replaying a batch under the same
    batch_id (its segment id) must be a no-op, never a double-append
    that inflates df/n_docs/a_tok. An empty batch commits a zero partial
    the search still sums."""
    from distributed_query_engine_spark import index_store as IS
    from distributed_query_engine_spark.operators import sparse as SP

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    b0, b1 = d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1")
    base = tmp_path / "idx"

    def counts():
        return tuple(
            IS.read(spark, base, "bm25", r).count()
            for r in ("postings", "stats", "corpus")
        )

    SP.append_to_bm25_index(b0, base, seg=0)
    SP.append_to_bm25_index(b1, base, seg=1)
    n = counts()
    # replay both batches (same ids) — nothing may change
    SP.append_to_bm25_index(b0, base, seg=0)
    SP.append_to_bm25_index(b1, base, seg=1)
    assert counts() == n
    # a NEW batch id still applies
    SP.append_to_bm25_index(b0.limit(3), base, seg=2)
    assert counts()[0] > n[0]
    tbl = "bm25_replay_unit_test"
    try:
        qterms = SP.panel_qterms(d, [0, 1])
        before = SP.bm25_search_index(spark, sf_dir, qterms, base=base, tbl=tbl)
        SP.append_to_bm25_index(b0.limit(0), base, seg=3)
        after = SP.bm25_search_index(spark, sf_dir, qterms, base=base, tbl=tbl)
        assert sorted(after.collect()) == sorted(before.collect())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
