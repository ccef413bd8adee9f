"""Materialized sparse (BM25) text index: the inverted-index artifact a
production search deployment maintains, as the sparse sibling of
operators/similarity.py::build_ivf_index.

Layout: an index store (distributed_query_engine_spark/index_store.py)
with no quantizer and three relations per segment:

- ``postings`` — (tok, doc_id, tf, dl), bucketed by tok and read as one
  table ``PARTITIONED BY (seg) CLUSTERED BY (tok)``: a query's term set
  selects only its terms' buckets in every committed segment
  (``SelectedBucketsCount`` in the scan — plan-asserted), the sparse
  analog of the IVF index's cell-partition pruning. Buckets, not hive
  partitions: a real vocabulary is millions of tokens — one directory
  per token would melt the namenode; N fixed bucket files is the
  standard layout. ``dl`` rides denormalized in the posting row so
  scoring never joins a doc-length table.
- ``stats`` — (tok, df): vocabulary-sized; a search reads only its
  query terms' rows.
- ``corpus`` — (n_docs, a_tok): one row.

A build writes segment 0 and each ingest batch its own segment over a
disjoint document set, so stats and corpus hold one partial per segment
and merge by SUM. A search collects its query terms' df partials and the
corpus partials in one job and sums them on the driver: |query terms| x
|segments| rows, request-sized at any vocabulary or corpus size. The
scoring plan then broadcasts that small local relation to the postings
scan and runs no stats or corpus aggregate, exchange or nested-loop
join. Compaction folds the segments into one base segment with one
postings file per bucket and single stats and corpus partials.

Query-time: the query's terms are DRIVER-SIDE LITERALS (a search query
is request metadata, like the panel ids every similarity query takes) —
which is what makes bucket pruning applicable: ``tok IN (...literals)``
prunes at planning. Scoring replays the exact-integer linear-idf BM25 of
plans/retrieval.py (same ``_BM25_MILLI_SQL`` fragment), so the search
result is bit-identical to the scan-everything llm_bm25_topk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_query_engine_spark import index_store as IS
from distributed_query_engine_spark import staging
from distributed_query_engine_spark.catalog import local_rows
from distributed_query_engine_spark.functions import text as T

N_BUCKETS = IS.KINDS["bm25"].relations["postings"].bucket[1]


def _generation(sf_dir: str) -> staging.Generation:
    """The index generation for the corpus at ``sf_dir``. A lookup only:
    building and sweeping belong to the writer, build_bm25_index — the
    search path must never remove a generation a concurrent process may
    still be scanning (r12 ADVICE)."""
    return staging.generation(
        "bm25_index", sf_dir, ("documents",), f"{IS.LAYOUT}:bm25:{N_BUCKETS}"
    )


def tf_dl_relation(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf, dl): term frequencies with the doc length
    denormalized on — one exploded scan, two partial-agg'd shuffles."""
    toks = docs.select("doc_id", F.explode(T.words(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    return tf.join(dl, "doc_id")


def panel_qterms(docs: DataFrame, ids: list[int]) -> list[tuple[int, str]]:
    """The query panel's distinct (q_id, term) pairs for docs ``ids`` —
    the set :func:`tf_dl_relation` yields for them, from ONE narrow
    collect of each panel doc's distinct tokens (no aggregate, no join).
    Null text gives no terms."""
    rows = (
        docs.filter(F.col("doc_id").isin(ids))
        .select("doc_id", F.array_distinct(T.words(F.col("text"))).alias("toks"))
        .collect()
    )
    return sorted({(r["doc_id"], t) for r in rows for t in r["toks"] or ()})


def _segment(docs: DataFrame) -> dict[str, DataFrame]:
    """One segment's three relations for the documents ``docs``."""
    rel = tf_dl_relation(docs)
    return {
        "postings": rel,
        "stats": rel.groupBy("tok").agg(F.count(F.lit(1)).alias("df")),
        # (0, 0), not (0, NULL), for an empty batch: the search sums these
        "corpus": rel.groupBy().agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.coalesce(F.sum("tf"), F.lit(0).cast("long")).alias("a_tok"),
        ),
    }


def write_bm25_index(docs: DataFrame, base) -> None:
    """Build a fresh index for ``docs`` at ``base``: segment 0."""
    IS.build(base, "bm25", {}, lambda: _segment(docs))


def append_to_bm25_index(docs_new: DataFrame, base, seg: int) -> None:
    """Ingest a NEW document batch into an EXISTING index WITHOUT a
    rebuild — the sparse sibling of similarity.append_to_ivf_index
    (VERDICT r12 item 2): the batch becomes segment ``seg``, committed
    only after all three of its relations are written, and a replay of
    a committed ``seg`` is a no-op. Ingest cost is ONE scan of the
    BATCH, never a rewrite of existing index files.

    Doc lengths (dl) are per-document, so batch-local computation is
    exact; idf/avgdl come from the SUMMED stats, hence search over an
    incrementally-ingested index is bit-identical to a full rebuild."""
    IS.append(base, "bm25", seg, lambda: _segment(docs_new))


def build_bm25_index(spark: SparkSession, docs: DataFrame, sf_dir: str) -> str:
    """Materialize the index as a staging generation; returns its tag. A
    fingerprint hit skips the build, so a process that finds the
    generation another one published only reads it — a rebuild would
    rewrite postings a concurrent reader is mid-scan on (observed r13)."""
    gen = _generation(sf_dir)
    staging.publish(
        gen, lambda p: write_bm25_index(docs, p), spark, ("bm25_postings_",)
    )
    return gen.tag


def bm25_search_index(
    spark: SparkSession,
    sf_dir: str,
    qterms: list[tuple[int, str]],
    k: int = 5,
    milli_sql: str | None = None,
    base=None,
    tbl: str | None = None,
) -> DataFrame:
    """BM25 top-k against the materialized index. ``qterms`` is the
    tokenized query panel as (q_id, term) literals — request metadata,
    so the ``tok IN`` predicate is literal and the postings scan bucket-
    prunes. ``milli_sql`` is the per-term integer score expression
    (defaults to the shared plans/retrieval.py fragment). ``base``/
    ``tbl`` name another index and its postings table than the
    content-addressed staging one (the lifecycle queries search their
    pid-keyed run dirs).

    The query terms' df partials and the corpus partials of every
    committed segment come back in ONE collect and are summed here in
    Python ints (exact). That result is request-sized, |query terms| x
    |segments| rows, whatever the vocabulary or corpus size, so
    merge-at-read stays cheap at any scale. The postings join the
    summed (q_id, tok, df, n_docs, a_tok) rows as one broadcast local
    relation: no stats/corpus aggregate or exchange per search."""
    if milli_sql is None:
        from distributed_query_engine_spark.plans.retrieval import _BM25_MILLI_SQL

        milli_sql = _BM25_MILLI_SQL.replace("//", " div ")
    if base is None or tbl is None:
        base, tag = _generation(sf_dir)
        tbl = f"bm25_postings_{tag}"
    # One literal IN (a py4j call per term) serves both scans: it pushes
    # into the stats parquet scan, so only the query terms' partials are
    # read, and it bucket-prunes the postings scan.
    in_terms = F.col("tok").isin(sorted({t for _, t in qterms}))
    # A null tok marks the corpus rows.
    null_long = F.lit(None).cast("long")
    stats = (
        IS.read(spark, base, "bm25", "stats")
        .filter(in_terms)
        .select("tok", "df", null_long.alias("n_docs"), null_long.alias("a_tok"))
    )
    corpus = IS.read(spark, base, "bm25", "corpus").select(
        F.lit(None).cast("string").alias("tok"), null_long.alias("df"), "*"
    )
    doc_freq: dict[str, int] = {}
    n_docs = a_tok = 0
    for r in stats.unionByName(corpus).collect():
        if r["tok"] is None:
            n_docs += r["n_docs"]
            a_tok += r["a_tok"]
        else:
            doc_freq[r["tok"]] = doc_freq.get(r["tok"], 0) + r["df"]
    # Inner-join semantics: a query term absent from the stats has no
    # postings either, so it drops out here.
    q_stats = local_rows(
        spark,
        [(q, t, doc_freq[t], n_docs, a_tok) for q, t in qterms if t in doc_freq],
        "q_id long, tok string, df long, n_docs long, a_tok long",
    )
    # A bucketed scan plans one task per bucket, pruned or not; a narrow
    # coalesce to the session's parallelism keeps the scan bucketed and
    # its SelectedBucketsCount, and drops the empty tasks.
    postings = (
        IS.bucketed(spark, base, "bm25", "postings", tbl)
        .filter(in_terms)
        .coalesce(spark.sparkContext.defaultParallelism)
    )
    scored = (
        postings.join(F.broadcast(q_stats), "tok")
        .filter(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum(F.expr(milli_sql)).cast("long").alias("score_milli"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score_milli").desc(), F.col("doc_id")
    )
    out = (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )
    return force_bucket_pruned(spark, out)


def force_bucket_pruned(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Force ``df``'s physical plan NOW, with bucketed scans pinned on.

    Bucketed scans (and hence bucket pruning) must stay enabled even
    though no join needs the bucket distribution — scan-level pruning
    is the point. The flag is a SESSION conf, so set it only for the
    duration of PHYSICAL PLANNING (forced here via executedPlan —
    QueryExecution caches it, so later actions reuse the pruned plan)
    and restore the prior value in finally: leaking planner config
    into subsequent queries made their plans order-dependent
    (r12 ADVICE). Callers that WRAP the search result (e.g. the
    lifecycle queries' ``withColumn('is_new', ...)``) create a NEW
    QueryExecution planned after the restore, so they must re-force
    the plan on the final returned DataFrame (r14, ADVICE r13) —
    that is why this is a public helper, not inlined."""
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "false")
    try:
        df._jdf.queryExecution().executedPlan()
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)
    return df


def compact_bm25_index(spark: SparkSession, base) -> None:
    """COMPACT an append-accumulated index into one base segment — the
    background half of the ingest lifecycle (LSM-style: appends keep
    ingest cheap, compaction restores read efficiency), sparse sibling
    of similarity.ivf_compaction_report's rewrite phase.

    The postings are rewritten into exactly one file per token bucket
    (the store regroups them on the writer's own bucket function; each
    append had added a file per bucket per writing task), and the
    per-segment stats/corpus partials fold by the same SUM the search
    path applies at read. A search after it is bit-identical to one
    before (same rows, same stats totals) and still bucket-prunes.

    100 TB: only file COUNT changes, never content — the rewrite is one
    corpus-index-sized shuffle scheduled off-peak, and bucket pruning
    serves queries identically before and after."""
    IS.compact(
        spark,
        base,
        "bm25",
        stats=lambda s: s.groupBy("tok").agg(F.sum("df").alias("df")).coalesce(1),
        corpus=lambda c: c.agg(
            F.sum("n_docs").alias("n_docs"), F.sum("a_tok").alias("a_tok")
        ).coalesce(1),
    )
