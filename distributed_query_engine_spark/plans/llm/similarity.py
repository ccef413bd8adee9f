"""Dense similarity search, exact-to-IVF rungs: brute-force top-k, LSH,
IVF (+ filtered, delete, compact, materialized index, incremental
ingest), recall ladder, k-means, hard negatives. Split from
plans/llm.py (r14)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_query_engine_spark import index_store as IS
from distributed_query_engine_spark import staging
from distributed_query_engine_spark.catalog import Tables
from distributed_query_engine_spark.functions import text as T
from distributed_query_engine_spark.functions.vectors import SCALE
from distributed_query_engine_spark.operators import dedup as D
from distributed_query_engine_spark.operators.chunking import chunk_documents
from distributed_query_engine_spark.operators import multimodal as M
from distributed_query_engine_spark.operators import similarity as S
from distributed_query_engine_spark.registry import query

from distributed_query_engine_spark.plans.llm._shared import (  # noqa: F401
    _WORD_LIST, _BIGRAM_LIST, _tokens_cte, _TOKENS_CTE, _SIG_EXPRS,
    _SIG_COLS, _band_selects, _BAND_SELECTS, _jaccard_cte, _IVEC_CTE,
    _LSH_BUCKET_CTES, _PROBE_MASKS_SQL, _sql_lang_hits, _sql_lang_predict,
    _QUERY_IDS, _RECALL_QUERY_IDS, _RECALL_IDS_SQL, _IVF_NEW_MOD,
    _IVF_NEW_LO, _COS,
)

@query(
    "llm_similarity_topk",
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    q AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq
          FROM nv WHERE vec_id IN (0,1,2,3,4)),
    scored AS (
      SELECT q.q_id, c.vec_id,
             list_dot_product(q.q_ivec, c.ivec)
               / (sqrt(CAST(q.q_nsq AS DOUBLE)) * sqrt(CAST(c.nsq AS DOUBLE)))
               AS cosine
      FROM q, nv c WHERE c.vec_id != q.q_id
    )
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_topk(spark, sf_dir):
    e = Tables(spark, sf_dir).embeddings
    return S.topk_cosine(e, _QUERY_IDS, k=5)


@query(
    "llm_similarity_ann_lsh",
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    {_LSH_BUCKET_CTES},
    nb AS (SELECT nv.vec_id, nv.ivec, nv.nsq, b.bucket
           FROM nv JOIN buckets b USING (vec_id)),
    q AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq, bucket AS q_bucket
          FROM nb WHERE vec_id IN (0,1,2,3,4)),
    qp AS (SELECT q_id, q_ivec, q_nsq, xor(q_bucket, m.mask) AS probe_bucket
           FROM q, (SELECT unnest([{_PROBE_MASKS_SQL}]) AS mask) m),
    scored AS (
      SELECT q.q_id, c.vec_id,
             list_dot_product(q.q_ivec, c.ivec)
               / (sqrt(CAST(q.q_nsq AS DOUBLE)) * sqrt(CAST(c.nsq AS DOUBLE)))
               AS cosine
      FROM qp q JOIN nb c ON c.bucket = q.probe_bucket AND c.vec_id != q.q_id
    )
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_ann_lsh(spark, sf_dir):
    e = Tables(spark, sf_dir).embeddings
    return S.topk_cosine_ann(e, _QUERY_IDS, k=5)


@query(
    "llm_similarity_ivf",
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    cents AS (SELECT vec_id AS cell_id, ivec AS c_ivec, nsq AS c_nsq
              FROM nv WHERE vec_id < {S.N_CELLS}),
    assigned AS (
      SELECT vec_id, ivec, nsq, cell_id FROM (
        SELECT n.vec_id, n.ivec, n.nsq, c.cell_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {_COS.format(a='n.ivec', b='c.c_ivec', na='n.nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS crn
        FROM nv n, cents c) WHERE crn = 1
    ),
    q AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq
          FROM nv WHERE vec_id IN (0,1,2,3,4)),
    probes AS (
      SELECT q_id, cell_id FROM (
        SELECT q.q_id, c.cell_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='c.c_ivec', na='q.q_nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS prn
        FROM q, cents c) WHERE prn <= {S.N_PROBE}
    ),
    scored AS (
      SELECT p.q_id, a.vec_id,
             {_COS.format(a='q.q_ivec', b='a.ivec', na='q.q_nsq', nb='a.nsq')} AS cosine
      FROM probes p
      JOIN assigned a ON a.cell_id = p.cell_id
      JOIN q ON q.q_id = p.q_id
      WHERE a.vec_id != p.q_id
    )
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_ivf(spark, sf_dir):
    """IVF ANN (operators/similarity.py::topk_cosine_ivf): deterministic
    coarse quantizer + n_probe cell search — the scale path SURVEY.md
    §2.3 names next to the LSH variant."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_cosine_ivf(e, _QUERY_IDS, k=5)


@query(
    "llm_similarity_filtered",
    # Same coarse chain as llm_similarity_ivf, with the label riding in
    # the assignment relation and the metadata predicate (candidate
    # label = query label) applied inside the probed-cell scan.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    cents AS (SELECT vec_id AS cell_id, ivec AS c_ivec, nsq AS c_nsq
              FROM nv WHERE vec_id < {S.N_CELLS}),
    assigned AS (
      SELECT vec_id, label, ivec, nsq, cell_id FROM (
        SELECT n.vec_id, n.label, n.ivec, n.nsq, c.cell_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {_COS.format(a='n.ivec', b='c.c_ivec', na='n.nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS crn
        FROM nv n, cents c) WHERE crn = 1
    ),
    q AS (SELECT vec_id AS q_id, label AS q_label,
                 ivec AS q_ivec, nsq AS q_nsq
          FROM assigned WHERE vec_id IN (0,1,2,3,4)),
    probes AS (
      SELECT q_id, cell_id FROM (
        SELECT q.q_id, c.cell_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='c.c_ivec', na='q.q_nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS prn
        FROM q, cents c) WHERE prn <= {S.N_PROBE}
    ),
    scored AS (
      SELECT p.q_id, a.vec_id, a.label,
             {_COS.format(a='q.q_ivec', b='a.ivec', na='q.q_nsq', nb='a.nsq')} AS cosine
      FROM probes p
      JOIN assigned a ON a.cell_id = p.cell_id
      JOIN q ON q.q_id = p.q_id
      WHERE a.vec_id != p.q_id AND a.label = q.q_label
    )
    SELECT q_id, vec_id, label, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_filtered(spark, sf_dir):
    """HYBRID (metadata-filtered) ANN — "nearest neighbors in the
    query's own category", the predicate-plus-vector search every
    production store serves. The index stays filter-agnostic (same
    quantizer/cells as llm_similarity_ivf); the label column rides
    INSIDE the assignment relation (operators/similarity.py::
    _assign_to meta_cols) so the predicate evaluates during the
    probed-cell scan — no join back to the corpus, candidate cost =
    n_probe/n_cells × label selectivity. At 100 TB this is why vector
    stores keep filterable metadata columnar next to the codes."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_cosine_ivf_filtered(e, _QUERY_IDS, k=5)


_DELETE_MOD, _DELETE_RESIDUE = 10, 7


@query(
    "llm_similarity_ivf_delete",
    # The unfiltered IVF replay with tombstoned ids excluded from the
    # SCANNED side only — queries still resolve from the full index.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    cents AS (SELECT vec_id AS cell_id, ivec AS c_ivec, nsq AS c_nsq
              FROM nv WHERE vec_id < {S.N_CELLS}),
    assigned AS (
      SELECT vec_id, ivec, nsq, cell_id FROM (
        SELECT n.vec_id, n.ivec, n.nsq, c.cell_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {_COS.format(a='n.ivec', b='c.c_ivec', na='n.nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS crn
        FROM nv n, cents c) WHERE crn = 1
    ),
    q AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq
          FROM assigned WHERE vec_id IN (0,1,2,3,4)),
    probes AS (
      SELECT q_id, cell_id FROM (
        SELECT q.q_id, c.cell_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='c.c_ivec', na='q.q_nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS prn
        FROM q, cents c) WHERE prn <= {S.N_PROBE}
    ),
    scored AS (
      SELECT p.q_id, a.vec_id,
             {_COS.format(a='q.q_ivec', b='a.ivec', na='q.q_nsq', nb='a.nsq')} AS cosine
      FROM probes p
      JOIN assigned a ON a.cell_id = p.cell_id
      JOIN q ON q.q_id = p.q_id
      WHERE a.vec_id != p.q_id
        AND a.vec_id % {_DELETE_MOD} != {_DELETE_RESIDUE}
    )
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_ivf_delete(spark, sf_dir):
    """DELETE lifecycle for the vector index — the third side of the
    CRUD triangle (build = llm_similarity_ivf_index, ingest =
    llm_similarity_ivf_incremental): deletions are a TOMBSTONE
    relation, never an index rewrite. The quantizer and every
    surviving assignment are untouched; search excludes tombstoned
    ids with ONE broadcast anti-join on the probed-cell scan
    (operators/similarity.py::topk_cosine_ivf_deleted). At 100 TB a
    per-delete rewrite of the cell-partitioned codes relation would be
    write-amplification death — tombstone-at-read + threshold
    compaction is how production stores (and every LSM system) handle
    it. Tombstones here: vec_id ≡ {_DELETE_RESIDUE} (mod
    {_DELETE_MOD}) — ~10% of the corpus, disjoint from the query
    panel."""
    e = Tables(spark, sf_dir).embeddings
    tomb = e.filter(
        F.pmod(F.col("vec_id"), F.lit(_DELETE_MOD)) == _DELETE_RESIDUE
    ).select("vec_id")
    return S.topk_cosine_ivf_deleted(e, _QUERY_IDS, tomb, k=5)


_COMPACT_NUM, _COMPACT_DEN = 2, 25  # compact a cell at >= 8% tombstones


@query(
    "llm_similarity_ivf_compact",
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    cents AS (SELECT vec_id AS cell_id, ivec AS c_ivec, nsq AS c_nsq
              FROM nv WHERE vec_id < {S.N_CELLS}),
    assigned AS (
      SELECT vec_id, cell_id FROM (
        SELECT n.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {_COS.format(a='n.ivec', b='c.c_ivec', na='n.nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS crn
        FROM nv n, cents c) WHERE crn = 1
    ),
    stats AS (
      SELECT cell_id,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN vec_id % {_DELETE_MOD} = {_DELETE_RESIDUE}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_tomb
      FROM assigned GROUP BY cell_id)
    SELECT cell_id, n_total, n_tomb,
           CAST(n_tomb AS DOUBLE) / n_total AS tomb_frac,
           n_tomb * {_COMPACT_DEN} >= n_total * {_COMPACT_NUM} AS compacted,
           CASE WHEN n_tomb * {_COMPACT_DEN} >= n_total * {_COMPACT_NUM}
                THEN n_total - n_tomb ELSE n_total END AS n_stored_after
    FROM stats
    """,
)
def llm_similarity_ivf_compact(spark, sf_dir):
    """COMPACTION planning for the tombstoned index — the background
    half of llm_similarity_ivf_delete's read path: per cell,
    live/tombstone counts and whether the cell's tombstone fraction
    crossed the rewrite threshold ({_COMPACT_NUM}/{_COMPACT_DEN}),
    compared in EXACT integers so boundary cells agree cross-engine
    (operators/similarity.py::ivf_compaction_report). One
    map-combined aggregate over the assignment scan with the tombstone
    set broadcast; at 100 TB only flagged cells — hive partitions of
    the codes layout — get rewritten, everyone else keeps paying the
    read-side anti-join: LSM threshold economics for a vector index."""
    e = Tables(spark, sf_dir).embeddings
    tomb = e.filter(
        F.pmod(F.col("vec_id"), F.lit(_DELETE_MOD)) == _DELETE_RESIDUE
    ).select("vec_id")
    return S.ivf_compaction_report(
        e, tomb, threshold_num=_COMPACT_NUM, threshold_den=_COMPACT_DEN
    )


@query(
    "llm_similarity_ivf_index",
    # The index stores exactly the relations topk_cosine_ivf derives,
    # so the oracle is the same replay as llm_similarity_ivf's.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    cents AS (SELECT vec_id AS cell_id, ivec AS c_ivec, nsq AS c_nsq
              FROM nv WHERE vec_id < {S.N_CELLS}),
    assigned AS (
      SELECT vec_id, ivec, nsq, cell_id FROM (
        SELECT n.vec_id, n.ivec, n.nsq, c.cell_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {_COS.format(a='n.ivec', b='c.c_ivec', na='n.nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS crn
        FROM nv n, cents c) WHERE crn = 1
    ),
    q AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq
          FROM nv WHERE vec_id IN (0,1,2,3,4)),
    probes AS (
      SELECT q_id, cell_id FROM (
        SELECT q.q_id, c.cell_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='c.c_ivec', na='q.q_nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS prn
        FROM q, cents c) WHERE prn <= {S.N_PROBE}
    ),
    scored AS (
      SELECT p.q_id, a.vec_id,
             {_COS.format(a='q.q_ivec', b='a.ivec', na='q.q_nsq', nb='a.nsq')} AS cosine
      FROM probes p
      JOIN assigned a ON a.cell_id = p.cell_id
      JOIN q ON q.q_id = p.q_id
      WHERE a.vec_id != p.q_id
    )
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_ivf_index(spark, sf_dir):
    """IVF ANN against a PERSISTED index artifact: an index store of
    the quantizer's centroids + the corpus assignments (hive-partitioned
    by cell_id inside each segment, so probing n_probe cells
    partition-prunes the scan to those cells' files), then searched
    without touching the embeddings
    table at all — query vectors are index lookups too. Identical
    results to llm_similarity_ivf; the build-once/search-many split is
    what a 100 TB deployment actually operates
    (operators/similarity.py::build_ivf_index / topk_cosine_ivf_index).
    The index dir is a staging generation (:func:`staging.publish`):
    fingerprint hit → search only."""
    e = Tables(spark, sf_dir).embeddings
    gen = staging.generation(
        "ivf_index",
        sf_dir,
        ("embeddings",),
        f"{IS.LAYOUT}:ivf:{S.N_CELLS}:lowest_id:0",
    )
    index = staging.publish(gen, lambda p: S.build_ivf_index(e, str(p)))
    return S.topk_cosine_ivf_index(spark, str(index), _QUERY_IDS, k=5)

def _ivf_incr_index_dir(sf_dir: str) -> str:
    """Per-PROCESS dir for the incremental IVF index (r11 ADVICE): an
    index store has one writer, and two driver processes building and
    appending into one path would clear each other's segments (A
    appends, B's rebuild wipes it, B appends again) — the race class
    pid-keyed run dirs exist for. Build-once indexes
    (llm_similarity_ivf_index) are published whole and stay shared;
    this one is a :func:`staging.run_dir`."""
    return str(staging.run_dir("ivf_index_incr", staging.key(sf_dir)))


@query(
    "llm_similarity_ivf_incremental",
    # The incremental index assigns old + new batches to the SAME
    # learned centroids the full rebuild would use (seeds are all in
    # the existing side), so the oracle is llm_similarity_ivf's replay
    # plus the is_new ingest-batch flag on each hit.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    cents AS (SELECT vec_id AS cell_id, ivec AS c_ivec, nsq AS c_nsq
              FROM nv WHERE vec_id < {S.N_CELLS}),
    assigned AS (
      SELECT vec_id, ivec, nsq, cell_id FROM (
        SELECT n.vec_id, n.ivec, n.nsq, c.cell_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {_COS.format(a='n.ivec', b='c.c_ivec', na='n.nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS crn
        FROM nv n, cents c) WHERE crn = 1
    ),
    q AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq
          FROM nv WHERE vec_id IN (0,1,2,3,4)),
    probes AS (
      SELECT q_id, cell_id FROM (
        SELECT q.q_id, c.cell_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='c.c_ivec', na='q.q_nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS prn
        FROM q, cents c) WHERE prn <= {S.N_PROBE}
    ),
    scored AS (
      SELECT p.q_id, a.vec_id,
             {_COS.format(a='q.q_ivec', b='a.ivec', na='q.q_nsq', nb='a.nsq')} AS cosine
      FROM probes p
      JOIN assigned a ON a.cell_id = p.cell_id
      JOIN q ON q.q_id = p.q_id
      WHERE a.vec_id != p.q_id
    )
    SELECT q_id, vec_id, cosine, rn,
           (vec_id % {_IVF_NEW_MOD}) >= {_IVF_NEW_LO} AS is_new
    FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_ivf_incremental(spark, sf_dir):
    """IVF index LIFECYCLE — ingest a new vector batch WITHOUT
    rebuilding (VERDICT r9 item 4): build the index from the existing
    90% of the corpus (operators/similarity.py::build_ivf_index), then
    assign the new 10% batch to the EXISTING learned cells and commit it
    as segment 1 of the cell-partitioned assignments relation
    (::append_to_ivf_index — one broadcast-centroid scan of just the
    batch), then search the updated index. Because the quantizer is
    unchanged, search results are exactly what a full rebuild would
    return — the is_new column marks hits served from the freshly
    ingested batch, proving new vectors are searchable as soon as their
    segment commits.

    100 TB: this is the shape a production vector store runs daily —
    index build is amortized over many ingest batches; each batch
    costs one scan of the BATCH (not the corpus) against broadcast
    centroids plus a new segment in the partition layout the probed
    reads already prune on. Retraining the quantizer (which would
    invalidate every stored assignment) is a separate, rarer event."""
    e = Tables(spark, sf_dir).embeddings
    is_new = F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    index = _ivf_incr_index_dir(sf_dir)
    S.build_ivf_index(e.filter(~is_new), index)
    S.append_to_ivf_index(spark, e.filter(is_new), index, seg=1)
    res = S.topk_cosine_ivf_index(spark, index, _QUERY_IDS, k=5)
    return res.withColumn("is_new", is_new)


@query(
    "llm_similarity_recall",
    # Exact-oracle recall@5 AND cost of both ANN variants against the
    # exact brute-force top-k, over a 25-query panel (5 queries = 25
    # ground-truth pairs was too noisy to grade knobs by): the oracle
    # replays all three searches (same arithmetic as their individual
    # oracles), intersects, and counts each query's candidate set.
    # This is the metric that justifies N_PLANES / MULTIPROBE_H /
    # N_CELLS / N_PROBE — measured, not folklore (PLANS.md records the
    # numbers per sf and the isotropy analysis behind them).
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    {_LSH_BUCKET_CTES},
    nb AS (SELECT nv.vec_id, nv.ivec, nv.nsq, b.bucket
           FROM nv JOIN buckets b USING (vec_id)),
    qs AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq
           FROM nv WHERE vec_id IN ({_RECALL_IDS_SQL})),
    exact_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='c.ivec', na='q.q_nsq', nb='c.nsq')} DESC,
                 c.vec_id) AS rn
        FROM qs q, nv c WHERE c.vec_id != q.q_id) WHERE rn <= 5
    ),
    lsh_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='c.ivec', na='q.q_nsq', nb='c.nsq')} DESC,
                 c.vec_id) AS rn
        FROM (SELECT qs.q_id, qs.q_ivec, qs.q_nsq,
                     xor(b.bucket, m.mask) AS probe_bucket
              FROM qs
              JOIN buckets b ON b.vec_id = qs.q_id,
                   (SELECT unnest([{_PROBE_MASKS_SQL}]) AS mask) m) q
        JOIN nb c ON c.bucket = q.probe_bucket AND c.vec_id != q.q_id)
      WHERE rn <= 5
    ),
    cents AS (SELECT vec_id AS cell_id, ivec AS c_ivec, nsq AS c_nsq
              FROM nv WHERE vec_id < {S.N_CELLS}),
    assigned AS (
      SELECT vec_id, ivec, nsq, cell_id FROM (
        SELECT n.vec_id, n.ivec, n.nsq, c.cell_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {_COS.format(a='n.ivec', b='c.c_ivec', na='n.nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS crn
        FROM nv n, cents c) WHERE crn = 1
    ),
    probes AS (
      SELECT q_id, cell_id FROM (
        SELECT q.q_id, c.cell_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='c.c_ivec', na='q.q_nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS prn
        FROM qs q, cents c) WHERE prn <= {S.N_PROBE}
    ),
    ivf_top AS (
      SELECT q_id, vec_id FROM (
        SELECT p.q_id, a.vec_id,
               row_number() OVER (PARTITION BY p.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='a.ivec', na='q.q_nsq', nb='a.nsq')} DESC,
                 a.vec_id) AS rn
        FROM probes p
        JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id != p.q_id
        JOIN qs q ON q.q_id = p.q_id) WHERE rn <= 5
    ),
    lsh_cand AS (
      SELECT q.q_id, CAST(count(*) AS BIGINT) AS n_candidates
      FROM (SELECT qs.q_id, xor(b.bucket, m.mask) AS probe_bucket
            FROM qs
            JOIN buckets b ON b.vec_id = qs.q_id,
                 (SELECT unnest([{_PROBE_MASKS_SQL}]) AS mask) m) q
      JOIN nb c ON c.bucket = q.probe_bucket AND c.vec_id != q.q_id
      GROUP BY q.q_id
    ),
    ivf_cand AS (
      SELECT p.q_id, CAST(count(*) AS BIGINT) AS n_candidates
      FROM probes p
      JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id != p.q_id
      GROUP BY p.q_id
    )
    SELECT 'lsh' AS method, e.q_id,
           CAST(count(l.vec_id) AS BIGINT) AS hits,
           count(l.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates,
           FALSE AS recommended
    FROM exact_top e
    LEFT JOIN lsh_top l USING (q_id, vec_id)
    JOIN lsh_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    UNION ALL
    SELECT 'ivf' AS method, e.q_id,
           CAST(count(i.vec_id) AS BIGINT) AS hits,
           count(i.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates,
           TRUE AS recommended
    FROM exact_top e
    LEFT JOIN ivf_top i USING (q_id, vec_id)
    JOIN ivf_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    """,
)
def llm_similarity_recall(spark, sf_dir):
    """recall@5 AND measured cost of the two ANN paths vs the exact
    scan, per query over a 25-query panel: join each ANN top-k to the
    exact top-k on (q_id, vec_id), count survivors, and attach the
    size of each query's candidate set (`n_candidates` — what the
    probe radius actually paid). All searches are deterministic, so
    both recall and cost are oracle-exact — the ANN knobs (N_PLANES,
    MULTIPROBE_H, N_CELLS, N_PROBE) are graded by measurement.

    r9 headline (PLANS.md has the sweeps): **IVF is the recommended
    default** — published by the `recommended` column. After the r9
    retune (N_CELLS 32, N_PROBE 8; PLANS.md "r9 IVF retune") IVF
    measures recall@5 = 0.936 / 0.944 / 0.992 at sf0.001/0.01/0.1 for ~24.5%
    candidate fraction. The LSH alternative (5 planes, H=3) measures
    0.82-0.87 at ~71% — on THIS corpus (isotropic noise, no cluster
    structure) every data-blind family swept (multi-table LSH,
    JL-projection rerank) sits on recall ~= candidate fraction + 0.15,
    so LSH's cost is the data-blind floor, not a tuning artifact; only
    the data-DEPENDENT quantizer escapes the frontier. LSH remains the
    tunable-radius alternative for streaming/append-only corpora where
    maintaining centroids is inconvenient."""
    e = Tables(spark, sf_dir).embeddings
    k = 5
    exact = S.topk_cosine(e, _RECALL_QUERY_IDS, k=k).select("q_id", "vec_id")
    out = None
    # Each method's heavy candidate relation is evaluated ONCE:
    # topk_with_count rides the candidate count on the top-k window's
    # own partitioning, and the outer join below is this plan's only
    # other consumer (r8 review catch — the first cut evaluated the
    # LSH probe join and the IVF index build twice each).
    for method, ann in (
        ("lsh", S.topk_with_count(S.topk_cosine_ann(e, _RECALL_QUERY_IDS, None), k)),
        ("ivf", S.topk_with_count(S.topk_cosine_ivf(e, _RECALL_QUERY_IDS, None), k)),
    ):
        j = exact.withColumn("ex", F.lit(1)).join(
            ann.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "outer"
        )
        part = (
            j.groupBy("q_id")
            .agg(
                F.count(
                    F.when(F.col("ex").isNotNull() & F.col("hit").isNotNull(), 1)
                ).alias("n_hits"),
                F.max("n_candidates").alias("n_candidates"),
            )
            # a query with an empty candidate set has no ann rows and a
            # NULL count — dropped, matching the oracle's inner join on
            # the per-query candidate counts
            .filter(F.col("n_candidates").isNotNull())
            .select(
                F.lit(method).alias("method"),
                "q_id",
                F.col("n_hits").cast("long").alias("hits"),
                (F.col("n_hits") / F.lit(float(k))).alias("recall"),
                "n_candidates",
                F.lit(method == "ivf").alias("recommended"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


_KMEANS_CELLS = 8
_KMEANS_ITERS = 2


def _kmeans_cents_ctes() -> tuple[list[str], int]:
    """The shared Lloyd-loop CTE chain (seeds → per-iteration argmax
    assignment → exact-integer mean → empty-cell carry), ending at
    ``assigned{last}``/``cents{last}`` — the learned clustering both
    llm_kmeans_embeddings and llm_hard_negatives replay."""
    ctes = [
        f"""cents0 AS (
      SELECT vec_id AS cell_id, ivec AS c_ivec, CAST(nsq AS BIGINT) AS c_nsq
      FROM nv WHERE vec_id < {_KMEANS_CELLS})"""
    ]
    n_assign = _KMEANS_ITERS + 1  # one per Lloyd step + the final pass
    for i in range(n_assign):
        cos = _COS.format(a="n.ivec", b="c.c_ivec", na="n.nsq", nb="c.c_nsq")
        ctes.append(
            f"""assigned{i} AS (
      SELECT vec_id, ivec, nsq, cell_id FROM (
        SELECT n.vec_id, n.ivec, n.nsq, c.cell_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {cos} DESC, c.cell_id) AS crn
        FROM nv n, cents{i} c) WHERE crn = 1)"""
        )
        if i == _KMEANS_ITERS:
            break
        ctes.append(
            f"""agg{i} AS (
      SELECT cell_id, d, sum(x) AS sx, count(*) AS c
      FROM (SELECT cell_id, unnest(ivec) AS x,
                   unnest(range(len(ivec))) AS d
            FROM assigned{i})
      GROUP BY cell_id, d)"""
        )
        ctes.append(
            f"""means{i} AS (
      SELECT cell_id,
             list(CAST(CASE WHEN sx >= 0 THEN (2*sx + c) // (2*c)
                            ELSE -((2*(-sx) + c) // (2*c)) END AS BIGINT)
                  ORDER BY d) AS c_ivec
      FROM agg{i} GROUP BY cell_id)"""
        )
        ctes.append(
            f"""cents{i + 1} AS (
      SELECT cell_id, c_ivec,
             CAST(list_dot_product(c_ivec, c_ivec) AS BIGINT) AS c_nsq
      FROM means{i}
      UNION ALL
      SELECT p.cell_id, p.c_ivec, p.c_nsq FROM cents{i} p
      WHERE p.cell_id NOT IN (SELECT cell_id FROM means{i}))"""
        )
    return ctes, _KMEANS_ITERS


def _kmeans_oracle() -> str:
    """DuckDB replay of the Lloyd k-means loop — the same
    data-dependent-oracle discipline as llm_bpe_train: the oracle
    re-learns the centroids from the data with the identical exact
    integer arithmetic (seeds = lowest vec_ids; per-iteration argmax
    assignment with the cosine tie-break; element-wise mean rounded
    half-away-from-zero via (2*|sx| + c) // (2*c); empty cells carry
    their previous centroid), so the learned clustering is exact-
    checked without hardcoding what it learns."""
    ctes, last = _kmeans_cents_ctes()
    ctes.append(
        f"""member AS (
      SELECT a.cell_id, CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(CAST(list_dot_product(a.ivec, c.c_ivec) AS BIGINT))
                  AS BIGINT) AS sum_member_dot
      FROM assigned{last} a JOIN cents{last} c USING (cell_id)
      GROUP BY a.cell_id)"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {_IVEC_CTE},
    {joined}
    SELECT c.cell_id,
           COALESCE(m.n_members, 0) AS n_members,
           COALESCE(m.sum_member_dot, 0) AS sum_member_dot,
           CAST(list_aggregate(list_transform(c.c_ivec, x -> abs(x)), 'sum')
                AS BIGINT) AS c_l1,
           c.c_nsq
    FROM cents{last} c LEFT JOIN member m USING (cell_id)
    """


def _hard_negatives_oracle() -> str:
    """Replays the SAME learned clustering (shared CTE chain), then
    scores each panel query against every vector OUTSIDE its own cell
    and keeps the top-k — brute-force truth for the mining query."""
    ctes, last = _kmeans_cents_ctes()
    cos = _COS.format(a="q.q_ivec", b="a.ivec", na="q.q_nsq", nb="a.nsq")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {_IVEC_CTE},
    {joined},
    q AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq,
                 cell_id AS q_cell
          FROM assigned{last} WHERE vec_id IN (0,1,2,3,4)),
    scored AS (
      SELECT q.q_id, a.vec_id, {cos} AS cosine
      FROM assigned{last} a, q WHERE a.cell_id != q.q_cell
    )
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """


@query("llm_hard_negatives", oracle=_hard_negatives_oracle)
def llm_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive/embedding training
    (operators/similarity.py::hard_negatives): for each panel query,
    the top-k most-similar corpus vectors OUTSIDE the query's own
    Lloyd-refined k-means cell — near the decision boundary but from a
    different semantic cluster, exactly the negatives a contrastive
    loss wants. Composes the oracle-verified k-means clustering with
    the broadcast-query similarity scan; the corpus never shuffles
    beyond the per-query top-k window."""
    e = Tables(spark, sf_dir).embeddings
    return S.hard_negatives(
        e, _QUERY_IDS, k=5, n_cells=_KMEANS_CELLS, lloyd_iters=_KMEANS_ITERS
    )


@query("llm_kmeans_embeddings", oracle=_kmeans_oracle)
def llm_kmeans_embeddings(spark, sf_dir):
    """Lloyd-refined k-means over the embedding corpus
    (operators/similarity.py::kmeans_cell_stats): seeds = lowest
    vec_ids, _KMEANS_ITERS refinement iterations, per-cell audit
    columns all exact integers. This is the iterative-algorithm pattern
    (pagerank, BPE train) applied to the clustering step a curation
    pipeline runs before semantic dedup / cluster-aware splits — and
    the query that makes ivf_centroids' Lloyd path oracle-verified
    instead of merely deterministic. The refinement means use exact
    integer round-half-away arithmetic (sum/count, never a float avg),
    so the DuckDB oracle replays the entire data-dependent training
    loop."""
    e = Tables(spark, sf_dir).embeddings
    return S.kmeans_cell_stats(e, _KMEANS_CELLS, _KMEANS_ITERS)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


