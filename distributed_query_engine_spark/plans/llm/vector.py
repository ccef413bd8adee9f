"""Vector compression + graph rungs of the ANN ladder: PQ / IVF-PQ
(+ residual, rerank, index, incremental), SQ8 (+ incremental, recall),
int8 quantize, random projection, outliers, matryoshka, kNN-graph
refinement (+ index, incremental, compact). Split from plans/llm.py
(r14)."""

from __future__ import annotations

from pyspark.sql import functions as F

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

from distributed_query_engine_spark.plans.llm.similarity import (  # noqa: F401
    _content_addressed_index,
)


# PQ/ADC oracle helpers: exact-integer squared L2 between fixed-point
# subvectors (every term a long below 2^53, so DuckDB's double-internal
# list_dot_product is exact — the established nsq practice).
_PQD = (
    "CAST(list_dot_product({a}, {a}) - 2*list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}) AS BIGINT)"
)


def _pq_ctes(ids_sql: str = "0,1,2,3,4") -> list[str]:
    """The shared PQ CTE chain — subvectors, codebook seeds, one
    exact-integer Lloyd step (with empty-code carry), corpus encoding,
    and the query panel's distance tables — ending at ``codes`` and
    ``dt``. Shared by the plain-PQ, IVF-PQ, and PQ-recall oracles
    exactly as _kmeans_cents_ctes is shared by its consumers;
    ``ids_sql`` is the query panel (the recall oracle widens it to the
    25-query panel)."""
    m, k = S.PQ_M_SUB, S.PQ_K_CODES
    d_cb = _PQD.format(a="s.sv", b="c.c_sv")
    d_dt = _PQD.format(a="q.q_sv", b="c.c_sv")
    return [
        f"""sv AS (
      SELECT vec_id, g.m AS m,
             ivec[(g.m*(len(ivec)//{m})+1):((g.m+1)*(len(ivec)//{m}))] AS sv
      FROM nv, generate_series(0, {m - 1}) g(m)
      WHERE len(ivec) > 0)""",
        f"""cb0 AS (SELECT m, vec_id AS code_id, sv AS c_sv
            FROM sv WHERE vec_id < {k})""",
        f"""a0 AS (
      SELECT vec_id, m, sv, code_id FROM (
        SELECT s.vec_id, s.m, s.sv, c.code_id,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 {d_cb} ASC, c.code_id) AS rn
        FROM sv s JOIN cb0 c ON c.m = s.m) WHERE rn = 1)""",
        """agg0 AS (
      SELECT m, code_id, d, sum(x) AS sx, count(*) AS c
      FROM (SELECT m, code_id, unnest(sv) AS x,
                   unnest(range(len(sv))) AS d
            FROM a0)
      GROUP BY m, code_id, d)""",
        """means0 AS (
      SELECT m, code_id,
             list(CAST(CASE WHEN sx >= 0 THEN (2*sx + c) // (2*c)
                            ELSE -((2*(-sx) + c) // (2*c)) END AS BIGINT)
                  ORDER BY d) AS c_sv
      FROM agg0 GROUP BY m, code_id)""",
        """cb1 AS (
      SELECT * FROM means0
      UNION ALL
      SELECT p.m, p.code_id, p.c_sv FROM cb0 p
      WHERE NOT EXISTS (SELECT 1 FROM means0 x
                        WHERE x.m = p.m AND x.code_id = p.code_id))""",
        f"""codes AS (
      SELECT vec_id, m, code_id FROM (
        SELECT s.vec_id, s.m, c.code_id,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 {d_cb} ASC, c.code_id) AS rn
        FROM sv s JOIN cb1 c ON c.m = s.m) WHERE rn = 1)""",
        f"""qsv AS (SELECT vec_id AS q_id, m, sv AS q_sv
            FROM sv WHERE vec_id IN ({ids_sql}))""",
        f"""dt AS (
      SELECT q.q_id, c.m, c.code_id, {d_dt} AS dist
      FROM qsv q JOIN cb1 c ON c.m = q.m)""",
    ]


def _pq_oracle() -> str:
    """DuckDB replay of the full PQ pipeline — codebook training
    (lowest-id seeds + one exact-integer Lloyd step per subspace),
    corpus encoding, per-query distance tables, and the ADC sum — the
    llm_kmeans data-dependent-oracle discipline extended with the
    subspace as a grouping column."""
    joined = ",\n    ".join(_pq_ctes())
    return f"""
    WITH {_IVEC_CTE},
    {joined},
    scored AS (
      SELECT d.q_id, kk.vec_id, CAST(sum(d.dist) AS BIGINT) AS adc_dist
      FROM codes kk JOIN dt d ON d.m = kk.m AND d.code_id = kk.code_id
      WHERE kk.vec_id != d.q_id
      GROUP BY d.q_id, kk.vec_id
    )
    SELECT q_id, vec_id, adc_dist, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY adc_dist, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """


def _ivfpq_ctes(ids_sql: str = "0,1,2,3,4") -> list[str]:
    """Coarse-quantizer CTE chain for the IVF-PQ family (composes with
    :func:`_pq_ctes`' relations): pv, integer-L2 lowest-id cells,
    argmin assignment, the query panel, per-query n_probe probe sets,
    and the probed-cells ADC sum ``ivfpq_scored``. Shared by the
    IVF-PQ search, re-rank, and recall oracles."""
    d_asg = _PQD.format(a="n.ivec", b="c.c_ivec")
    d_prb = _PQD.format(a="q.q_ivec", b="c.c_ivec")
    return [
        "pv AS (SELECT vec_id, ivec FROM nv WHERE len(ivec) > 0)",
        f"""cents AS (SELECT vec_id AS cell_id, ivec AS c_ivec
              FROM pv WHERE vec_id < {S.N_CELLS})""",
        f"""assigned AS (
      SELECT vec_id, cell_id FROM (
        SELECT n.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {d_asg} ASC, c.cell_id) AS rn
        FROM pv n, cents c) WHERE rn = 1)""",
        f"""qv AS (SELECT vec_id AS q_id, ivec AS q_ivec
           FROM pv WHERE vec_id IN ({ids_sql}))""",
        f"""probes AS (
      SELECT q_id, cell_id FROM (
        SELECT q.q_id, c.cell_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {d_prb} ASC, c.cell_id) AS prn
        FROM qv q, cents c) WHERE prn <= {S.N_PROBE})""",
        """ivfpq_scored AS (
      SELECT d.q_id, kk.vec_id, CAST(sum(d.dist) AS BIGINT) AS adc_dist
      FROM codes kk
      JOIN assigned a ON a.vec_id = kk.vec_id
      JOIN probes p ON p.cell_id = a.cell_id
      JOIN dt d ON d.q_id = p.q_id AND d.m = kk.m AND d.code_id = kk.code_id
      WHERE kk.vec_id != p.q_id
      GROUP BY d.q_id, kk.vec_id)""",
    ]


def _ivfpq_oracle() -> str:
    """IVF-PQ replay: the shared PQ CTE chain plus the integer-L2
    coarse quantizer (lowest-id cells, argmin assignment, per-query
    n_probe probe set) — the ADC scan is then confined to probed
    cells' codes."""
    joined = ",\n    ".join(_pq_ctes() + _ivfpq_ctes())
    return f"""
    WITH {_IVEC_CTE},
    {joined}
    SELECT q_id, vec_id, adc_dist, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY adc_dist, vec_id) AS BIGINT) AS rn
      FROM ivfpq_scored) WHERE rn <= 5
    """


def _ivfpq_residual_ctes(
    ids_sql: str = "0,1,2,3,4",
    train_where: str = "",
    m: "int | None" = None,
    k: "int | None" = None,
) -> list[str]:
    """RESIDUAL-encoding IVF-PQ chain (FAISS IndexIVFPQ semantics):
    reuses the coarse-quantizer CTEs (pv/cents/assigned/qv/probes) and
    re-runs the PQ train/encode on x − c(x). Seeds skip the n_cells
    lowest ids (their residuals are all-zero — each IS its own coarse
    centroid). The distance table is per-(query, probed cell): the
    query is re-expressed in each cell's frame. All arithmetic stays
    within double-exact int range (components ≤ ~1.1e7, 16-dim subvec
    sums ≤ ~2e15 < 2^53), so list_dot_product replays exactly.
    ``train_where`` (an `AND ...` fragment) restricts the Lloyd
    TRAINING population only — the incremental-ingest oracle trains on
    the existing corpus while encoding everything. ``m``/``k`` override
    the registered (PQ_M_SUB, PQ_K_CODES) code budget — the
    production-width rung (llm_similarity_ivfpq_prod) replays the same
    chain at (16, 256)."""
    m = m or S.PQ_M_SUB
    k = k or S.PQ_K_CODES
    lo = S.N_CELLS
    d_cb = _PQD.format(a="s.sv", b="c.c_sv")
    d_dt = _PQD.format(a="q.q_sv", b="c.c_sv")
    return _ivfpq_ctes(ids_sql)[:5] + [
        """rv AS (
      SELECT n.vec_id,
             list_transform(range(1, len(n.ivec) + 1),
                 i -> n.ivec[i] - c.c_ivec[i]) AS ivec
      FROM pv n
      JOIN assigned a ON a.vec_id = n.vec_id
      JOIN cents c ON c.cell_id = a.cell_id)""",
        f"""rsv AS (
      SELECT vec_id, g.m AS m,
             ivec[(g.m*(len(ivec)//{m})+1):((g.m+1)*(len(ivec)//{m}))] AS sv
      FROM rv, generate_series(0, {m - 1}) g(m)
      WHERE len(ivec) > 0)""",
        f"""rcb0 AS (SELECT m, vec_id - {lo} AS code_id, sv AS c_sv
            FROM rsv WHERE vec_id >= {lo} AND vec_id < {lo + k})""",
        f"""ra0 AS (
      SELECT vec_id, m, sv, code_id FROM (
        SELECT s.vec_id, s.m, s.sv, c.code_id,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 {d_cb} ASC, c.code_id) AS rn
        FROM rsv s JOIN rcb0 c ON c.m = s.m
        WHERE 1=1 {train_where}) WHERE rn = 1)""",
        """ragg0 AS (
      SELECT m, code_id, d, sum(x) AS sx, count(*) AS c
      FROM (SELECT m, code_id, unnest(sv) AS x,
                   unnest(range(len(sv))) AS d
            FROM ra0)
      GROUP BY m, code_id, d)""",
        """rmeans0 AS (
      SELECT m, code_id,
             list(CAST(CASE WHEN sx >= 0 THEN (2*sx + c) // (2*c)
                            ELSE -((2*(-sx) + c) // (2*c)) END AS BIGINT)
                  ORDER BY d) AS c_sv
      FROM ragg0 GROUP BY m, code_id)""",
        """rcb1 AS (
      SELECT * FROM rmeans0
      UNION ALL
      SELECT p.m, p.code_id, p.c_sv FROM rcb0 p
      WHERE NOT EXISTS (SELECT 1 FROM rmeans0 x
                        WHERE x.m = p.m AND x.code_id = p.code_id))""",
        f"""rcodes AS (
      SELECT vec_id, m, code_id FROM (
        SELECT s.vec_id, s.m, c.code_id,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 {d_cb} ASC, c.code_id) AS rn
        FROM rsv s JOIN rcb1 c ON c.m = s.m) WHERE rn = 1)""",
        """qres AS (
      SELECT p.q_id, p.cell_id,
             list_transform(range(1, len(q.q_ivec) + 1),
                 i -> q.q_ivec[i] - c.c_ivec[i]) AS ivec
      FROM probes p
      JOIN qv q ON q.q_id = p.q_id
      JOIN cents c ON c.cell_id = p.cell_id)""",
        f"""qrsv AS (
      SELECT q_id, cell_id, g.m AS m,
             ivec[(g.m*(len(ivec)//{m})+1):((g.m+1)*(len(ivec)//{m}))] AS q_sv
      FROM qres, generate_series(0, {m - 1}) g(m))""",
        f"""rdt AS (
      SELECT q.q_id, q.cell_id, c.m, c.code_id, {d_dt} AS dist
      FROM qrsv q JOIN rcb1 c ON c.m = q.m)""",
        """ivfpqr_scored AS (
      SELECT d.q_id, kk.vec_id, CAST(sum(d.dist) AS BIGINT) AS adc_dist
      FROM rcodes kk
      JOIN assigned a ON a.vec_id = kk.vec_id
      JOIN probes p ON p.cell_id = a.cell_id
      JOIN rdt d ON d.q_id = p.q_id AND d.cell_id = p.cell_id
                AND d.m = kk.m AND d.code_id = kk.code_id
      WHERE kk.vec_id != p.q_id
      GROUP BY d.q_id, kk.vec_id)""",
    ]


def _ivfpq_residual_oracle() -> str:
    """Residual IVF-PQ replay: coarse quantizer + residual codebook
    train/encode + per-(query, cell) distance tables, top-5 by ADC."""
    joined = ",\n    ".join(_ivfpq_residual_ctes())
    return f"""
    WITH {_IVEC_CTE},
    {joined}
    SELECT q_id, vec_id, adc_dist, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY adc_dist, vec_id) AS BIGINT) AS rn
      FROM ivfpqr_scored) WHERE rn <= 5
    """


def _ivfpq_rerank_oracle() -> str:
    """IVF-PQ + exact re-rank replay: the ADC shortlist (top-C per
    query over probed cells) joined back to RAW vectors and exactly
    re-scored by squared L2 for the final top-k."""
    joined = ",\n    ".join(_pq_ctes() + _ivfpq_ctes())
    d_tru = _PQD.format(a="q.q_ivec", b="n.ivec")
    return f"""
    WITH {_IVEC_CTE},
    {joined},
    shortlist AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_dist, vec_id) AS crn
        FROM ivfpq_scored) WHERE crn <= {S.PQ_RERANK_C}
    ),
    rr AS (
      SELECT s.q_id, s.vec_id, {d_tru} AS l2_dist
      FROM shortlist s
      JOIN pv n ON n.vec_id = s.vec_id
      JOIN qv q ON q.q_id = s.q_id
    )
    SELECT q_id, vec_id, l2_dist, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY l2_dist, vec_id) AS BIGINT) AS rn
      FROM rr) WHERE rn <= 5
    """


def _ivfpq_residual_rerank_oracle(
    m: "int | None" = None, k: "int | None" = None
) -> str:
    """Residual IVF-PQ + exact re-rank replay — the complete FAISS
    IndexIVFPQ default: residual-ADC shortlist (top-C per query over
    probed cells) joined back to RAW vectors, exactly re-scored.
    ``m``/``k`` override the code budget (production-width rung)."""
    joined = ",\n    ".join(_ivfpq_residual_ctes(m=m, k=k))
    d_tru = _PQD.format(a="q.q_ivec", b="n.ivec")
    return f"""
    WITH {_IVEC_CTE},
    {joined},
    rshort AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_dist, vec_id) AS crn
        FROM ivfpqr_scored) WHERE crn <= {S.PQ_RERANK_C}
    ),
    rr AS (
      SELECT s.q_id, s.vec_id, {d_tru} AS l2_dist
      FROM rshort s
      JOIN pv n ON n.vec_id = s.vec_id
      JOIN qv q ON q.q_id = s.q_id
    )
    SELECT q_id, vec_id, l2_dist, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY l2_dist, vec_id) AS BIGINT) AS rn
      FROM rr) WHERE rn <= 5
    """


@query(
    "llm_similarity_ivfpq_residual_rerank",
    oracle=_ivfpq_residual_rerank_oracle,
)
def llm_similarity_ivfpq_residual_rerank(spark, sf_dir):
    """Residual IVF-PQ + EXACT RE-RANK — the assembled FAISS
    IndexIVFPQ default, end to end: data-adaptive coarse cells bound
    WHICH vectors are scanned, residual codes bound the BYTES per
    scanned vector AND survive clustered data (see
    llm_similarity_ivfpq_residual), and the exact re-rank recovers
    true-metric ordering from a C=50 shortlist whose raw vectors are
    the only per-query full-width reads. This is the rung combination
    PLANS.md r11 concludes is the only one that holds recall on BOTH
    corpus shapes — registered so the complete path, not just its
    stages, is oracle-checked."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_l2_ivfpq_rerank(e, _QUERY_IDS, k=5, residual=True)


# Production code width (VERDICT r11 item 5): FAISS's default stores
# 8-BIT codes (k_codes=256); the r11 ladder stopped at (8, 32). The r12
# sweep (scripts/pq_sweep.py, sf0.1, recall@5 adc / +re-rank):
#   (8, 128) = 7 B/vec: raw 0.18/0.91, clustered 0.39/0.98
#   (8, 256) = 8 B/vec: raw 0.20/0.94, clustered 0.42/1.00
#   (16,256) = 16 B/vec: raw 0.41/0.96, clustered 0.59/1.00
# (16, 256) — 4-dim subvectors at 8-bit codes, 16 B/vec = 16x smaller
# than the raw float vector — is the first point meeting recall >= 0.95
# on BOTH corpus shapes, so it is the registered production rung. The
# (8, 32) default ladder stays: it prices the aggressive-compression
# end (5 B/vec) the sweep showed is the knee of the curve.
_PQ_PROD_M, _PQ_PROD_K = 16, 256


@query(
    "llm_similarity_ivfpq_prod",
    oracle=lambda: _ivfpq_residual_rerank_oracle(m=_PQ_PROD_M, k=_PQ_PROD_K),
)
def llm_similarity_ivfpq_prod(spark, sf_dir):
    """Residual IVF-PQ + exact re-rank at PRODUCTION code width
    (m_sub=16, k_codes=256 — FAISS IndexIVFPQ's 8-bit default): same
    assembled ladder as llm_similarity_ivfpq_residual_rerank, bigger
    code budget. Measured recall@5 at sf0.1: 0.96 raw / 1.00 clustered
    (scripts/pq_sweep.py r12 rows) — the >= 0.95-on-both-shapes rung.
    The codebook relation grows to 16x256 rows — still broadcast-sized
    (the ONLY broadcast relations are centroids + codebooks); the
    codes relation stays a per-vector handful of small ints, so every
    100 TB property of the (8, 32) rung carries over unchanged."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_l2_ivfpq_rerank(
        e, _QUERY_IDS, k=5, m_sub=_PQ_PROD_M, k_codes=_PQ_PROD_K,
        residual=True,
    )


@query("llm_similarity_ivfpq_rerank", oracle=_ivfpq_rerank_oracle)
def llm_similarity_ivfpq_rerank(spark, sf_dir):
    """IVF-PQ with EXACT RE-RANK (operators/similarity.py::
    topk_l2_ivfpq_rerank) — the complete production ANN ladder: the
    compressed codes-only ADC scan shortlists PQ_RERANK_C candidates
    per query from the probed cells, and only those candidates' raw
    vectors are re-read and exactly re-scored by squared L2. The
    corpus-sized work never touches raw embeddings; the exact-metric
    stage is bounded at |queries| × C rows at any corpus size — how a
    100 TB deployment recovers exact-metric quality from a compressed
    index (the measured recall ladder lives in
    llm_similarity_pq_recall's rerank rows)."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_l2_ivfpq_rerank(e, _QUERY_IDS, k=5)


# Clustered-corpus slice for the recall ladder (VERDICT r10 item 2):
# the sf embeddings are near-isotropic noise, which UNDERSELLS PQ/IVF —
# quantizers exist to exploit structure. The clustered corpus is a
# deterministic, oracle-replayable transform of the SAME table: member
# vector v becomes W·center + v in exact fixed-point integers, where
# center = the embedding of vec_id % N (the N lowest ids double as the
# IVF seed rows, so the coarse quantizer can discover the planted
# clusters). W=8 separates clusters by ~8x the vector norm while
# keeping every squared-L2/dot sum far inside int64. The float
# embedding column is (W·c + x) / 2^20 — division by a power of two is
# exact in binary floating point, so int_vec round-trips to exactly
# W·c_ivec + ivec and the DuckDB oracle can build the integers
# directly.
_CLUST_N = S.N_CELLS
_CLUST_W = 8

_IVEC_CLUSTERED_CTE = f"""
iv0 AS (
  SELECT vec_id, label,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)) AS ivec
  FROM embeddings
),
-- len(ivec) > 0 mirrors the engine's size(ivec) > 0 pre-filter: a
-- hypothetical empty-embedding row at vec_id < _CLUST_N must drop that
-- cluster's members on BOTH sides (inner join on a missing centroid),
-- not keep them with NULL components on one (r12 ADVICE).
clcent AS (SELECT vec_id AS c_id, ivec AS c_ivec FROM iv0
           WHERE vec_id < {_CLUST_N} AND len(ivec) > 0),
iv AS (
  SELECT b.vec_id, b.label,
         list_transform(range(1, len(b.ivec) + 1),
             i -> {_CLUST_W} * c.c_ivec[i] + b.ivec[i]) AS ivec
  FROM iv0 b JOIN clcent c ON c.c_id = b.vec_id % {_CLUST_N}
  WHERE len(b.ivec) > 0
),
nv AS (
  SELECT vec_id, label, ivec,
         list_dot_product(ivec, ivec) AS nsq
  FROM iv
)
"""


def _clustered_embeddings(spark, sf_dir):
    """The embeddings table re-shaped into _CLUST_N planted clusters
    (see _IVEC_CLUSTERED_CTE): same schema (vec_id, embedding, label),
    so every similarity operator consumes it unchanged."""
    e = Tables(spark, sf_dir).embeddings
    iv = (
        S.with_int_vec(e)
        .filter(F.size("ivec") > 0)
        .select("vec_id", "ivec", "label")
    )
    cent = iv.filter(F.col("vec_id") < _CLUST_N).select(
        F.col("vec_id").alias("c_id"), F.col("ivec").alias("c_ivec")
    )
    return (
        iv.withColumn("c_id", F.pmod(F.col("vec_id"), F.lit(_CLUST_N)))
        .join(F.broadcast(cent), "c_id")
        .select(
            "vec_id",
            F.zip_with(
                "c_ivec",
                "ivec",
                lambda c, x: (F.lit(_CLUST_W) * c + x).cast("double")
                / F.lit(float(SCALE)),
            ).alias("embedding"),
            "label",
        )
    )


def _pq_recall_sql(base_cte: str) -> str:
    """Recall@5 and candidate cost of PQ, IVF-PQ, and IVF-PQ+re-rank
    against the exact squared-L2 scan, over the 25-query panel — the
    same measured-frontier discipline as llm_similarity_recall,
    replayed end to end (codebooks, codes, coarse cells, probes, ADC
    sums, the re-rank, truth, and the intersections are all
    exact-integer SQL). ``base_cte`` supplies the corpus (raw
    _IVEC_CTE, or the clustered slice) — every downstream CTE roots at
    its ``nv``."""
    joined = ",\n    ".join(
        _pq_ctes(_RECALL_IDS_SQL)
        + _ivfpq_ctes(_RECALL_IDS_SQL)
        # [5:] — the residual chain shares pv/cents/assigned/qv/probes
        # with _ivfpq_ctes; only its residual-specific CTEs are added
        + _ivfpq_residual_ctes(_RECALL_IDS_SQL)[5:]
    )
    d_tru = _PQD.format(a="q.q_ivec", b="n.ivec")
    return f"""
    WITH {base_cte},
    {joined},
    exact_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, n.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {d_tru} ASC, n.vec_id) AS rn
        FROM qv q, pv n WHERE n.vec_id != q.q_id) WHERE rn <= 5
    ),
    pq_scored AS (
      SELECT d.q_id, kk.vec_id, CAST(sum(d.dist) AS BIGINT) AS adc_dist
      FROM codes kk JOIN dt d ON d.m = kk.m AND d.code_id = kk.code_id
      WHERE kk.vec_id != d.q_id GROUP BY d.q_id, kk.vec_id
    ),
    pq_top AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
        FROM pq_scored) WHERE rn <= 5
    ),
    pq_cand AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
                FROM pq_scored GROUP BY q_id),
    ivfpq_top AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
        FROM ivfpq_scored) WHERE rn <= 5
    ),
    ivfpq_cand AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
                   FROM ivfpq_scored GROUP BY q_id),
    ivfpqr_top AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
        FROM ivfpqr_scored) WHERE rn <= 5
    ),
    ivfpqr_cand AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
                    FROM ivfpqr_scored GROUP BY q_id),
    shortlist AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_dist, vec_id) AS crn
        FROM ivfpq_scored) WHERE crn <= {S.PQ_RERANK_C}
    ),
    rerank_top AS (
      SELECT q_id, vec_id FROM (
        SELECT s.q_id, s.vec_id,
               row_number() OVER (PARTITION BY s.q_id ORDER BY
                 {d_tru} ASC, s.vec_id) AS rn
        FROM shortlist s
        JOIN pv n ON n.vec_id = s.vec_id
        JOIN qv q ON q.q_id = s.q_id) WHERE rn <= 5
    ),
    rshort AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_dist, vec_id) AS crn
        FROM ivfpqr_scored) WHERE crn <= {S.PQ_RERANK_C}
    ),
    rrerank_top AS (
      SELECT q_id, vec_id FROM (
        SELECT s.q_id, s.vec_id,
               row_number() OVER (PARTITION BY s.q_id ORDER BY
                 {d_tru} ASC, s.vec_id) AS rn
        FROM rshort s
        JOIN pv n ON n.vec_id = s.vec_id
        JOIN qv q ON q.q_id = s.q_id) WHERE rn <= 5
    )
    SELECT 'pq' AS method, e.q_id,
           CAST(count(l.vec_id) AS BIGINT) AS hits,
           count(l.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates
    FROM exact_top e
    LEFT JOIN pq_top l USING (q_id, vec_id)
    JOIN pq_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    UNION ALL
    SELECT 'ivfpq' AS method, e.q_id,
           CAST(count(l.vec_id) AS BIGINT) AS hits,
           count(l.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates
    FROM exact_top e
    LEFT JOIN ivfpq_top l USING (q_id, vec_id)
    JOIN ivfpq_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    UNION ALL
    SELECT 'ivfpq_residual' AS method, e.q_id,
           CAST(count(l.vec_id) AS BIGINT) AS hits,
           count(l.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates
    FROM exact_top e
    LEFT JOIN ivfpqr_top l USING (q_id, vec_id)
    JOIN ivfpqr_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    UNION ALL
    SELECT 'ivfpq_rerank' AS method, e.q_id,
           CAST(count(l.vec_id) AS BIGINT) AS hits,
           count(l.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates
    FROM exact_top e
    LEFT JOIN rerank_top l USING (q_id, vec_id)
    JOIN ivfpq_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    UNION ALL
    SELECT 'ivfpq_residual_rerank' AS method, e.q_id,
           CAST(count(l.vec_id) AS BIGINT) AS hits,
           count(l.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates
    FROM exact_top e
    LEFT JOIN rrerank_top l USING (q_id, vec_id)
    JOIN ivfpqr_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    """


def _pq_recall_oracle() -> str:
    return _pq_recall_sql(_IVEC_CTE)


def _pq_recall_clustered_oracle() -> str:
    return _pq_recall_sql(_IVEC_CLUSTERED_CTE)


@query("llm_similarity_pq_recall", oracle=_pq_recall_oracle)
def llm_similarity_pq_recall(spark, sf_dir):
    """Recall@5 and measured candidate cost of the PQ and IVF-PQ paths
    vs the exact squared-L2 scan, per query over the 25-query panel —
    the honest-frontier discipline of llm_similarity_recall extended
    to the quantized searches: PQ scans everything (n_candidates =
    corpus − 1; its recall loss is pure quantization error), IVF-PQ
    scans only probed cells (its loss adds cell misses). Both searches
    and the truth are deterministic exact integers, so the measured
    numbers themselves are oracle-exact — the M_SUB/K_CODES/N_PROBE
    knobs are graded by measurement, not folklore.

    Measured ladder (sf0.01, retuned (8, 32) knobs): PQ 0.26 mean
    recall at 100% scanned, IVF-PQ 0.34 at ~24%, **IVF-PQ + exact
    re-rank 0.92** at ~24% plus C=50 raw reads per query — consistent with the r8 isotropy
    analysis (this corpus is mean-zero NOISE, so 4×16 codebooks mostly
    encode quantization error; the r11 clustered-corpus measurement —
    llm_similarity_pq_recall_clustered — shows what structure actually
    does: it helps SMALL corpora and *collapses* raw-vector codes at
    sf0.1, which is the measured case for residual encoding, see
    PLANS.md r11). IVF-PQ beating plain PQ despite scanning 4× less is
    real, not noise: the data-dependent coarse quantizer filters out
    the spurious global ADC minimizers that displace true neighbors
    from plain PQ's top-5. The re-rank rung shows the probed cells
    CONTAIN ~86% of the truth — ADC ordering, not candidate coverage,
    is what quantization costs here, which is exactly why production
    stores always pair the compressed scan with an exact re-rank."""
    return _pq_recall_frame(Tables(spark, sf_dir).embeddings)


def _pq_recall_frame(e):
    """The shared recall-ladder computation (PQ / IVF-PQ / +re-rank vs
    exact squared L2 over the 25-query panel) on any embeddings-shaped
    relation — llm_similarity_pq_recall passes the raw table,
    llm_similarity_pq_recall_clustered the planted-cluster slice."""
    ids = _RECALL_QUERY_IDS
    base = (
        S.with_int_vec(e)
        .filter(F.size("ivec") > 0)
        .select("vec_id", "ivec", "nsq")
    )
    q = base.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
    )
    from distributed_query_engine_spark.functions.vectors import dot_long

    l2 = (
        F.col("q_nsq")
        - 2 * dot_long(F.col("q_ivec"), F.col("ivec"))
        + F.col("nsq")
    )
    from pyspark.sql.window import Window

    we = Window.partitionBy("q_id").orderBy("d", "vec_id")
    exact = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", l2.alias("d"))
        .withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id")
    )

    def rows_for(scored, name):
        cand = scored.groupBy("q_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates")
        )
        w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
        top = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("q_id", "vec_id", F.lit(1).alias("hit"))
        )
        return (
            exact.join(top, ["q_id", "vec_id"], "left")
            .groupBy("q_id")
            .agg(F.count("hit").cast("long").alias("hits"))
            .join(cand, "q_id")
            .select(
                F.lit(name).alias("method"),
                "q_id",
                "hits",
                (F.col("hits") / F.lit(5.0)).alias("recall"),
                "n_candidates",
            )
        )

    ivfpq_scored = S.topk_l2_ivfpq(e, ids, k=None)
    ivfpqr_scored = S.topk_l2_ivfpq(e, ids, k=None, residual=True)
    out = (
        rows_for(S.topk_l2_pq(e, ids, k=None), "pq")
        .unionByName(rows_for(ivfpq_scored, "ivfpq"))
        .unionByName(rows_for(ivfpqr_scored, "ivfpq_residual"))
    )

    # the re-rank rungs: ADC shortlist from the probed-cells scored
    # relation (raw- or residual-encoded), exactly re-scored from raw
    # vectors; scan cost stays that rung's candidate count (re-rank
    # adds only |q| x C raw reads)
    def rerank_rows_for(scored, name):
        ws = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
        shortlist = (
            scored.withColumn("crn", F.row_number().over(ws))
            .filter(F.col("crn") <= S.PQ_RERANK_C)
            .select("q_id", "vec_id")
        )
        rr = (
            base.join(F.broadcast(shortlist), "vec_id")
            .join(F.broadcast(q), "q_id")
            .select("q_id", "vec_id", l2.alias("d"))
        )
        wr = Window.partitionBy("q_id").orderBy("d", "vec_id")
        rerank_top = (
            rr.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= 5)
            .select("q_id", "vec_id", F.lit(1).alias("hit"))
        )
        cand = scored.groupBy("q_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates")
        )
        return (
            exact.join(rerank_top, ["q_id", "vec_id"], "left")
            .groupBy("q_id")
            .agg(F.count("hit").cast("long").alias("hits"))
            .join(cand, "q_id")
            .select(
                F.lit(name).alias("method"),
                "q_id",
                "hits",
                (F.col("hits") / F.lit(5.0)).alias("recall"),
                "n_candidates",
            )
        )

    return out.unionByName(
        rerank_rows_for(ivfpq_scored, "ivfpq_rerank")
    ).unionByName(rerank_rows_for(ivfpqr_scored, "ivfpq_residual_rerank"))


@query("llm_similarity_pq_recall_clustered", oracle=_pq_recall_clustered_oracle)
def llm_similarity_pq_recall_clustered(spark, sf_dir):
    """The SAME recall ladder measured on a CLUSTERED corpus (VERDICT
    r10 item 2): the sf embeddings are near-isotropic noise, which is
    the worst case for quantizers — they exist to exploit structure,
    and the r10 rungs (PQ 0.21 / IVF-PQ 0.32 / +re-rank 0.86 mean
    recall@5 at sf0.01) undersell the machinery. This query re-runs
    the ladder on a deterministic planted-cluster transform of the
    same table (member = W·center + residual in exact
    fixed-point integers — see _IVEC_CLUSTERED_CTE), so the recall-vs-
    candidate-cost frontier is measured at BOTH corpus shapes and the
    contrast itself is oracle-exact. Measured (PLANS.md r11): the
    coarse quantizer discovers the planted cells (probe coverage →
    re-rank 0.92→1.0 at sf0.01, 0.85→0.80+ at sf0.1) — but RAW-vector
    PQ collapses on the clustered shape at sf0.1 (0.26→0.04): the
    codes per subspace get spent separating 32 cluster directions
    (the high-variance axis), leaving nothing for the residuals that
    rank WITHIN a cluster, where all the true neighbors live. That is
    the textbook argument for RESIDUAL encoding (FAISS IndexIVFPQ
    quantizes x − centroid, not x) — measured here, not folklore;
    llm_similarity_ivfpq_residual applies it (0.04 → 0.26), and the
    assembled residual+re-rank rung is the best on every shape
    (PLANS.md r11 tables, including the (m_sub, k_codes) sweep)."""
    return _pq_recall_frame(_clustered_embeddings(spark, sf_dir))


@query("llm_similarity_ivfpq", oracle=_ivfpq_oracle)
def llm_similarity_ivfpq(spark, sf_dir):
    """IVF-PQ — the composed two-level vector index a production store
    actually runs (operators/similarity.py::topk_l2_ivfpq): IVF bounds
    WHICH vectors each query scans (n_probe nearest cells by exact-
    integer squared L2), PQ bounds the BYTES per scanned vector (ADC
    over the probed cells' code ids — raw embeddings are never read at
    search time). Integer-pure end to end — coarse assignment, probe
    selection, codebook training, encoding, and the ADC sum are all
    exact longs — so the oracle replays the entire two-level index
    bit-for-bit. Search cost = n_probe/n_cells of a codes relation
    that is a few ints per vector: the 100 TB memory-and-IO budget
    that neither half achieves alone."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_l2_ivfpq(e, _QUERY_IDS, k=5)


@query("llm_similarity_ivfpq_residual", oracle=_ivfpq_residual_oracle)
def llm_similarity_ivfpq_residual(spark, sf_dir):
    """IVF-PQ with RESIDUAL encoding — FAISS IndexIVFPQ's actual
    quantization target (operators/similarity.py::topk_l2_ivfpq,
    residual=True): codes are trained and assigned on x − c(x), the offset
    from the coarse centroid, with per-(query, probed-cell) distance
    tables. This is not a refinement, it is the difference between a
    working compressed index and a collapsed one on structured data:
    raw-vector codebooks spend their K codes separating inter-cluster
    variance and cannot rank the within-cluster neighbors a top-k
    query needs (measured on the planted-cluster slice at sf0.1: raw
    IVF-PQ 0.04 mean recall@5, residual 0.26 — 6.6× — at identical
    candidate cost; llm_similarity_pq_recall_clustered, PLANS.md r11,
    retuned (8, 32) knobs).
    Integer-pure end to end, oracle replays the full
    two-level residual index. Same 100 TB shape as llm_similarity_ivfpq:
    broadcast index relations, codes-only search scan."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_l2_ivfpq(e, _QUERY_IDS, k=5, residual=True)


@query("llm_similarity_ivfpq_index", oracle=_ivfpq_residual_oracle)
def llm_similarity_ivfpq_index(spark, sf_dir):
    """MATERIALIZED residual IVF-PQ index — the artifact a production
    vector store maintains on disk (operators/similarity.py::
    build_ivfpq_index / topk_l2_ivfpq_index): broadcast-sized
    ``centroids/`` and ``codebooks/`` plus a ``codes/`` relation of
    M_SUB small ints per vector PARTITIONED BY cell_id, so the search
    scan is restricted to probed cells by dynamic partition pruning
    (plan-asserted, like llm_similarity_ivf_index) — at 100 TB a
    search reads n_probe/n_cells of the compressed index and nothing
    else; raw vectors are touched only at build (and in the optional
    re-rank stage). Results are bit-identical to the in-memory
    residual search (the index stores exactly the relations
    topk_l2_ivfpq(residual=True) derives), so it shares that oracle. The
    index dir is content-addressed + atomically published
    (:func:`_content_addressed_index`): regenerated testdata changes
    the fingerprint (never a stale serve), a concurrent reader never
    observes a mixed centroids/codebooks/codes generation, and a
    fingerprint hit skips the rebuild."""
    e = Tables(spark, sf_dir).embeddings
    index = _content_addressed_index(
        sf_dir,
        "ivfpq_index",
        f"ivfpq:{S.N_CELLS}:{S.PQ_M_SUB}:{S.PQ_K_CODES}:{S.PQ_LLOYD_ITERS}",
        lambda p: S.build_ivfpq_index(e, p),
    )
    return S.topk_l2_ivfpq_index(spark, index, e, _QUERY_IDS, k=5)


def _ivfpq_incr_oracle() -> str:
    """Incremental-ingest replay for the compressed index: quantizer
    (coarse cells + residual codebooks) trained on the EXISTING 90%,
    everything encoded and searched — what build-then-append produces."""
    joined = ",\n    ".join(
        _ivfpq_residual_ctes(
            train_where=f"AND s.vec_id % {_IVF_NEW_MOD} < {_IVF_NEW_LO}"
        )
    )
    return f"""
    WITH {_IVEC_CTE},
    {joined}
    SELECT q_id, vec_id, adc_dist, rn,
           (vec_id % {_IVF_NEW_MOD}) >= {_IVF_NEW_LO} AS is_new
    FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY adc_dist, vec_id) AS BIGINT) AS rn
      FROM ivfpqr_scored) WHERE rn <= 5
    """


@query("llm_similarity_ivfpq_incremental", oracle=_ivfpq_incr_oracle)
def llm_similarity_ivfpq_incremental(spark, sf_dir):
    """COMPRESSED-index ingest lifecycle — the IVF-PQ twin of
    llm_similarity_ivf_incremental: build the residual IVF-PQ index
    from the existing 90% of the corpus, ingest the new 10% batch by
    assigning it to the STORED cells and encoding it with the STORED
    codebooks (operators/similarity.py::append_to_ivfpq_index — two
    broadcast passes over the BATCH, an append of part-files into the
    cell-partitioned codes layout, existing files never rewritten),
    then search the updated index. The quantizer is a versioned
    artifact — retraining would invalidate every stored code — so the
    oracle replays exactly that contract: Lloyd trains on the existing
    side only, everything is encoded and searchable. is_new marks hits
    served from the freshly ingested batch. The index dir is pid-keyed
    (append-mode stores do not converge under process races — the r11
    ADVICE lesson applied at birth)."""
    from distributed_query_engine_spark.catalog import staging_key
    from distributed_query_engine_spark.streaming.ops import _pid_run_dir

    e = Tables(spark, sf_dir).embeddings
    is_new = F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    index = str(_pid_run_dir("ivfpq_index_incr", staging_key(sf_dir)))
    S.build_ivfpq_index(e.filter(~is_new), index)
    S.append_to_ivfpq_index(spark, e.filter(is_new), index)
    res = S.topk_l2_ivfpq_index(spark, index, e, _QUERY_IDS, k=5)
    return res.withColumn(
        "is_new",
        F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO,
    )


@query("llm_similarity_pq", oracle=_pq_oracle)
def llm_similarity_pq(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011 — the FAISS IVF-PQ
    compression half; operators/similarity.py::topk_l2_pq): train
    per-subspace codebooks (lowest-id seeds + one exact-integer Lloyd
    step), compress every vector to M_SUB code ids, and rank by the
    asymmetric-distance (ADC) sum against each query's broadcast
    distance table. The scan side is the CODES relation — a few ints
    per vector instead of the raw embedding — which is what lets a
    100 TB corpus's search state fit in memory; IVF (llm_similarity_ivf)
    bounds WHICH vectors are scanned, PQ bounds the BYTES per scanned
    vector, and a production store composes both. Deterministic end to
    end, so the oracle replays training + encoding + search exactly."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_l2_pq(e, _QUERY_IDS, k=5)


# llm_similarity_ivf_incremental's ingest split: vectors with
_QUANT_SPARK = (
    "transform(ivec, x -> CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT) "
    "WHEN x >= 0 THEN (2*x*127 + maxabs) div (2*maxabs) "
    "ELSE -((2*(-x)*127 + maxabs) div (2*maxabs)) END)"
)
_QUANT_DUCK = (
    "list_transform(ivec, x -> CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT) "
    "WHEN x >= 0 THEN (2*x*127 + maxabs) // (2*maxabs) "
    "ELSE -((2*(-x)*127 + maxabs) // (2*maxabs)) END)"
)


@query(
    "llm_embedding_quantize",
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    m AS (
      SELECT vec_id, ivec,
             COALESCE(list_max(list_transform(ivec, x -> abs(x))),
                      CAST(0 AS BIGINT)) AS maxabs
      FROM nv
    ),
    q AS (SELECT vec_id, ivec, maxabs, {_QUANT_DUCK} AS qvec FROM m)
    SELECT vec_id,
           CAST(len(qvec) AS BIGINT) AS n_dims,
           maxabs,
           CAST(list_sum(list_transform(qvec, x -> abs(x))) AS BIGINT) AS q_l1,
           CAST(list_sum(list_transform(list_zip(ivec, qvec),
                p -> (127*p[1] - p[2]*maxabs) * (127*p[1] - p[2]*maxabs)))
              AS BIGINT) AS err_sq_num,
           CAST(list_max(list_transform(list_zip(ivec, qvec),
                p -> abs(127*p[1] - p[2]*maxabs))) AS BIGINT) AS err_max_num
    FROM q
    """,
)
def llm_embedding_quantize(spark, sf_dir):
    """INT8 EMBEDDING QUANTIZATION — the standard 4× compression step
    before embeddings are stored or served in a training-data pipeline:
    per-vector symmetric max-abs scaling, q_i = round(x_i * 127 /
    max|x|). Entirely ROW-LOCAL (transform/aggregate over the array
    inside whole-stage codegen): zero shuffles, no UDF, embarrassingly
    parallel at any corpus size. The rounding is computed in pure
    integer arithmetic (see _QUANT_SPARK) so the oracle contract is
    exact, and the reported reconstruction error is an exact integer
    numerator (err/127/maxabs in real units): quantization quality is
    MEASURED per vector, not assumed. Output is scalar-per-column
    (sums/extremes of the quantized vector) so the driver's pandas
    canonicalizer never sees an array column (the scalar_string r4
    lesson)."""
    e = Tables(spark, sf_dir).embeddings
    base = S.with_int_vec(e).select("vec_id", "ivec")
    m = base.withColumn(
        "maxabs",
        F.coalesce(
            F.array_max(F.transform("ivec", lambda x: F.abs(x))),
            F.lit(0).cast("long"),
        ),
    )
    q = m.withColumn("qvec", F.expr(_QUANT_SPARK))
    zero = F.lit(0).cast("long")
    resid = F.zip_with(
        F.col("ivec"), F.col("qvec"),
        lambda x, qi: F.lit(127).cast("long") * x - qi * F.col("maxabs"),
    )
    return q.select(
        "vec_id",
        F.size("qvec").cast("long").alias("n_dims"),
        "maxabs",
        F.aggregate(
            F.transform("qvec", lambda x: F.abs(x)), zero, lambda a, x: a + x
        ).alias("q_l1"),
        F.aggregate(resid, zero, lambda a, r: a + r * r).alias("err_sq_num"),
        F.coalesce(
            F.array_max(F.transform(resid, lambda r: F.abs(r))), zero
        ).alias("err_max_num"),
    )


@query(
    "llm_embedding_random_projection",
    # Replays the deterministic ±1 sign matrix (the plane_sign hash) and
    # the exact integer dot products over the fixed-point vectors.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    ex AS (
      SELECT vec_id, unnest(range(len(ivec))) AS d, unnest(ivec) AS x
      FROM nv
    )
    SELECT e.vec_id, CAST(p.j AS INT) AS j,
           CAST(SUM(e.x * (CASE WHEN ((p.j * {S.PLANE_STRIDE} + e.d + 1)
                                       * {S.MIX}) % {S.M32} < {S.M32 // 2}
                                THEN 1 ELSE -1 END)) AS BIGINT) AS y
    FROM ex e, generate_series(0, {S.RP_DIMS} - 1) AS p(j)
    GROUP BY e.vec_id, p.j
    """,
)
def llm_embedding_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss ±1 random projection 64→16 dims, exact
    integer arithmetic over the fixed-point vectors and a reproducible
    sign matrix — see operators/similarity.py::random_projection for
    the scale rationale. Output is the tidy (vec_id, j, y) relation."""
    e = Tables(spark, sf_dir).embeddings
    return S.random_projection(e)


@query(
    "llm_similarity_projected_recall",
    # Both top-5 sets replayed in SQL: exact cosine over the 64-d
    # fixed-point vectors, and cosine in the 16-d JL-projected integer
    # space (the same ±1 sign-matrix replay as the projection oracle).
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    ex AS (
      SELECT vec_id, unnest(range(len(ivec))) AS d, unnest(ivec) AS x
      FROM nv
    ),
    proj AS (
      SELECT e.vec_id, p.j,
             SUM(e.x * (CASE WHEN ((p.j * {S.PLANE_STRIDE} + e.d + 1)
                                    * {S.MIX}) % {S.M32} < {S.M32 // 2}
                             THEN 1 ELSE -1 END)) AS y
      FROM ex e, generate_series(0, {S.RP_DIMS} - 1) AS p(j)
      GROUP BY e.vec_id, p.j
    ),
    pn AS (SELECT vec_id, SUM(y * y) AS ynsq FROM proj GROUP BY vec_id),
    pd AS (
      SELECT a.vec_id AS q_id, b.vec_id AS vec_id, SUM(a.y * b.y) AS dot
      FROM proj a JOIN proj b ON a.j = b.j
      WHERE a.vec_id IN (0,1,2,3,4) AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    ptop AS (
      SELECT q_id, vec_id FROM (
        SELECT pd.q_id, pd.vec_id,
               row_number() OVER (PARTITION BY pd.q_id ORDER BY
                 CAST(pd.dot AS DOUBLE)
                   / (sqrt(CAST(qa.ynsq AS DOUBLE)) * sqrt(CAST(qb.ynsq AS DOUBLE)))
                 DESC, pd.vec_id) AS rn
        FROM pd
        JOIN pn qa ON qa.vec_id = pd.q_id
        JOIN pn qb ON qb.vec_id = pd.vec_id
      ) WHERE rn <= 5
    ),
    escored AS (
      SELECT q.vec_id AS q_id, c.vec_id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_dot_product(q.ivec, c.ivec)
                 / (sqrt(CAST(q.nsq AS DOUBLE)) * sqrt(CAST(c.nsq AS DOUBLE)))
               DESC, c.vec_id) AS rn
      FROM nv q, nv c
      WHERE q.vec_id IN (0,1,2,3,4) AND c.vec_id <> q.vec_id
    ),
    etop AS (SELECT q_id, vec_id FROM escored WHERE rn <= 5)
    SELECT e.q_id,
           CAST(COUNT(p.vec_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(p.vec_id) AS DOUBLE) / 5 AS recall_at_5
    FROM etop e
    LEFT JOIN ptop p ON p.q_id = e.q_id AND p.vec_id = e.vec_id
    GROUP BY e.q_id
    """,
)
def llm_similarity_projected_recall(spark, sf_dir):
    """JL PROJECTION QUALITY, MEASURED: top-5 cosine search run in the
    16-d projected integer space vs the exact 64-d scan, reported as
    recall@5 per query — the honest-self-evaluation pattern
    (llm_similarity_recall's analog for dimensionality reduction). The
    projected search costs 1/4 the dot-product work; this query prices
    that speedup in recall instead of assuming JL's guarantees apply
    at k=16. Everything is exact integer arithmetic up to one double
    division per score, so even the recall VALUES are oracle-exact.

    Measured result on THIS corpus: recall@5 ≈ 0 (sf0.01: 0.0-0.2 per
    query) — and that is the finding, not a bug: the synthetic
    embeddings are near-uniform on the sphere, so a query's top-5
    cosine gap is razor-thin and any JL distortion reshuffles the
    ranking toward chance. On real embedding corpora (clustered, with
    clear nearest-neighbor margins) the same projection preserves
    top-k far better; this query is the instrument that tells you
    WHICH regime your corpus is in before you buy the 4× speedup —
    precisely the measure-don't-assume contract of
    llm_similarity_recall."""
    from pyspark.sql.window import Window

    e = Tables(spark, sf_dir).embeddings
    proj = S.project_vectors(e)
    qv = proj.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("yvec").alias("q_yvec"),
        F.col("ynsq").alias("q_ynsq"),
    )
    from distributed_query_engine_spark.functions.vectors import (
        cosine_from_ints,
        dot_long,
    )

    w = Window.partitionBy("q_id").orderBy(
        F.col("pcos").desc(), F.col("vec_id")
    )
    ptop = (
        proj.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_from_ints(
                dot_long(F.col("q_yvec"), F.col("yvec")),
                F.col("q_ynsq"),
                F.col("ynsq"),
            ).alias("pcos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id")
    )
    etop = S.topk_cosine(e, _QUERY_IDS, 5).select("q_id", "vec_id")
    # 5×5 pairing per query; vec_id == p_vec hits at most once per
    # exact-top row, so the match count IS the intersection size
    return (
        etop.join(ptop.withColumnRenamed("vec_id", "p_vec"), ["q_id"], "left")
        .groupBy("q_id")
        .agg(
            F.sum(
                F.when(F.col("vec_id") == F.col("p_vec"), 1).otherwise(0)
            ).cast("long").alias("n_overlap"),
            (
                F.sum(
                    F.when(F.col("vec_id") == F.col("p_vec"), 1).otherwise(0)
                ).cast("double")
                / 5
            ).alias("recall_at_5"),
        )
    )


@query(
    "llm_embedding_outliers",
    # Exact integer arithmetic via the multiply-through trick with a
    # power-of-two downshift: r_d = n·x_d − S_d (int64-safe), score =
    # Σ ⌊|r_d|/2^10⌋² — the r7 sf1 scale smoke caught the unshifted
    # ||n·x − S||² overflowing int64 once n·2^20 > ~3e9 (n ≈ 3k
    # vectors). The /1024.0 is a power-of-two double division (exact:
    # only the exponent changes), so ⌊·⌋ is the true floor in BOTH
    # engines; the shift costs 10 low bits of a ≥2^30 residual —
    # noise for an outlier rank. int64-safe to n ≈ 3·10^5 vectors;
    # raise the shift constant in lock-step (engine + oracle) beyond.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    ex AS (
      SELECT vec_id, unnest(range(len(ivec))) AS d, unnest(ivec) AS x
      FROM nv
    ),
    cs AS (SELECT d, CAST(SUM(x) AS BIGINT) AS sd FROM ex GROUP BY d),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nv),
    scored AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(floor(abs(n.n * e.x - c.sd) / 1024.0) AS BIGINT)
                      * CAST(floor(abs(n.n * e.x - c.sd) / 1024.0) AS BIGINT))
                  AS BIGINT) AS dsq
      FROM ex e JOIN cs c USING (d) CROSS JOIN nn n
      GROUP BY e.vec_id
    ),
    med AS (SELECT median(dsq) AS m FROM scored)
    SELECT s.vec_id, CAST(s.dsq AS DOUBLE) / m.m AS dist_ratio,
           s.dsq > 4 * m.m AS is_outlier
    FROM scored s CROSS JOIN med m
    """,
)
def llm_embedding_outliers(spark, sf_dir):
    """EMBEDDING-SPACE OUTLIER DETECTION — corpus quality control:
    vectors far from the centroid are mislabeled/corrupted/off-domain
    candidates. Exact integers end-to-end via the CUSUM-style
    multiply-through trick: instead of x − mean (a division), the
    per-dim residual is r_d = n·x_d − S_d with S the integer
    coordinate sums (n× the true deviation, same ORDER), and the
    score is the sum of squared DOWNSHIFTED residuals ⌊|r_d|/2^10⌋²;
    flag vectors whose score exceeds 4× the median score (distance >
    ~2× the median distance). The shift before squaring is the r7
    scale fix: the unshifted ||n·x − S||² overflows int64 once
    n·2^20 exceeds ~3e9 (caught by the sf1 smoke at n = 20k vectors);
    |r|/1024.0 is a power-of-two double division (exact — only the
    exponent changes), so the floor is the true floor in BOTH
    engines, and the cost is 10 low bits of a ≥2^30 residual —
    invisible to an outlier rank. int64-safe to n ≈ 3e5 vectors;
    beyond that raise the shift constant in engine and oracle
    together. The centroid is one aggregate row broadcast back;
    scoring is row-local; the only divisions are the exact shift and
    the REPORTED ratio. At 100 TB this is one scan + one tiny
    broadcast — the cheapest useful embedding audit that exists."""
    e = Tables(spark, sf_dir).embeddings
    base = S.with_int_vec(e).select("vec_id", "ivec")
    dim = F.size("ivec")
    cent = base.select(F.posexplode("ivec").alias("d", "x")).groupBy("d").agg(
        F.sum("x").alias("sd")
    )
    cent_row = (
        cent.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("d", "sd"))).alias("pairs"))
        .select(F.transform("pairs", lambda p: p["sd"]).alias("s"))
        .crossJoin(base.groupBy().agg(F.count(F.lit(1)).alias("n")))
    )
    scored = base.crossJoin(F.broadcast(cent_row)).select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                "ivec",
                "s",
                lambda x, sd: F.floor(
                    F.abs(F.col("n") * x - sd) / F.lit(1024.0)
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, h: acc + h * h,
        ).alias("dsq"),
    )
    med = scored.agg(F.median("dsq").alias("m"))
    return scored.crossJoin(F.broadcast(med)).select(
        "vec_id",
        (F.col("dsq").cast("double") / F.col("m")).alias("dist_ratio"),
        (F.col("dsq") > 4 * F.col("m")).alias("is_outlier"),
    )


_MATRYOSHKA_DIMS = [32, 16]
_MATRYOSHKA_DIMS_SQL = ", ".join(str(d) for d in _MATRYOSHKA_DIMS)


@query(
    "llm_similarity_matryoshka_recall",
    # Prefix-truncation (Matryoshka, Kusupati et al. 2022) recall rung:
    # exact top-5 on the 32-dim and 16-dim PREFIXES of the fixed-point
    # vectors vs the full-64-dim exact top-5, over the stable 25-query
    # panel. Same exact-arithmetic recipe as every ladder rung: integer
    # dots/norms on the sliced vectors, hits counted by intersection.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    dims AS (SELECT unnest([{_MATRYOSHKA_DIMS_SQL}]) AS dims),
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
    trunc AS (
      SELECT d.dims, nv.vec_id, nv.ivec[1:d.dims] AS tvec,
             list_dot_product(nv.ivec[1:d.dims], nv.ivec[1:d.dims]) AS tnsq
      FROM nv, dims d
    ),
    tq AS (SELECT dims, vec_id AS q_id, tvec AS q_tvec, tnsq AS q_tnsq
           FROM trunc WHERE vec_id IN ({_RECALL_IDS_SQL})),
    trunc_top AS (
      SELECT dims, q_id, vec_id FROM (
        SELECT q.dims, q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.dims, q.q_id ORDER BY
                 list_dot_product(q.q_tvec, c.tvec)
                   / (sqrt(CAST(q.q_tnsq AS DOUBLE)) * sqrt(CAST(c.tnsq AS DOUBLE)))
                 DESC, c.vec_id) AS rn
        FROM tq q JOIN trunc c ON c.dims = q.dims AND c.vec_id != q.q_id)
      WHERE rn <= 5
    )
    SELECT t.dims AS trunc_dims, t.q_id,
           CAST(count(e.vec_id) AS BIGINT) AS n_hits
    FROM trunc_top t
    LEFT JOIN exact_top e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
    GROUP BY t.dims, t.q_id
    """,
)
def llm_similarity_matryoshka_recall(spark, sf_dir):
    """Matryoshka prefix-truncation recall@5 at 32 and 16 dims vs the
    full 64-dim exact search — the storage/quality rung that prices
    "keep only the first d dims" against the PQ ladder's "keep m×k
    codes" (PLANS.md records both). Scale shape: truncation is a
    row-local slice (re-embedding nothing); each rung is the same
    brute-force panel search as llm_similarity_topk, so cost scales
    with dims kept — the ladder's cheapest rung to serve."""
    from distributed_query_engine_spark.functions.vectors import (
        cosine_from_ints,
        dot_long,
    )
    from distributed_query_engine_spark.operators.similarity import with_int_vec
    from pyspark.sql.window import Window

    e = Tables(spark, sf_dir).embeddings
    base = with_int_vec(e).select("vec_id", "ivec", "nsq")

    def top5(rel, vec_col, nsq_col, extra_part):
        q = rel.filter(F.col("vec_id").isin(_RECALL_QUERY_IDS)).select(
            *[F.col(c).alias(f"q_{c}") for c in extra_part],
            F.col("vec_id").alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col(nsq_col).alias("q_nsq"),
        )
        join_cond = F.col("vec_id") != F.col("q_id")
        for c in extra_part:
            join_cond = join_cond & (F.col(f"q_{c}") == F.col(c))
        scored = rel.join(F.broadcast(q), join_cond).select(
            *[F.col(f"q_{c}").alias(c) for c in extra_part],
            "q_id",
            "vec_id",
            cosine_from_ints(
                dot_long(F.col("q_vec"), F.col(vec_col)),
                F.col("q_nsq"),
                F.col(nsq_col),
            ).alias("cosine"),
        )
        w = Window.partitionBy(*extra_part, "q_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .drop("cosine", "rn")
        )

    exact = top5(base, "ivec", "nsq", [])
    dims_df = spark.range(0).sparkSession.createDataFrame(
        [(d,) for d in _MATRYOSHKA_DIMS], "dims int"
    )
    trunc = base.crossJoin(F.broadcast(dims_df)).select(
        "dims",
        "vec_id",
        F.slice("ivec", 1, F.col("dims")).alias("tvec"),
    )
    trunc = trunc.withColumn("tnsq", dot_long(F.col("tvec"), F.col("tvec")))
    t_top = top5(trunc, "tvec", "tnsq", ["dims"])
    hits = (
        t_top.alias("t")
        .join(
            exact.alias("e"),
            (F.col("e.q_id") == F.col("t.q_id"))
            & (F.col("e.vec_id") == F.col("t.vec_id")),
            "left",
        )
        .groupBy(
            F.col("t.dims").alias("trunc_dims"), F.col("t.q_id").alias("q_id")
        )
        .agg(F.count(F.col("e.vec_id")).cast("long").alias("n_hits"))
    )
    return hits


# ---------------------------------------------------------------------------
# kNN-graph refinement rung of the ANN ladder (VERDICT r12 item 6)
# ---------------------------------------------------------------------------


def _graph_ctes(ids_sql: str, seeds: int, g: int, pair_pred: str = "") -> str:
    """The kNN-graph refinement CTE chain (requires _IVEC_CTE's ``nv``
    and _LSH_BUCKET_CTES's ``buckets``): cells/assignment identical to
    llm_similarity_ivf's, plus the two-grouping bounded-degree graph
    (operators/similarity.py::knn_graph replayed in SQL), IVF seed
    candidates, one-hop expansion, and the exact rerank relation
    ``g_rer``. ``pair_pred`` (an extra AND clause over gpairs' a/b
    aliases) restricts edge membership — the incremental-ingest oracle
    uses it to model the asymmetric graph (existing srcs only know
    existing dsts; batch srcs know everyone)."""
    return f"""
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
    grouped AS (
      SELECT vec_id, CAST(cell_id AS BIGINT) AS grp FROM assigned
      UNION ALL
      -- bucket groups carry NEGATIVE ids (-(bucket+1)): cell ids are
      -- centroid vec_ids (non-negative, unbounded), so sign — not an
      -- additive offset — keeps the two groupings disjoint
      SELECT vec_id, -(bucket + 1) AS grp FROM buckets
    ),
    gpairs AS (
      SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS dst_id
      FROM grouped a JOIN grouped b
        ON a.grp = b.grp AND a.vec_id != b.vec_id
        {pair_pred}
    ),
    graph AS (
      SELECT src_id, dst_id FROM (
        SELECT p.src_id, p.dst_id,
               row_number() OVER (PARTITION BY p.src_id ORDER BY
                 {_COS.format(a='sa.ivec', b='sb.ivec', na='sa.nsq', nb='sb.nsq')} DESC,
                 p.dst_id) AS grn
        FROM gpairs p
        JOIN nv sa ON sa.vec_id = p.src_id
        JOIN nv sb ON sb.vec_id = p.dst_id) WHERE grn <= {g}
    ),
    q AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq
          FROM nv WHERE vec_id IN ({ids_sql})),
    probes AS (
      SELECT q_id, cell_id FROM (
        SELECT q.q_id, c.cell_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='c.c_ivec', na='q.q_nsq', nb='c.c_nsq')} DESC,
                 c.cell_id) AS prn
        FROM q, cents c) WHERE prn <= {S.N_PROBE}
    ),
    ivf_scored AS (
      SELECT p.q_id, a.vec_id,
             {_COS.format(a='q.q_ivec', b='a.ivec', na='q.q_nsq', nb='a.nsq')} AS cosine
      FROM probes p
      JOIN assigned a ON a.cell_id = p.cell_id
      JOIN q ON q.q_id = p.q_id
      WHERE a.vec_id != p.q_id
    ),
    seeds AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS srn
        FROM ivf_scored) WHERE srn <= {seeds}
    ),
    allc AS (
      SELECT DISTINCT q_id, vec_id FROM (
        SELECT q_id, vec_id FROM seeds
        UNION ALL
        SELECT s.q_id, gr.dst_id AS vec_id
        FROM seeds s JOIN graph gr ON gr.src_id = s.vec_id)
    ),
    g_rer AS (
      SELECT c.q_id, c.vec_id,
             {_COS.format(a='q.q_ivec', b='n.ivec', na='q.q_nsq', nb='n.nsq')} AS cosine
      FROM allc c
      JOIN nv n ON n.vec_id = c.vec_id
      JOIN q ON q.q_id = c.q_id
      WHERE c.vec_id != c.q_id
    )"""


@query(
    "llm_similarity_graph_refine",
    # Full replay: the two-grouping kNN graph, IVF probe seeds, one-hop
    # expansion, exact rerank — every stage deterministic.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    {_LSH_BUCKET_CTES},
    {_graph_ctes("0,1,2,3,4", S.GRAPH_SEEDS, S.KNN_G)}
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM g_rer) WHERE rn <= 5
    """,
)
def llm_similarity_graph_refine(spark, sf_dir):
    """Graph-refinement ANN rung (operators/similarity.py::
    topk_cosine_ivf_graph): IVF probe -> top-GRAPH_SEEDS seeds -> one
    hop over the bounded-degree kNN graph (within-cell AND within-LSH-
    bucket top-g neighbors — the bucket grouping crosscuts cells, so
    expansion reaches neighbors in UNPROBED cells) -> exact rerank to
    top-5. The distributed answer to HNSW's pointer chasing: bucketed
    joins against a bounded (corpus x g) edge relation. Measured gain
    on this corpus: recall@5 0.944 (IVF) -> 0.968 with a 60-candidate
    rerank set (llm_similarity_graph_recall)."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_cosine_ivf_graph(e, _QUERY_IDS, k=5)


@query(
    "llm_similarity_graph_recall",
    # recall@5 + candidate cost of IVF alone vs IVF+graph refinement
    # against the exact top-k, on the 25-query panel — same measured-
    # frontier discipline as llm_similarity_recall.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    {_LSH_BUCKET_CTES},
    {_graph_ctes(_RECALL_IDS_SQL, S.GRAPH_SEEDS, S.KNN_G)},
    exact_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, n.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='n.ivec', na='q.q_nsq', nb='n.nsq')} DESC,
                 n.vec_id) AS rn
        FROM q, nv n WHERE n.vec_id != q.q_id) WHERE rn <= 5
    ),
    ivf_top AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
        FROM ivf_scored) WHERE rn <= 5
    ),
    ivf_cand AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
                 FROM ivf_scored GROUP BY q_id),
    graph_top AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
        FROM g_rer) WHERE rn <= 5
    ),
    graph_cand AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
                   FROM g_rer GROUP BY q_id)
    SELECT 'ivf' AS method, e.q_id,
           CAST(count(l.vec_id) AS BIGINT) AS hits,
           count(l.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates
    FROM exact_top e
    LEFT JOIN ivf_top l USING (q_id, vec_id)
    JOIN ivf_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    UNION ALL
    SELECT 'ivf_graph' AS method, e.q_id,
           CAST(count(l.vec_id) AS BIGINT) AS hits,
           count(l.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates
    FROM exact_top e
    LEFT JOIN graph_top l USING (q_id, vec_id)
    JOIN graph_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    """,
)
def llm_similarity_graph_recall(spark, sf_dir):
    """recall@5 + candidate cost of the graph-refinement rung vs plain
    IVF on the 25-query panel (exact top-k as truth). Measured at
    sf0.01: IVF 0.944 recall at ~122 candidates/query; IVF+graph 0.968
    at a ~60-candidate RERANK set (the probe relation is shared, so
    refinement adds one bounded graph join and rescores fewer, better
    candidates). The knobs (KNN_G=8, GRAPH_SEEDS=10) were swept, not
    guessed — g=4 left recall at 0.952; seeds=20 doubled the rerank
    set for zero recall gain (BASELINE.md r13)."""
    e = Tables(spark, sf_dir).embeddings
    k = 5
    exact = S.topk_cosine(e, _RECALL_QUERY_IDS, k=k).select("q_id", "vec_id")
    out = None
    for method, ann in (
        ("ivf", S.topk_with_count(S.ivf_scored(e, _RECALL_QUERY_IDS), k)),
        (
            "ivf_graph",
            S.topk_with_count(S.ivf_graph_scored(e, _RECALL_QUERY_IDS), k),
        ),
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
            .filter(F.col("n_candidates").isNotNull())
            .select(
                F.lit(method).alias("method"),
                "q_id",
                F.col("n_hits").cast("long").alias("hits"),
                (F.col("n_hits") / F.lit(float(k))).alias("recall"),
                "n_candidates",
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


@query(
    "llm_similarity_graph_index",
    # Identical replay to llm_similarity_graph_refine: the index stores
    # exactly the relations that query derives, so search-from-index is
    # bit-identical — the build-once/search-many contract, third time
    # (IVF, BM25, now the graph rung).
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    {_LSH_BUCKET_CTES},
    {_graph_ctes("0,1,2,3,4", S.GRAPH_SEEDS, S.KNN_G)}
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM g_rer) WHERE rn <= 5
    """,
)
def llm_similarity_graph_index(spark, sf_dir):
    """Graph-refined ANN against a PERSISTED index artifact
    (operators/similarity.py::build_graph_index /
    topk_cosine_graph_index): centroids + cell-partitioned assignments
    + the bounded-degree edge relation materialized once
    (content-addressed, atomically published — fingerprint hit skips
    the build), then searched without touching the embeddings table.
    The graph build's two salted self-joins are the expensive stage;
    amortizing them across queries is what makes the refinement rung
    production-viable — same build-once/search-many economics the BM25
    index measured at 2.51x/query (BASELINE.md r12)."""
    e = Tables(spark, sf_dir).embeddings
    index = _content_addressed_index(
        sf_dir,
        "graph_index",
        f"graph:{S.KNN_G}:{S.N_CELLS}:{S.N_PLANES}:lowest_id:0",
        lambda p: S.build_graph_index(e, p),
    )
    return S.topk_cosine_graph_index(spark, index, _QUERY_IDS, k=5)


@query(
    "llm_similarity_sq8",
    # Full replay in EXACT integers. Unlike the other ANN oracles the
    # dots here can exceed 2^53 (u ≈ 255·2^20-scale), so the oracle
    # computes them RELATIONALLY (per-dimension join + BIGINT sum) —
    # list_dot_product's double-internal accumulation would round.
    # floor(a*255 / span) is the same IEEE double division on both
    # engines (a*255 < 2^53, exactly representable).
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    ex AS (SELECT vec_id, unnest(range(len(ivec))) AS pos,
                  unnest(ivec) AS x FROM nv),
    ds AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
    u AS (
      SELECT e.vec_id, e.pos,
             d.mn * {S.SQ_LEVELS}
             + (CASE WHEN d.mx > d.mn
                     THEN CAST(floor(((e.x - d.mn) * {S.SQ_LEVELS})
                                     / (d.mx - d.mn)) AS BIGINT)
                     ELSE 0 END) * (d.mx - d.mn) AS u
      FROM ex e JOIN ds d USING (pos)
    ),
    n AS (SELECT vec_id, CAST(sum(u*u) AS BIGINT) AS unsq
          FROM u GROUP BY vec_id),
    dots AS (
      SELECT qu.vec_id AS q_id, cu.vec_id,
             CAST(sum(qu.u * cu.u) AS BIGINT) AS dotv
      FROM u qu JOIN u cu ON cu.pos = qu.pos AND cu.vec_id != qu.vec_id
      WHERE qu.vec_id IN (0,1,2,3,4)
      GROUP BY qu.vec_id, cu.vec_id
    ),
    scored AS (
      SELECT d.q_id, d.vec_id,
             CAST(d.dotv AS DOUBLE)
               / (sqrt(CAST(nq.unsq AS DOUBLE)) * sqrt(CAST(nc.unsq AS DOUBLE)))
               AS cosine
      FROM dots d
      JOIN n nq ON nq.vec_id = d.q_id
      JOIN n nc ON nc.vec_id = d.vec_id
    )
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_sq8(spark, sf_dir):
    """SCALAR-QUANTIZED (SQ8) similarity search — the training-free rung
    of the compression ladder (operators/similarity.py::sq8_quantized /
    topk_cosine_sq8): per-dimension 8-bit affine codes against corpus
    min/max, 4x smaller than float32 at rest, searched with exact
    integer arithmetic over the dequantized values. Measured recall@5
    vs exact cosine: 0.992 at sf0.001, 0.976 at sf0.01 — far above
    equal-bytes PQ on this isotropic corpus and without PQ's training
    step (the ladder's full comparison lives in PLANS.md r13). Scale
    shape: per-dim min/max is one map-combined aggregate broadcast as a
    1-row relation; encoding is a row-local zip; search is the same
    broadcast-panel scan as llm_similarity_topk."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_cosine_sq8(e, _QUERY_IDS, k=5)


@query(
    "llm_similarity_ivf_sq8",
    # IVF probe CTEs (llm_similarity_ivf's, verbatim) + the SQ8 u-value
    # chain (llm_similarity_sq8's relational-dot discipline) + shortlist
    # + exact rerank — every stage exact integers / shared-IEEE floors.
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
    ex AS (SELECT vec_id, unnest(range(len(ivec))) AS pos,
                  unnest(ivec) AS x FROM nv),
    ds AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
    uv AS (
      SELECT e.vec_id, e.pos,
             d.mn * {S.SQ_LEVELS}
             + (CASE WHEN d.mx > d.mn
                     THEN CAST(floor(((e.x - d.mn) * {S.SQ_LEVELS})
                                     / (d.mx - d.mn)) AS BIGINT)
                     ELSE 0 END) * (d.mx - d.mn) AS u
      FROM ex e JOIN ds d USING (pos)
    ),
    un AS (SELECT vec_id, CAST(sum(u*u) AS BIGINT) AS unsq
           FROM uv GROUP BY vec_id),
    sq_dots AS (
      SELECT p.q_id, a.vec_id,
             CAST(sum(qu.u * cu.u) AS BIGINT) AS dotv
      FROM probes p
      JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id != p.q_id
      JOIN uv cu ON cu.vec_id = a.vec_id
      JOIN uv qu ON qu.vec_id = p.q_id AND qu.pos = cu.pos
      GROUP BY p.q_id, a.vec_id
    ),
    shortlist AS (
      SELECT q_id, vec_id FROM (
        SELECT d.q_id, d.vec_id,
               row_number() OVER (PARTITION BY d.q_id ORDER BY
                 CAST(d.dotv AS DOUBLE)
                   / (sqrt(CAST(nq.unsq AS DOUBLE)) * sqrt(CAST(nc.unsq AS DOUBLE)))
                 DESC, d.vec_id) AS crn
        FROM sq_dots d
        JOIN un nq ON nq.vec_id = d.q_id
        JOIN un nc ON nc.vec_id = d.vec_id) WHERE crn <= {S.SQ_RERANK_C}
    ),
    rer AS (
      SELECT s.q_id, s.vec_id,
             {_COS.format(a='q.q_ivec', b='n.ivec', na='q.q_nsq', nb='n.nsq')} AS cosine
      FROM shortlist s
      JOIN nv n ON n.vec_id = s.vec_id
      JOIN q ON q.q_id = s.q_id
    )
    SELECT q_id, vec_id, cosine, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM rer) WHERE rn <= 5
    """,
)
def llm_similarity_ivf_sq8(spark, sf_dir):
    """IVF + SQ8 + EXACT RERANK (operators/similarity.py::
    topk_cosine_ivf_sq8) — the training-light production ANN config
    (FAISS "IVF,SQ8"): cells prune the scan, the probed candidates rank
    by the 4x-compressed scalar codes, and only a 25-id shortlist
    re-reads full-precision vectors. Same three-stage shape as
    llm_similarity_ivfpq_rerank with the trained codebooks swapped for
    the training-free affine grid — on this isotropic corpus the SQ8
    stage loses so little that the rerank recovers IVF's own recall
    exactly (llm_similarity_graph_recall's frontier has the numbers)."""
    e = Tables(spark, sf_dir).embeddings
    return S.topk_cosine_ivf_sq8(e, _QUERY_IDS, k=5)


@query(
    "llm_similarity_graph_incremental",
    # Same chain as llm_similarity_graph_refine with the ASYMMETRIC
    # edge-membership predicate: an existing src (vec_id%100 < 90) only
    # knows existing dsts (its edges were built before the batch); a
    # batch src knows the full corpus (its edges were appended against
    # existing ∪ batch). Centroid seeds (vec_id < N_CELLS) are all
    # existing under the mod-100 split, so the quantizer — and hence
    # cells, probes, and seed candidates — matches the stored index
    # exactly (the llm_similarity_ivf_incremental contract).
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    {_LSH_BUCKET_CTES},
    {_graph_ctes(
        "0,1,2,3,4", S.GRAPH_SEEDS, S.KNN_G,
        pair_pred=f"AND ((a.vec_id % {_IVF_NEW_MOD} >= {_IVF_NEW_LO}) "
                  f"OR (b.vec_id % {_IVF_NEW_MOD} < {_IVF_NEW_LO}))",
    )}
    SELECT q_id, vec_id, cosine, rn,
           (vec_id % {_IVF_NEW_MOD}) >= {_IVF_NEW_LO} AS is_new
    FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM g_rer) WHERE rn <= 5
    """,
)
def llm_similarity_graph_incremental(spark, sf_dir):
    """Graph-index LIFECYCLE — ingest a new vector batch WITHOUT
    rebuilding (the graph leg of the incremental triangle after IVF and
    BM25): build the index from the existing 90% (build_graph_index),
    append the new 10% (append_to_graph_index — batch assigned to the
    STORED centroids; batch-source edges computed against the full
    corpus in one bounded group join), then search. is_new marks hits
    served from the fresh batch — new vectors are immediately
    reachable both as probe candidates (assignments appended) and as
    expansion targets (any seed landing on them).

    The honest asymmetry (documented, oracle-modeled): existing nodes'
    edge lists don't gain pointers INTO the batch until the periodic
    rebuild — the standard staleness tradeoff every incremental graph
    store makes; the exact oracle encodes it with one membership
    predicate rather than pretending ingest equals a rebuild."""
    e = Tables(spark, sf_dir).embeddings
    is_new = F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    from distributed_query_engine_spark.catalog import staging_key
    from distributed_query_engine_spark.streaming.ops import _pid_run_dir

    index = str(_pid_run_dir("graph_index_incr", staging_key(sf_dir)))
    S.build_graph_index(e.filter(~is_new), index)
    S.append_to_graph_index(spark, e.filter(is_new), index)
    res = S.topk_cosine_graph_index(spark, index, _QUERY_IDS, k=5)
    return res.withColumn(
        "is_new", F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    )


@query(
    "llm_similarity_graph_compact",
    # After compaction the edge relation is the SYMMETRIC full-corpus
    # graph again — so the oracle is llm_similarity_graph_refine's
    # replay (no membership predicate) + the is_new flag: compaction
    # provably erased the ingest asymmetry.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    {_LSH_BUCKET_CTES},
    {_graph_ctes("0,1,2,3,4", S.GRAPH_SEEDS, S.KNN_G)}
    SELECT q_id, vec_id, cosine, rn,
           (vec_id % {_IVF_NEW_MOD}) >= {_IVF_NEW_LO} AS is_new
    FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM g_rer) WHERE rn <= 5
    """,
)
def llm_similarity_graph_compact(spark, sf_dir):
    """Graph-index COMPACTION — the closing leg of the graph lifecycle
    (build -> incremental ingest -> compact -> search): after ingest,
    existing nodes' edge lists are stale (no pointers into the batch);
    compact_graph_index recomputes the full symmetric edge relation
    over the current assignments and atomically swaps it in. The
    CHECKABLE contract: post-compaction search is bit-identical to the
    symmetric full-corpus graph (the refine query's oracle verbatim) —
    the asymmetry the incremental oracle had to model is gone. One
    caveat the oracle enforces implicitly: the stored quantizer is the
    EXISTING-side one (centroid seeds all land existing under the
    mod-100 split), exactly what a deployment that never retrains on
    ingest serves."""
    e = Tables(spark, sf_dir).embeddings
    is_new = F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    from distributed_query_engine_spark.catalog import staging_key
    from distributed_query_engine_spark.streaming.ops import _pid_run_dir

    index = str(_pid_run_dir("graph_index_compact", staging_key(sf_dir)))
    S.build_graph_index(e.filter(~is_new), index)
    S.append_to_graph_index(spark, e.filter(is_new), index)
    S.compact_graph_index(spark, index)
    res = S.topk_cosine_graph_index(spark, index, _QUERY_IDS, k=5)
    return res.withColumn(
        "is_new", F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    )


# ---- graph lifecycle at DEPLOYMENT knobs (r15, VERDICT r14 item 4) ----
#
# The pinned trio above (N_CELLS=32, N_PLANES=5) is the fully-replayable
# rung: its oracle re-derives the whole pipeline, which makes the index
# BUILD quadratic at 10x+ slices — the oracle-verified regime and the
# recommended deployment regime (n_cells ~ sqrt(corpus),
# suggest_n_cells) were different regimes. The _prod trio closes that
# gap: the engine runs at the deployment knobs and the ORACLE is the
# exact-cosine truth panel itself — the r14 knob study (sf1 + sf3,
# uniform and planted-cluster corpora) measured recall@5 = 1.000 at
# these knobs down to 1% probe, and these queries pin that claim as a
# hash-exact equality instead of a prose number. A future knob or data
# change that costs even one hit on one query fails the driver row —
# recall is the contract, not a sidecar metric.

_ANN_ECONOMIC_FLOOR = 1000


def _prod_graph_knobs(n: int) -> tuple[int, int, int]:
    """(n_cells, n_planes, n_probe) at deployment sizing: sqrt-corpus
    cells, population-bounded LSH planes, 10% probe (10x the margin of
    the measured 1%-probe recall floor at sf1/sf3, r14 knob study).

    Below ``_ANN_ECONOMIC_FLOOR`` vectors the probe goes EXHAUSTIVE
    (n_probe = n_cells): on a few-hundred-vector corpus the panel's
    true neighbors are near-random (measured sf0.01: 2 of 25 hits
    outside even a 50%-probe + graph-hop reach), which is not an index
    regime at all — a deployment scans below the index's economic
    floor and probes above it. The floor only ever binds the toy
    driver-gate slice; every sweep scale (sf0.1's 2000 vectors up)
    runs the genuine 10%-probe regime, measured recall-exact there."""
    n_cells = S.suggest_n_cells(n)
    n_planes = S.suggest_n_planes(n)
    if n < _ANN_ECONOMIC_FLOOR:
        n_probe = n_cells
    else:
        n_probe = max(S.N_PROBE, -(-n_cells // 10))
    return n_cells, n_planes, n_probe


_EXACT_TOP5_ORACLE = lambda: f"""
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
    """


@query("llm_similarity_graph_prod", oracle=_EXACT_TOP5_ORACLE)
def llm_similarity_graph_prod(spark, sf_dir):
    """Graph-refined ANN at DEPLOYMENT knobs (suggest_n_cells ~
    sqrt(corpus), suggest_n_planes, 10% probe) against a persisted
    index. The oracle is the EXACT-cosine top-5 panel: equality holds
    iff the prod-knob search achieves recall 1.0 on every panel query —
    the honest contract for the regime a 100 TB deployment actually
    runs (the pinned-knob llm_similarity_graph_index remains the
    fully-replayed rung). Build cost at these knobs is ~n^1.5 bounded
    group pairs (sqrt-n cells of sqrt-n population), not the pinned
    regime's n^2/32 — the scale sweeps run THIS trio at 10x+."""
    e = Tables(spark, sf_dir).embeddings
    n_cells, n_planes, n_probe = _prod_graph_knobs(e.count())
    index = _content_addressed_index(
        sf_dir,
        "graph_index_prod",
        f"graph:{S.KNN_G}:{n_cells}:{n_planes}:lowest_id:0",
        lambda p: S.build_graph_index(
            e, p, n_cells=n_cells, n_planes=n_planes
        ),
    )
    return S.topk_cosine_graph_index(
        spark, index, _QUERY_IDS, k=5, n_probe=n_probe
    )


@query(
    "llm_similarity_graph_prod_incremental",
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
    SELECT q_id, vec_id, cosine, rn,
           (vec_id % {_IVF_NEW_MOD}) >= {_IVF_NEW_LO} AS is_new
    FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_graph_prod_incremental(spark, sf_dir):
    """Deployment-knob graph lifecycle, ingest leg: build from the
    existing 90% (quantizer sized by suggest_n_cells on the existing
    count — ingest never retrains), append the 10% batch, search. The
    exact-panel oracle makes the recall claim UNDER the documented
    ingest asymmetry: new vectors must be found through the IVF probe
    (assignments appended at once) even though existing nodes' edge
    lists don't point at them yet."""
    e = Tables(spark, sf_dir).embeddings
    is_new = F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    n_cells, n_planes, n_probe = _prod_graph_knobs(
        e.filter(~is_new).count()
    )
    from distributed_query_engine_spark.catalog import staging_key
    from distributed_query_engine_spark.streaming.ops import _pid_run_dir

    index = str(_pid_run_dir("graph_index_prod_incr", staging_key(sf_dir)))
    S.build_graph_index(
        e.filter(~is_new), index, n_cells=n_cells, n_planes=n_planes
    )
    S.append_to_graph_index(
        spark, e.filter(is_new), index, n_planes=n_planes
    )
    res = S.topk_cosine_graph_index(
        spark, index, _QUERY_IDS, k=5, n_probe=n_probe
    )
    return res.withColumn(
        "is_new", F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    )


@query(
    "llm_similarity_graph_prod_compact",
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
    SELECT q_id, vec_id, cosine, rn,
           (vec_id % {_IVF_NEW_MOD}) >= {_IVF_NEW_LO} AS is_new
    FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_graph_prod_compact(spark, sf_dir):
    """Deployment-knob graph lifecycle, compaction leg: build 90%,
    ingest 10%, compact (full symmetric edge recompute over the stored
    quantizer, generationally published), search — still exact against
    the brute-force panel. Closes the lifecycle at the knobs a
    deployment serves; the pinned-knob trio keeps the fully-replayed
    edge-set oracle at sf0.01."""
    e = Tables(spark, sf_dir).embeddings
    is_new = F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    n_cells, n_planes, n_probe = _prod_graph_knobs(
        e.filter(~is_new).count()
    )
    from distributed_query_engine_spark.catalog import staging_key
    from distributed_query_engine_spark.streaming.ops import _pid_run_dir

    index = str(_pid_run_dir("graph_index_prod_cpt", staging_key(sf_dir)))
    S.build_graph_index(
        e.filter(~is_new), index, n_cells=n_cells, n_planes=n_planes
    )
    S.append_to_graph_index(
        spark, e.filter(is_new), index, n_planes=n_planes
    )
    S.compact_graph_index(spark, index, n_planes=n_planes)
    res = S.topk_cosine_graph_index(
        spark, index, _QUERY_IDS, k=5, n_probe=n_probe
    )
    return res.withColumn(
        "is_new", F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    )


@query(
    "llm_similarity_sq8_incremental",
    # SQ8's ingest contract: the quantizer (per-dim min/max) is learned
    # from the EXISTING 90% and NEVER re-derived; batch values CLAMP to
    # the stored ranges before encoding (saturating at the grid edge),
    # so previously stored codes stay valid. The oracle derives ds from
    # existing rows only and applies the same least/greatest clamp to
    # every row (identity on the defining side) — relational BIGINT
    # dots as in llm_similarity_sq8.
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    ex AS (SELECT vec_id, unnest(range(len(ivec))) AS pos,
                  unnest(ivec) AS x FROM nv),
    ds AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex
           WHERE vec_id % {_IVF_NEW_MOD} < {_IVF_NEW_LO} GROUP BY pos),
    u AS (
      SELECT e.vec_id, e.pos,
             d.mn * {S.SQ_LEVELS}
             + (CASE WHEN d.mx > d.mn
                     THEN CAST(floor(((least(greatest(e.x, d.mn), d.mx) - d.mn)
                                      * {S.SQ_LEVELS})
                                     / (d.mx - d.mn)) AS BIGINT)
                     ELSE 0 END) * (d.mx - d.mn) AS u
      FROM ex e JOIN ds d USING (pos)
    ),
    n AS (SELECT vec_id, CAST(sum(u*u) AS BIGINT) AS unsq
          FROM u GROUP BY vec_id),
    dots AS (
      SELECT qu.vec_id AS q_id, cu.vec_id,
             CAST(sum(qu.u * cu.u) AS BIGINT) AS dotv
      FROM u qu JOIN u cu ON cu.pos = qu.pos AND cu.vec_id != qu.vec_id
      WHERE qu.vec_id IN (0,1,2,3,4)
      GROUP BY qu.vec_id, cu.vec_id
    ),
    scored AS (
      SELECT d.q_id, d.vec_id,
             CAST(d.dotv AS DOUBLE)
               / (sqrt(CAST(nq.unsq AS DOUBLE)) * sqrt(CAST(nc.unsq AS DOUBLE)))
               AS cosine
      FROM dots d
      JOIN n nq ON nq.vec_id = d.q_id
      JOIN n nc ON nc.vec_id = d.vec_id
    )
    SELECT q_id, vec_id, cosine, rn,
           (vec_id % {_IVF_NEW_MOD}) >= {_IVF_NEW_LO} AS is_new
    FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def llm_similarity_sq8_incremental(spark, sf_dir):
    """SQ8 index LIFECYCLE — ingest a batch WITHOUT re-deriving the
    quantizer (operators/similarity.py::build_sq8_index /
    append_to_sq8_index / topk_cosine_sq8_index): per-dim min/max are
    learned from the existing 90% and stored as the versioned ``dims``
    artifact; the new 10% encodes against them with CLAMPING (an
    out-of-range value saturates at the learned grid edge — the
    standard scalar-quantizer ingest rule, same reason IVF never
    retrains centroids on append: re-deriving ranges would invalidate
    every stored code). Search serves entirely from codes + the 1-row
    dims relation; is_new marks batch hits — ingested vectors are
    immediately searchable at full SQ8 quality."""
    e = Tables(spark, sf_dir).embeddings
    is_new = F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    from distributed_query_engine_spark.catalog import staging_key
    from distributed_query_engine_spark.streaming.ops import _pid_run_dir

    index = str(_pid_run_dir("sq8_index_incr", staging_key(sf_dir)))
    S.build_sq8_index(e.filter(~is_new), index)
    S.append_to_sq8_index(spark, e.filter(is_new), index)
    res = S.topk_cosine_sq8_index(spark, index, _QUERY_IDS, k=5)
    return res.withColumn(
        "is_new", F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    )


def _sq8_u_ctes(existing_only: bool = False) -> str:
    """The SQ8 u-value chain (requires ``nv``): per-dim stats, clamped
    8-bit encode, exact u = 255*dequant, norms — shared by the sq8
    search, recall, and incremental oracles."""
    where = (
        f"WHERE vec_id % {_IVF_NEW_MOD} < {_IVF_NEW_LO} " if existing_only else ""
    )
    return f"""
    ex AS (SELECT vec_id, unnest(range(len(ivec))) AS pos,
                  unnest(ivec) AS x FROM nv),
    ds AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex
           {where}GROUP BY pos),
    uq AS (
      SELECT e.vec_id, e.pos,
             d.mn * {S.SQ_LEVELS}
             + (CASE WHEN d.mx > d.mn
                     THEN CAST(floor(((least(greatest(e.x, d.mn), d.mx) - d.mn)
                                      * {S.SQ_LEVELS})
                                     / (d.mx - d.mn)) AS BIGINT)
                     ELSE 0 END) * (d.mx - d.mn) AS u
      FROM ex e JOIN ds d USING (pos)
    ),
    un AS (SELECT vec_id, CAST(sum(u*u) AS BIGINT) AS unsq
           FROM uq GROUP BY vec_id)"""


@query(
    "llm_similarity_sq8_recall",
    # recall@5 + candidate cost of the two SQ8 rungs vs exact cosine on
    # the 25-query panel — the measured-frontier discipline applied to
    # the training-free compression rung (clamp is the identity here:
    # the whole corpus defines the grid).
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    {_sq8_u_ctes()},
    q AS (SELECT vec_id AS q_id, ivec AS q_ivec, nsq AS q_nsq
          FROM nv WHERE vec_id IN ({_RECALL_IDS_SQL})),
    exact_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, n.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 {_COS.format(a='q.q_ivec', b='n.ivec', na='q.q_nsq', nb='n.nsq')} DESC,
                 n.vec_id) AS rn
        FROM q, nv n WHERE n.vec_id != q.q_id) WHERE rn <= 5
    ),
    sq_scored AS (
      SELECT qu.vec_id AS q_id, cu.vec_id,
             CAST(sum(qu.u * cu.u) AS DOUBLE)
               / (sqrt(CAST(nq.unsq AS DOUBLE)) * sqrt(CAST(nc.unsq AS DOUBLE)))
               AS cosine
      FROM uq qu
      JOIN uq cu ON cu.pos = qu.pos AND cu.vec_id != qu.vec_id
      JOIN un nq ON nq.vec_id = qu.vec_id
      JOIN un nc ON nc.vec_id = cu.vec_id
      WHERE qu.vec_id IN ({_RECALL_IDS_SQL})
      GROUP BY qu.vec_id, cu.vec_id, nq.unsq, nc.unsq
    ),
    sq_top AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
        FROM sq_scored) WHERE rn <= 5
    ),
    sq_cand AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
                FROM sq_scored GROUP BY q_id)
    SELECT 'sq8' AS method, e.q_id,
           CAST(count(l.vec_id) AS BIGINT) AS hits,
           count(l.vec_id) / 5.0 AS recall,
           any_value(c.n_candidates) AS n_candidates
    FROM exact_top e
    LEFT JOIN sq_top l USING (q_id, vec_id)
    JOIN sq_cand c ON c.q_id = e.q_id
    GROUP BY e.q_id
    """,
)
def llm_similarity_sq8_recall(spark, sf_dir):
    """recall@5 + candidate cost of the SQ8 rung vs exact cosine on the
    25-query panel — the measured-frontier entry for the training-free
    compression rung (sq8 is brute-force over the whole corpus, so
    n_candidates = corpus−1: its cost story is BYTES at rest, not
    candidate pruning; pair it with IVF for pruning —
    llm_similarity_ivf_sq8). Measured: 0.992 recall@5 at sf0.001,
    0.976 at sf0.01 — the isotropic-corpus winner at equal bytes (the
    PQ ladder needs clustered structure to compete; PLANS.md r13)."""
    e = Tables(spark, sf_dir).embeddings
    k = 5
    exact = S.topk_cosine(e, _RECALL_QUERY_IDS, k=k).select("q_id", "vec_id")
    qz = S.sq8_quantized(e)
    q = qz.filter(F.col("vec_id").isin(_RECALL_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("uvec").alias("q_uvec"),
        F.col("unsq").alias("q_unsq"),
    )
    from distributed_query_engine_spark.functions.vectors import (
        cosine_from_ints,
        dot_long,
    )

    scored = (
        qz.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_from_ints(
                dot_long(F.col("q_uvec"), F.col("uvec")),
                F.col("q_unsq"),
                F.col("unsq"),
            ).alias("cosine"),
        )
    )
    ann = S.topk_with_count(scored, k)
    j = exact.withColumn("ex", F.lit(1)).join(
        ann.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "outer"
    )
    return (
        j.groupBy("q_id")
        .agg(
            F.count(
                F.when(F.col("ex").isNotNull() & F.col("hit").isNotNull(), 1)
            ).alias("n_hits"),
            F.max("n_candidates").alias("n_candidates"),
        )
        .filter(F.col("n_candidates").isNotNull())
        .select(
            F.lit("sq8").alias("method"),
            "q_id",
            F.col("n_hits").cast("long").alias("hits"),
            (F.col("n_hits") / F.lit(float(k))).alias("recall"),
            "n_candidates",
        )
    )
