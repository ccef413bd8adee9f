"""Shared oracle-SQL fragments and panel constants for the llm.* query
family modules (split from the former single plans/llm.py in r14 —
VERDICT r13 item 7). Fragments mirror the Python operator arithmetic
exactly; see operators/dedup.py and functions/vectors.py."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from distributed_query_engine_spark.functions import text as T  # noqa: F401
from distributed_query_engine_spark.functions.vectors import SCALE  # noqa: F401
from distributed_query_engine_spark.operators import dedup as D
from distributed_query_engine_spark.operators import similarity as S

_WORD_LIST = "string_split(text, ' ')"
_BIGRAM_LIST = (
    "list_transform(generate_series(1, len(string_split(text,' ')) - 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])"
)


def _tokens_cte(tok_list_expr: str = _WORD_LIST, hashed: bool = False) -> str:
    """tokens/tt CTEs over any per-doc token-list expression (word split
    or bigram transform) — mirrors operators/dedup.py::tokenize plus
    either the row_number dictionary (token_ids + tid join) or, with
    ``hashed=True``, the row-local md5-prefix-mod-P id
    (hashed_token_ids)."""
    tokens = f"""
tokens AS (
  SELECT doc_id, unnest(list_distinct({tok_list_expr})) AS tok
  FROM documents
)"""
    if hashed:
        return f"""{tokens},
tt AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {D.P} AS tid
  FROM tokens
)
"""
    return f"""{tokens},
dict AS (
  SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tid
  FROM (SELECT DISTINCT tok FROM tokens)
),
tt AS (SELECT t.doc_id, d.tid FROM tokens t JOIN dict d USING (tok))
"""


_TOKENS_CTE = _tokens_cte()

_SIG_EXPRS = ", ".join(
    f"min((tid*{a}+{b})%{D.P}) AS m{i}"
    for i, (a, b) in ((i, D.hash_params(i)) for i in range(D.N_HASHES))
)

_SIG_COLS = ", ".join(f"m{i}" for i in range(D.N_HASHES))


def _band_selects(rel: str = "sigs") -> str:
    return "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS band_key FROM {rel}".format(
            b=b,
            cols=", ".join(
                f"m{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
            ),
            rel=rel,
        )
        for b in range(D.N_BANDS)
    )


_BAND_SELECTS = _band_selects()


def _jaccard_cte(threshold: float, token_rel: str = "tokens") -> str:
    # Every candidate is verified (zero-overlap pairs get jaccard 0 via
    # the left join + COALESCE, mirroring exact_jaccard's contract);
    # callers decide what to report — the pair queries keep only
    # `verified WHERE is_dup` so the OUTPUT stays linear even when the
    # candidate set is quadratic in a signature group's size.
    return f"""
sizes AS (SELECT doc_id, count(*) AS n_tok FROM {token_rel} GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN {token_rel} ta ON ta.doc_id = c.doc_a
  JOIN {token_rel} tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
           / CAST(sa.n_tok + sb.n_tok - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard,
         (CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
           / CAST(sa.n_tok + sb.n_tok - COALESCE(i.n_inter, 0) AS DOUBLE))
           >= {threshold} AS is_dup
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
)
"""


_IVEC_CTE = f"""
iv AS (
  SELECT vec_id, label,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)) AS ivec
  FROM embeddings
),
nv AS (
  SELECT vec_id, label, ivec,
         list_dot_product(ivec, ivec) AS nsq
  FROM iv
)
"""

# Random-hyperplane LSH bucket per vector (operators/similarity.py::
# lsh_bucket replayed in SQL). Zipped unnest iterates the ACTUAL vector
# length — PLANE_STRIDE is the hash's mixing stride, a constant of the
# _plane_dot_sql definition, not a dimensionality assumption. Requires the
# nv CTE; yields buckets(vec_id, bucket). The final left join from nv
# keeps zero-length vectors at bucket 0, matching the Spark side
# (lsh_bucket's null pdots fail `pdot > 0`, leaving bucket = 0) — an
# unnest-only derivation would silently drop such rows from the oracle.
_LSH_BUCKET_CTES = f"""
    ex AS (
      SELECT vec_id, unnest(range(len(ivec))) AS d, unnest(ivec) AS x
      FROM nv
    ),
    pdots AS (
      SELECT vec_id, p.j,
             sum(x * (CASE WHEN ((p.j*{S.PLANE_STRIDE} + d + 1) * {S.MIX}) % {S.M32}
                           < {S.M32 // 2} THEN 1 ELSE -1 END)) AS pdot
      FROM ex, generate_series(0, {S.N_PLANES - 1}) p(j)
      GROUP BY vec_id, p.j
    ),
    nonempty_buckets AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN pdot > 0 THEN (1::BIGINT << j) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM pdots GROUP BY vec_id
    ),
    buckets AS (
      SELECT nv.vec_id, COALESCE(b.bucket, 0) AS bucket
      FROM nv LEFT JOIN nonempty_buckets b ON b.vec_id = nv.vec_id
    )
"""


# Multi-probe mask list (operators/similarity.py::PROBE_MASKS): all
# N_PLANES-bit patterns with popcount <= MULTIPROBE_H.
_PROBE_MASKS_SQL = ", ".join(str(m) for m in S.PROBE_MASKS)


def _sql_lang_hits(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in T.LANG_MARKERS[lang])
    return (
        "len(list_intersect(list_distinct(string_split(text, ' ')), "
        f"[{markers}]))"
    )


def _sql_lang_predict() -> str:
    whens = []
    for idx, lg in enumerate(T.LANG_ORDER):
        conds = []
        for jdx, other in enumerate(T.LANG_ORDER):
            if other == lg:
                continue
            op = ">" if jdx < idx else ">="
            conds.append(f"h_{lg} {op} h_{other}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    return "CASE " + " ".join(whens) + f" ELSE '{T.LANG_ORDER[0]}' END"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
_QUERY_IDS = [0, 1, 2, 3, 4]
# The recall measurement uses a wider panel: 5 queries = 25 ground-truth
# pairs, whose recall estimate swung +-0.2 between SFs (r8 sweep); 25
# queries = 125 pairs is stable to ~+-0.05.
_RECALL_QUERY_IDS = list(range(25))
_RECALL_IDS_SQL = ", ".join(str(i) for i in _RECALL_QUERY_IDS)

# vec_id % _IVF_NEW_MOD >= _IVF_NEW_LO are the "new batch" (10% of the
# corpus); the rest is the existing indexed corpus. The lowest-id
# centroid seeds (vec_id < N_CELLS) all fall in the existing side, so
# the incremental index's quantizer is identical to the full rebuild's
# — which makes "incremental ingest reproduces full-rebuild search
# results exactly" the checkable contract.
_IVF_NEW_MOD = 100
_IVF_NEW_LO = 90

_COS = (
    "list_dot_product({a}, {b}) / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)))"
)
