"""Near-duplicate detection families: exact, MinHash/LSH (+ incremental,
signature store, clusters, recall), SimHash, n-gram Jaccard,
embedding-cosine, substring/span, containment, SemDeDup, corpus
curation + funnel reports. Split from plans/llm.py (r14)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_query_engine_spark.catalog import Tables, local_rows
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

from distributed_query_engine_spark.plans.llm.text import (  # noqa: F401
    _CONT_DEN,
    _CONT_NUM,
    _QUALITY_SQL,
)

@query(
    "llm_dedup_exact",
    oracle="""
    SELECT md5(array_to_string(list_slice(string_split(text, ' '), 1, 5), ' '))
             AS fp_prefix,
           min(doc_id) AS keep_doc,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def llm_dedup_exact(spark, sf_dir):
    # Hash-groupBy dedup: one shuffle on the fingerprint, deterministic
    # keeper (min doc_id). Keyed on the prefix fingerprint because the
    # synthetic corpus has no full-text duplicates (it does have
    # shared-prefix near-dups).
    d = Tables(spark, sf_dir).documents
    return (
        d.select("doc_id", T.fingerprint_prefix(F.col("text"), 5).alias("fp_prefix"))
        .groupBy("fp_prefix")
        .agg(F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_copies"))
    )


_MINHASH_ORACLE = f"""
    WITH {_TOKENS_CTE},
    sigs AS (SELECT doc_id, {_SIG_EXPRS} FROM tt GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    {_jaccard_cte(0.5)}
    SELECT doc_a, doc_b, jaccard, is_dup FROM verified WHERE is_dup
    """

# Star-edge near-duplicate EDGES (operators/dedup.py::minhash_dup_edges
# replayed in SQL): identical-signature groups contribute k−1
# (rep, member) star edges instead of k² pairs; cross-group candidates
# band-join group REPRESENTATIVES only. Both edge families are exact-
# Jaccard-verified. Yields dups(doc_a, doc_b). Token ids use the
# dictionary-FREE md5-mod-P path (hashed=True), mirroring
# minhash_dup_edges' 100 TB default — no global vocabulary sort on
# either engine.
_STAR_EDGE_CTES = f"""
    {_tokens_cte(hashed=True)},
    sigs AS (SELECT doc_id, {_SIG_EXPRS} FROM tt GROUP BY doc_id),
    grp AS (SELECT {_SIG_COLS}, min(doc_id) AS rep
            FROM sigs GROUP BY {_SIG_COLS}),
    star AS (
      SELECT g.rep AS doc_a, s.doc_id AS doc_b
      FROM sigs s JOIN grp g USING ({_SIG_COLS})
      WHERE s.doc_id > g.rep
    ),
    repsigs AS (SELECT rep AS doc_id, {_SIG_COLS} FROM grp),
    bands AS ({_band_selects("repsigs")}),
    crossc AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    cand AS (SELECT doc_a, doc_b FROM star
             UNION ALL SELECT doc_a, doc_b FROM crossc),
    {_jaccard_cte(0.5)},
    dups AS (SELECT doc_a, doc_b FROM verified WHERE is_dup)
    """


@query(
    "llm_dedup_minhash",
    # Headline minhash dedup on the DICTIONARY-FREE token ids
    # (operators/dedup.py::hashed_token_ids): tid is a row-local
    # md5-prefix-mod-P hash, so there is no global vocabulary sort — the
    # one scale-sensitive step of the dictionary path. The oracle replays
    # the identical hash (md5 is byte-identical across engines).
    oracle=lambda: f"""
    WITH {_tokens_cte(hashed=True)},
    sigs AS (SELECT doc_id, {_SIG_EXPRS} FROM tt GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    {_jaccard_cte(0.5)}
    SELECT doc_a, doc_b, jaccard, is_dup FROM verified WHERE is_dup
    """,
)
def llm_dedup_minhash(spark, sf_dir):
    """Scored near-dup pair report on the 100 TB token-id path: no token
    dictionary, no global sort — ids are computed per row; banded-minhash
    candidates, exact-Jaccard verify, thresholded output (sub-threshold
    candidates are verified but not reported — the report would otherwise
    be quadratic in signature-group size; see minhash_dedup_pairs)."""
    d = Tables(spark, sf_dir).documents
    return D.minhash_dedup_pairs(d, threshold=0.5)


@query("llm_dedup_minhash_dict", oracle=_MINHASH_ORACLE)
def llm_dedup_minhash_dict(spark, sf_dir):
    """DICTIONARY-variant minhash dedup — the row_number-arithmetic
    demo: token ids come from a lexicographic vocabulary (broadcast
    dictionary join; operators/dedup.py::token_ids), which the oracle
    replays exactly via row_number() OVER (ORDER BY tok). Output
    contract identical to llm_dedup_minhash (candidate recall can differ
    marginally where 31-bit hashed ids collide; verification is exact
    either way). Kept as the demo of exact cross-engine id arithmetic;
    the hashed path is the scale default."""
    d = Tables(spark, sf_dir).documents
    return D.minhash_dedup_pairs(d, threshold=0.5, hashed=False)


def incremental_dedup_oracle() -> str:
    """The ONE oracle replay shared by all three incremental-dedup
    surfaces (llm_dedup_incremental, llm_dedup_signature_store,
    stream_ingest_dedup — they produce the identical result set by
    contract, so their oracles must never drift apart): incoming docs
    (doc_id % 5 = 0) band-join the corpus (cross) and each other
    (in-batch, later-arrival-is-new orientation), then the standard
    exact-Jaccard verification over the full token relation."""
    return f"""
    WITH {_tokens_cte(hashed=True)},
    sigs AS (SELECT doc_id, {_SIG_EXPRS} FROM tt GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    candx AS (
      SELECT DISTINCT b.doc_id AS doc_a, a.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
    ),
    candn AS (
      SELECT DISTINCT b.doc_id AS doc_a, a.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
      WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
    ),
    cand AS (SELECT doc_a, doc_b FROM candx
             UNION ALL SELECT doc_a, doc_b FROM candn),
    {_jaccard_cte(0.5)}
    SELECT doc_a AS new_doc, doc_b AS dup_of, jaccard, is_dup
    FROM verified WHERE is_dup
    """


@query("llm_dedup_incremental", oracle=incremental_dedup_oracle)
def llm_dedup_incremental(spark, sf_dir):
    """INCREMENTAL near-dup detection — a new ingestion batch (docs with
    doc_id % 5 = 0, ~20% of the table, standing in for today's crawl)
    checked against the existing corpus (the other 80%) WITHOUT
    re-pairing the corpus against itself: the batch's band relation
    broadcasts, the corpus never shuffles, in-batch pairs go through the
    salted self-join. This is the steady-state production shape of
    dedup at 100 TB — per-batch cost scales with the batch, not the
    corpus (operators/dedup.py::incremental_minhash_dedup)."""
    d = Tables(spark, sf_dir).documents
    incoming = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return D.incremental_minhash_dedup(corpus, incoming, threshold=0.5)


@query(
    "llm_dedup_signature_store",
    # Stored signatures are bit-identical to recomputed ones, so the
    # oracle is the shared incremental replay.
    oracle=incremental_dedup_oracle,
)
def llm_dedup_signature_store(spark, sf_dir):
    """Incremental dedup against a PERSISTED signature store — the
    production mechanics made real: corpus signatures are materialized
    to parquet once per source fingerprint (the store generation
    stream_ingest_dedup shares) and the batch dedups against the STORE,
    never re-tokenizing the corpus; the exact-Jaccard verify fetches
    only candidate-hit corpus docs by id (semi-join), so verify scan
    cost tracks the batch too. Identical
    output to llm_dedup_incremental — same signatures, same candidates,
    same verification (operators/dedup.py::incremental_dedup_from_store)."""
    d = Tables(spark, sf_dir).documents
    incoming = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    store = D.corpus_signature_store(spark, sf_dir, "doc_id % 5 != 0")
    return D.incremental_dedup_from_store(
        spark, store, corpus, incoming, threshold=0.5
    )


@query(
    "llm_dedup_clusters",
    oracle=lambda: f"""
    WITH RECURSIVE {_STAR_EDGE_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dups
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM dups
    ),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id, min(lbl) AS component FROM walk GROUP BY node
    """,
)
def llm_dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS: star-edge dup graph (minhash_dup_edges —
    edge count linear in signature-group size, not k²) → connected
    components by iterative min-label propagation (operators/dedup.py::
    connected_components); every document appears, singletons label
    themselves. The oracle states the same fixpoint as a recursive CTE
    (min reachable label) over the same star+representative edges."""
    d = Tables(spark, sf_dir).documents
    edges = D.minhash_dup_edges(d, threshold=0.5)
    comp = D.connected_components(edges)
    return d.select("doc_id").join(
        comp, F.col("doc_id") == F.col("node"), "left"
    ).select(
        "doc_id", F.coalesce("comp", F.col("doc_id")).alias("component")
    )


@query(
    "llm_corpus_curation",
    oracle=lambda: f"""
    WITH RECURSIVE {_STAR_EDGE_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dups
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM dups
    ),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node AS doc_id, min(lbl) AS component FROM walk GROUP BY node),
    scored AS (
      SELECT doc_id, lang, {_QUALITY_SQL} AS quality, md5(text) AS fp
      FROM documents
    ),
    pass AS (SELECT * FROM scored WHERE quality >= 0.5),
    uniq AS (
      SELECT * FROM pass
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    )
    SELECT u.doc_id, u.lang, u.quality, c.component
    FROM uniq u JOIN comp c USING (doc_id)
    QUALIFY row_number() OVER (PARTITION BY c.component ORDER BY u.doc_id) = 1
    """,
)
def llm_corpus_curation(spark, sf_dir):
    """End-to-end training-corpus curation — the composition the
    individual LLM ops exist for:

      quality gate (functions/text.py::quality_score ≥ 0.5)
      → exact dedup (md5 fingerprint, keep lowest doc_id)
      → near-dup dedup (minhash → star-edge dup graph → connected
        components; keep each cluster's lowest surviving doc_id).

    Every stage is the already-oracle-checked operator; the pipeline
    itself is one declarative plan — Catalyst fuses the scalar stages
    into the scans, and the only shuffles are the operators' own."""
    from pyspark.sql.window import Window

    d = Tables(spark, sf_dir).documents
    comp = D.connected_components(D.minhash_dup_edges(d, threshold=0.5)).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    comp_all = d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )
    scored = d.select(
        "doc_id",
        "lang",
        T.quality_score(F.col("text")).alias("quality"),
        T.fingerprint_md5(F.col("text")).alias("fp"),
    )
    passed = scored.filter(F.col("quality") >= 0.5)
    uniq = (
        passed.withColumn(
            "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )
    return (
        uniq.join(comp_all, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("component").orderBy("doc_id")),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "quality", "component")
    )


_SIMHASH_A, _SIMHASH_B = D.hash_params(0)
_SIMHASH_SUMS = ", ".join(
    f"sum(CASE WHEN (((tid*{_SIMHASH_A}+{_SIMHASH_B})%{D.P}) >> {j}) & 1 = 1 "
    f"THEN 1 ELSE -1 END) AS s{j}"
    for j in range(D.SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(D.SIMHASH_BITS)
)


@query(
    "llm_dedup_simhash",
    # hashed=True tokens CTE: simhash shares the dictionary-free
    # md5-mod-P token ids with the minhash default (r6) — no global
    # vocabulary sort on either engine.
    oracle=lambda: f"""
    WITH {_tokens_cte(hashed=True)},
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tt GROUP BY doc_id),
    sh AS (SELECT doc_id, {_SIMHASH_VALUE} AS simhash FROM sums)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b
      ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def llm_dedup_simhash(spark, sf_dir):
    d = Tables(spark, sf_dir).documents
    return D.simhash_near_pairs(d, max_hamming=6)


@query(
    "llm_dedup_simhash_multiband",
    # The multiband blocker (8 bands x 4 bits) has GUARANTEED recall for
    # hamming <= 7 by pigeonhole, so the oracle is the UNRESTRICTED
    # hamming self-join -- exact completeness stated as SQL (the prefix
    # variant's oracle must replicate its own blocking instead).
    oracle=lambda: f"""
    WITH {_tokens_cte(hashed=True)},
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tt GROUP BY doc_id),
    sh AS (SELECT doc_id, {_SIMHASH_VALUE} AS simhash FROM sums)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def llm_dedup_simhash_multiband(spark, sf_dir):
    """Complete-recall simhash near-dup pairs: multi-band LSH blocking
    (operators/dedup.simhash_near_pairs_multiband) whose candidate set
    provably contains EVERY pair within hamming 6 -- the all-pairs
    oracle is the completeness proof, while the engine never runs an
    all-pairs join (banded + salted + group-collapsed, same skew
    discipline as the minhash pipeline)."""
    d = Tables(spark, sf_dir).documents
    return D.simhash_near_pairs_multiband(d, max_hamming=6)


@query(
    "llm_dedup_ngram",
    # Mirrors operators/dedup.py::ngram_jaccard_pairs — the SAME banded-
    # minhash LSH as the word-token pipeline, run over distinct word
    # BIGRAMS with dictionary-FREE md5-mod-P token ids (hashed=True on
    # both sides: the bigram vocabulary is too wide to sort globally).
    # candidate_pairs_grouped is pair-set-identical to the plain
    # distinct band self-join (identical-signature members share every
    # band with their representative), so the oracle states the simple
    # form.
    oracle=lambda: f"""
    WITH {_tokens_cte(_BIGRAM_LIST, hashed=True)},
    sigs AS (SELECT doc_id, {_SIG_EXPRS} FROM tt GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    {_jaccard_cte(0.3)}
    SELECT doc_a, doc_b, jaccard, is_dup FROM verified WHERE is_dup
    """,
)
def llm_dedup_ngram(spark, sf_dir):
    d = Tables(spark, sf_dir).documents
    return D.ngram_jaccard_pairs(d, threshold=0.3)


@query(
    "llm_dedup_embcos",
    oracle=lambda: f"""
    WITH {_IVEC_CTE},
    {_LSH_BUCKET_CTES},
    nb AS (SELECT nv.vec_id, nv.ivec, nv.nsq, b.bucket
           FROM nv JOIN buckets b USING (vec_id))
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
           list_dot_product(a.ivec, b.ivec)
             / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cosine
    FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.ivec, b.ivec)
             / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) >= 0.35
    """,
)
def llm_dedup_embcos(spark, sf_dir):
    """Embedding-cosine near-dup pairs, LSH-bucket-blocked (no raw-label
    blocking — see operators/similarity.py::cosine_near_dup_pairs for
    the scale rationale)."""
    e = Tables(spark, sf_dir).embeddings
    return S.cosine_near_dup_pairs(e, threshold=0.35)


# Shared CTEs of the substring-span family (report / top / mask): the
# 0-based span positions (DuckDB's 1-based generate_series shifted by 1),
# the span text, the md5-prefix-60-bit span id, and the duplicated-gid
# set. generate_series(1, len-k+1) is empty for short docs, matching the
# engine's empty-window slices in operators/dedup._span_gids.
_K1 = D.SPAN_K - 1  # DuckDB's inclusive 1-based slice: tl[i:i+_K1] = K tokens

_SPAN_CTES = f"""
    base AS (SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
    grams AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(tl[i:i+{_K1}], ' ') AS span,
             CAST(('0x' || substr(md5(array_to_string(tl[i:i+{_K1}], ' ')), 1, 15))
               AS BIGINT) AS gid
      FROM base, LATERAL unnest(generate_series(1, len(tl) - {_K1})) AS g(i)
    ),
    dupg AS (SELECT gid FROM grams GROUP BY gid HAVING count(*) >= 2)
"""


@query(
    "llm_dedup_substring",
    # Mirrors operators/dedup.py::duplicated_span_report arithmetically:
    # the same span ids, the same interval-union walk (first span
    # contributes k, later ones min(k, pos - prev)), integer floor-div
    # permille.
    oracle=lambda: f"""
    WITH {_SPAN_CTES},
    steps AS (
      SELECT g.doc_id, g.pos,
             lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS prev
      FROM grams g JOIN dupg USING (gid)
    ),
    cov AS (
      SELECT doc_id, count(*) AS dup_spans,
             sum(CASE WHEN prev IS NULL THEN {D.SPAN_K}
                      ELSE least({D.SPAN_K}, pos - prev) END) AS dup_tokens
      FROM steps GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(greatest(len(b.tl) - {D.SPAN_K - 1}, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(c.dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(c.dup_tokens, 0) * 1000 // len(b.tl) AS BIGINT)
             AS dup_token_permille
    FROM base b LEFT JOIN cov c USING (doc_id)
    """,
)
def llm_dedup_substring(spark, sf_dir):
    """Substring-span exact-dedup report: per doc, the k-token spans
    (k=8) occurring >= 2 times corpus-wide and the union of tokens they
    cover — the rolling-k-gram re-expression of suffix-array dedup (see
    operators/dedup.py::duplicated_span_report for the 100 TB shape:
    row-local span ids, one counted shuffle, dup-only join-back)."""
    d = Tables(spark, sf_dir).documents
    return D.duplicated_span_report(d)


@query(
    "llm_dedup_substring_top",
    # Shared span CTEs; the rank-20 boundary is deterministic via the
    # (count desc, gid asc) tie-break both engines share.
    oracle=lambda: f"""
    WITH {_SPAN_CTES},
    top AS (
      SELECT gid, count(*) AS n_occurrences FROM grams GROUP BY gid
      HAVING count(*) >= 2
      ORDER BY n_occurrences DESC, gid LIMIT 20
    )
    SELECT min(g.span) AS span,
           t.n_occurrences,
           count(DISTINCT g.doc_id) AS n_docs
    FROM grams g JOIN top t USING (gid)
    GROUP BY t.gid, t.n_occurrences
    """,
)
def llm_dedup_substring_top(spark, sf_dir):
    """Boilerplate report: the 20 most frequent duplicated 8-token spans
    with text, occurrence count, and distinct-doc reach (see
    operators/dedup.py::top_duplicated_spans — narrow gid count shuffle,
    TakeOrderedAndProject top-n, winners broadcast back for text)."""
    d = Tables(spark, sf_dir).documents
    return D.top_duplicated_spans(d)


@query(
    "llm_dedup_substring_mask",
    # Shared span CTEs; the masking itself is a nested list lambda on
    # both engines (token index t survives iff no dup position p has
    # p <= t < p+k).
    oracle=lambda: f"""
    WITH {_SPAN_CTES},
    dp AS (
      SELECT g.doc_id, list_sort(list(g.pos)) AS dps
      FROM grams g JOIN dupg USING (gid) GROUP BY g.doc_id
    ),
    masked AS (
      SELECT b.doc_id, b.tl,
             list_filter(
               generate_series(0, len(b.tl) - 1),
               t -> len(list_filter(COALESCE(d.dps, []),
                        p -> p <= t AND t < p + {D.SPAN_K})) = 0
             ) AS kept
      FROM base b LEFT JOIN dp d USING (doc_id)
    )
    SELECT doc_id,
           COALESCE(array_to_string(list_transform(kept, t -> tl[t + 1]), ' '), '')
             AS clean_text,
           CAST(len(tl) AS BIGINT) AS n_tok,
           CAST(len(tl) - len(kept) AS BIGINT) AS n_removed
    FROM masked
    """,
)
def llm_dedup_substring_mask(spark, sf_dir):
    """The substring-dedup TRANSFORM: each document rewritten with every
    token covered by a corpus-duplicated 8-span removed (the cut the
    suffix-array dedup papers apply to the training set; see
    operators/dedup.py::mask_duplicated_spans — narrow gid count
    shuffle, per-doc position lists, row-local nested-lambda mask)."""
    d = Tables(spark, sf_dir).documents
    return D.mask_duplicated_spans(d)


@query(
    "llm_dedup_minhash_recall",
    # Truth and candidates share ONE arithmetic (md5-mod-P tid sets —
    # the same tt CTE the signatures hash), so the recall curve is
    # exact-checkable: the oracle replays the all-pairs tid-set join,
    # the signature/band CTEs, and the decile bucketing verbatim.
    oracle=lambda: f"""
    WITH {_tokens_cte(hashed=True)},
    td AS (SELECT DISTINCT doc_id, tid FROM tt),
    sizes AS (SELECT doc_id, count(*) AS n FROM td GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM td a JOIN td b ON a.tid = b.tid AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.doc_a, i.doc_b,
             CAST((10 * n_inter) // (sa.n + sb.n - n_inter) AS BIGINT) AS bucket
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE (10 * n_inter) // (sa.n + sb.n - n_inter) >= 1
    ),
    sigs AS (SELECT doc_id, {_SIG_EXPRS} FROM tt GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    nt AS (SELECT bucket, count(*) AS n_true FROM truth GROUP BY bucket),
    nh AS (
      SELECT t.bucket, count(*) AS n_hit
      FROM truth t JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
      GROUP BY t.bucket
    )
    SELECT t.bucket, CAST(t.n_true AS BIGINT) AS n_true,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(h.n_hit, 0) * 1000 // t.n_true AS BIGINT)
             AS recall_permille
    FROM nt t LEFT JOIN nh h USING (bucket)
    """,
)
def llm_dedup_minhash_recall(spark, sf_dir):
    """Measured MinHash-LSH recall S-curve by exact-Jaccard decile —
    for each jaccard bucket >= 0.1, the fraction of true pairs the
    banded candidate generation surfaces (see
    operators/dedup.py::minhash_recall_curve; quadratic AUDIT harness,
    production candidate path reused unchanged)."""
    d = Tables(spark, sf_dir).documents
    return D.minhash_recall_curve(d)


_SEMDEDUP_THR = 0.35



@query(
    "llm_semdedup",
    # Mirrors operators/similarity.py::semdedup — the IVF assignment CTE
    # is identical to llm_similarity_ivf's; dups = vectors with a
    # lower-id same-cell neighbor at/above the threshold.
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
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a
      JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE {_COS.format(a='a.ivec', b='b.ivec', na='a.nsq', nb='b.nsq')}
            >= {_SEMDEDUP_THR}
    )
    SELECT a.vec_id, a.cell_id, (d.vec_id IS NULL) AS kept
    FROM assigned a LEFT JOIN dups d ON d.vec_id = a.vec_id
    """,
)
def llm_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    exact cosine WITHIN coarse clusters only — the cluster-then-compare
    pattern that keeps the pairwise cost linear-ish at corpus scale. One
    row per vector with its cell and a kept flag (keep-lowest)."""
    e = Tables(spark, sf_dir).embeddings
    return S.semdedup(e, threshold=_SEMDEDUP_THR)

@query(
    "llm_dedup_containment",
    # The UNRESTRICTED all-qualifying-pairs containment join — the
    # engine runs prefix-filter blocking but is proven complete against
    # an oracle that never blocks (the multiband-simhash pattern:
    # completeness stated as SQL). Any pair with containment ≥ t shares
    # ≥ 1 token, so the token-equijoin enumerates a superset of
    # qualifying pairs and the threshold filter finishes the job.
    oracle=lambda: f"""
    WITH {_tokens_cte()},
    sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tokens GROUP BY doc_id),
    inter AS (
      SELECT ta.doc_id AS doc_a, tb.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tokens ta
      JOIN tokens tb ON tb.tok = ta.tok AND ta.doc_id < tb.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / CAST(least(sa.n_tok, sb.n_tok) AS DOUBLE)
             AS containment,
           CAST(i.n_inter AS DOUBLE)
             / CAST(sa.n_tok + sb.n_tok - i.n_inter AS DOUBLE) AS jaccard,
           i.n_inter = least(sa.n_tok, sb.n_tok) AS is_subset
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE {_CONT_DEN} * i.n_inter >= {_CONT_NUM} * least(sa.n_tok, sb.n_tok)
    """,
)
def llm_dedup_containment(spark, sf_dir):
    """ASYMMETRIC CONTAINMENT DEDUP — |A∩B| / min(|A|,|B|) ≥ 0.8 —
    catches quotes/excerpts/supersets that Jaccard structurally misses
    (a short doc fully inside a long one has jaccard ≈ |A|/|B| but
    containment 1.0). Candidates come from PREFIX FILTERING (the
    PPJoin-family set-similarity join) with a proven completeness
    guarantee and output-sensitive cost; see
    operators/dedup.py::containment_pairs for the scale analysis."""
    d = Tables(spark, sf_dir).documents
    return D.containment_pairs(d, threshold_num=_CONT_NUM, threshold_den=_CONT_DEN)


@query(
    "llm_dedup_cluster_summary",
    # Wraps the llm_dedup_clusters oracle (star edges + recursive walk)
    # in a size histogram; singletons are size-1 clusters.
    oracle=lambda: f"""
    WITH RECURSIVE {_STAR_EDGE_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dups
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM dups
    ),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node),
    csizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS k
               FROM comp GROUP BY component)
    SELECT k AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(k) AS BIGINT) AS n_docs
    FROM csizes GROUP BY k
    """,
)
def llm_dedup_cluster_summary(spark, sf_dir):
    """NEAR-DUP CLUSTER SIZE HISTOGRAM — the one-screen dedup report a
    curation dashboard shows: how many clusters of each size exist and
    how many documents they hold (size 1 = unique docs; the histogram's
    tail is the boilerplate problem made visible, and n_docs − 
    n_clusters summed over sizes ≥ 2 is exactly the dedup savings).
    Built on the full production pipeline — row-local signatures, star
    edges, pointer-jumping connected components — plus two tiny
    rollups over the component relation."""
    d = Tables(spark, sf_dir).documents
    comp = D.connected_components(D.minhash_dup_edges(d, threshold=0.5)).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    comp_all = d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )
    sizes = comp_all.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return sizes.groupBy(F.col("k").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("k").cast("long").alias("n_docs"),
    )


@query(
    "llm_curation_funnel_report",
    # Stage counts of the llm_corpus_curation pipeline — same CTEs,
    # rolled to the one-row funnel a corpus dashboard quotes.
    oracle=lambda: f"""
    WITH RECURSIVE {_STAR_EDGE_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dups
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM dups
    ),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node AS doc_id, min(lbl) AS component FROM walk GROUP BY node),
    scored AS (
      SELECT doc_id, {_QUALITY_SQL} AS quality, md5(text) AS fp
      FROM documents
    ),
    pass AS (SELECT * FROM scored WHERE quality >= 0.5),
    uniq AS (
      SELECT * FROM pass
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ),
    kept AS (
      SELECT u.doc_id
      FROM uniq u JOIN comp c USING (doc_id)
      QUALIFY row_number() OVER (PARTITION BY c.component ORDER BY u.doc_id) = 1
    )
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_raw,
           CAST((SELECT COUNT(*) FROM pass) AS BIGINT) AS n_quality_pass,
           CAST((SELECT COUNT(*) FROM uniq) AS BIGINT) AS n_exact_unique,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_final,
           CAST(1000 * (SELECT COUNT(*) FROM kept)
                  // (SELECT COUNT(*) FROM documents) AS BIGINT)
             AS keep_permille
    """,
)
def llm_curation_funnel_report(spark, sf_dir):
    """CURATION FUNNEL — the one-row report every corpus build quotes:
    raw docs → quality-gate survivors → exact-dedup uniques → near-dup
    cluster winners, with the final keep rate in integer per-mille.
    Each stage count is the exact cardinality of the corresponding
    llm_corpus_curation stage (same operators, same thresholds —
    the funnel and the pipeline can never disagree because they share
    the construction); the counts themselves are scalar aggregates, so
    the report costs the pipeline plus four metadata-sized rollups."""
    from pyspark.sql.window import Window

    d = Tables(spark, sf_dir).documents
    comp = D.connected_components(D.minhash_dup_edges(d, threshold=0.5)).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    comp_all = d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )
    scored = d.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("quality"),
        T.fingerprint_md5(F.col("text")).alias("fp"),
    )
    pass_ = scored.filter(F.col("quality") >= 0.5)
    uniq = pass_.withColumn(
        "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    ).filter(F.col("rn") == 1)
    kept = (
        uniq.join(comp_all, "doc_id")
        .withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("component").orderBy("doc_id")
            ),
        )
        .filter(F.col("crn") == 1)
    )
    n_raw = d.count()
    n_pass = pass_.count()
    n_uniq = uniq.count()
    n_final = kept.count()
    return local_rows(
        d.sparkSession,
        [
            (
                int(n_raw),
                int(n_pass),
                int(n_uniq),
                int(n_final),
                int(1000 * n_final // n_raw),
            )
        ],
        "n_raw long, n_quality_pass long, n_exact_unique long, "
        "n_final long, keep_permille long",
    )

