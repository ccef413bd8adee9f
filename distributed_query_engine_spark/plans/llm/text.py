"""Text-analysis queries: stats, lang-id, quality, token counts, BPE
train/encode/pair-stats, fingerprints, repetition, tf-idf,
decontamination, normalization, PII, surprisal, URL canonicalization,
feature hashing, vocab/OOV coverage. Split from plans/llm.py (r14)."""

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

@query(
    "llm_text_stats",
    oracle="""
    SELECT doc_id, lang,
           length(text) AS n_chars_calc,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 9) AS mean_tok_len
    FROM documents
    """,
)
def llm_text_stats(spark, sf_dir):
    d = Tables(spark, sf_dir).documents
    w = T.words(F.col("text"))
    n_tok = F.size(w).cast("long")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct_tokens"),
        F.round(
            (F.length("text").cast("long") - (n_tok - 1)).cast("double")
            / n_tok.cast("double"),
            9,
        ).alias("mean_tok_len"),
    )


@query(
    "llm_lang_id",
    oracle=lambda: f"""
    SELECT doc_id, lang,
           {_sql_lang_hits('en')} AS h_en, {_sql_lang_hits('es')} AS h_es,
           {_sql_lang_hits('de')} AS h_de, {_sql_lang_hits('fr')} AS h_fr,
           {_sql_lang_hits('zh')} AS h_zh,
           {_sql_lang_predict()} AS predicted
    FROM (SELECT doc_id, lang, text,
                 {_sql_lang_hits('en')} AS h_en, {_sql_lang_hits('es')} AS h_es,
                 {_sql_lang_hits('de')} AS h_de, {_sql_lang_hits('fr')} AS h_fr,
                 {_sql_lang_hits('zh')} AS h_zh
          FROM documents)
    """,
)
def llm_lang_id(spark, sf_dir):
    # Marker-stopword language ID (the n-gram-heuristic family): emit the
    # per-language evidence AND the deterministic argmax.
    d = Tables(spark, sf_dir).documents
    t = F.col("text")
    return d.select(
        "doc_id",
        "lang",
        T.lang_hits(t, "en").alias("h_en"),
        T.lang_hits(t, "es").alias("h_es"),
        T.lang_hits(t, "de").alias("h_de"),
        T.lang_hits(t, "fr").alias("h_fr"),
        T.lang_hits(t, "zh").alias("h_zh"),
        T.lang_predict(t).alias("predicted"),
    )


# DuckDB twin of functions/text.py::quality_score, shared by
# llm_quality_score and llm_corpus_curation.
_QUALITY_SQL = """round((
             (CASE WHEN length(text) >= 100 AND length(text) <= 1000
                   THEN 1.0 ELSE 0.0 END)
             + (CASE WHEN
                  CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
                    / CAST(len(string_split(text,' ')) AS DOUBLE) >= 3.0
                 AND
                  CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
                    / CAST(len(string_split(text,' ')) AS DOUBLE) <= 10.0
                 THEN 1.0 ELSE 0.0 END)
             + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE)
           ) / 3.0, 9)"""


@query(
    "llm_quality_score",
    oracle=lambda: f"SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents",
)
def llm_quality_score(spark, sf_dir):
    d = Tables(spark, sf_dir).documents
    return d.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


@query(
    "llm_token_count",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]', 0))
             AS n_bpe_ish_tokens
    FROM documents
    """,
)
def llm_token_count(spark, sf_dir):
    d = Tables(spark, sf_dir).documents
    return d.select(
        "doc_id",
        T.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        T.token_count_bpe_ish(F.col("text")).alias("n_bpe_ish_tokens"),
    )


@query(
    "llm_bpe_pair_stats",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    pairs AS (
      SELECT substr(w, i, 2) AS pair
      FROM words, unnest(range(1, length(w))) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def llm_bpe_pair_stats(spark, sf_dir):
    """BPE MERGE-PAIR STATISTICS — the counting core of tokenizer
    training: for every in-word adjacent character pair, its corpus
    frequency; the top pair IS the first BPE merge decision, and
    iterating this count-merge-recount loop is the whole algorithm.
    Expressed as pure JVM expressions: lowercase split to words, each
    word explodes its length−1 adjacent pairs via a sequence
    transform, then ONE partial-aggregated shuffle keyed on the pair
    (alphabet², a tiny key space, so map-side combine collapses almost
    everything before the exchange). Top-20 with a full (count, pair)
    tiebreak plans as TakeOrderedAndProject.

    100 TB: the explode fans out ~|chars| rows but they collapse into
    ≤ |alphabet|² partial-agg cells per task before shuffling — the
    canonical word-count shape; subsequent BPE iterations re-run the
    same plan over the re-tokenized corpus (the merge table itself is
    a broadcast-sized artifact)."""
    d = Tables(spark, sf_dir).documents
    words = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


# Ordered BPE merge table applied by llm_bpe_encode — the artifact a
# llm_bpe_pair_stats training loop would produce (rank order matters:
# later merges consume tokens earlier merges created, e.g. t+h -> th,
# then th+e -> the). Single source of truth for BOTH the Spark plan and
# the DuckDB oracle.
_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("i", "n"),
    ("a", "n"),
    ("r", "e"),
    ("o", "n"),
    ("e", "r"),
    ("th", "e"),
    ("an", "d"),
    ("o", "u"),
    ("s", "t"),
)


def _bpe_encode_oracle() -> str:
    # Same delimiter-string trick as the Spark side (see docstring):
    # '||a||b||' with pattern '|a||b|' -> '|ab|' keeps the double-pipe
    # frame intact, so one non-overlapping left-to-right replace() per
    # merge IS the greedy BPE merge application.
    s = "'|' || regexp_replace(w, '(.)', '|\\1|', 'g') || '|'"
    for a, b in _BPE_MERGES:
        s = f"replace({s}, '|{a}||{b}|', '|{a}{b}|')"
    return f"""
    WITH words AS (
      SELECT w FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$')
    ),
    enc AS (SELECT {s} AS s FROM words),
    toks AS (
      SELECT unnest(string_split(trim(s, '|'), '||')) AS token FROM enc
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks GROUP BY token ORDER BY n DESC, token LIMIT 30
    """


@query("llm_bpe_encode", oracle=_bpe_encode_oracle)
def llm_bpe_encode(spark, sf_dir):
    """BPE ENCODE — apply a learned, ordered merge table to the corpus
    (the other half of tokenizer training next to llm_bpe_pair_stats,
    which COUNTS candidate merges). Output: the resulting token
    vocabulary's top-30 frequency table, which pins every merge's
    application exactly.

    Each word becomes a delimiter-framed character string
    ``||c1||c2||...||`` and each merge (a, b) -> ab is ONE literal
    ``replace('|a||b|' -> '|ab|')``. Because the pattern consumes only
    the INNER pipes, adjacent matches keep their frames and a single
    non-overlapping left-to-right replace() reproduces greedy BPE merge
    semantics exactly — including hierarchical merges (th+e) over
    tokens produced by earlier ranks. The whole merge loop is K chained
    string functions per row: row-local, zero shuffles, inside
    whole-stage codegen; only the final vocab count shuffles (keyed on
    a vocab-sized space, so map-side combine collapses it).

    100 TB: encode is scan + project (IO-bound, the ideal shape); the
    merge table is a driver-side constant exactly as a real trained
    tokenizer ships its merges file to every executor."""
    d = Tables(spark, sf_dir).documents
    words = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$"))
    toks = words.select(
        F.explode(T.bpe_encode(F.col("w"), _BPE_MERGES)).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(30)
    )


# Number of merges llm_bpe_train learns. Small because each iteration
# is a full corpus re-tokenization (the canonical BPE training loop);
# a production run batches more merges per scan.
_BPE_TRAIN_K = 6


def _bpe_train_ctes() -> list[str]:
    # The data-dependent training loop as a CTE chain: iteration k's
    # encode uses scalar subqueries over best{k-1} inside replace(), so
    # the oracle learns its merges from the data exactly like the
    # engine does — no hardcoded expected pairs. Shared by the train
    # oracle (selects the best{k} rows) and the pack_sequences_bpe
    # oracle (applies best1..bestK to per-doc words).
    ctes = [
        "words AS (SELECT w FROM (SELECT unnest(string_split(lower(text),"
        " ' ')) AS w FROM documents) WHERE regexp_matches(w, '^[a-z]+$'))",
        "enc0 AS (SELECT '|' || regexp_replace(w, '(.)', '|\\1|', 'g')"
        " || '|' AS s FROM words)",
    ]
    selects = []
    for k in range(1, _BPE_TRAIN_K + 1):
        prev = f"enc{k - 1}"
        ctes.append(
            f"toks{k} AS (SELECT string_split(trim(s, '|'), '||') AS ts"
            f" FROM {prev})"
        )
        ctes.append(
            f"""pairs{k} AS (
              SELECT t.p[1] AS a, t.p[2] AS b FROM (
                SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
                       i -> [ts[i], ts[i + 1]])) AS p
                FROM toks{k} WHERE len(ts) >= 2) t)"""
        )
        ctes.append(
            f"""best{k} AS (
              SELECT a, b, CAST(count(*) AS BIGINT) AS n
              FROM pairs{k} GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1)"""
        )
        if k < _BPE_TRAIN_K:
            ctes.append(
                f"""enc{k} AS (
                  SELECT replace(s,
                    '|' || (SELECT a FROM best{k}) || '||'
                        || (SELECT b FROM best{k}) || '|',
                    '|' || (SELECT a || b FROM best{k}) || '|') AS s
                  FROM {prev})"""
            )
    return ctes


def _bpe_train_oracle() -> str:
    ctes = _bpe_train_ctes()
    selects = [
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, a AS pair_left,"
        f" b AS pair_right, a || b AS merged, n FROM best{k}"
        for k in range(1, _BPE_TRAIN_K + 1)
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects) + "\nORDER BY merge_rank"
    )


def _train_bpe_merges(d) -> list[tuple[int, str, str, str, int]]:
    """The BPE training loop shared by llm_bpe_train (returns the merge
    table) and llm_pack_sequences_bpe (consumes the learned merges):
    K rounds of count-pairs → argmax (ties lexical) → merge everywhere.
    Each iteration collects exactly ONE row; the corpus stays on
    executors. Returns (rank, a, b, merged, n) rows.

    DELTA RE-ENCODE (VERDICT r9 item 2): the loop used to re-tokenize
    every word from scratch through the k−1 merges learned so far — K
    full corpus scans each dragging a k-deep replace() chain (O(K²)
    replace applications, 68 s at sf1). Iteration k only CHANGES words
    containing the just-learned pair, so instead we keep the corpus in
    bpe_encode's delimiter-string form (``|a||b||c|``) as a PERSISTED
    relation and apply each new merge as ONE literal ``replace()`` over
    it — a no-op on non-containing rows, which is strictly cheaper than
    a filter + union (that shape scans the cached relation twice and
    shuffles the union). ``replace(replace(enc0, m1), m2, …)`` is
    literally the same expression chain bpe_encode builds, just
    materialized between steps, so the learned table is identical by
    construction (property-pinned vs the pure-Python trainer in
    tests/test_properties.py; oracle unchanged). Per-iteration cost
    drops from corpus-scan × k replaces to cached-scan × 1 replace; the
    previous iteration's cache is released as soon as its successor is
    materialized, so at most two vocab-bounded string relations are
    ever pinned. The raw scan is spread first (_spread_narrow_scan) so
    the encode/count work of every iteration runs at session
    parallelism — a compact corpus arrives in ONE split (r9 lesson)."""
    from pyspark import StorageLevel

    from distributed_query_engine_spark.operators.dedup import (
        _spread_narrow_scan,
    )

    words = (
        _spread_narrow_scan(d.select("doc_id", "text"))
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
    )
    enc = words.select(
        F.concat(
            F.lit("|"), F.regexp_replace("w", "(.)", "|$1|"), F.lit("|")
        ).alias("s")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    prev = None
    rows_out: list[tuple[int, str, str, str, int]] = []
    try:
        for k in range(1, _BPE_TRAIN_K + 1):
            # sliding_windows, not element_at(ts, i): a lambda-body
            # reference re-evaluates per PAIR — the window form
            # evaluates the split O(1) times per word (r9 audit).
            toks = F.split(
                F.regexp_replace("s", r"^\|\||\|\|$", ""), r"\|\|"
            )
            tok_df = enc.select(toks.alias("ts")).filter(F.size("ts") >= 2)
            pairs = tok_df.select(
                F.explode(T.sliding_windows(F.col("ts"), 2)).alias("p")
            ).select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
            top = (
                pairs.groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            # this collect materialized `enc`, so its parent's cache
            # (consumed only to build `enc`) can be dropped now
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top:
                # degenerate corpus ran out of adjacent pairs before K
                # merges: stop with the merges learned so far. The
                # oracle degrades identically — its empty best{k} makes
                # every later enc/best CTE empty, so both sides emit
                # rows only for the learnable ranks.
                break
            best = top[0]
            rows_out.append((k, best.a, best.b, best.a + best.b, best.n))
            if k < _BPE_TRAIN_K:
                prev = enc
                enc = enc.select(
                    F.replace(
                        "s",
                        F.lit(f"|{best.a}||{best.b}|"),
                        F.lit(f"|{best.a}{best.b}|"),
                    ).alias("s")
                ).persist(StorageLevel.MEMORY_AND_DISK)
    finally:
        enc.unpersist()
        if prev is not None:
            prev.unpersist()
    return rows_out


@query("llm_bpe_train", oracle=_bpe_train_oracle)
def llm_bpe_train(spark, sf_dir):
    """BPE TRAINING — learn a merge table from the corpus: K rounds of
    count-all-adjacent-pairs → take the most frequent (ties: lexical)
    → merge it everywhere → recount. This is the actual BPE algorithm,
    closing the tokenizer story: llm_bpe_pair_stats is one iteration's
    counting step, llm_bpe_encode applies a learned table, this LEARNS
    the table. Output: the merge table itself (rank, pair, merged
    token, frequency) — the broadcast-sized artifact a tokenizer ships.

    Driver loop legitimacy: each iteration collects exactly ONE row
    (the argmax pair — a scalar aggregate, same pattern as pagerank's
    per-iteration convergence check); the corpus never leaves
    executors. Each iteration re-tokenizes from the raw words through
    the merges learned so far (functions/text.py::bpe_encode — K
    chained row-local replaces, zero shuffles), then ONE
    partial-aggregated pair count over a vocab-sized key space.

    100 TB: K full corpus scans is the canonical trade of iterative
    training; production batches many merges per scan and/or trains on
    a sample — both are this same loop with different constants. The
    oracle replays the identical data-dependent loop in SQL (scalar
    subqueries select each round's argmax), so the learned table is
    exact-checked without hardcoding what it learns."""
    d = Tables(spark, sf_dir).documents
    rows_out = _train_bpe_merges(d)
    return local_rows(
        spark,
        rows_out,
        "merge_rank bigint, pair_left string, pair_right string, "
        "merged string, n bigint",
    )


@query(
    "llm_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp_full,
           md5(array_to_string(list_slice(string_split(text, ' '), 1, 5), ' '))
             AS fp_prefix
    FROM documents
    """,
)
def llm_fingerprint(spark, sf_dir):
    d = Tables(spark, sf_dir).documents
    return d.select(
        "doc_id",
        T.fingerprint_md5(F.col("text")).alias("fp_full"),
        T.fingerprint_prefix(F.col("text"), 5).alias("fp_prefix"),
    )


@query(
    "llm_repetition_stats",
    # Gopher-style repetition signals, computed ROW-LOCALLY with
    # higher-order array functions (zero shuffles — the whole query is
    # scan + project inside codegen; at 100 TB it is IO-bound, the ideal
    # shape for a per-doc quality filter).
    oracle="""
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tok,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq,
           CAST(list_max(list_transform(list_distinct(ws),
                    t -> len(list_filter(ws, x -> x = t)))) AS DOUBLE)
             / CAST(len(ws) AS DOUBLE) AS top_tok_frac,
           CASE WHEN len(ws) >= 2
                THEN CAST(len(bs) - len(list_distinct(bs)) AS DOUBLE)
                     / CAST(len(bs) AS DOUBLE)
                ELSE 0.0 END AS dup_bigram_frac
    FROM (
      SELECT doc_id, string_split(text, ' ') AS ws,
             list_transform(generate_series(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])
               AS bs
      FROM documents)
    """,
)
def llm_repetition_stats(spark, sf_dir):
    """Per-document repetition metrics (the Gopher rules' signals):
    token counts, most-frequent-token fraction, duplicate-bigram
    fraction. Everything is a per-row array expression — no explode, no
    shuffle, no UDF."""
    d = Tables(spark, sf_dir).documents
    ws = F.split(F.col("text"), " ")
    # sliding_windows (ws evaluated O(1)/row) — the element_at(ws, i)
    # form re-ran split() per bigram (r9 re-eval audit)
    grams = F.transform(
        T.sliding_windows(ws, 2), lambda s: F.concat_ws(" ", s["0"], s["1"])
    )
    # max token frequency as the longest run of the SORTED array — one
    # O(n log n) sort + one aggregate pass, vs the previous
    # distinct×filter double scan (O(n²) compares with ws re-split per
    # distinct token). aggregate()'s argument evaluates once per row.
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    run = lambda acc, x: F.when(  # noqa: E731
        x == acc["prev"], acc["run"] + 1
    ).otherwise(F.lit(1))
    # `best` folds in the PREVIOUS step's run, so the run CASE is
    # spliced exactly once per element (r10 ADVICE — the old form
    # evaluated it twice, once for `run` and once inside greatest);
    # the final run is folded in by the finish lambda.
    top_cnt = F.aggregate(
        F.array_sort(ws),
        zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], acc["run"]).alias("best"),
        ),
        lambda acc: F.greatest(acc["best"], acc["run"]),
    )
    dup_bigram = F.when(
        F.size(ws) >= 2,
        (F.size(grams) - F.size(F.array_distinct(grams))).cast("double")
        / F.size(grams).cast("double"),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_tok"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_uniq"),
        (top_cnt.cast("double") / F.size(ws).cast("double")).alias("top_tok_frac"),
        dup_bigram.alias("dup_bigram_frac"),
    )


@query(
    "llm_tfidf_topterms",
    # score = tf * N / df as ONE double division of exact integers —
    # no ln(), so both engines produce bit-identical doubles and the
    # ranking (score DESC, tok ASC) is engine-exact.
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id, tok, tf, df, tfidf, rn FROM (
      SELECT t.doc_id, t.tok, t.tf, d.df,
             CAST(t.tf * n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE) AS tfidf,
             CAST(row_number() OVER (PARTITION BY t.doc_id ORDER BY
                 CAST(t.tf * n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE) DESC,
                 t.tok) AS BIGINT) AS rn
      FROM tf t JOIN dfreq d USING (tok), n)
    WHERE rn <= 3
    """,
)
def llm_tfidf_topterms(spark, sf_dir):
    """Top-3 TF-IDF terms per document. Scale shape: the document-
    frequency table is vocabulary-sized (broadcast to the tf relation),
    the corpus count is one scalar, and the only data-sized shuffles are
    the (doc, tok) aggregate and the per-doc top-k window — which Spark
    4 executes as a partial WindowGroupLimit before the shuffle."""
    from pyspark.sql.window import Window

    d = Tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(T.words(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            (
                (F.col("tf") * F.col("n_docs")).cast("double")
                / F.col("df").cast("double")
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "llm_decontaminate",
    # Benchmark decontamination: training docs sharing any word 5-gram
    # with the (broadcast-small) eval set are flagged with their
    # distinct-collision count. Eval set here = doc_id < 10 (stand-in
    # for a benchmark suite; the mechanism is the point).
    oracle="""
    WITH tg AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, len(string_split(text,' ')) - 4),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
            || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3]
            || ' ' || string_split(text,' ')[i+4]))) AS tok
      FROM documents WHERE doc_id >= 10
    ),
    eg AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
          generate_series(1, len(string_split(text,' ')) - 4),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
            || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3]
            || ' ' || string_split(text,' ')[i+4]))) AS tok
      FROM documents WHERE doc_id < 10
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM tg JOIN eg USING (tok)
    GROUP BY doc_id
    """,
)
def llm_decontaminate(spark, sf_dir):
    """Training-vs-benchmark n-gram contamination check: the eval set's
    distinct 5-grams broadcast to the training scan; one shuffle (the
    per-doc collision count) of only the COLLIDING rows. At 100 TB the
    eval suite is tiny by construction, so the corpus never reshuffles
    on content — the canonical decontamination shape."""
    d = Tables(spark, sf_dir).documents
    train = d.filter(F.col("doc_id") >= 10)
    holdout = d.filter(F.col("doc_id") < 10)
    tg = D.word_ngrams(train, 5)
    eg = D.word_ngrams(holdout, 5).select("tok").distinct()
    return (
        tg.join(F.broadcast(eg), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@query(
    "llm_text_normalize",
    # DuckDB regexp_replace is first-match-only without the 'g' flag;
    # Spark's replaces all occurrences — the oracle passes 'g' so both
    # engines apply the same global rewrite.
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
    FROM documents
    """,
)
def llm_text_normalize(spark, sf_dir):
    """Canonical text normalization for dedup/tokenization: lowercase,
    non-alphanumerics to spaces, whitespace collapsed, trimmed. Pure
    codegen string expressions — scan-bound at any scale."""
    d = Tables(spark, sf_dir).documents
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.select("doc_id", norm.alias("norm"))


@query(
    "llm_pii_redact",
    # The synthetic corpus carries no PII, so both engines first seed
    # deterministic markers (an email for doc_id % 3 = 0, a phone for
    # doc_id % 7 = 2) and then scrub them — the redaction mechanics are
    # what is under test, and the injection makes them observable.
    # DuckDB regexp_replace needs the 'g' flag to match Spark's
    # replace-all; counts come from len(regexp_extract_all) vs Spark's
    # regexp_count.
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com now'
                  WHEN doc_id % 7 = 2
                    THEN text || ' call +1-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+'))
                AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\\+1-555-[0-9]{4}'))
                AS INT) AS n_phones,
           regexp_replace(regexp_replace(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+', '[EMAIL]', 'g'),
               '\\+1-555-[0-9]{4}', '[PHONE]', 'g') AS redacted
    FROM seeded
    """,
)
def llm_pii_redact(spark, sf_dir):
    """PII scrub for corpus curation: count and redact email/phone
    patterns. Pure codegen regex over the scan — no shuffle, no UDF;
    at 100 TB this is scan-bound and embarrassingly parallel, the same
    shape as any rule-based cleaning pass."""
    d = Tables(spark, sf_dir).documents
    email = "[a-z0-9._%+-]+@[a-z0-9.-]+"
    phone = r"\+1-555-[0-9]{4}"
    seeded = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).when(
        F.col("doc_id") % 7 == 2,
        F.concat(
            F.col("text"),
            F.lit(" call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    return d.select("doc_id", seeded.alias("text")).select(
        "doc_id",
        F.regexp_count("text", F.lit(email)).alias("n_emails"),
        F.regexp_count("text", F.lit(phone)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", email, "[EMAIL]"), phone, "[PHONE]"
        ).alias("redacted"),
    )
@query(
    "llm_unigram_surprisal",
    oracle="""
    WITH occ AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq),
    scored AS (
      SELECT o.doc_id,
             CAST(length(bin(t.n)) - length(bin(f.c)) AS BIGINT) AS surp
      FROM occ o JOIN freq f USING (tok) CROSS JOIN tot t
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(surp) AS BIGINT) AS surp_sum,
           CAST((1000 * SUM(surp)) // COUNT(*) AS BIGINT) AS mean_surp_milli
    FROM scored GROUP BY doc_id
    """,
)
def llm_unigram_surprisal(spark, sf_dir):
    """QUALITY SCORING BY UNIGRAM LM SURPRISAL — the statistical-LM
    complement to the heuristic llm_quality_score: documents whose
    tokens are corpus-rare score high (gibberish/boilerplate-free text
    detection), stopword soup scores low. Surprisal per occurrence is
    the INTEGER log2 bucket bits(N) − bits(c) (bit-length of the corpus
    total minus bit-length of the token count) — deliberately
    transcendental-free: ln() is not guaranteed bit-identical across
    engines, so the exact-oracle contract uses the integer
    approximation and a production deployment swaps in the one-line
    double-precision ln variant where cross-engine replay isn't a
    requirement.

    Scale shape: token OCCURRENCES (not the distinct sets — an LM
    counts multiplicity) aggregate to a vocabulary-sized freq relation
    (partial-agg'd map-side, so stopword skew collapses before the
    shuffle); the corpus total is a single broadcast row; the freq join
    back to occurrences broadcasts at local vocab sizes and degrades to
    a shuffle join on tok at web-scale vocabularies (the same
    documented trade as llm_tfidf_topterms); the per-doc rollup is one
    partial-agg'd shuffle on doc_id. Integer-only arithmetic
    throughout, including the milli-mean (floor division)."""
    d = Tables(spark, sf_dir).documents
    occ = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("long").alias("n"))
    bits = lambda col: F.length(F.bin(col)).cast("long")  # noqa: E731
    scored = (
        occ.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", (bits(F.col("n")) - bits(F.col("c"))).alias("surp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("surp").cast("long").alias("surp_sum"),
        F.expr("CAST((1000 * sum(surp)) div count(1) AS BIGINT)").alias(
            "mean_surp_milli"
        ),
    )


_CONT_NUM, _CONT_DEN = 4, 5  # containment threshold 4/5, kept rational


@query(
    "llm_url_canonicalize",
    # Messy URLs synthesized deterministically from doc_id (mixed-case
    # host, tracking params, fragments, trailing slash — each present
    # iff a doc_id bit is set), then canonicalized with the same string
    # pipeline in both engines.
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             'HTTPS://' ||
             CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END ||
             'Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM' ||
             '/Docs/' || CAST(doc_id % 50 AS VARCHAR) ||
             CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x&ref=y' ELSE '' END ||
             CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(url), '[?#].*$', ''),
                 '^https://www\\.', 'https://'),
               '/$', '') AS curl
      FROM raw
    )
    SELECT curl,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc
    FROM canon GROUP BY curl
    """,
)
def llm_url_canonicalize(spark, sf_dir):
    """URL CANONICALIZATION DEDUP — the first pass of every web-corpus
    pipeline: lowercase, strip query strings and fragments (tracking
    params make distinct strings of the same resource), drop the www
    prefix and trailing slash, then group — each canonical URL keeps
    its lowest doc_id (the crawl-order winner). Entirely row-local
    string expressions (three regexp_replace + lower inside codegen,
    no UDF) followed by one partial-agg'd shuffle on the canonical
    URL. The messy inputs are synthesized deterministically from
    doc_id bits so the canonicalization is exercised against every
    combination of case/www/slash/query/fragment noise and the oracle
    replays it exactly."""
    d = Tables(spark, sf_dir).documents
    did = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(did % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Example"), (did % 7).cast("string"), F.lit(".COM"),
        F.lit("/Docs/"), (did % 50).cast("string"),
        F.when(did % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("?utm_source=x&ref=y")).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), r"[?#].*$", ""),
            r"^https://www\.", "https://",
        ),
        r"/$", "",
    )
    return (
        d.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_doc"),
        )
    )


@query(
    "llm_bigram_conditional_surprisal",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1])) AS bigram,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i])) AS w1
      FROM words WHERE len(w) >= 2
    ),
    cb AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
    cu AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY 1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(length(bin(u.c1)) - length(bin(d.c2))) AS BIGINT)
             AS surp_sum,
           CAST((1000 * SUM(length(bin(u.c1)) - length(bin(d.c2))))
                  // COUNT(*) AS BIGINT) AS mean_surp_milli
    FROM bg b JOIN cb d USING (bigram) JOIN cu u USING (w1)
    GROUP BY b.doc_id
    """,
)
def llm_bigram_conditional_surprisal(spark, sf_dir):
    """CONDITIONAL BIGRAM LM SCORING — the second-order companion to
    llm_unigram_surprisal: per-occurrence surprisal of w2 GIVEN w1 in
    integer log2 buckets, bits(c(w1)) − bits(c(w1 w2)) ≈ −log2 P(w2|w1)
    (same transcendental-free contract). Documents whose word
    TRANSITIONS are corpus-unusual score high even when every
    individual word is common — the signal unigram models miss, and
    the cheap proxy for LM-based quality filtering. Shape: one bigram
    explode feeding two frequency relations (bigram and
    conditioning-word counts, both partial-agg'd), joined back and
    rolled up per doc — the same documented broadcast→shuffle
    degradation story as the unigram variant, one order higher."""
    d = Tables(spark, sf_dir).documents
    w = F.split("text", " ")
    # sliding_windows: projection collapse re-inlines the w alias, so
    # element_at("w", i) in the lambda re-ran split() per bigram (r9
    # re-eval audit); the window form evaluates it O(1)/row
    bg = (
        d.select("doc_id", F.explode(T.sliding_windows(w, 2)).alias("p"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("p.0"), F.col("p.1")).alias("bigram"),
            F.col("p.0").alias("w1"),
        )
    )
    cb = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    cu = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bits = lambda col: F.length(F.bin(col)).cast("long")  # noqa: E731
    surp = bits(F.col("c1")) - bits(F.col("c2"))
    return (
        bg.join(cb, "bigram")
        .join(cu, "w1")
        .select("doc_id", surp.alias("surp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("surp").cast("long").alias("surp_sum"),
            F.expr("CAST((1000 * sum(surp)) div count(1) AS BIGINT)").alias(
                "mean_surp_milli"
            ),
        )
    )


@query(
    "llm_feature_hashing",
    # Replays the hashing trick arithmetically: bucket = tid % 16, sign
    # from bit 4 of the md5-mod-P token id; contributions sum exactly.
    oracle=lambda: f"""
    WITH {_tokens_cte(hashed=True)}
    SELECT doc_id,
           CAST(tid % 16 AS BIGINT) AS j,
           CAST(SUM(CASE WHEN (tid // 16) % 2 = 0 THEN 1 ELSE -1 END)
                AS BIGINT) AS val
    FROM tt GROUP BY doc_id, tid % 16
    """,
)
def llm_feature_hashing(spark, sf_dir):
    """THE HASHING TRICK (feature hashing, Weinberger et al. 2009 —
    public): embed each document's token set into a fixed 16-dim
    vector with NO vocabulary at all — bucket j = tid mod 16, sign
    from the next hash bit, contributions summed. This is the
    vocabulary-free featurization that feeds linear classifiers and
    quality models at corpus scale: row-local ids (the same md5-mod-P
    as the minhash family), one partial-agg'd shuffle on (doc_id,
    bucket), output the tidy sparse (doc_id, j, val) relation with
    empty buckets absent — exactly what a downstream trainer consumes.
    Sign-hashing makes collisions cancel in expectation instead of
    accumulating bias — the property that separates the hashing trick
    from naive modular bucketing."""
    d = Tables(spark, sf_dir).documents
    toks = D.tokenize(d)
    tid = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long") % D.P
    return (
        toks.select(
            "doc_id",
            (tid % 16).alias("j"),
            F.when((tid / 16).cast("long") % 2 == 0, 1).otherwise(-1).alias("sgn"),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("sgn").cast("long").alias("val"))
    )


_VOCAB_K = 20


@query(
    "llm_vocab_oov_coverage",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
        FROM occ GROUP BY tok
      ) WHERE rk <= {_VOCAB_K}
    )
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(1000 * SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                  // COUNT(*) AS BIGINT) AS oov_permille
    FROM occ o LEFT JOIN vocab v USING (tok)
    GROUP BY o.doc_id
    """,
)
def llm_vocab_oov_coverage(spark, sf_dir):
    """VOCABULARY COVERAGE / OOV RATE — the tokenizer-fit diagnostic a
    pre-training pipeline runs before committing to a vocabulary: with
    the top-20 corpus tokens as the vocab (count-ranked, token
    tiebreak so the cut is deterministic), report each document's
    out-of-vocabulary token count and per-mille rate (integer floor
    division — hash-exact). The vocab relation is top-k-sized and
    BROADCASTS into the occurrence scan; the per-doc rollup is one
    partial-agg'd shuffle. In production k is 32k-256k — still
    broadcast-sized — and the same query prices vocabulary-size
    choices against real OOV rates instead of folklore.

    The top-K cut is ``orderBy(count desc, tok).limit(K)`` — Spark
    plans TakeOrderedAndProject (per-partition partial top-K merged on
    the driver), NOT a global sort. The previous row_number()-over-
    unpartitioned-Window form sorted the FULL distinct-token relation
    in one task — at corpus scale the vocabulary is billions of rows,
    the exact single-task death the minhash-dict docs call out
    (VERDICT r10 item 1a). The query consumes only the membership SET,
    and with the strict (count desc, token) total order both forms
    select the identical K tokens, so results are byte-identical; the
    oracle keeps the row_number formulation because DuckDB evaluates
    it on 60k rows, not 60B."""
    d = Tables(spark, sf_dir).documents
    occ = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))

    vocab = (
        occ.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        occ.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.expr(
                "CAST((1000 * sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END))"
                " div count(1) AS BIGINT)"
            ).alias("oov_permille"),
        )
    )


