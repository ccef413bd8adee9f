"""Property-based differential tests (hypothesis): distributed operators
vs trivially-correct pure-Python models on randomized micro-inputs.
Complements the DuckDB-oracle suite — these explore input shapes the
fixed testdata never hits (empty docs, singleton clusters, dense duplicate
groups), which is where SURVEY.md §5 found the reference's gaps.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from distributed_query_engine_spark.operators import dedup as D

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Documents as token lists over a tiny alphabet → dense overlap/duplicate
# structure with high probability.
tokens_st = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=6
)
docs_st = st.lists(tokens_st, min_size=1, max_size=8)
edges_st = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=15,
)


@SET
@given(docs=docs_st)
def test_exact_jaccard_matches_python_sets(spark, docs):
    rows = [(i, " ".join(toks), "en") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    all_pairs = [
        (a, b) for a in range(len(docs)) for b in range(len(docs)) if a < b
    ]
    if not all_pairs:
        return
    pairs = spark.createDataFrame(all_pairs, "doc_a long, doc_b long")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.exact_jaccard(
            pairs, doc_sets=D.doc_hash_sets_rowlocal(df)
        ).collect()
    }
    for a, b in all_pairs:
        sa, sb = set(docs[a]), set(docs[b])
        expected = len(sa & sb) / len(sa | sb)
        assert got[(a, b)] == expected, (a, b, docs)


@SET
@given(docs=docs_st)
def test_minhash_signature_matches_python_model(spark, docs):
    rows = [(i, " ".join(toks), "en") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from pyspark.sql import functions as F

    tokens = D.tokenize(df)
    dict_rows = {r.tok: r.tid for r in D.token_ids(tokens).collect()}
    tt = tokens.join(F.broadcast(D.token_ids(tokens)), "tok").select("doc_id", "tid")
    sigs = {r["doc_id"]: r for r in D.minhash_signatures(tt).collect()}
    for i, toks in enumerate(docs):
        tids = {dict_rows[t] for t in set(toks)}
        for h in range(D.N_HASHES):
            a, b = D.hash_params(h)
            expected = min((a * t + b) % D.P for t in tids)
            assert sigs[i][f"m{h}"] == expected, (i, h, docs)


@SET
@example(docs=[["a"], ["a", "b"], ["a"], ["b", "a"]])  # a 2-band collision
@given(docs=docs_st)
def test_grouped_candidates_equal_per_doc_banding(spark, docs):
    """Grouped candidate generation (signature groups, rep band join,
    member expansion) must yield exactly the per-doc banded pairs, each
    ONCE: compared as sorted lists, so a pair emitted at two common
    bands (a lost first-collision filter) fails as a duplicate. The
    incremental split (even ids = corpus, odd = batch) must yield the
    same pairs restricted to batch × (corpus ∪ earlier batch doc),
    oriented (batch doc, other)."""
    rows = [(i, " ".join(toks), "en") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    r = D.ROWS_PER_BAND
    sig = {
        row.doc_id: [row[c] for c in D.SIG_COLS]
        for row in D.signatures_rowlocal(df).collect()
    }
    model = [
        (a, b)
        for a in sorted(sig)
        for b in sorted(sig)
        if a < b
        and any(sig[a][k * r:(k + 1) * r] == sig[b][k * r:(k + 1) * r] for k in range(D.N_BANDS))
    ]

    def groups(part):
        return D.signature_groups(D.signatures_rowlocal(part)).localCheckpoint()

    got = sorted(map(tuple, D.candidate_pairs_grouped(groups(df)).collect()))
    assert got == model, docs

    corpus, batch = df.filter("doc_id % 2 = 0"), df.filter("doc_id % 2 = 1")
    pairs, _ = D._incremental_candidates(groups(corpus), groups(batch))
    want = sorted((b, a) if b % 2 else (a, b) for a, b in model if a % 2 or b % 2)
    assert sorted(map(tuple, pairs.collect())) == want, docs


@SET
@given(edges=edges_st)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long") if edges else (
        spark.createDataFrame([], "doc_a long, doc_b long")
    )
    got = {r.node: r.comp for r in D.connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    expected = {}
    for n in nodes:
        comp = min(m for m in nodes if find(m) == find(n))
        expected[n] = comp
    assert got == expected, edges


@SET
@given(
    sizes=st.lists(st.integers(1, 90), min_size=1, max_size=5),
    window=st.integers(2, 12),
    data=st.data(),
)
def test_chunk_documents_covers_and_reconstructs(spark, sizes, window, data):
    from distributed_query_engine_spark.operators.chunking import chunk_documents

    stride = data.draw(st.integers(1, window))
    docs = [
        (i, " ".join(f"t{i}x{j}" for j in range(n)))
        for i, n in enumerate(sizes)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = chunk_documents(df, window, stride)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(sizes):
        toks = docs[i][1].split(" ")
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        # contiguous ids from 0; expected count from the grid formula
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        assert len(chunks) == 1 + -(-max(n - window, 0) // stride)
        covered = set()
        for c in chunks:
            start = c.chunk_id * stride
            expect = toks[start : start + window]
            assert c.chunk_text.split(" ") == expect, (i, c.chunk_id)
            assert c.n_tokens == len(expect)
            covered.update(range(start, start + len(expect)))
        # every token of the doc appears in at least one chunk
        assert covered == set(range(n)), (i, n, window, stride)


@SET
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 5)),
        min_size=1,
        max_size=20,
    )
)
def test_salted_two_phase_equals_plain_aggregate(spark, rows):
    # The salted rewrite (phase 1 on (key, salt(user)), phase 2 on key)
    # must be value-identical to the direct aggregate for ANY input —
    # the salt is a function of the distinct column, so per-salt
    # distinct sets partition the true distinct set.
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k string, u long")
    salt = F.pmod(F.xxhash64("u"), F.lit(4)).cast("int")
    salted = (
        df.withColumn("s", salt)
        .groupBy("k", "s")
        .agg(F.countDistinct("u").alias("du"), F.count(F.lit(1)).alias("n"))
        .groupBy("k")
        .agg(F.sum("du").alias("n_users"), F.sum("n").alias("n_rows"))
    )
    got = {r.k: (r.n_users, r.n_rows) for r in salted.collect()}
    expected = {}
    for k, u in rows:
        users, cnt = expected.get(k, (set(), 0))
        users.add(u)
        expected[k] = (users, cnt + 1)
    assert got == {k: (len(us), n) for k, (us, n) in expected.items()}, rows


@SET
@given(docs=docs_st)
def test_simhash_grouped_pairs_equal_naive_prefix_join(spark, docs):
    """simhash_near_pairs' grouped+salted construction (r6 de-skew) must
    be SET-IDENTICAL to the naive per-doc prefix self-join it replaced —
    identical-hash groups (hamming 0) and cross-group candidates
    included. The dense duplicate structure of the tiny alphabet makes
    multi-member groups overwhelmingly likely, which is exactly the
    shape the grouping rewrites."""
    rows = [(i, " ".join(toks), "en") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_near_pairs(df, max_hamming=6).collect()
    }
    sh = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    want = set()
    for a in sorted(sh):
        for b in sorted(sh):
            if a < b and (sh[a] >> 16) == (sh[b] >> 16):
                ham = bin(sh[a] ^ sh[b]).count("1")
                if ham <= 6:
                    want.add((a, b, ham))
    assert got == want


events_st = st.lists(
    st.tuples(
        st.integers(0, 5),  # tiny ts domain → guaranteed collisions
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=300, deadline=None)  # pure Python — explore widely
@given(events=events_st)
def test_funnel_state_machine_equals_chained_min_sql(events):
    # The funnel query's core claim (plans/analytic.funnel_conversion):
    # the greedy strict-advance state machine over the (ts, type)-sorted
    # event array computes the SAME stage as the SQL oracle's chained
    # "MIN(ts) strictly after the previous step" formulation — including
    # on equal-timestamp collisions, which the fixed testdata never hits.
    def sql_stage(evs):
        t1 = min((t for t, y in evs if y == "view"), default=None)
        if t1 is None:
            return 0
        t2 = min((t for t, y in evs if y == "click" and t > t1), default=None)
        if t2 is None:
            return 1
        t3 = min(
            (t for t, y in evs if y == "purchase" and t > t2), default=None
        )
        return 2 if t3 is None else 3

    def machine_stage(evs):
        stage, last = 0, None
        for t, y in sorted(evs):  # (ts, event_type) struct order
            if stage == 0 and y == "view":
                stage, last = 1, t
            elif stage == 1 and y == "click" and t > last:
                stage, last = 2, t
            elif stage == 2 and y == "purchase" and t > last:
                stage, last = 3, t
        return stage

    steps = [(t, y) for t, y in events if y != "error"]
    assert machine_stage(steps) == sql_stage(steps)


@SET
@given(docs=docs_st)
def test_simhash_multiband_has_complete_recall(spark, docs):
    # The pigeonhole guarantee: multiband blocking (8 bands x 4 bits)
    # must find EVERY pair within hamming 6 — compare against the
    # brute-force all-pairs hamming join on random micro-corpora, and
    # confirm it is a superset of what prefix blocking finds.
    rows = [(i, " ".join(toks), "en") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sh = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    brute = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 6
    }
    multi = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_near_pairs_multiband(df, max_hamming=6).collect()
    }
    assert multi == brute
    prefix = {
        (r.doc_a, r.doc_b)
        for r in D.simhash_near_pairs(df, max_hamming=6).collect()
    }
    assert prefix <= set(multi)


@SET
@given(docs=docs_st)
def test_rowlocal_equals_exploded_pipeline(spark, docs):
    # The row-local rewrite (signatures_from_arrays /
    # hash_sets_from_arrays / row-local simhash) must be VALUE-identical
    # to the exploded groupBy shape it replaced — same arithmetic, only
    # the plan differs. Pinned here on randomized micro-corpora so a
    # future edit to either side can't silently fork them.
    from pyspark.sql import functions as F

    rows = [(i, " ".join(toks), "en") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    rl = {tuple(r) for r in D.signatures_rowlocal(df).collect()}
    ex = {
        tuple(r)
        for r in D.minhash_signatures(D.hashed_token_ids(D.tokenize(df))).collect()
    }
    assert rl == ex

    rl_sets = {
        (r.doc_id, tuple(r.toks))
        for r in D.doc_hash_sets_rowlocal(df).collect()
    }
    ex_sets = {
        (r.doc_id, tuple(r.toks))
        for r in D.tokenize(df)
        .select("doc_id", F.xxhash64("tok").alias("t"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("t")).alias("toks"))
        .collect()
    }
    assert rl_sets == ex_sets


@SET
@given(docs=docs_st)
def test_rowlocal_simhash_matches_exploded_model(spark, docs):
    from pyspark.sql import functions as F

    rows = [(i, " ".join(toks), "en") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    a, b = D.hash_params(0)
    h = (F.col("tid") * a + b) % D.P
    sums = (
        D.hashed_token_ids(D.tokenize(df))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(
                    F.when(F.shiftright(h, j).bitwiseAND(1) == 1, 1).otherwise(-1)
                ).alias(f"s{j}")
                for j in range(D.SIMHASH_BITS)
            ]
        )
    )
    sh = None
    for j in range(D.SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, 1 << j).otherwise(0).cast("long")
        sh = term if sh is None else sh + term
    expected = {
        (r.doc_id, r.simhash)
        for r in sums.select("doc_id", sh.alias("simhash")).collect()
    }
    got = {(r.doc_id, r.simhash) for r in D.simhash(df).collect()}
    assert got == expected


@SET
@given(docs=docs_st)
def test_containment_pairs_complete_vs_bruteforce(spark, docs):
    # The prefix-filter completeness proof, pinned empirically: on
    # arbitrary micro-corpora the blocked operator must report EXACTLY
    # the pairs a brute-force all-pairs scan qualifies (threshold 4/5
    # rational, matching the operator's integer arithmetic).
    rows = [(i, " ".join(toks), "en") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r.doc_a, r.doc_b) for r in D.containment_pairs(df, 4, 5).collect()
    }
    sets = [set(t) for t in docs]
    expected = {
        (a, b)
        for a in range(len(docs))
        for b in range(a + 1, len(docs))
        if 5 * len(sets[a] & sets[b]) >= 4 * min(len(sets[a]), len(sets[b]))
    }
    assert got == expected, (docs, got ^ expected)


@SET
@given(ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=5, unique=True))
def test_multimodal_codecs_roundtrip_vs_python(spark, ids):
    # The byte codecs, checked against a pure-python model on arbitrary
    # doc ids (the oracle suite only exercises the testdata id range):
    # synthesize → decode must reproduce the formula's features exactly.
    from distributed_query_engine_spark.operators import multimodal as M

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    ppm = {
        r.doc_id: (r.width, r.height, r.sum_r, r.sum_ds)
        for r in M.decode_ppm_features(M.synthesize_ppm(df)).collect()
    }
    n = M.PPM_W * M.PPM_H * 3
    for d in ids:
        px = [(d * 31 + i * 7) % 256 for i in range(n)]
        sum_r = sum(px[i] for i in range(0, n, 3))
        sum_ds = sum(
            px[(y * M.PPM_W + x) * 3 + c]
            for y in range(0, M.PPM_H, 2)
            for x in range(0, M.PPM_W, 2)
            for c in range(3)
        )
        assert ppm[d] == (M.PPM_W, M.PPM_H, sum_r, sum_ds), d

    wav = {
        r.doc_id: (r.energy, r.peak, r.zero_crossings, r.frame_sum)
        for r in M.decode_wav_features(M.synthesize_wav(df)).collect()
    }
    for d in ids:
        s = [((d * 7 + i * 13) % 4096) - 2048 for i in range(M.WAV_SAMPLES)]
        zc = sum(1 for i in range(1, len(s)) if (s[i] >= 0) != (s[i - 1] >= 0))
        assert wav[d] == (
            sum(v * v for v in s),
            max(abs(v) for v in s),
            zc,
            sum(s[::8]),
        ), d


@SET
@given(
    daysets=st.lists(
        st.lists(st.integers(0, 20), min_size=1, max_size=12, unique=True),
        min_size=1,
        max_size=4,
    )
)
def test_gaps_islands_matches_python(spark, daysets):
    # Islands via dayno - row_number constancy vs a direct python walk
    # over sorted day sets with arbitrary gaps.
    import datetime

    rows = []
    eid = 0
    for u, days in enumerate(daysets):
        for d in sorted(days):
            rows.append(
                (eid, datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d), u)
            )
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    df.createOrReplaceTempView("_gi_events")
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    days_df = df.select(
        "user_id",
        (F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400)
        .cast("long")
        .alias("dayno"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dayno")
    islands = (
        days_df.withColumn("grp", F.col("dayno") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("streak"))
    )
    got = {
        (r.user_id, r.longest, r.n_islands)
        for r in islands.groupBy("user_id")
        .agg(
            F.max("streak").alias("longest"),
            F.count(F.lit(1)).alias("n_islands"),
        )
        .collect()
    }
    expected = set()
    for u, days in enumerate(daysets):
        ds = sorted(set(days))
        streaks, cur = [], 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                cur += 1
            else:
                streaks.append(cur)
                cur = 1
        streaks.append(cur)
        expected.add((u, max(streaks), len(streaks)))
    assert got == expected, (daysets, got ^ expected)


@SET
@given(
    series=st.lists(
        st.lists(st.integers(-50, 50), min_size=2, max_size=12),
        min_size=1,
        max_size=3,
    )
)
def test_cusum_changepoint_matches_python(spark, series):
    # The multiply-through-by-n CUSUM walk vs a direct python argmax.
    import datetime

    rows = []
    eid = 0
    for t, vals in enumerate(series):
        for i, v in enumerate(vals):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
                    f"type{t}",
                    float(v),
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    iv = df.select(
        "event_type", "event_id", "ts",
        F.floor(F.col("value") * 1000).cast("long").alias("v"),
    )
    stats = iv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    order = Window.partitionBy("event_type").orderBy("ts", "event_id")
    walked = (
        iv.join(F.broadcast(stats), "event_type")
        .withColumn("k", F.row_number().over(order))
        .withColumn(
            "prefix",
            F.sum("v").over(order.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    cusum = walked.select(
        "event_type", "k",
        F.abs(F.col("n") * F.col("prefix") - F.col("k") * F.col("s")).alias("acs"),
    )
    peak = Window.partitionBy("event_type")
    got = {
        (r.event_type, r.cp, r.m)
        for r in cusum.withColumn("m", F.max("acs").over(peak))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("acs") == F.col("m"), F.col("k"))).alias("cp"),
            F.max("acs").alias("m"),
        )
        .collect()
    }
    expected = set()
    for t, vals in enumerate(series):
        iv_vals = [v * 1000 for v in vals]
        n, s = len(iv_vals), sum(iv_vals)
        prefix, best_k, best = 0, None, -1
        for k, v in enumerate(iv_vals, start=1):
            prefix += v
            acs = abs(n * prefix - k * s)
            if acs > best:
                best, best_k = acs, k
        expected.add((f"type{t}", best_k, best))
    assert got == expected, (series, got ^ expected)


@SET
@given(
    counts=st.lists(st.integers(1, 20), min_size=1, max_size=10),
)
def test_countmin_estimate_upper_bounds_every_key(spark, counts):
    """The count-min one-sided guarantee, with the ENGINE in the loop
    (ADVICE r7): build the sketch with the real Spark bucket expression
    (``_cms_bucket_col``) over a synthetic stream, check its cells are
    bit-identical to a pure-Python md5 model, and check every key's
    min-of-cells ESTIMATE FROM SPARK >= its true count (equal when
    some hash row gives the key a private bucket)."""
    import hashlib

    import pyspark.sql.functions as F

    from distributed_query_engine_spark.plans.analytic import (
        _CMS_D,
        _CMS_W,
        _cms_bucket_col,
    )

    stream = [uid for uid, c in enumerate(counts) for _ in range(c)]

    def bucket(r, uid):
        h = hashlib.md5(f"{r}:{uid}".encode()).hexdigest()[:8]
        return int(h, 16) % _CMS_W

    model_cells: dict = {}
    for uid in stream:
        for r in range(_CMS_D):
            k = (r, bucket(r, uid))
            model_cells[k] = model_cells.get(k, 0) + 1

    # The engine side: same cells + min-of-cells pipeline the
    # agg_countmin_heavy_hitters query builds, over the same stream.
    ev = spark.createDataFrame([(uid,) for uid in stream], ["user_id"])
    rows_d = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("r")
    cells_df = (
        ev.select("user_id", rows_d)
        .select("r", _cms_bucket_col(F.col("r"), F.col("user_id")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spark_cells = {(r.r, r.bucket): r.c for r in cells_df.collect()}
    assert spark_cells == model_cells
    est_df = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .select("user_id", "exact_n", rows_d)
        .select(
            "user_id", "exact_n", "r",
            _cms_bucket_col(F.col("r"), F.col("user_id")).alias("bucket"),
        )
        .join(cells_df, ["r", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_est"))
    )
    spark_est = {r.user_id: (r.exact_n, r.cms_est) for r in est_df.collect()}
    for uid, c in enumerate(counts):
        exact_n, est = spark_est[uid]
        assert exact_n == c
        assert est >= c
        # exactness holds whenever SOME row gives uid a private bucket
        if any(
            all(
                bucket(r, other) != bucket(r, uid)
                for other in range(len(counts))
                if other != uid
            )
            for r in range(_CMS_D)
        ):
            assert est == c


@SET
@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=8, max_size=20),
)
def test_ewma_fir_matches_python_dot_product(spark, vals):
    """The integer FIR EWMA against a trivial Python convolution on a
    single synthetic series (full-window rows only)."""
    from datetime import datetime, timedelta

    from distributed_query_engine_spark.plans.analytic import _EWMA_W
    from distributed_query_engine_spark.registry import all_queries  # noqa: F401

    t0 = datetime(2001, 1, 1)
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    # write the fixture like the driver's generator (µs timestamps via
    # pyarrow); Spark's own INT96 default is also handled by the
    # catalog sniffer now (physical-type check), but the µs path is
    # the one the driver data exercises
    table = pa.table(
        {
            "event_id": pa.array(range(len(vals)), pa.int64()),
            "ts": pa.array(
                [t0 + timedelta(seconds=i) for i in range(len(vals))],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([0] * len(vals), pa.int64()),
            "event_type": pa.array(["t"] * len(vals)),
            "value": pa.array([float(v) for v in vals], pa.float64()),
            "props": pa.array(["{}"] * len(vals)),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        pq.write_table(table, f"{d}/events.parquet")
        got = {
            r.event_id: r.ewma_e20
            for r in all_queries()["timeseries_ewma_smooth"](
                spark, d
            ).collect()
        }
    import math

    milli = [math.floor(v * 1000.0) for v in (float(x) for x in vals)]
    for i in range(len(_EWMA_W) - 1, len(vals)):
        want = sum(
            w * milli[i - k] for k, w in enumerate(_EWMA_W)
        )
        assert got[i] == want, (i, got[i], want)


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 9),
            st.text(alphabet="ab ", min_size=1, max_size=40),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_duplicated_span_report_matches_python_model(spark, docs):
    """duplicated_span_report vs a brute-force Python model: count
    corpus-wide k-gram multiplicities directly on the token tuples (no
    hashing) and compute covered tokens as the literal set-union of the
    duplicated spans' position ranges — verifying both the dup-span
    classification AND that the lag-walk (min(k, pos-prev) per sorted
    position) equals true interval-union size. A tiny two-letter
    alphabet with k=2 forces heavy span repetition."""
    K = 2
    corpus = [(i, t) for i, t in docs]
    from collections import Counter

    grams: Counter = Counter()
    per_doc = {}
    for i, t in corpus:
        toks = t.split(" ")
        spans = [tuple(toks[p : p + K]) for p in range(len(toks) - K + 1)]
        per_doc[i] = (toks, spans)
        grams.update(spans)
    expect = {}
    for i, (toks, spans) in per_doc.items():
        dup_pos = [p for p, g in enumerate(spans) if grams[g] >= 2]
        covered = set()
        for p in dup_pos:
            covered.update(range(p, p + K))
        expect[i] = (
            len(spans),
            len(dup_pos),
            len(covered),
            len(covered) * 1000 // len(toks),
        )
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_spans, r.dup_spans, r.dup_tokens, r.dup_token_permille)
        for r in D.duplicated_span_report(df, k=K).collect()
    }
    assert got == expect


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 9),
            st.text(alphabet="ab ", min_size=1, max_size=40),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mask_duplicated_spans_matches_python_masker(spark, docs):
    """mask_duplicated_spans (the actual training-data MUTATION, not
    just the span report — VERDICT r9 item 6) vs a brute-force Python
    suffix-duplicate masker: count corpus-wide k-gram multiplicities on
    the raw token tuples, drop every token index covered by the
    interval-union of duplicated spans' [p, p+k) ranges, and compare
    the surviving text token-for-token (order preserved), plus the
    n_tok/n_removed accounting. The two-letter alphabet with k=2
    forces heavy overlap, so the interval-union — not just the span
    classification — decides the output."""
    K = 2
    corpus = [(i, t) for i, t in docs]
    from collections import Counter

    grams: Counter = Counter()
    per_doc = {}
    for i, t in corpus:
        toks = t.split(" ")
        spans = [tuple(toks[p : p + K]) for p in range(len(toks) - K + 1)]
        per_doc[i] = (toks, spans)
        grams.update(spans)
    expect = {}
    for i, (toks, spans) in per_doc.items():
        covered = set()
        for p, g in enumerate(spans):
            if grams[g] >= 2:
                covered.update(range(p, p + K))
        kept = [t for idx, t in enumerate(toks) if idx not in covered]
        expect[i] = (" ".join(kept), len(toks), len(covered))
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {
        r.doc_id: (r.clean_text, r.n_tok, r.n_removed)
        for r in D.mask_duplicated_spans(df, k=K).collect()
    }
    assert got == expect


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 9),
            st.text(alphabet="ab ", min_size=1, max_size=30),
        ),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_train_matches_python_reference_trainer(spark, docs):
    """llm_bpe_train's learning loop vs a pure-Python reference
    trainer (VERDICT r8 item 6): K rounds of count-every-adjacent-pair
    → argmax with the (count desc, pair asc) tie-break → greedy
    left-to-right merge everywhere. The two-letter alphabet forces
    dense pair collisions, so the tie-break — not just the counting —
    decides the learned table; random corpora also exercise the
    degenerate early-stop (all words single-token before K merges)."""
    from collections import Counter

    from distributed_query_engine_spark.plans.llm import (
        _BPE_TRAIN_K,
        _train_bpe_merges,
    )

    def py_merge_once(toks, a, b):
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    words = [
        w
        for _, t in docs
        for w in t.lower().split(" ")
        if w and all("a" <= c <= "z" for c in w)
    ]
    toks_list = [list(w) for w in words]
    expect = []
    for k in range(1, _BPE_TRAIN_K + 1):
        c: Counter = Counter()
        for toks in toks_list:
            for i in range(len(toks) - 1):
                c[(toks[i], toks[i + 1])] += 1
        if not c:
            break
        (a, b), n = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((k, a, b, a + b, n))
        toks_list = [py_merge_once(toks, a, b) for toks in toks_list]

    df = spark.createDataFrame([(i, t) for i, t in docs], ["doc_id", "text"])
    assert _train_bpe_merges(df) == expect


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(0, 11),
            st.tuples(
                st.integers(-3, 3), st.integers(-3, 3), st.integers(-3, 3)
            ).filter(lambda v: any(v)),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow  # r16: 30-60 s single test — slow tier
def test_kmeans_cell_stats_matches_python_model(spark, vecs):
    """kmeans_cell_stats vs a pure-Python Lloyd model: lowest-id seeds,
    cosine argmax with the (cos desc, cell asc) tie-break as a float
    tuple compare (identical IEEE semantics), exact round-half-away
    integer means, empty-cell carry, and the final per-cell audit
    columns. Integer-component vectors make ivec = v * 2^20 exact; tiny
    dims force dense cosine TIES (parallel vectors), so the tie-break —
    not just the distance — decides the clustering. Some draws have no
    vec_id < n_cells at all, pinning the empty-seed path."""
    import math

    from distributed_query_engine_spark.functions.vectors import SCALE
    from distributed_query_engine_spark.operators.similarity import (
        kmeans_cell_stats,
    )

    N_CELLS, ITERS = 4, 2
    ivec = {i: [x * SCALE for x in v] for i, v in vecs}

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def cos(a, b):
        na, nb = dot(a, a), dot(b, b)
        return dot(a, b) / (math.sqrt(float(na)) * math.sqrt(float(nb)))

    # true lowest-k seeding (r15 ivf_centroids fix): the N_CELLS lowest
    # vec_ids seed the quantizer — NOT `vec_id < N_CELLS`, which
    # under-seeds (to empty) on non-dense ids; identical on dense ids.
    cents = {i: list(ivec[i]) for i in sorted(ivec)[:N_CELLS]}

    def assign(cents):
        out = {}
        for i, v in ivec.items():
            if not cents:
                continue
            out[i] = max(cents, key=lambda c: (cos(v, cents[c]), -c))
        return out

    for _ in range(ITERS):
        assigned = assign(cents)
        members: dict[int, list[int]] = {}
        for i, c in assigned.items():
            members.setdefault(c, []).append(i)
        new = {}
        for c, cent in cents.items():
            if c not in members:
                new[c] = cent  # empty-cell carry
                continue
            m = []
            for dim in range(3):
                sx = sum(ivec[i][dim] for i in members[c])
                cnt = len(members[c])
                q = (2 * abs(sx) + cnt) // (2 * cnt)
                m.append(q if sx >= 0 else -q)
            new[c] = m
        cents = new
    assigned = assign(cents)
    expect = {}
    for c, cent in cents.items():
        mem = [i for i, cc in assigned.items() if cc == c]
        expect[c] = (
            len(mem),
            sum(dot(ivec[i], cent) for i in mem),
            sum(abs(x) for x in cent),
            dot(cent, cent),
        )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["cell_id"]: (
            r["n_members"],
            r["sum_member_dot"],
            r["c_l1"],
            r["c_nsq"],
        )
        for r in kmeans_cell_stats(df, N_CELLS, ITERS).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# r11: the two-pass distributed prefix scan vs the pure-Python prefix
# model, on randomized value/key shapes (duplicate sort keys with a
# unique tiebreak, negative values, skewed key distributions) — the
# structures the fixed testdata never stresses.
# ---------------------------------------------------------------------------

prefix_rows_st = st.lists(
    st.tuples(st.integers(0, 4), st.integers(-5, 5)),  # (key, value)
    min_size=1,
    max_size=40,
)


@SET
@given(rows=prefix_rows_st, n_parts=st.sampled_from([1, 3, 7]))
def test_partitioned_running_matches_python_prefix(spark, rows, n_parts):
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.operators.prefix import (
        partitioned_running,
    )

    data = [(i, k, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, k long, v long")
    got = {
        r["id"]: (r["cs"], r["rn"])
        for r in partitioned_running(
            df,
            [F.col("k").desc(), F.col("id")],
            sum_cols=[("v", "cs")],
            rank_col="rn",
            num_partitions=n_parts,
        ).collect()
    }
    # pure-Python model: sort by the same strict total order, walk
    ordered = sorted(data, key=lambda t: (-t[1], t[0]))
    cs = 0
    for rn, (i, _k, v) in enumerate(ordered, start=1):
        cs += v
        assert got[i] == (cs, rn), (i, got[i], (cs, rn))
    assert len(got) == len(data)


@SET
@given(rows=st.lists(st.integers(-3, 3), min_size=1, max_size=30))
def test_clustered_embeddings_roundtrip_is_exact(spark, rows):
    """The planted-cluster transform's float detour must round-trip to
    EXACTLY w*center + residual in fixed point (division by 2^20 is
    exact in binary floating point) — the property the clustered
    recall oracle's integer-side construction relies on."""
    from pyspark.sql import functions as F

    from distributed_query_engine_spark.functions.vectors import SCALE, int_vec
    from distributed_query_engine_spark.plans.llm import _CLUST_W

    # center ivec components and member ivec components as raw ints
    c = [r * 3 for r in rows]
    x = [r * 7 - 1 for r in rows]
    df = spark.createDataFrame(
        [(0, [(_CLUST_W * ci + xi) / SCALE for ci, xi in zip(c, x)])],
        "vec_id long, embedding array<double>",
    )
    got = df.select(int_vec("embedding").alias("iv")).first()["iv"]
    assert got == [_CLUST_W * ci + xi for ci, xi in zip(c, x)]


@SET
@given(
    n=st.integers(1, 23),
    k=st.sampled_from([2, 3, 4, 5, 7]),
)
def test_exact_ntile_matches_sparks_ntile(spark, n, k):
    """exact_ntile (rank+count integer arithmetic) must agree with
    Spark's own NTILE window for EVERY (n, k), including n < k where
    trailing buckets are empty — the edge the fixed customer-grain
    testdata never reaches."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from distributed_query_engine_spark.operators.prefix import exact_ntile

    df = spark.range(1, n + 1).select(F.col("id").alias("rk"))
    got = {
        r["rk"]: r["b"]
        for r in df.select(
            "rk", exact_ntile(F.col("rk"), F.lit(n), k).alias("b")
        ).collect()
    }
    want = {
        r["rk"]: r["b"]
        for r in df.select(
            "rk", F.ntile(k).over(Window.orderBy("rk")).alias("b")
        ).collect()
    }
    assert got == want, (n, k, got, want)


@SET
@given(docs=docs_st)
def test_bm25_scores_match_python_model(spark, docs):
    """r12: the exact-integer BM25 pipeline (tf/dl/df/corpus relations +
    the div-per-term milli expression) equals a literal Python
    re-implementation of the same formula for every (query, candidate)
    pair on random micro-corpora."""
    from collections import Counter

    from pyspark.sql import functions as F

    from distributed_query_engine_spark.plans.retrieval import _BM25_MILLI_SQL

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = df.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("a_tok")
    )
    q_id = 0
    qterms = tf.filter(F.col("doc_id") == q_id).select(
        F.col("doc_id").alias("q_id"), "tok"
    )
    got = {
        (r["q_id"], r["doc_id"]): r["s"]
        for r in (
            tf.join(qterms, "tok")
            .filter(F.col("doc_id") != F.col("q_id"))
            .join(dfreq, "tok")
            .join(dl, "doc_id")
            .crossJoin(corpus)
            .groupBy("q_id", "doc_id")
            .agg(
                F.sum(F.expr(_BM25_MILLI_SQL.replace("//", " div ")))
                .cast("long")
                .alias("s")
            )
            .collect()
        )
    }
    # pure-python model
    n_docs = len(docs)
    a_tok = sum(len(d) for d in docs)
    dfs = Counter()
    for d in docs:
        for t in set(d):
            dfs[t] += 1
    expect = {}
    qset = set(docs[q_id])
    for cand in range(1, n_docs):
        s = 0
        c = Counter(docs[cand])
        for t in qset & set(docs[cand]):
            tf_ = c[t]
            dl_ = len(docs[cand])
            num = (2 * (n_docs - dfs[t]) + 1) * (22 * a_tok * tf_) * 1000
            den = (2 * dfs[t] + 1) * (
                10 * a_tok * tf_ + 3 * a_tok + 9 * dl_ * n_docs
            )
            s += num // den
        if s:
            expect[(q_id, cand)] = s
    assert got == expect


@SET
@given(edges=edges_st)
def test_bfs_hop_distance_matches_python_bfs(spark, edges):
    """r12: bfs_hop_distance equals a textbook queue BFS (symmetrized
    edges, landmark node 0, 3-hop bound) on random micro-graphs."""
    from collections import deque

    from distributed_query_engine_spark.operators.graph import bfs_hop_distance

    sym = list({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    adj: dict[int, list] = {}
    for a, b in sym:
        adj.setdefault(a, []).append(b)
    expect = {0: 0}
    qd = deque([(0, 0)])
    while qd:
        node, d = qd.popleft()
        if d == 3:
            continue
        for nb in adj.get(node, []):
            if nb not in expect:
                expect[nb] = d + 1
                qd.append((nb, d + 1))
    edf = spark.createDataFrame(
        sym or [(99, 98)], "src long, dst long"
    )  # placeholder edge keeps the schema when sym is empty
    if not sym:
        expect = {0: 0}
    src = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_hop_distance(edf, src, 3).collect()}
    assert got == expect
