"""Document deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard (north-star ops from BASELINE.json; no reference evidence — the
reference's closest analog is its nested-collection model, diff:227).

Design for 100 TB:

- Everything is DataFrame ops — shuffles land on (token), (doc_id), or
  (band_key); no ``collect()``, no driver loops.
- Hashing is deterministic integer arithmetic mod a 31-bit prime, so the
  whole pipeline (signatures, bands, candidate pairs) is reproducible in
  any engine — which is what makes an exact SQL oracle possible.
- Token ids come in two interchangeable flavors (``signatures_for``):
  the DEFAULT dictionary-FREE ``hashed=True`` path — a row-local
  md5-prefix-mod-P id (``hashed_token_ids``) with no distinct, no
  global sort, and no join (the 100 TB path; oracle-exact because md5
  is defined identically in both engines) — and the ``hashed=False``
  global ``row_number`` dictionary, kept as the pure-arithmetic parity
  demo (its vocabulary sort is a single task: fine locally, fatal at
  scale).
- Candidate verification (exact Jaccard) runs only on LSH candidates:
  the quadratic blow-up is confined to near-duplicate buckets.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def hash_params(i: int) -> tuple[int, int]:
    """Fixed affine hash h_i(t) = (a_i * t + b_i) mod P. Products stay
    below 2^63 for any 31-bit token id.

    a_i/b_i are full-width 31-bit constants (Knuth multiplicative-hash
    seeds 0x9E3779B1 / 0x85EBCA77 scaled per i) so the product wraps mod
    P even for tiny token ids. Small multipliers would make every h_i
    monotone over a small dictionary — the per-doc min would always land
    on the smallest token id, collapsing all signatures to one value per
    min-token and LSH into a handful of giant buckets."""
    return (2_654_435_761 * (i + 1)) % P or 1, (2_246_822_519 * (i + 1) + 97) % P


def tokenize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, token) pairs, distinct per doc (set semantics for Jaccard)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )


def _spread_narrow_scan(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Repartition a NARROW scan up to session parallelism before
    CPU-heavy row-local work (md5 fan-outs, signature transforms). A
    compact corpus can arrive in a handful of parquet splits — at sf0.1
    every testdata file is ONE unsplittable row group, so without this
    the per-row compute of a whole pipeline ran on ONE core (r9: the
    substring top query spent 12.4 of its 13.3 s that way). Shuffling
    the compact rows (bytes ~ corpus size) is the cheap side of that
    trade; a 100 TB scan already has thousands of splits and skips the
    branch entirely.

    Call this on the RAW (doc_id, text) projection, never on the result
    of an expensive projection: the repartition must sit BELOW the
    fan-out so the per-row compute runs post-exchange (r9: wrapping the
    gram build instead of the scan left the build single-core — the
    exchange parallelizes only what is ABOVE it). Keeping the probed
    plan scan-only also keeps the `.rdd` partition-count probe free —
    on a shuffle-bearing plan that probe forces AQE to materialize the
    upstream stages."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par, key)
    return df


def doc_token_arrays(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    spread: bool = True,
) -> DataFrame:
    """(doc_id, toks): the per-doc DISTINCT token array — the packed
    (never exploded) form of :func:`tokenize`. Docs whose token array
    is empty or null are dropped, matching explode semantics so the
    row-local pipelines cover exactly the same doc set. The raw scan is
    spread (:func:`_spread_narrow_scan`) BEFORE the tokenize/distinct
    projection, so it and every consumer's md5-heavy row-local work run
    post-exchange. ``spread=False`` opts out for relations that are
    already small AND re-materialized per call — a streaming
    micro-batch repartitioned to 32 partitions writes 32 tiny store
    files per batch and pays a per-batch exchange for md5 work that
    fits one task."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    if spread:
        base = _spread_narrow_scan(base)
    toks = F.array_distinct(F.split(F.col("text"), " "))
    return base.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)


def _md5_60(col) -> Column:
    """First 15 hex chars of md5 → 60-bit BIGINT: the ONE engine-portable
    row-local hash every oracle replays (`CAST(('0x' || substr(md5(x),
    1, 15)) AS BIGINT)` on the DuckDB side). Token ids (`_tid_expr`) are
    this mod P; span ids (`_span_gids`, `top_duplicated_spans`) use it
    directly — sharing the expression makes the cross-site identities
    structural rather than comment-enforced."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _tid_expr(tok):
    """md5-prefix-mod-P token id of a token Column — the row-local id
    shared (by construction, same expression) with hashed_token_ids."""
    return _md5_60(tok) % P


def signatures_from_arrays(arrays: DataFrame) -> DataFrame:
    """(doc_id, toks-array) → m0..m{N_HASHES-1} computed ENTIRELY per
    row — zero shuffles, zero explode: tids = transform(toks,
    md5-mod-P), then each minhash is an array_min over the
    affine-hashed tid array.

    This replaces the explode → groupBy(doc_id).agg(16 mins) shape for
    the hashed token-id path: the min over a doc's token set is a pure
    function of the doc row, so shuffling an exploded (doc, tok)
    relation to regroup it BY THE KEY IT STARTED PACKED UNDER was pure
    overhead — at 100 TB that shuffle is corpus-sized × token fan-out,
    and here it simply does not exist. (The dictionary path cannot do
    this: its ids need a global vocabulary, hence the exploded relation
    and the broadcast join — which is exactly why the hashed path is
    the scale default.) Works over any token-set notion — words
    (:func:`doc_token_arrays`) or n-grams (:func:`doc_ngram_arrays`).
    Measured at sf0.1: see BASELINE.md r6 row-local entry."""
    tids = F.transform("toks", _tid_expr)
    base = arrays.select("doc_id", tids.alias("tids"))

    def affine(a, b):
        # one-arg closure: PySpark derives the higher-order function's
        # arity from the Python lambda's parameter count, so default
        # args can't be used to bind (a, b) inside the lambda itself
        return lambda t: (t * a + b) % P

    mins = []
    for i in range(N_HASHES):
        a, b = hash_params(i)
        mins.append(
            F.array_min(F.transform("tids", affine(a, b))).alias(f"m{i}")
        )
    return base.select("doc_id", *mins)


def signatures_rowlocal(docs: DataFrame, spread: bool = True) -> DataFrame:
    """Word-token row-local signatures (see signatures_from_arrays)."""
    return signatures_from_arrays(doc_token_arrays(docs, spread=spread))


def hash_sets_from_arrays(arrays: DataFrame) -> DataFrame:
    """(doc_id, toks-array) → sorted xxhash64 token-set array, row-local
    — the packed form of exact_jaccard's internal doc_sets aggregation
    (array_distinct mirrors collect_set's dedup of 64-bit collisions)."""
    sets = F.array_sort(
        F.array_distinct(F.transform("toks", lambda t: F.xxhash64(t)))
    )
    return arrays.select("doc_id", sets.alias("toks"))


def doc_hash_sets_rowlocal(docs: DataFrame, spread: bool = True) -> DataFrame:
    """Word-token row-local verify sets (see hash_sets_from_arrays)."""
    return hash_sets_from_arrays(doc_token_arrays(docs, spread=spread))


def token_ids(tokens: DataFrame) -> DataFrame:
    """Global token dictionary: tok → tid (1-based, lexicographic).

    Computed WITHOUT a global single-partition window (which would funnel
    the whole vocabulary through one task): sort range-partitions the
    distinct vocabulary, each partition numbers its own rows, and the
    global id is the local row_number plus the partition's cumulative
    offset. The only driver materialization is one count per partition —
    metadata-sized at any scale (this is the classic zipWithIndex
    construction, kept in the DataFrame API). Ids are identical to a
    global ``row_number() OVER (ORDER BY tok)``, which is what the DuckDB
    oracles compute.

    See module docstring for the xxhash64 variant that drops the
    dictionary entirely at corpus scale (at the cost of oracle
    arithmetic parity)."""
    toks = (
        tokens.select("tok")
        .distinct()
        .sort("tok")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = toks.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["pid"]):
        offsets[r["pid"]] = acc
        acc += r["cnt"]
    if not offsets:
        return toks.select("tok", F.lit(0).cast("long").alias("tid")).limit(0)
    off_expr = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )[F.col("pid")]
    w = Window.partitionBy("pid").orderBy("tok")
    return toks.select(
        "tok",
        (F.row_number().over(w).cast("long") + off_expr).alias("tid"),
    )


def minhash_signatures(tokens_tid: DataFrame) -> DataFrame:
    """doc_id → m0..m{N_HASHES-1}: one hash-aggregate pass, map-side
    partial mins, single shuffle on doc_id."""
    aggs = []
    for i in range(N_HASHES):
        a, b = hash_params(i)
        aggs.append(F.min((F.col("tid") * a + b) % P).alias(f"m{i}"))
    return tokens_tid.groupBy("doc_id").agg(*aggs)


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Signature → (doc_id, band, band_key, band_keys). Band key is the
    joined minhash values: docs agreeing on all rows of a band collide.
    ``band_keys`` carries ALL of the doc's band keys so the pairing join
    can dedupe multi-band collisions with a codegen filter instead of a
    second (full-pair-set-sized) distinct shuffle."""
    keys = F.array(
        *[
            F.concat_ws(
                ",",
                *[F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", keys.alias("band_keys")).select(
        "doc_id", "band_keys", F.posexplode("band_keys").alias("band", "band_key")
    )


SALT_GROUPS = 16


def _explode_par() -> int:
    """Partition count for the repartitions that spread quadratic
    member-explode work across the cluster: derived from the session's
    parallelism instead of a constant (guide §2 — scale-adaptive
    partitioning; the old SALT_GROUPS*4=64 was tuned for neither
    local[32] nor a real cluster, and three unioned 64-way branches
    made every downstream stage run 192 tiny tasks at bench scale).
    Floored at SALT_GROUPS so a mega-group still spreads at least as
    far as the salted band join does."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:  # pragma: no cover — operators always run in-session
        return SALT_GROUPS * 4
    return max(spark.sparkContext.defaultParallelism, SALT_GROUPS)


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Self-join on (band, band_key) → (doc_a < doc_b) pairs, exactly
    once per pair. The shuffle key is the band key, so only colliding
    docs meet; the shuffle moves n_docs × N_BANDS tiny rows, never the
    quadratic pair set.

    Two scale measures:

    - **Salting.** A real corpus has mega-buckets (one boilerplate
      template → thousands of colliding docs); an unsalted self-join
      hands that bucket's entire k² pair explosion — and everything
      codegen'd after it — to ONE task. Side A is tagged
      hash(doc) % SALT_GROUPS, side B is replicated across all salts
      (bounded ×16 blow-up of the tiny linear band relation), and the
      join key becomes (band, band_key, salt): each bucket's pair
      production spreads over SALT_GROUPS tasks. Each unordered pair
      meets exactly once — via the orientation whose A-side doc owns the
      matching salt and survives doc_a < doc_b.
    - **First-collision-wins dedup.** A pair colliding in several bands
      is kept only at its first common band — set-identical to
      `.distinct()` but a codegen filter over carried band_keys arrays
      rather than a shuffle of the quadratic pair set."""
    a = bands.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(SALT_GROUPS))).alias("a")
    b = bands.withColumn(
        "salt", F.explode(F.array(*[F.lit(g) for g in range(SALT_GROUPS)]))
    ).alias("b")
    earlier_collision = F.exists(
        F.sequence(F.lit(0), F.col("band") - 1),
        lambda j: F.col("a.band_keys")[j] == F.col("b.band_keys")[j],
    )
    first_band = F.when(F.col("band") == 0, F.lit(True)).otherwise(~earlier_collision)
    return (
        a.join(b, ["band", "band_key", "salt"])
        .filter((F.col("a.doc_id") < F.col("b.doc_id")) & first_band)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )


# Materialized doc→token-set bytes per source-scan byte (the zstd text
# ratio measured at sf0.1, r16): a property of the data encoding, not a
# deployment setting.
VERIFY_SET_BYTES_FACTOR = 3


def _verify_build_hint(docs: DataFrame) -> str | None:
    """Join-strategy guard for corpus-sized verify joins (r16, VERDICT
    r15 item 7 / guide §3.1): Catalyst underestimates the doc→token-set
    relation ~280× (scripts/card_audit.py, r15), so it happily
    broadcasts it far past any sane executor budget before the linear
    estimate finally crosses the 10 MB threshold (~sf8) and
    self-corrects. Estimate the TRUE materialized size instead — the
    xxhash64 set arrays are ~8 bytes per token instance ≈ raw text
    bytes ≈ ``VERIFY_SET_BYTES_FACTOR`` (the measured zstd text ratio;
    sf0.1: 3 × ~24 MB scan ≈ 71 MB actual) times the source scan size
    — and force SHUFFLE_HASH above ``DQE_VERIFY_BROADCAST_CAP`` bytes
    (default 256 MB, a deployment's executor budget; a malformed or
    non-positive value raises ValueError naming the knob). At sf0.1 the
    corrected estimate (~71 MB) stays under the cap, keeping the
    broadcast plan the r15 A/B measured fastest locally; past the cap a
    small-executor cluster gets the shuffle join instead of an OOM.
    Driver-side plan statistics only — no job."""
    raw = os.environ.get("DQE_VERIFY_BROADCAST_CAP", str(256 * 1024**2))
    try:
        cap = int(raw)
        if cap <= 0:
            raise ValueError
    except ValueError:
        raise ValueError(
            f"DQE_VERIFY_BROADCAST_CAP must be a positive byte count, got {raw!r}"
        ) from None
    try:
        est = int(
            docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover — py4j surface moved
        return None
    return "shuffle_hash" if est * VERIFY_SET_BYTES_FACTOR > cap else None


def exact_jaccard(
    pairs: DataFrame,
    tokens: DataFrame | None = None,
    threshold: float | None = None,
    doc_sets: DataFrame | None = None,
    build_hint: str | None = None,
) -> DataFrame:
    """Exact set-Jaccard for given pairs from the (doc, tok) relation
    (``tokens``) or from a precomputed doc→sorted-hash-array relation
    (``doc_sets`` — pass :func:`doc_hash_sets_rowlocal` to skip the
    aggregation shuffle entirely when the sets are row-derivable).

    The token relation is first aggregated to one sorted array per doc
    (a shuffle of the LINEAR token relation), then each pair row picks up
    both arrays via two doc-keyed joins and intersects them JVM-side
    (`array_intersect` inside whole-stage codegen). The pair set — the
    only quadratic-ish relation — is never exploded per token and never
    re-shuffled for aggregation; with AQE the doc→array side broadcasts
    when small. Division of small exact ints → deterministic double.

    Every candidate pair is reported with its verified score, INCLUDING
    jaccard = 0: the blocking already bounded the candidate set, and a
    drop-empty-intersection predicate would get pushed into the join
    condition by Catalyst, re-evaluating the intersection up to three
    times per row (measured 4× slower at sf0.1 for zero semantic gain —
    downstream consumers threshold on jaccard anyway). The SQL oracles
    share this contract via a left join + COALESCE(n_inter, 0).

    Tokens are hashed to 64-bit longs (`xxhash64`) before set-building:
    `array_intersect` over primitive longs runs ~3× faster than over
    UTF8 strings (no per-element allocation). A 64-bit collision merging
    two distinct tokens within one document pair is ~2^-64 per token
    pair — negligible against any corpus we target.

    ``threshold``: when given, only pairs with jaccard >= threshold are
    returned. The predicate is stated over the RAW size expressions
    (never over the projected ``jaccard`` column): a ``.filter`` on the
    projected column gets collapsed + pushed by Catalyst until
    ``array_intersect`` is re-evaluated up to 3× per candidate (the
    27 s → 18.5 s lesson in BASELINE.md, re-measured as a 1.8×
    regression in round 2). Filtering on the size expressions caps that
    at 2 evaluations (join-side filter + output projection), which
    measures FASTER than the previous workaround — a rand()*0.0
    optimizer barrier — by ~15% at sf0.1 (1.8-2.0 s vs 2.2-2.4 s),
    while staying deterministic: the comparison is the identical double
    division the projection computes, so survivors are bit-exactly the
    pairs whose reported jaccard passes."""
    if tokens is None and doc_sets is None:
        raise ValueError("exact_jaccard: pass tokens or doc_sets")
    if doc_sets is None:
        t64 = tokens.select("doc_id", F.xxhash64("tok").alias("t"))
        doc_sets = t64.groupBy("doc_id").agg(
            F.sort_array(F.collect_set("t")).alias("toks")
        )
    # Join the SAME doc_sets relation twice (aliased, renamed only
    # ABOVE the join) instead of joining two differently-projected
    # copies: identical join inputs canonicalize to one exchange, so
    # the doc→set relation is broadcast/shuffled ONCE and the second
    # join is a ReusedExchange (r16, guide §2.4 — two operations keyed
    # the same way share one exchange; previously sa and sb were two
    # separate broadcast builds of the same data).
    # ``build_hint`` (e.g. "shuffle_hash" from :func:`_verify_build_hint`)
    # pins the doc-sets side's join strategy; both hinted shuffles key on
    # doc_id, so the relation is exchanged once and reused.
    if build_hint:
        doc_sets = doc_sets.hint(build_hint)
    sa = doc_sets.alias("sa")
    sb = doc_sets.alias("sb")
    toks_a = F.col("sa.toks")
    toks_b = F.col("sb.toks")
    n_inter = F.size(F.array_intersect(toks_a, toks_b))
    n_union = F.size(toks_a) + F.size(toks_b) - n_inter
    jac = n_inter.cast("double") / n_union.cast("double")
    base = pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id")).join(
        sb, F.col("doc_b") == F.col("sb.doc_id")
    )
    if threshold is not None:
        base = base.filter(jac >= threshold)
    return base.select("doc_a", "doc_b", jac.alias("jaccard"))


def signature_groups(sigs: DataFrame) -> DataFrame:
    """Collapse identical-signature docs to one group row: (m0..m{n},
    members sorted, rep = min doc_id). THE grouping contract shared by
    every grouped candidate path (self-join, star edges, incremental) —
    change the member ordering or rep tiebreak HERE only, or the
    documented set-identity between grouped and per-doc candidate
    generation breaks."""
    sig_cols = [f"m{i}" for i in range(N_HASHES)]
    return sigs.groupBy(*sig_cols).agg(
        F.sort_array(F.collect_list("doc_id")).alias("members"),
        F.min("doc_id").alias("rep"),
    )


def candidate_pairs_grouped(
    sigs: DataFrame, groups: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs via SIGNATURE GROUPING — same pair set as
    ``candidate_pairs(lsh_bands(sigs))``, built the way a boilerplate-
    heavy corpus demands.

    Real corpora contain groups of documents with IDENTICAL minhash
    signatures (boilerplate/templates); banding every member
    individually makes the LSH buckets quadratic in the largest group.
    Instead: collapse each distinct signature to one group row
    (members + min-doc representative), then

    - **within-group**: every member pair is a candidate by definition
      (identical signature → collides in every band). Generated by a
      double explode with a repartition between them, so a k-member
      group's k² expansion spreads across the cluster instead of one
      Generate task.
    - **cross-group**: band-join the group REPRESENTATIVES only (the
      salted first-collision join of :func:`candidate_pairs` — group
      count, not doc count), then expand the member cross-product, again
      repartitioning between explodes. Signature groups are disjoint, so
      each unordered doc pair appears exactly once; least/greatest
      restores the doc_a < doc_b convention.

    ``groups``: pre-materialized :func:`signature_groups` output for the
    same ``sigs`` (caller already holds a checkpointed copy — e.g. the
    ingest loop, which also appends it to the grouped store); passing it
    skips a duplicate group shuffle + eager checkpoint job (r15)."""
    sig_cols = [f"m{i}" for i in range(N_HASHES)]
    if groups is None:
        groups = signature_groups(sigs).localCheckpoint()
    par = _explode_par()
    within = (
        groups.filter(F.size("members") > 1)
        .select("members", F.explode("members").alias("doc_a"))
        .repartition(par, "doc_a")
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    rep_sigs = groups.select(F.col("rep").alias("doc_id"), *sig_cols)
    rep_pairs = candidate_pairs(lsh_bands(rep_sigs))
    members = groups.select("rep", "members")
    cross = (
        rep_pairs.join(
            members.select(F.col("rep").alias("doc_a"), F.col("members").alias("ma")),
            "doc_a",
        )
        .join(
            members.select(F.col("rep").alias("doc_b"), F.col("members").alias("mb")),
            "doc_b",
        )
        .select(F.explode("ma").alias("xa"), "mb")
        .repartition(par, "xa")
        .select("xa", F.explode("mb").alias("xb"))
        .select(
            F.least("xa", "xb").alias("doc_a"), F.greatest("xa", "xb").alias("doc_b")
        )
    )
    return within.unionByName(cross)


def hashed_token_ids(tokens: DataFrame) -> DataFrame:
    """(doc, tok) → (doc, tid) with tid = md5-prefix hash mod P — the
    dictionary-free token-id path (the scale default; module docstring).

    No distinct, no global sort, no join: the id is a row-local
    expression (parse the first 15 hex chars of md5 → 60-bit int →
    mod P so the minhash affine products stay in int64). md5 is chosen
    over xxhash64 because BOTH engines define it identically over UTF-8
    bytes, keeping the oracle arithmetic-exact. Distinct tokens collide
    in the 31-bit id space with birthday probability (~|vocab|²/2³²) —
    a collision only merges two rows of the LSH *candidate* geometry;
    exact-Jaccard verification intersects the token strings themselves
    (exact_jaccard), so reported scores are unaffected."""
    return tokens.select("doc_id", _tid_expr("tok").alias("tid"))


def signatures_for(tokens: DataFrame, hashed: bool = True) -> DataFrame:
    """(doc, tok) relation → minhash signatures. ``hashed=True`` (the
    default — the 100 TB path): row-local md5-mod-P ids
    (:func:`hashed_token_ids`), no vocabulary sort. ``hashed=False``:
    lexicographic dictionary → broadcast tid join (exact oracle parity
    via row_number arithmetic; kept as the arithmetic demo path).
    Either way one min-aggregate shuffle on doc_id. Shared by the
    word-token and n-gram pipelines."""
    if hashed:
        tokens_tid = hashed_token_ids(tokens)
    else:
        dict_df = token_ids(tokens)
        tokens_tid = tokens.join(F.broadcast(dict_df), "tok").select("doc_id", "tid")
    return minhash_signatures(tokens_tid)


def minhash_dedup_pairs(
    docs: DataFrame, threshold: float = 0.5, hashed: bool = True
) -> DataFrame:
    """Full pipeline: tokenize → token ids → signatures → signature
    groups → candidates (within-group + banded cross-group) →
    exact-Jaccard verify → keep pairs at/above threshold.

    Returns (doc_a, doc_b, jaccard, is_dup) with is_dup uniformly true —
    the column is kept so the reporting schema is stable against
    threshold changes. Sub-threshold candidates are verified but NOT
    reported: the candidate set is quadratic in near-dup cluster size
    (boilerplate corpora produce k²-pair signature groups), so an
    unthresholded report would make the OUTPUT quadratic too. Consumers
    needing connectivity only should use :func:`minhash_dup_edges`
    (linear edge count) instead of this scored-pairs report.

    ``hashed=True`` (the default) uses the dictionary-free md5-mod-P
    token ids (see :func:`signatures_for`) — no global vocabulary sort;
    ``hashed=False`` keeps the broadcast-dictionary path. Same verify
    arithmetic either way."""
    # Hashed path: signatures AND verify token-sets are ROW-LOCAL
    # expressions (signatures_rowlocal / doc_hash_sets_rowlocal), so the
    # corpus is scanned twice with zero token-relation shuffles — the
    # historical recompute-vs-checkpoint question (r5 measurements:
    # recompute 3.34 s vs localCheckpoint 3.79 s vs persist 4.87 s)
    # dissolves, since there is no longer an exploded relation to reuse.
    # Dictionary path keeps the exploded relation (its ids need the
    # global vocabulary).
    if hashed:
        sigs = signatures_rowlocal(docs)
        pairs = candidate_pairs_grouped(sigs)
        verified = exact_jaccard(
            pairs,
            threshold=threshold,
            doc_sets=doc_hash_sets_rowlocal(docs),
            build_hint=_verify_build_hint(docs),
        )
    else:
        tokens = tokenize(docs)
        sigs = signatures_for(tokens, hashed=False)
        pairs = candidate_pairs_grouped(sigs)
        verified = exact_jaccard(pairs, tokens, threshold=threshold)
    return verified.select(
        "doc_a", "doc_b", "jaccard", (F.col("jaccard") >= threshold).alias("is_dup")
    )


def minhash_dup_edges(
    docs: DataFrame, threshold: float = 0.5, hashed: bool = True
) -> DataFrame:
    """Near-duplicate EDGES for clustering consumers — linear in group
    size where :func:`minhash_dedup_pairs`' candidate set is quadratic.

    Documents with IDENTICAL minhash signatures (boilerplate/templates)
    don't need k² verified pairs to end up in one connected component: a
    STAR of k−1 (representative, member) edges spans the same nodes. So:

    - within each identical-signature group: star edges rep→member;
    - across groups: banded LSH over group REPRESENTATIVES only (the
      salted first-collision join of :func:`candidate_pairs`).

    Every edge is still exact-Jaccard-verified against ``threshold``.
    The component structure can differ from the all-pairs graph in one
    edge case — a member whose Jaccard to its rep is below threshold but
    to some other member is above stays unlinked here — which is the
    deliberate contract: star verification bounds work at k−1 edges per
    group, and identical-signature members that fail even their rep are
    overwhelmingly not duplicates of anyone. Returns (doc_a, doc_b).

    ``hashed=True`` (the default — this operator feeds multi-stage
    clustering pipelines, so it gets the 100 TB token-id path): row-local
    md5-mod-P ids, no global vocabulary sort. The id scheme shifts WHICH
    docs share identical signatures / band keys (candidate recall), never
    a reported edge's validity — every edge is exact-Jaccard-verified on
    the token strings themselves."""
    # Hashed path is fully row-local (see minhash_dedup_pairs) — no
    # token-relation shuffles to reuse or checkpoint.
    if hashed:
        sigs = signatures_rowlocal(docs)
        verify_kw = {
            "doc_sets": doc_hash_sets_rowlocal(docs),
            "build_hint": _verify_build_hint(docs),
        }
    else:
        tokens = tokenize(docs)
        sigs = signatures_for(tokens, hashed=False)
        verify_kw = {"tokens": tokens}
    sig_cols = [f"m{i}" for i in range(N_HASHES)]
    groups = signature_groups(sigs).localCheckpoint()
    star = (
        groups.filter(F.size("members") > 1)
        .select(F.col("rep").alias("doc_a"), F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    rep_sigs = groups.select(F.col("rep").alias("doc_id"), *sig_cols)
    rep_pairs = candidate_pairs(lsh_bands(rep_sigs))
    cand = star.unionByName(rep_pairs)
    return exact_jaccard(cand, threshold=threshold, **verify_kw).select(
        "doc_a", "doc_b"
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.5,
    hashed: bool = True,
) -> DataFrame:
    """Near-dup detection for a NEW batch against an EXISTING corpus —
    the steady-state shape of a production ingestion pipeline, where
    re-pairing the whole corpus per batch (what :func:`minhash_dedup_pairs`
    does) would be O(corpus) work for O(batch) new data.

    Returns (new_doc, dup_of, jaccard, is_dup): every incoming doc's
    verified near-duplicates, whether the match is an existing corpus
    doc or an EARLIER doc of the same batch (``dup_of`` < ``new_doc``
    for in-batch matches — arrival order by id, so a batch of k mutual
    dups reports k−1 of them as duplicates, mirroring what sequential
    ingestion would have done).

    Scale shape — the asymmetry is the whole point:

    - The incoming batch is orders of magnitude smaller than the corpus,
      so its band relation is ``broadcast()``: the corpus-side band
      relation NEVER shuffles — candidate generation is a map-side join
      over the corpus partitions. A mega-bucket band key (boilerplate)
      fans out per corpus row bounded by the batch's docs in that
      bucket, spread across every corpus partition — no single-task k².
    - In-batch candidates reuse :func:`candidate_pairs` (salted,
      first-collision-deduped) over the SMALL batch band relation.
    - In production the corpus side of signature generation comes from a
      SIGNATURE STORE (a parquet sink of ``signatures_for`` keyed by
      doc_id, appended per ingested batch) rather than re-tokenizing;
      it is recomputed here so the operator is self-contained against
      two raw document frames. Exact-Jaccard verification always needs
      the token relation of BOTH sides (fetch-by-id in production).

    Multi-band collisions dedup via the same earliest-common-band filter
    as :func:`candidate_pairs` — set-identical to DISTINCT on the pair,
    without shuffling the pair set."""
    if hashed:
        sigs_c = signatures_rowlocal(corpus)
        sigs_n = signatures_rowlocal(incoming)
        verify_kw = {
            "doc_sets": doc_hash_sets_rowlocal(corpus).unionByName(
                doc_hash_sets_rowlocal(incoming)
            )
        }
    else:
        tok_c = tokenize(corpus)
        tok_n = tokenize(incoming)
        sigs_c = signatures_for(tok_c, hashed=False)
        sigs_n = signatures_for(tok_n, hashed=False)
        verify_kw = {"tokens": tok_c.unionByName(tok_n)}
    pairs = _incremental_candidates(sigs_c, sigs_n)
    return exact_jaccard(pairs, threshold=threshold, **verify_kw).select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("dup_of"),
        "jaccard",
        (F.col("jaccard") >= threshold).alias("is_dup"),
    )


def _incremental_candidates(
    sigs_c: DataFrame | None,
    sigs_n: DataFrame | None,
    gc: DataFrame | None = None,
    gn: DataFrame | None = None,
    with_store_hits: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Candidate (batch doc, corpus-or-earlier-batch doc) pairs for the
    incremental dedup family — SIGNATURE-GROUPED on BOTH sides, for the
    same reason :func:`candidate_pairs_grouped` groups the self-join: a
    template-heavy corpus has identical-signature groups, and banding
    every member individually makes the band join quadratic in group
    size (per-doc banding measured 9.4 s vs 3.4 s grouped at sf0.1 for
    the 20% batch split — slower than the FULL all-pairs dedup until
    grouped).
    Group each side's signatures, band-join the REPRESENTATIVES (the
    batch's group-level band relation broadcasts; the corpus side still
    never shuffles), then expand both member lists through repartitioned
    explodes. Identical signatures across sides share every band key,
    so the rep join catches them at band 0. Returns (doc_a = batch doc,
    doc_b = corpus doc) plus in-batch pairs oriented later-as-new.

    ``gc``/``gn``: pre-grouped sides. ``gc`` is the GROUPED signature
    store read straight from parquet (r15 — the store persists group
    rows, so the per-batch corpus regroup shuffle + eager checkpoint
    disappear; a parquet scan's lineage is already cut, so the
    constraint-propagation guard below is moot for it). ``gn`` is a
    checkpointed batch-group relation the caller reuses for its own
    store append. Group-set identity across generations is NOT required:
    two store generations may both hold a group row for the same
    signature — their reps band-join the batch independently (identical
    signatures share every band key) and their member lists are
    disjoint (each doc lives in exactly one generation), so each
    (batch doc, store doc) pair still arises exactly once.

    ``with_store_hits=True`` additionally returns the store-side
    candidate-hit doc ids as a second DataFrame, derived from the rep
    band join + a member explode of the HIT GROUPS — linear in group
    membership, never touching the quadratic pair relation. The set is
    exactly the distinct ``doc_b`` values of the cross pairs (every
    member of a matched store group appears as a doc_b), which is what
    the fetch-by-id verify needs; in-batch doc_b values are omitted by
    construction, matching the caller's anti-join of the batch (r16 —
    this is what lets the caller drop the pairs localCheckpoint: the
    pair relation now has exactly ONE consumer, the verify join)."""
    sig_cols = [f"m{i}" for i in range(N_HASHES)]
    if (sigs_c is None and gc is None) or (sigs_n is None and gn is None):
        raise ValueError(
            "_incremental_candidates: each side needs sigs or its "
            "pre-grouped relation (gc/gn)"
        )
    # localCheckpoint for the same two reasons candidate_pairs_grouped
    # checkpoints ITS groups: (a) the group relations feed multiple
    # joins below, and (b) with the row-local signature projections the
    # un-cut lineage drives Catalyst's constraint propagation over the
    # 16 aliased minhash expressions into exponential ExpressionSet
    # growth (observed as an optimizer-time OOM, not an execution-time
    # one). The groups are narrow (one row per distinct signature), so
    # the materialization is metadata-sized next to the corpus.
    if gc is None:
        gc = signature_groups(sigs_c).localCheckpoint()
    if gn is None:
        gn = signature_groups(sigs_n).localCheckpoint()
    bands_c = lsh_bands(gc.select(F.col("rep").alias("doc_id"), *sig_cols))
    bands_n = lsh_bands(gn.select(F.col("rep").alias("doc_id"), *sig_cols))
    a = bands_c.alias("a")
    b = bands_n.alias("b")
    earlier_collision = F.exists(
        F.sequence(F.lit(0), F.col("band") - 1),
        lambda j: F.col("a.band_keys")[j] == F.col("b.band_keys")[j],
    )
    first_band = F.when(F.col("band") == 0, F.lit(True)).otherwise(
        ~earlier_collision
    )
    rep_pairs = (
        a.join(F.broadcast(b), ["band", "band_key"])
        .filter(first_band)
        .select(
            F.col("b.doc_id").alias("nrep"),
            F.col("a.doc_id").alias("crep"),
        )
    )
    par = _explode_par()
    cross = (
        rep_pairs.join(
            gn.select(F.col("rep").alias("nrep"), F.col("members").alias("mn")),
            "nrep",
        )
        .join(
            gc.select(F.col("rep").alias("crep"), F.col("members").alias("mc")),
            "crep",
        )
        .select(F.explode("mn").alias("doc_a"), "mc")
        .repartition(par, "doc_a")
        .select("doc_a", F.explode("mc").alias("doc_b"))
    )
    # In-batch pairs: the grouped self-join yields doc_a < doc_b; the
    # LATER arrival is the "new" doc being flagged against the earlier.
    # gn is exactly signature_groups(sigs_n) — reuse it so the batch is
    # grouped (and eagerly checkpointed) once, not twice (r15).
    within = candidate_pairs_grouped(sigs_n, groups=gn).select(
        F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
    )
    pairs = cross.unionByName(within)
    if with_store_hits:
        # Semi join (not inner): rep_pairs repeats a crep once per
        # matched batch group; semi keeps each hit group once. Members
        # are disjoint across groups AND generations, so the explode is
        # already duplicate-free — no distinct shuffle.
        hit_ids = gc.join(
            rep_pairs.select(F.col("crep").alias("rep")), "rep", "left_semi"
        ).select(F.explode("members").alias("doc_id"))
        return pairs, hit_ids
    return pairs


def incremental_dedup_from_store(
    spark,
    store_path: str,
    corpus: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.5,
    hashed: bool = True,
    batch_groups: DataFrame | None = None,
    store_dirs: list[str] | None = None,
) -> DataFrame:
    """:func:`incremental_minhash_dedup` against a persisted SIGNATURE
    STORE — the two production mechanics the self-contained variant only
    documents, made real:

    - Corpus signatures are READ from ``store_path`` as GROUP rows
      (m0..m{N_HASHES-1}, members, rep — :func:`signature_groups`
      output, maintained by appending each ingested batch's groups), not
      recomputed AND not regrouped: steady-state per-batch cost never
      re-tokenizes the corpus, and since r15 never re-shuffles the
      ever-growing store either (guide §2.4 — the per-batch
      O(|store|) group exchange + eager checkpoint job are gone; the
      candidate stage reads the grouped parquet straight into the rep
      band join). Cross-generation group fragmentation is harmless —
      see :func:`_incremental_candidates`.
    - Exact-Jaccard verification tokenizes ONLY the corpus docs that
      actually appear in a candidate pair (fetch-by-id: a semi-join of
      the corpus on the candidates' distinct dup-side ids) plus the
      batch — at 100 TB the candidate-hit set is orders of magnitude
      smaller than the corpus, so the verify stage's scan cost tracks
      the batch too.

    ``batch_groups``: optional pre-materialized (checkpointed or
    parquet-backed) ``signature_groups(signatures of incoming)`` — the
    ingest loop passes the store subdir it just wrote, so the batch is
    grouped exactly once per micro-batch. Implies ``hashed=True``:
    grouped signatures are md5-mod-P by construction, so mixing them
    with string-token verification would be silently wrong (ADVICE r15).

    ``store_dirs``: explicit store generation dirs to read instead of a
    recursive listing of ``store_path`` — the ingest loop's write-first
    layout (r16) appends the CURRENT batch's groups before computing the
    report, so it must read every generation EXCEPT its own.

    Same output contract as :func:`incremental_minhash_dedup`; identical
    results for identical inputs, since the store holds exactly the
    signatures the self-contained variant recomputes (grouped)."""
    if batch_groups is not None and not hashed:
        raise ValueError(
            "incremental_dedup_from_store: batch_groups implies "
            "hashed=True (grouped signatures are md5-mod-P)"
        )
    if store_dirs is not None:
        gc = spark.read.parquet(*store_dirs)
    else:
        # Recursive lookup: the streaming ingest loop appends each batch
        # under a batch-scoped subdir (b<id>/ — overwrite-idempotent
        # replays, r15); a flat store reads identically, and _-prefixed
        # entries stay hidden either way.
        gc = spark.read.option("recursiveFileLookup", "true").parquet(
            store_path
        )
    if "members" not in gc.columns or "rep" not in gc.columns:
        raise ValueError(
            f"signature store at {store_path!r} is not in the grouped "
            "(r15) format — rebuild it with build_signature_store"
        )
    # incoming is batch-sized (a streaming micro-batch in the ingest
    # loop): its md5 work fits one task, so the narrow-scan spread is
    # pure per-batch exchange overhead — opted out.
    if batch_groups is None:
        sigs_n = (
            signatures_rowlocal(incoming, spread=False)
            if hashed
            else signatures_for(tokenize(incoming), hashed=False)
        )
        batch_groups = signature_groups(sigs_n).localCheckpoint()
    # The quadratic pair relation has exactly ONE consumer — the verify
    # join: the fetch-by-id hit set is derived from the LINEAR rep band
    # join + hit-group member explode inside _incremental_candidates
    # (r16), so the r15 pairs localCheckpoint (a full per-batch driver
    # job + a 192-partition materialization) is gone. Lineage is cut at
    # the gc parquet scan and the materialized batch_groups, so the
    # 16-alias constraint-propagation blowup that once forced the eager
    # checkpoint cannot occur.
    pairs, hit_ids = _incremental_candidates(
        None, None, gc=gc, gn=batch_groups, with_store_hits=True
    )
    corpus_hits = corpus.join(hit_ids, "doc_id", "left_semi")
    # ``corpus`` may CONTAIN the incoming docs (the caller passes the
    # full table so in-batch dup partners resolve too) — the exploded
    # path's collect_set used to absorb that overlap; the row-local
    # doc_sets relation must instead keep one row per doc explicitly,
    # or overlapping docs join twice and duplicate every verified pair.
    corpus_only = corpus_hits.join(
        incoming.select("doc_id"), "doc_id", "left_anti"
    )
    if hashed:
        # spread=False on BOTH sides: corpus_only is a join-bearing
        # plan, so the narrow-scan spread's .rdd partition probe would
        # force an eager AQE materialization of the semi/anti subplan
        # (one hidden driver job per batch — the cost the
        # _spread_narrow_scan docstring warns about), to parallelize
        # xxhash64 work over a candidate-hit set that is batch-sized.
        verify_kw = {
            "doc_sets": doc_hash_sets_rowlocal(
                corpus_only, spread=False
            ).unionByName(doc_hash_sets_rowlocal(incoming, spread=False))
        }
    else:
        verify_kw = {
            "tokens": tokenize(corpus_only).unionByName(tokenize(incoming))
        }
    return exact_jaccard(pairs, threshold=threshold, **verify_kw).select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("dup_of"),
        "jaccard",
        (F.col("jaccard") >= threshold).alias("is_dup"),
    )


def build_signature_store(
    spark, docs: DataFrame, store_path: str, hashed: bool = True
) -> None:
    """Materialize the minhash signature store for a corpus as GROUP
    rows: one parquet row (m0..m{N_HASHES-1}, members, rep) per distinct
    signature (:func:`signature_groups` output). Storing the grouped
    form moves the group shuffle from EVERY per-batch read to the one
    write that maintains the store (r15, guide §2.4): production
    appends each ingested batch's groups (``mode("append")`` keyed by
    ingestion date — fragmentation across appends is harmless, see
    :func:`_incremental_candidates`); here the store is (re)built whole
    for a self-contained query."""
    sigs = (
        signatures_rowlocal(docs)
        if hashed
        else signatures_for(tokenize(docs), hashed=False)
    )
    signature_groups(sigs).write.mode("overwrite").parquet(store_path)


def connected_components(
    pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components of the undirected near-duplicate graph,
    GraphFrames-free (SURVEY.md §7 watch-list #4): iterative min-label
    propagation to fixpoint. Returns (node, comp) with comp = the
    smallest node id reachable — the canonical cluster representative.

    Scale design: each iteration is one shuffle-join of edges against
    labels, a min-aggregate, and a POINTER-JUMP (each node shortcuts to
    its propagated label's propagated label — the label-doubling step of
    the classic PRAM/MapReduce CC algorithms), so labels travel multiple
    hops per materialization instead of one: measured 5 iterations vs 8
    for plain propagation on the sf0.01 near-dup graph, and the gap
    widens with graph diameter. No driver-side graph state. Lineage is
    cut every iteration with ``localCheckpoint()`` (on a cluster:
    ``checkpoint()`` to HDFS) or the plan would grow exponentially; the
    convergence flag is computed INSIDE the checkpointed frame, so each
    iteration is exactly two actions (materialize + a scan-only count).
    Convergence is verified and non-convergence raises rather than
    returning a silently wrong clustering."""
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(edges.dst.alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        prop = labels.join(nbr_min, "node", "left").select(
            "node",
            F.col("comp").alias("old_comp"),
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("mid"),
        )
        # Pointer-jump through the freshly-propagated labels: `mid` is
        # always a node id, so looking up ITS `mid` applies two hops in
        # one pass. Only reachable labels are ever assigned (mid is
        # reachable; its mid is reachable from it), so the fixpoint —
        # min reachable node id — is unchanged, just reached sooner.
        jump = prop.select(F.col("node").alias("mid"), F.col("mid").alias("jcomp"))
        new_labels = (
            prop.join(jump, "mid", "left")
            .select(
                "node",
                F.least(F.col("mid"), F.coalesce("jcomp", F.col("mid"))).alias("comp"),
                "old_comp",
            )
            .withColumn("changed", F.col("comp") != F.col("old_comp"))
            .select("node", "comp", "changed")
            .localCheckpoint()
        )
        changed = new_labels.filter("changed").count()
        labels = new_labels.select("node", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32  # keeps every intermediate in int64 comfortably


def simhash(docs: DataFrame) -> DataFrame:
    """doc_id → 32-bit simhash (bit j set iff the weighted bit-majority
    is positive; ties → 0, so the value is deterministic). Token ids
    are the dictionary-free md5-mod-P hash (r6, matching the minhash
    default): the previous row_number dictionary was a single-task
    global vocabulary sort — fine locally, fatal at 100 TB.

    Computed ROW-LOCALLY (late r6, same shape as signatures_from_arrays):
    hs = the affine-hashed tid array materialized once per row, then
    each bit's majority sum is an aggregate fold over hs — the
    explode → groupBy(doc_id).agg(32 sums) shuffle of the corpus ×
    token-fanout relation no longer exists. Values are identical: the
    per-bit sum over a doc's token set is the same arithmetic whether
    folded per row or re-grouped after an explode."""
    a, b = hash_params(0)

    def affine(t):
        return (t * a + b) % P

    base = doc_token_arrays(docs).select(
        "doc_id",
        F.transform("toks", lambda t: affine(_tid_expr(t))).alias("hs"),
    )

    def bit_sum(j):
        return F.aggregate(
            "hs",
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(1) == 1, 1).otherwise(-1),
        )

    sh = None
    for j in range(SIMHASH_BITS):
        term = F.when(bit_sum(j) > 0, 1 << j).otherwise(0).cast("long")
        sh = term if sh is None else sh + term
    return base.select("doc_id", sh.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-duplicate pairs by simhash: block on the top 16 bits (a real
    LSH — Hamming-close hashes usually share the prefix), then verify
    bit_count(xor) within blocks.

    Built the way a boilerplate-heavy corpus demands (the same two-level
    shape as :func:`candidate_pairs_grouped`): a template shared by k
    documents yields k IDENTICAL simhash values, so a naive per-doc
    prefix self-join hands that value's entire k² pair production to one
    shuffle task. Instead:

    - **collapse** identical simhash values to one group row
      (value, sorted members) — group count, not doc count;
    - **within-group** (hamming = 0): every member pair qualifies by
      definition; generated by a double explode with a repartition
      between them, so a k-member group's k² expansion spreads across
      the cluster instead of one Generate task;
    - **cross-group**: prefix self-join over DISTINCT simhash values
      only, salted exactly as :func:`candidate_pairs` (side A tagged
      hash(value) % SALT_GROUPS, side B replicated ×SALT_GROUPS of the
      tiny distinct-value relation), verify 0 < hamming ≤ max, then
      expand both member lists — again repartitioning between explodes.

    Groups are disjoint and each doc has one simhash, so each unordered
    pair appears exactly once; set-identical to the naive join."""
    sh = simhash(docs)
    groups, par = _simhash_groups(sh)
    within = _within_group_pairs(groups, par)
    vals = groups.select("simhash", F.shiftright("simhash", 16).alias("prefix"))
    a = vals.select(
        F.col("simhash").alias("sh_a"),
        "prefix",
        F.pmod(F.xxhash64("simhash"), F.lit(SALT_GROUPS)).alias("salt"),
    )
    b = vals.select(
        F.col("simhash").alias("sh_b"),
        "prefix",
        F.explode(F.array(*[F.lit(g) for g in range(SALT_GROUPS)])).alias("salt"),
    )
    val_pairs = (
        a.join(b, ["prefix", "salt"])
        .filter(F.col("sh_a") < F.col("sh_b"))
        .select(
            "sh_a",
            "sh_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = _expand_value_pairs(groups, val_pairs, par)
    return within.unionByName(cross)


def _simhash_groups(sh: DataFrame):
    """Collapse identical simhash values to (value, sorted members)
    group rows — the skew shield shared by every simhash blocker."""
    groups = (
        sh.groupBy("simhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .localCheckpoint()
    )
    return groups, SALT_GROUPS * 4


def _within_group_pairs(groups: DataFrame, par: int) -> DataFrame:
    """hamming = 0 pairs: every member pair of a group qualifies; the
    double explode is split by a repartition so a k-member group's k²
    expansion spreads across ``par`` tasks."""
    return (
        groups.filter(F.size("members") > 1)
        .select("members", F.explode("members").alias("doc_a"))
        .repartition(par, "doc_a")
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(0).cast("long").alias("hamming"))
    )


def _expand_value_pairs(
    groups: DataFrame, val_pairs: DataFrame, par: int
) -> DataFrame:
    """(sh_a, sh_b, hamming) value pairs → member doc pairs, with the
    two explodes split by a repartition (same discipline as above)."""
    return (
        val_pairs.join(
            groups.select(F.col("simhash").alias("sh_a"), F.col("members").alias("ma")),
            "sh_a",
        )
        .join(
            groups.select(F.col("simhash").alias("sh_b"), F.col("members").alias("mb")),
            "sh_b",
        )
        .select("hamming", F.explode("ma").alias("xa"), "mb")
        .repartition(par, "xa")
        .select("hamming", "xa", F.explode("mb").alias("xb"))
        .select(
            F.least("xa", "xb").alias("doc_a"),
            F.greatest("xa", "xb").alias("doc_b"),
            "hamming",
        )
    )


SIMHASH_BANDS = 8
SIMHASH_BAND_WIDTH = SIMHASH_BITS // SIMHASH_BANDS  # 4 bits per band


def simhash_near_pairs_multiband(
    docs: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Simhash near-pairs with MULTI-BAND blocking and a RECALL
    GUARANTEE: the 32-bit simhash splits into 8 bands of 4 bits, and
    candidates are value pairs agreeing on AT LEAST ONE band. By
    pigeonhole, hamming ≤ 7 bit flips can dirty at most 7 of the 8
    bands — so every pair within ``max_hamming`` ≤ 7 SHARES a clean
    band and is guaranteed found. The top-16-bit prefix blocker
    (:func:`simhash_near_pairs`) misses close pairs whose differing
    bits fall in the prefix; this variant's oracle is therefore the
    UNRESTRICTED hamming self-join — exact completeness, stated as SQL.

    Mechanics mirror :func:`candidate_pairs` exactly: the banded
    relation is 8× the distinct-value relation (tiny), side A salted by
    hash(value), side B replicated ×SALT_GROUPS, and a pair colliding
    in several bands is kept only at its first agreeing band via the
    carried band_keys arrays (codegen filter, no distinct). Identical
    values collapse to groups first, same as the prefix variant."""
    sh = simhash(docs)
    groups, par = _simhash_groups(sh)
    within = _within_group_pairs(groups, par)
    band_keys = F.array(
        *[
            F.shiftright(F.col("simhash"), i * SIMHASH_BAND_WIDTH).bitwiseAND(
                (1 << SIMHASH_BAND_WIDTH) - 1
            )
            for i in range(SIMHASH_BANDS)
        ]
    )
    banded = groups.select(
        "simhash", band_keys.alias("band_keys")
    ).select(
        "simhash",
        "band_keys",
        F.posexplode("band_keys").alias("band", "band_key"),
    )
    a = banded.withColumn(
        "salt", F.pmod(F.xxhash64("simhash"), F.lit(SALT_GROUPS))
    ).alias("a")
    b = banded.withColumn(
        "salt",
        F.explode(F.array(*[F.lit(g) for g in range(SALT_GROUPS)])),
    ).alias("b")
    earlier = F.exists(
        F.sequence(F.lit(0), F.col("band") - 1),
        lambda j: F.col("a.band_keys")[j] == F.col("b.band_keys")[j],
    )
    first_band = F.when(F.col("band") == 0, F.lit(True)).otherwise(~earlier)
    val_pairs = (
        a.join(b, ["band", "band_key", "salt"])
        .filter((F.col("a.simhash") < F.col("b.simhash")) & first_band)
        .select(
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            )
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = _expand_value_pairs(groups, val_pairs, par)
    return within.unionByName(cross)


# --- n-gram Jaccard --------------------------------------------------------


def doc_ngram_arrays(docs: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, toks): the per-doc DISTINCT word-n-gram array — JVM-
    side, no Python, never exploded. Docs with fewer than ``n`` words
    have no grams and are dropped, matching explode semantics (the
    packed analog of :func:`doc_token_arrays` for the n-gram token-set
    notion).

    Grams are built by zipping ``n`` SLICES of the word array
    (functions/text.py::sliding_windows), not by indexing back into the
    array from a position transform: the previous
    ``element_at(split(text), i + k)`` form re-ran split() for every
    gram lookup — an O(n_tok²)-character hidden cost that projection
    collapse re-creates even if the split is aliased first (r9 A/B at
    sf1, 50k docs: 20.7 s → 2.6 s for the identical output)."""
    from distributed_query_engine_spark.functions.text import sliding_windows

    base = _spread_narrow_scan(docs.select("doc_id", "text"))
    grams = F.transform(
        sliding_windows(F.split(F.col("text"), " "), n),
        lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]),
    )
    return base.select(
        F.col("doc_id"), F.array_distinct(grams).alias("toks")
    ).filter(F.size("toks") > 0)


def word_ngrams(docs: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, ngram) distinct word n-grams, exploded form."""
    return doc_ngram_arrays(docs, n).select(
        "doc_id", F.explode("toks").alias("tok")
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Exact word-bigram Jaccard over BANDED-MINHASH candidates: the
    same signature-grouped LSH used for word tokens, run over the
    n-gram sets themselves.

    Scale: an earlier version blocked on (lang, first_token) — one
    stopword-initial template ("the …") collapses a real corpus into a
    single block with k² pair production in one task. Minhash banding
    over the n-gram sets has no such skew cliff: bucket population
    tracks actual n-gram-set similarity, mega-groups are salted across
    SALT_GROUPS tasks (candidate_pairs), and identical-signature groups
    are collapsed before banding (candidate_pairs_grouped). Candidates
    are verified with exact bigram Jaccard; only pairs at/above
    ``threshold`` are reported (same output contract as
    :func:`minhash_dedup_pairs`)."""
    # Row-local signatures + verify sets over the bigram arrays (same
    # shape as minhash_dedup_pairs): the bigram build + md5 ids are
    # recomputed in both lineages as pure projections — no exploded
    # relation, no token shuffles (doc_ngram_arrays spreads its own raw
    # scan up to session parallelism, so the historical outer
    # repartition here is gone — it doubled the exchange AND left the
    # inner `.rdd` probe staring at a shuffle-bearing plan). hashed ids
    # are at their best here: the bigram vocabulary is an order of
    # magnitude wider than the word vocabulary, so the dictionary
    # path's global sort would be at its worst.
    arrays = doc_ngram_arrays(docs, 2)
    sigs = signatures_from_arrays(arrays)
    pairs = candidate_pairs_grouped(sigs)
    return exact_jaccard(
        pairs, threshold=threshold, doc_sets=hash_sets_from_arrays(arrays)
    ).select(
        "doc_a", "doc_b", "jaccard", (F.col("jaccard") >= threshold).alias("is_dup")
    )


def containment_pairs(
    docs: DataFrame, threshold_num: int = 4, threshold_den: int = 5
) -> DataFrame:
    """ASYMMETRIC CONTAINMENT near-dup pairs — |A∩B| / min(|A|,|B|) ≥
    ``threshold`` — the quote/subset detector Jaccard structurally
    misses (a 50-token excerpt inside a 5000-token page has jaccard ≈
    0.01 but containment 1.0). Minhash LSH is the wrong blocker for
    this contract too: the large doc's signature is dominated by its
    own tokens, so asymmetric pairs rarely band-collide.

    The threshold is a RATIONAL num/den (default 4/5), never a double:
    both the prefix length and the qualifying filter are exact integer
    arithmetic. The float formulation hides a real completeness bug —
    ⌊(1−0.8)·n⌋ computes ⌊0.19999999999999996·n⌋ and shortens the
    prefix by one whenever (1−t)·n is an exact integer, silently
    dropping boundary pairs (observed: 2 pairs missing vs the
    unrestricted oracle at sf0.001 before the rationalization).

    Blocking is PREFIX FILTERING (the PPJoin-family set-similarity-join
    technique, public literature): order every doc's token set by
    ascending corpus document-frequency (ties by token), and post only
    its first n − ⌈t·n⌉ + 1 tokens — its *prefix*. COMPLETENESS: for a
    pair with containment ≥ t and A the smaller side, |A∩B| ≥ ⌈t·|A|⌉;
    if A∩B avoided A's prefix entirely then |A∩B| ≤ |A| − prefix_len =
    ⌈t·|A|⌉ − 1 — contradiction; so every qualifying pair shares a
    token of the smaller side's prefix and is caught by the
    prefix-side ⋈ full-posting join (both orientations at once, since
    either side may be the smaller). Cost is OUTPUT-SENSITIVE: per
    token the join produces prefix_count(tok) × df(tok) rows, and
    prefixes are dominated by each doc's RAREST tokens, so frequent
    tokens contribute only through docs so small that even frequent
    tokens land in their prefix. Verification is exact set arithmetic
    on the row-local hash-set arrays; the qualifying filter is the
    integer comparison den·|A∩B| ≥ num·min(|A|,|B|), and the reported
    doubles are derived from the same exact integers.

    Hash-collision caveat (mirrors :func:`hash_sets_from_arrays`): |A|,
    |B| and |A∩B| are set sizes over xxhash64 TOKEN IDS, so a 64-bit
    collision inside one doc shrinks its set by one and can flip a
    near-threshold pair relative to a true-token oracle — the
    asymmetric filter depends on these sizes directly. Negligible at
    any realistic vocabulary (P ≈ n²/2⁶⁵ per doc), and self-consistent
    here: the registry oracle hashes tokens the same way, so the
    comparison stays exact."""
    arrays = doc_token_arrays(docs)
    tokens = arrays.select(
        "doc_id", F.size("toks").alias("n_tok"), F.explode("toks").alias("tok")
    )
    dfreq = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = tokens.join(dfreq, "tok").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "tok")
        ),
    )
    # prefix_len = n − ⌈num·n/den⌉ + 1, all integer: ⌈a/b⌉ = (a+b−1) div b
    ceil_tn = F.expr(
        f"({threshold_num} * n_tok + {threshold_den} - 1) div {threshold_den}"
    )
    k = F.col("n_tok") - ceil_tn + 1
    prefix = ranked.filter(F.col("pos") <= k).select("doc_id", "tok")
    full = ranked.select("doc_id", "tok")
    # SALTED pair production (r14, the candidate_pairs discipline): a
    # hot prefix token (boilerplate terms; every token under K-fold
    # twin replication) hands its prefix_count x df pair explosion to
    # ONE task when the join key is bare `tok` — measured at sf1: 7
    # straggler tasks ground for 8+ min while 25 finished instantly.
    # The full side carries salt = hash(doc) % SALT_GROUPS (one per
    # row), the smaller prefix side is replicated across all salts
    # (bounded x16 of the sub-linear prefix relation), and the join key
    # becomes (tok, salt): each (a, b) pair still meets exactly once —
    # at b's salt, via a's replica — so the candidate set is identical,
    # but a hot token's production spreads over SALT_GROUPS tasks
    # keyed by the full side's doc hash.
    a = prefix.withColumn(
        "salt", F.explode(F.array(*[F.lit(g) for g in range(SALT_GROUPS)]))
    ).alias("a")
    b = full.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(SALT_GROUPS))
    ).alias("b")
    half = (
        a.join(b, ["tok", "salt"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
    )
    cand = half.distinct()
    sets = hash_sets_from_arrays(arrays)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    n_inter = F.size(F.array_intersect("ta", "tb"))
    n_a, n_b = F.size("ta"), F.size("tb")
    containment = n_inter.cast("double") / F.least(n_a, n_b).cast("double")
    jac = n_inter.cast("double") / (n_a + n_b - n_inter).cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.lit(threshold_den) * F.size(F.array_intersect("ta", "tb"))
            >= F.lit(threshold_num) * F.least(F.size("ta"), F.size("tb"))
        )
        .select(
            "doc_a",
            "doc_b",
            containment.alias("containment"),
            jac.alias("jaccard"),
            (n_inter == F.least(n_a, n_b)).alias("is_subset"),
        )
    )


SPAN_K = 8  # tokens per span — the duplicated-substring granularity


def _span_base(docs: DataFrame) -> DataFrame:
    """(doc_id, tl: token array, n_tok) — the shared span-pipeline scan.

    The scan is REPARTITIONED up to the session's parallelism when the
    source arrives in fewer splits (r9: the whole 50k-doc sf1 corpus is
    one 0.9 MB parquet split, so the ~n_tok× k-gram concat+md5 fan-out
    ran on ONE core — 12.4 s of the top query's 13.3 s). Shuffling the
    COMPACT doc rows (bytes ~ corpus size) before the fan-out is the
    cheap side of that trade; a 100 TB scan already has thousands of
    splits and skips this branch entirely."""
    base = _spread_narrow_scan(docs.select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    return base.select(
        F.col("doc_id"), toks.alias("tl"), F.size(toks).alias("n_tok")
    )


def _span_gids(k: int) -> Column:
    """Array of 60-bit md5-prefix span ids, one per k-token span start
    (index = 0-based span position; same engine-portable hash and
    collision caveat as ``hashed_token_ids``). Built from
    ``sliding_windows`` (arrays_zip of k slices of ``tl``) rather than
    ``slice(tl, i + 1, k)`` position indexing: on a scan that is
    already parallel the :func:`_spread_narrow_scan` exchange is
    rightly skipped, projection collapse then inlines ``tl``'s split()
    into the lambda, and per-element re-evaluation would turn the
    fan-out O(n_tok²) — the doc_ngram_arrays lesson applied before it
    bites (sliding_windows evaluates ``tl`` O(k) times per ROW)."""
    from distributed_query_engine_spark.functions.text import sliding_windows

    return F.transform(
        sliding_windows(F.col("tl"), k),
        lambda s: _md5_60(F.concat_ws(" ", *[s[str(j)] for j in range(k)])),
    )


def _grams(base: DataFrame, k: int) -> DataFrame:
    """The narrow (doc_id, pos, gid) gram fan-out, PERSISTED
    (MEMORY_AND_DISK): every span consumer (report/top/mask) aggregates
    this relation once and joins back into it once, so without
    materialization the expensive per-span concat+md5 fan-out computes
    TWICE per query (r9 A/B at sf1, 50k docs: recompute 3.9 s vs
    materialized 2.8-3.3 s for the top query; persist additionally
    lets Spark's cache manager share ONE entry across the whole family
    in a session — the second span query's fan-out is free). Cost: the
    cached relation is ~16 bytes/span columnar (~corpus token count),
    spilling to executor-local disk at scale — linear, vs recomputing
    md5 over k-token concats for the whole corpus per consumer. The
    r5 lineage-cut measurements preferred recompute, but those predate
    the r9 parallelism fix in :func:`_span_base`; the A/B is recorded
    in BASELINE.md r9."""
    from pyspark import StorageLevel

    df = base.select(
        "doc_id",
        F.posexplode(_span_gids(k)).alias("pos", "gid"),
    )
    # Registry keyed by the analyzed plan's semanticHash with
    # sameResult confirmation on hit (operators/semcache.py) — Spark's
    # CacheManager dedups semantically-equal plans to ONE cache entry,
    # so repeat calls for the same (corpus plan, k) must reuse the
    # registered relation instead of appending a new registry entry per
    # call (r11 ADVICE), and a bare-hash collision across distinct
    # (corpus, k) plans must not serve the wrong relation (r12 ADVICE).
    from distributed_query_engine_spark.operators.semcache import (
        persist_semantic,
    )

    return persist_semantic(
        _PERSISTED_GRAMS, df, StorageLevel.MEMORY_AND_DISK
    )


# Every relation _grams persisted, so long-lived sessions have a
# release path (r10 ADVICE: a new cache entry per (corpus plan, k)
# otherwise holds executor memory/disk for the whole session and
# accumulates across corpora/k values). One entry per semantic plan
# (r11 ADVICE), confirmed with sameResult on hash hit (r12 ADVICE) —
# see operators/semcache.py.
_PERSISTED_GRAMS: "dict[int, list[DataFrame]]" = {}


def release_gram_cache() -> int:
    """Unpersist every gram relation :func:`_grams` has persisted in
    this process (blocking=False — Spark frees the blocks
    asynchronously). Call after a family of span-dedup queries when the
    session will live on to other corpora; per-query consumers may
    instead leave the entries to Spark's LRU cache manager, which is
    the right default for a short-lived driver. Returns the number of
    relations released (for tests)."""
    from distributed_query_engine_spark.operators.semcache import (
        release_semantic,
    )

    return release_semantic(_PERSISTED_GRAMS)


def duplicated_span_report(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Substring-level exact dedup report: per document, how many of its
    k-token spans (and how many of its tokens) are covered by a span
    that occurs >= 2 times ANYWHERE in the corpus (across docs or
    repeated within one doc) — the Spark-scale re-expression of
    suffix-array training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a distributed suffix
    array is impractical, but every duplicated substring of length
    >= k contains a duplicated k-token span, so rolling k-gram
    counting finds the same regions with one aggregation.

    Returns (doc_id, n_spans, dup_spans, dup_tokens,
    dup_token_permille) — dup_tokens is the size of the UNION of the
    duplicated spans' [pos, pos+k) token intervals (overlapping spans
    are not double-counted: ordered by pos, each span past the first
    contributes min(k, pos - prev_pos)); the permille is exact integer
    arithmetic (x1000 floor-div) so the oracle stays bit-exact.

    100 TB shape:
    - Span ids are ROW-LOCAL (posexplode of a transform over the token
      array; md5-prefix of the joined span text, 60-bit — the same
      engine-portable hash as ``hashed_token_ids``, same collision
      caveat: a 60-bit collision can merge two unrelated spans and
      over-report duplication by one span).
    - One map-side-combined shuffle counts span ids; the dup-only
      count table joins back on gid (shuffle join, NOT broadcast — at
      corpus scale the dup-span table is itself huge). Boilerplate
      spans with billions of occurrences skew that join's build side;
      AQE skew-join splitting handles it because only the COUNT
      table (one row per gid) rides the join, never the occurrence
      fan-out.
    - The interval-union walk is a per-doc window over only the
      duplicated positions (tiny unless the doc is mostly dup), then
      one per-doc join back to the corpus row — shuffles on doc_id,
      the corpus' natural key.
    """
    base = _span_base(docs)
    grams = _grams(base, k)
    dup_gids = (
        grams.groupBy("gid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gid")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    step = F.when(prev.isNull(), F.lit(k)).otherwise(
        F.least(F.lit(k), F.col("pos") - prev)
    )
    cov = (
        grams.join(dup_gids, "gid")
        .select("doc_id", "pos")
        .withColumn("step", step)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_spans"),
            F.sum("step").alias("dup_tokens"),
        )
    )
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        F.greatest(F.col("n_tok") - (k - 1), F.lit(0))
        .cast("long")
        .alias("n_spans"),
        F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.expr("CAST((coalesce(dup_tokens, 0) * 1000) div n_tok AS BIGINT)").alias(
            "dup_token_permille"
        ),
    )


def top_duplicated_spans(
    docs: DataFrame, k: int = SPAN_K, topn: int = 20
) -> DataFrame:
    """The boilerplate report over :func:`duplicated_span_report`'s span
    space: the ``topn`` most frequent duplicated k-token spans with
    their text, occurrence count, and distinct-doc reach — the
    diagnostic a curation pipeline reads before deciding what
    substring dedup will remove (headers, license blocks, templated
    navigation).

    100 TB shape: the count aggregation rides the NARROW (doc_id, pos,
    gid) gram relation — span text never enters the big shuffle; the
    top-n is TakeOrderedAndProject (cnt desc, gid asc tie-break so the
    rank boundary is deterministic); the tiny winner set then
    broadcasts back onto the SAME (persisted, :func:`_grams`) narrow
    relation to locate the winners' (doc_id, pos) occurrences, and the
    span string is recovered by slicing the token arrays of ONLY the
    matching docs (r9, VERDICT r8 item 3 — the full-corpus text-bearing
    second fan-out this used to build is gone; min(span) members of one
    gid are identical modulo the 60-bit collision caveat). The
    distinct-doc count aggregates only the winners' occurrences."""
    base = _span_base(docs)
    grams = _grams(base, k)
    top = (
        grams.groupBy("gid")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("gid"))
        .limit(topn)
    )
    occurrences = grams.join(F.broadcast(top), "gid")
    spans = occurrences.join(base, "doc_id").select(
        "gid",
        "n_occurrences",
        "doc_id",
        F.concat_ws(" ", F.expr(f"slice(tl, pos + 1, {k})")).alias("span"),
    )
    return (
        spans.groupBy("gid", "n_occurrences")
        .agg(
            F.min("span").alias("span"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .select("span", "n_occurrences", "n_docs")
    )


def minhash_recall_curve(docs: DataFrame) -> DataFrame:
    """AUDIT query — measured MinHash-LSH recall by exact-Jaccard
    decile: for every pair with jaccard >= 0.1 (over the md5-mod-P tid
    sets the signatures themselves hash — one shared arithmetic for
    truth and candidates), did the banded LSH (N_BANDS x ROWS_PER_BAND)
    surface it as a candidate? Returns (bucket, n_true, n_hit,
    recall_permille) with bucket = floor(10 * jaccard) — the empirical
    S-curve of the banding scheme, the number a user consults to know
    what their dedup threshold actually captures.

    Ground truth is intentionally QUADRATIC (all-pairs tid-set
    intersection via one token-fanout self-join) — this is the
    measurement harness, not the dedup path; at corpus scale you run it
    on a sample, exactly like llm_similarity_recall's brute-force
    panel. The candidate side reuses the production pipeline
    (signatures_rowlocal → candidate_pairs_grouped) unchanged, and the
    hit test is a duplicate-proof LEFT SEMI join."""
    arrays = doc_token_arrays(docs)
    tids = arrays.select(
        "doc_id",
        F.array_distinct(F.transform("toks", _tid_expr)).alias("tids"),
    )
    td = tids.select("doc_id", F.explode("tids").alias("tid"))
    sizes = tids.select("doc_id", F.size("tids").alias("n"))
    inter = (
        td.alias("a")
        .join(td.alias("b"), "tid")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    truth = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST((10 * n_inter) div (na + nb - n_inter) AS BIGINT)"
            ).alias("bucket"),
        )
        .filter(F.col("bucket") >= 1)
        # truth feeds TWO aggregations (n_true, n_hit); checkpoint so the
        # quadratic all-pairs join computes once (same pattern as
        # candidate_pairs_grouped / token_ids above)
        .localCheckpoint()
    )
    cand = candidate_pairs_grouped(signatures_rowlocal(docs)).select(
        "doc_a", "doc_b"
    )
    n_true = truth.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_true"))
    n_hit = (
        truth.join(cand, ["doc_a", "doc_b"], "left_semi")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return n_true.join(n_hit, "bucket", "left").select(
        "bucket",
        "n_true",
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        F.expr(
            "CAST((coalesce(n_hit, 0) * 1000) div n_true AS BIGINT)"
        ).alias("recall_permille"),
    )


def mask_duplicated_spans(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """The TRANSFORM step of substring dedup: rewrite each document with
    every token covered by a corpus-duplicated k-span removed (what the
    suffix-array dedup papers actually do to the training set —
    :func:`duplicated_span_report` is the report, this is the cut).

    Returns (doc_id, clean_text, n_tok, n_removed) — clean_text keeps
    the surviving tokens in original order; n_removed counts the cut
    tokens (== dup_tokens in the report, same interval-union).

    100 TB shape: identical narrow gid-count shuffle as the report;
    the per-doc duplicated-position LIST (tiny: positions are ints,
    docs are bounded) rides one aggregation back to the corpus row,
    and the actual masking is a ROW-LOCAL higher-order filter — token
    t survives iff no dup position p satisfies p <= t < p+k. No
    exploded token relation is ever shuffled."""
    base = _span_base(docs)
    grams = _grams(base, k)
    dup_gids = (
        grams.groupBy("gid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gid")
    )
    dup_pos = (
        grams.join(dup_gids, "gid")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("dps"))
    )
    with_pos = base.join(dup_pos, "doc_id", "left").select(
        "doc_id",
        "tl",
        "n_tok",
        F.coalesce("dps", F.array().cast("array<int>")).alias("dps"),
    )
    # token index t survives iff NO dup span position covers it
    covered = lambda t: F.exists(  # noqa: E731
        "dps", lambda p: (p <= t) & (t < p + k)
    )
    kept = F.filter(
        F.sequence(F.lit(0), F.col("n_tok") - 1), lambda t: ~covered(t)
    )
    return with_pos.select(
        "doc_id",
        F.concat_ws(
            " ", F.transform(kept, lambda t: F.element_at("tl", t + 1))
        ).alias("clean_text"),
        F.col("n_tok").cast("long").alias("n_tok"),
        (F.col("n_tok") - F.size(kept)).cast("long").alias("n_removed"),
    )
