"""Document deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard (north-star ops from BASELINE.json; no reference evidence — the
reference's closest analog is its nested-collection model, diff:227).

Design for 100 TB:

- Everything is DataFrame ops — shuffles land on (token), (doc_id), or
  (band_key); no ``collect()``, no driver loops.
- Hashing is deterministic integer arithmetic mod a 31-bit prime, so the
  whole pipeline (signatures, bands, candidate pairs) is reproducible in
  any engine — which is what makes an exact SQL oracle possible.
- Token ids are dictionary-FREE: a row-local md5-prefix-mod-P id
  (``hashed_token_ids`` / ``signatures_rowlocal``) with no distinct, no
  global sort, and no join (the 100 TB path; oracle-exact because md5
  is defined identically in both engines). Only
  ``minhash_dedup_pairs(hashed=False)`` still builds the global
  ``row_number`` dictionary (``token_ids``), kept as the pure-arithmetic
  parity demo (its vocabulary sort is a single task: fine locally,
  fatal at scale).
- Candidate generation is one banded first-collision self-join
  (``candidate_pairs`` over ``_bands``) shared by the minhash and
  simhash blockers, over group rows (``signature_groups``) whose
  members are expanded back to doc pairs by ONE member expander
  (``_expand_members``): within-group and cross-group rows are unioned
  first, so each candidate relation pays one member fan-out exchange.
- Wide row-local expressions (token ids, minhash signatures, band keys,
  the first-band predicate, verify hash sets) are SQL text built once
  at import and applied with one ``selectExpr``/``F.expr`` each — the
  per-call driver cost of a streaming micro-batch is construction, not
  data.
- Candidate verification (exact Jaccard) runs only on LSH candidates:
  the quadratic blow-up is confined to near-duplicate buckets.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pa_pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_query_engine_spark import staging
from distributed_query_engine_spark.session import positive_int_env

P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SIG_COLS = [f"m{i}" for i in range(N_HASHES)]


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
    return base.selectExpr("doc_id", _TOKS_SQL).filter("size(toks) > 0")


def _md5_60(col) -> Column:
    """First 15 hex chars of md5 → 60-bit BIGINT: the ONE engine-portable
    row-local hash every oracle replays (`CAST(('0x' || substr(md5(x),
    1, 15)) AS BIGINT)` on the DuckDB side). Span ids (`_span_gids`,
    `top_duplicated_spans`) use it directly; token ids are the same
    expression spelled as SQL text (:func:`_tid_sql`)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _tid_sql(tok: str) -> str:
    """SQL text of the md5-prefix-mod-P token id of the string expression
    ``tok`` — THE token-id definition: :func:`_md5_60` mod P, spliced
    into every token-id site (signatures, :func:`hashed_token_ids`,
    simhash, the recall audit)."""
    return f"(CAST(conv(substring(md5({tok}), 1, 15), 16, 10) AS BIGINT) % {P})"


# Row-local expressions as SQL TEXT, built once at import: each applies
# with ONE selectExpr / F.expr round trip, where the equivalent Column
# tree costs one py4j call per node (building one ingest micro-batch's
# signature groups and report took 1,472 and 3,125 calls as Column
# trees at sf0.001, 275 and 1,009 as SQL text). Literals below
# 2^31 parse as INT and CAST(... AS BIGINT) stands where .cast("long")
# did, so every expression types — and evaluates — exactly as its Column
# form; the exploded minhash_signatures aggregation keeps the Column
# arithmetic as the independent reference.
_TOKS_SQL = "array_distinct(split(text, ' ')) AS toks"
_TIDS_SQL = f"transform(toks, t -> {_tid_sql('t')}) AS tids"
_MINHASH_SQL = [
    "array_min(transform(tids, t -> (t * {} + {}) % {})) AS m{}".format(
        *hash_params(i), P, i
    )
    for i in range(N_HASHES)
]
_BAND_KEYS_SQL = "array({})".format(
    ", ".join(
        "concat_ws(',', {})".format(
            ", ".join(SIG_COLS[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND])
        )
        for b in range(N_BANDS)
    )
)
_HASH_SET_SQL = "array_sort(array_distinct(transform(toks, t -> xxhash64(t)))) AS toks"


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
    return arrays.selectExpr("doc_id", _TIDS_SQL).selectExpr("doc_id", *_MINHASH_SQL)


def signatures_rowlocal(docs: DataFrame, spread: bool = True) -> DataFrame:
    """Word-token row-local signatures (see signatures_from_arrays)."""
    return signatures_from_arrays(doc_token_arrays(docs, spread=spread))


def hash_sets_from_arrays(arrays: DataFrame) -> DataFrame:
    """(doc_id, toks-array) → sorted xxhash64 token-set array, row-local
    — the packed form of exact_jaccard's internal doc_sets aggregation
    (array_distinct mirrors collect_set's dedup of 64-bit collisions)."""
    return arrays.selectExpr("doc_id", _HASH_SET_SQL)


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


def _bands(df: DataFrame, id_col: str, keys: str, *carry: str) -> DataFrame:
    """(id, *carry, band_keys, band, band_key): one row per band of each
    ``df`` row, for ``id_col`` and the ``carry`` columns (SQL select
    items) and ``keys`` (SQL text of the row's band-key array). Rows
    agreeing on a band's key collide. ``band_keys`` carries ALL of the
    row's band keys so the pairing join can dedupe multi-band collisions
    with a codegen filter (:data:`_FIRST_BAND_SQL`) instead of a second
    (full-pair-set-sized) distinct shuffle."""
    return df.selectExpr(id_col, *carry, f"{keys} AS band_keys").selectExpr(
        "*", "posexplode(band_keys) AS (band, band_key)"
    )


# True iff the joined rows ``a`` and ``b`` collide in no band before
# this one: a pair colliding in several bands is kept only at its first
# common band — set-identical to `.distinct()` but a codegen filter over
# the carried band_keys arrays rather than a shuffle of the quadratic
# pair set.
_FIRST_BAND_SQL = (
    "CASE WHEN band = 0 THEN true ELSE NOT exists(sequence(0, band - 1), "
    "j -> a.band_keys[j] = b.band_keys[j]) END"
)


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Signature → (doc_id, band_keys, band, band_key). Band key is the
    joined minhash values: docs agreeing on all rows of a band collide."""
    return _bands(sigs, "doc_id", _BAND_KEYS_SQL)


def _rep_bands(groups: DataFrame) -> DataFrame:
    """Band relation of the group REPRESENTATIVES (rep as doc_id)."""
    return _bands(groups, "rep AS doc_id", _BAND_KEYS_SQL)


SALT_GROUPS = 16


def _explode_par() -> int:
    """Partition count of the ONE member fan-out exchange each candidate
    relation gets (:func:`_expand_members`): the repartition between the
    two member explodes that spreads a k-member group's k² expansion
    across the cluster. Derived from the session's parallelism (guide
    §2 — scale-adaptive partitioning). One exchange per relation, never
    one per branch: AQE does not coalesce a REPARTITION_BY_NUM exchange,
    so every downstream stage (verify, sink write) runs exactly this
    many tasks, and unioning separately repartitioned branches would
    multiply them. Floored at SALT_GROUPS so a mega-group still spreads
    at least as far as the salted band join does."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:  # pragma: no cover — operators always run in-session
        return SALT_GROUPS * 4
    return max(spark.sparkContext.defaultParallelism, SALT_GROUPS)


_SALTS_SQL = "array({})".format(", ".join(map(str, range(SALT_GROUPS))))


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Self-join a :func:`_bands` relation on (band, band_key) → (doc_a
    < doc_b) pairs of its ids (its first column: doc ids, group reps or
    simhash values), exactly once per pair. The shuffle key is the band
    key, so only colliding rows meet; the shuffle moves n_rows × n_bands
    tiny rows, never the quadratic pair set.

    Two scale measures:

    - **Salting.** A real corpus has mega-buckets (one boilerplate
      template → thousands of colliding docs); an unsalted self-join
      hands that bucket's entire k² pair explosion — and everything
      codegen'd after it — to ONE task. Side A is tagged
      hash(id) % SALT_GROUPS, side B is replicated across all salts
      (bounded ×16 blow-up of the tiny linear band relation), and the
      join key becomes (band, band_key, salt): each bucket's pair
      production spreads over SALT_GROUPS tasks. Each unordered pair
      meets exactly once — via the orientation whose A-side id owns the
      matching salt and survives doc_a < doc_b.
    - **First-collision-wins dedup** (:data:`_FIRST_BAND_SQL`)."""
    id_col = bands.columns[0]
    a = bands.withColumn(
        "salt", F.expr(f"pmod(xxhash64({id_col}), {SALT_GROUPS})")
    ).alias("a")
    b = bands.withColumn("salt", F.expr(f"explode({_SALTS_SQL})")).alias("b")
    return (
        a.join(b, ["band", "band_key", "salt"])
        .filter(F.expr(f"a.{id_col} < b.{id_col} AND ({_FIRST_BAND_SQL})"))
        .selectExpr(f"a.{id_col} AS doc_a", f"b.{id_col} AS doc_b")
    )


def _group_rows(groups: DataFrame) -> DataFrame:
    """Within-group rows for :func:`_expand_members`: each multi-member
    group's member list against itself."""
    return groups.filter(F.size("members") > 1).selectExpr(
        "members AS ma", "members AS mb", "true AS within"
    )


def _pair_rows(pairs: DataFrame, ga: DataFrame, gb: DataFrame) -> DataFrame:
    """Cross-group rows for :func:`_expand_members`: group-key pairs
    (doc_a, doc_b, *carried) joined to their two member lists — ``ga``/
    ``gb`` are the (key, members) group relations doc_a/doc_b join."""
    carried = [c for c in pairs.columns if c not in ("doc_a", "doc_b")]
    return (
        pairs.join(ga.toDF("doc_a", "ma"), "doc_a")
        .join(gb.toDF("doc_b", "mb"), "doc_b")
        .select(*carried, "ma", "mb", F.lit(False).alias("within"))
    )


def _expand_members(rows: DataFrame) -> DataFrame:
    """THE member expander: (ma, mb, within, *carried) rows → (*carried,
    xa, xb) member pairs, every pair of a cross-group row and the xa < xb
    pairs of a within-group row (:func:`_group_rows` /
    :func:`_pair_rows`, unioned by the caller). Raw orientation; each
    caller orders its own pair. The two explodes are split by the
    relation's ONE fan-out exchange — a repartition to
    :func:`_explode_par` keyed on the first-exploded member — so a
    k-member group's k² expansion spreads across the cluster instead of
    one Generate task."""
    carried = [c for c in rows.columns if c not in ("ma", "mb", "within")]
    return (
        rows.select(*carried, "within", F.explode("ma").alias("xa"), "mb")
        .repartition(_explode_par(), "xa")
        .select(*carried, "within", "xa", F.explode("mb").alias("xb"))
        .filter("NOT within OR xa < xb")
        .drop("within")
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
    cap = positive_int_env("DQE_VERIFY_BROADCAST_CAP", 256 * 1024**2)
    try:
        est = int(
            docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover — py4j surface moved
        return None
    return "shuffle_hash" if est * VERIFY_SET_BYTES_FACTOR > cap else None


def exact_jaccard(
    pairs: DataFrame,
    doc_sets: DataFrame,
    threshold: float | None = None,
    build_hint: str | None = None,
) -> DataFrame:
    """Exact set-Jaccard for given pairs from a doc→sorted-hash-array
    relation (``doc_sets``: :func:`doc_hash_sets_rowlocal` or
    :func:`hash_sets_from_arrays` — row-derived, no aggregation
    shuffle).

    Each pair row picks up both arrays via two doc-keyed joins and
    intersects them JVM-side (`array_intersect` inside whole-stage
    codegen). The pair set — the only quadratic-ish relation — is never
    exploded per token and never re-shuffled for aggregation; with AQE
    the doc→array side broadcasts when small. Division of small exact
    ints → deterministic double.

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


def signature_groups(sigs: DataFrame, keys: list[str] = SIG_COLS) -> DataFrame:
    """Collapse docs with identical ``keys`` (the minhash signature, or
    the simhash value) to one group row: (*keys, members sorted, rep =
    min doc_id). THE grouping contract shared by every grouped
    candidate path (self-join, star edges, incremental, simhash) —
    change the member ordering or rep tiebreak HERE only, or the
    documented set-identity between grouped and per-doc candidate
    generation breaks."""
    return sigs.groupBy(*keys).agg(
        F.sort_array(F.collect_list("doc_id")).alias("members"),
        F.min("doc_id").alias("rep"),
    )


# The parquet schema of a signature store generation: the minhash
# :func:`signature_groups` rows. Every read of a store the engine wrote
# passes it, so Spark runs no schema-inference job over the footers.
SIG_STORE_SCHEMA = ", ".join(
    [f"{c} bigint" for c in SIG_COLS] + ["members array<bigint>", "rep bigint"]
)


def candidate_pairs_grouped(groups: DataFrame) -> DataFrame:
    """Candidate pairs via SIGNATURE GROUPING — same pair set as
    ``candidate_pairs(lsh_bands(sigs))`` for
    ``groups = signature_groups(sigs)``, built the way a boilerplate-
    heavy corpus demands.

    Real corpora contain groups of documents with IDENTICAL minhash
    signatures (boilerplate/templates); banding every member
    individually makes the LSH buckets quadratic in the largest group.
    Instead: collapse each distinct signature to one group row
    (members + min-doc representative), then

    - **within-group**: every member pair is a candidate by definition
      (identical signature → collides in every band).
    - **cross-group**: band-join the group REPRESENTATIVES only (the
      salted first-collision join of :func:`candidate_pairs` — group
      count, not doc count), then take the member cross-product.

    Both kinds of row go through ONE :func:`_expand_members` call, so
    the relation pays one member fan-out exchange. Signature groups are
    disjoint, so each unordered doc pair appears exactly once;
    least/greatest restores the doc_a < doc_b convention.

    ``groups`` must be materialized (``localCheckpoint()`` or a parquet
    read): it feeds several joins below, and with the row-local
    signature projections an un-cut lineage drives Catalyst's
    constraint propagation over the 16 aliased minhash expressions into
    exponential ExpressionSet growth (observed as an optimizer-time
    OOM). The groups are narrow (one row per distinct signature), so
    the materialization is metadata-sized next to the corpus."""
    members = groups.select("rep", "members")
    rows = _group_rows(groups).unionByName(
        _pair_rows(candidate_pairs(_rep_bands(groups)), members, members)
    )
    return _expand_members(rows).selectExpr(
        "least(xa, xb) AS doc_a", "greatest(xa, xb) AS doc_b"
    )


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
    return tokens.selectExpr("doc_id", f"{_tid_sql('tok')} AS tid")


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
    token ids (:func:`signatures_rowlocal`) — no global vocabulary sort;
    ``hashed=False`` keeps the broadcast-dictionary path
    (:func:`token_ids`). Only the candidate geometry differs: both
    verify on the same row-local xxhash64 token sets."""
    # Hashed path: signatures AND verify token-sets are ROW-LOCAL
    # expressions (signatures_rowlocal / doc_hash_sets_rowlocal), so the
    # corpus is scanned twice with zero token-relation shuffles — the
    # historical recompute-vs-checkpoint question (r5 measurements:
    # recompute 3.34 s vs localCheckpoint 3.79 s vs persist 4.87 s)
    # dissolves, since there is no longer an exploded relation to reuse.
    # Dictionary path explodes tokens for the signatures only (its ids
    # need the global vocabulary).
    if hashed:
        sigs = signatures_rowlocal(docs)
    else:
        tokens = tokenize(docs)
        sigs = minhash_signatures(tokens.join(F.broadcast(token_ids(tokens)), "tok"))
    pairs = candidate_pairs_grouped(signature_groups(sigs).localCheckpoint())
    verified = exact_jaccard(
        pairs,
        doc_hash_sets_rowlocal(docs),
        threshold=threshold,
        build_hint=_verify_build_hint(docs),
    )
    return verified.select(
        "doc_a", "doc_b", "jaccard", (F.col("jaccard") >= threshold).alias("is_dup")
    )


def minhash_dup_edges(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
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

    This operator feeds multi-stage clustering pipelines, so it uses the
    100 TB token-id path (row-local md5-mod-P ids, no global vocabulary
    sort) and is fully row-local, like :func:`minhash_dedup_pairs`. The
    id scheme shifts WHICH docs share identical signatures / band keys
    (candidate recall), never a reported edge's validity — every edge is
    exact-Jaccard-verified on the hashed token sets."""
    groups = signature_groups(signatures_rowlocal(docs)).localCheckpoint()
    star = (
        groups.filter(F.size("members") > 1)
        .select(F.col("rep").alias("doc_a"), F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    cand = star.unionByName(candidate_pairs(_rep_bands(groups)))
    return exact_jaccard(
        cand,
        doc_hash_sets_rowlocal(docs),
        threshold=threshold,
        build_hint=_verify_build_hint(docs),
    ).select("doc_a", "doc_b")


def incremental_minhash_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.5,
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
    - In-batch candidates come from the same broadcast join: the SMALL
      batch band relation probes it too (first-collision-deduped, each
      rep pair once).
    - In production the corpus side of signature generation comes from a
      SIGNATURE STORE (grouped signature rows, appended per ingested
      batch — :func:`incremental_dedup_from_store`) rather than
      re-tokenizing; it is recomputed here so the operator is
      self-contained against two raw document frames. Exact-Jaccard
      verification always needs the token sets of BOTH sides
      (fetch-by-id in production).

    Token ids are the row-local md5-mod-P path (:func:`signatures_rowlocal`).
    The verify join's doc-set side is corpus-sized, so it carries the
    same :func:`_verify_build_hint` guard as :func:`minhash_dedup_pairs`.
    Multi-band collisions dedup via the same earliest-common-band filter
    as :func:`candidate_pairs` (:data:`_FIRST_BAND_SQL`)."""
    gc = signature_groups(signatures_rowlocal(corpus)).localCheckpoint()
    gn = signature_groups(signatures_rowlocal(incoming)).localCheckpoint()
    pairs, _ = _incremental_candidates(gc, gn)
    doc_sets = doc_hash_sets_rowlocal(corpus).unionByName(
        doc_hash_sets_rowlocal(incoming)
    )
    return exact_jaccard(
        pairs, doc_sets, threshold=threshold, build_hint=_verify_build_hint(corpus)
    ).select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("dup_of"),
        "jaccard",
        (F.col("jaccard") >= threshold).alias("is_dup"),
    )


def _incremental_candidates(
    gc: DataFrame, gn: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Candidate (batch doc, corpus-or-earlier-batch doc) pairs for the
    incremental dedup family — SIGNATURE-GROUPED on BOTH sides, for the
    same reason :func:`candidate_pairs_grouped` groups the self-join: a
    template-heavy corpus has identical-signature groups, and banding
    every member individually makes the band join quadratic in group
    size (per-doc banding measured 9.4 s vs 3.4 s grouped at sf0.1 for
    the 20% batch split — slower than the FULL all-pairs dedup until
    grouped).

    ONE hit join: the batch's group bands, each carrying its member
    list, are broadcast, and the store's group bands (members carried
    too) plus the batch's own bands probe them — a map-side join, so no
    store row is exchanged; only hit rows (batch-sized) reach the member
    fan-out exchange and the verify. A store row hits the batch group it
    first collides with (:data:`_FIRST_BAND_SQL`; no salt, no ordering
    filter); a batch row hits the batch groups with a larger rep (each
    unordered in-batch rep pair once). Identical signatures across sides
    share every band key, so the join catches them at band 0. The hit
    rows and the batch's within-group rows expand their member lists
    through ONE :func:`_expand_members` call — one member fan-out
    exchange for the whole candidate relation. The in-batch rep pairs
    are built by one task per batch split instead of the salted
    :func:`candidate_pairs`: the batch is small, and its quadratic part
    is the member expansion, which the fan-out exchange spreads.
    Returns (pairs, hit_ids): pairs are (doc_a = batch doc, doc_b =
    corpus doc) plus in-batch pairs oriented later-as-new.

    ``gc``/``gn``: materialized :func:`signature_groups` relations (see
    :func:`candidate_pairs_grouped` for why). ``gc`` may be the GROUPED
    signature store read straight from parquet (r15 — the store
    persists group rows, so the per-batch corpus regroup shuffle +
    eager checkpoint disappear). Group-set identity across generations
    is NOT required: two store generations may both hold a group row
    for the same signature — their reps band-join the batch
    independently (identical signatures share every band key) and their
    member lists are disjoint (each doc lives in exactly one
    generation), so each (batch doc, store doc) pair still arises
    exactly once.

    ``hit_ids`` are the members of the store groups the hit join
    matched — linear in group membership, never touching the quadratic
    pair relation, and exactly the distinct ``doc_b`` values of the
    store pairs, which is what the fetch-by-id verify needs. A store
    group matched by several batch groups repeats its members; the
    caller's semi join ignores repeats, so no distinct shuffle."""
    batch = _bands(gn, "rep", _BAND_KEYS_SQL, "members")
    probe = _bands(gc, "rep", _BAND_KEYS_SQL, "members", "false AS in_batch")
    probe = probe.unionByName(
        _bands(gn, "rep", _BAND_KEYS_SQL, "members", "true AS in_batch")
    )
    hits = (
        probe.alias("a")
        .join(F.broadcast(batch.alias("b")), ["band", "band_key"])
        .filter(f"({_FIRST_BAND_SQL}) AND (NOT a.in_batch OR a.rep < b.rep)")
        .selectExpr("a.in_batch", "b.members AS ma", "a.members AS mb")
    )
    rows = _group_rows(gn).selectExpr("*", "true AS in_batch").unionByName(
        hits.selectExpr("*", "false AS within")
    )
    # Store hits keep (batch doc, store doc); in-batch pairs put the
    # LATER arrival first — the "new" doc flagged against the earlier.
    pairs = _expand_members(rows).selectExpr(
        "IF(in_batch, greatest(xa, xb), xa) AS doc_a",
        "IF(in_batch, least(xa, xb), xb) AS doc_b",
    )
    hit_ids = hits.filter("NOT in_batch").selectExpr("explode(mb) AS doc_id")
    return pairs, hit_ids


def _read_store(spark, paths: list[str], recursive: bool = False) -> DataFrame:
    """The signature store generations at ``paths`` as one relation,
    read with :data:`SIG_STORE_SCHEMA` (no schema-inference job).

    An explicit schema would read a generation written in another layout
    (the per-doc signature rows before r15, with no ``members``/``rep``)
    as NULLs, so one data-file footer per generation dir is checked
    first — a pyarrow metadata read, no Spark job — and such a store
    raises ``ValueError``. ``recursive`` reads every parquet file under
    the paths (a store whose generations are subdirs)."""
    checked = set()
    for path in map(Path, paths):
        files = path.rglob("*.parquet") if recursive else path.glob("*.parquet")
        for f in sorted(files):
            hidden = any(x.startswith((".", "_")) for x in f.relative_to(path).parts)
            if hidden or f.parent in checked:
                continue
            checked.add(f.parent)
            names = pa_pq.read_schema(f).names
            if "members" not in names or "rep" not in names:
                raise ValueError(
                    f"signature store generation {f.parent} is not in the "
                    "grouped (r15) format — rebuild it with build_signature_store"
                )
    reader = spark.read.schema(SIG_STORE_SCHEMA)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.parquet(*paths)


def incremental_dedup_from_store(
    spark,
    store_path: str,
    corpus: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.5,
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
      re-tokenizes the corpus, and no store row is exchanged — the
      store feeds one map-side join against the broadcast batch bands,
      and only its hit rows move on (:func:`_incremental_candidates`).
      Cross-generation group fragmentation is harmless (same place).
    - Exact-Jaccard verification tokenizes ONLY the corpus docs that
      actually appear in a candidate pair (fetch-by-id: a semi-join of
      the corpus on the hit groups' members) plus the batch — at
      100 TB the candidate-hit set is orders of magnitude smaller than
      the corpus, so the verify stage's scan cost tracks the batch too.

    Signatures (stored and batch) are the row-local md5-mod-P path
    (:func:`signatures_rowlocal`), verified on row-local xxhash64 token
    sets. ``batch_groups``: optional pre-materialized (checkpointed or
    parquet-backed) ``signature_groups(signatures of incoming)`` — the
    ingest loop passes the store subdir it just wrote, so the batch is
    grouped exactly once per micro-batch.

    ``store_dirs``: explicit store generation dirs to read instead of a
    recursive listing of ``store_path`` — the ingest loop's write-first
    layout (r16) appends the CURRENT batch's groups before computing the
    report, so it must read every generation EXCEPT its own. The store
    must not hold the incoming docs (they would pair with themselves);
    that is also why the store-side verify rows need no anti join
    against the batch.

    Same output contract as :func:`incremental_minhash_dedup`; identical
    results for identical inputs, since the store holds exactly the
    signatures the self-contained variant recomputes (grouped)."""
    if store_dirs is not None:
        gc = _read_store(spark, store_dirs)
    else:
        # Recursive lookup: the streaming ingest loop appends each batch
        # under a batch-scoped subdir (b<id>/ — overwrite-idempotent
        # replays, r15); a flat store reads identically, and _-prefixed
        # entries stay hidden either way.
        gc = _read_store(spark, [store_path], recursive=True)
    # incoming is batch-sized (a streaming micro-batch in the ingest
    # loop): its md5 work fits one task, so the narrow-scan spread is
    # per-batch exchange overhead — opted out, as the ingest loop's own
    # store write is (measured there).
    if batch_groups is None:
        batch_groups = signature_groups(
            signatures_rowlocal(incoming, spread=False)
        ).localCheckpoint()
    # The quadratic pair relation has exactly ONE consumer — the verify
    # join: the fetch-by-id hit set comes from the LINEAR hit join
    # inside _incremental_candidates, so no pairs checkpoint is needed.
    # Lineage is cut at the gc parquet scan and the materialized
    # batch_groups, so the 16-alias constraint-propagation blowup that
    # once forced an eager checkpoint cannot occur.
    pairs, hit_ids = _incremental_candidates(gc, batch_groups)
    # ``corpus`` may CONTAIN the incoming docs (the caller passes the
    # full table so in-batch dup partners resolve too), but the hit ids
    # are store members, which never include a batch doc: one row per
    # doc, so no verified pair is duplicated.
    corpus_hits = corpus.join(hit_ids, "doc_id", "left_semi")
    # spread=False on BOTH sides: corpus_hits is a join-bearing plan, so
    # the narrow-scan spread's .rdd partition probe would force an eager
    # AQE materialization of the semi subplan (one hidden driver job per
    # batch — the cost the _spread_narrow_scan docstring warns about),
    # to parallelize xxhash64 work over a candidate-hit set that is
    # batch-sized. No _verify_build_hint: that set is batch-sized too,
    # while the hint sizes a corpus scan.
    doc_sets = doc_hash_sets_rowlocal(corpus_hits, spread=False).unionByName(
        doc_hash_sets_rowlocal(incoming, spread=False)
    )
    return exact_jaccard(pairs, doc_sets, threshold=threshold).select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("dup_of"),
        "jaccard",
        (F.col("jaccard") >= threshold).alias("is_dup"),
    )


def build_signature_store(spark, docs: DataFrame, store_path: str) -> None:
    """Materialize the minhash signature store for a corpus as GROUP
    rows: one parquet row (m0..m{N_HASHES-1}, members, rep) per distinct
    signature (:func:`signature_groups` output). Storing the grouped
    form moves the group shuffle from EVERY per-batch read to the one
    write that maintains the store (r15, guide §2.4): production
    appends each ingested batch's groups (``mode("append")`` keyed by
    ingestion date — fragmentation across appends is harmless, see
    :func:`_incremental_candidates`)."""
    signature_groups(signatures_rowlocal(docs)).write.mode("overwrite").parquet(
        store_path
    )


def _store_knobs() -> str:
    """Every definition a stored signature row depends on: the row
    schema, tokenization, token ids, the minhash family and its
    parameters, and the band keys a reader derives from the row. A
    change to any of them changes the store generation's hash, so a
    store built under the old definitions is never served."""
    return "\n".join(
        [
            SIG_STORE_SCHEMA,
            _TOKS_SQL,
            _TIDS_SQL,
            *_MINHASH_SQL,
            _BAND_KEYS_SQL,
            repr([hash_params(i) for i in range(N_HASHES)]),
        ]
    )


def corpus_signature_store(spark, sf_dir: str, corpus_sql: str) -> str:
    """The signature store of ``sf_dir``'s documents matching the SQL
    predicate ``corpus_sql``, built once per source fingerprint: a
    staging generation (kind ``sig_store``) keyed on ``documents`` and
    on :func:`_store_knobs`. Every query and every ingest run over the
    same documents shares it; returns its dir."""
    from distributed_query_engine_spark.catalog import Tables

    gen = staging.generation(
        "sig_store", sf_dir, ("documents",), f"{corpus_sql}\n{_store_knobs()}"
    )

    def build(d: Path) -> None:
        docs = Tables(spark, sf_dir).documents.filter(corpus_sql)
        build_signature_store(spark, docs, str(d))

    return str(staging.publish(gen, build))


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
    base = doc_token_arrays(docs).selectExpr(
        "doc_id", f"transform(toks, t -> ({_tid_sql('t')} * {a} + {b}) % {P}) AS hs"
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


def _simhash_pairs(docs: DataFrame, band_keys: str, max_hamming: int) -> DataFrame:
    """The one simhash blocker behind :func:`simhash_near_pairs` and
    :func:`simhash_near_pairs_multiband`, which differ only in
    ``band_keys`` (SQL text of an array over the ``simhash`` column).

    Built the way a boilerplate-heavy corpus demands (the same two-level
    shape as :func:`candidate_pairs_grouped`): a template shared by k
    documents yields k IDENTICAL simhash values, so a naive per-doc
    self-join hands that value's entire k² pair production to one
    shuffle task. Instead:

    - **collapse** identical simhash values to one group row
      (:func:`signature_groups` keyed on the value) — group count, not
      doc count;
    - **within-group** (hamming = 0): every member pair qualifies by
      definition;
    - **cross-group**: the salted first-collision self-join of
      :func:`candidate_pairs` over the DISTINCT values' bands, verify
      0 < hamming ≤ max, then take the member cross-product.

    Both kinds of row expand through ONE :func:`_expand_members` call
    (one member fan-out exchange), carrying ``hamming``.

    Groups are disjoint and each doc has one simhash, so each unordered
    pair appears exactly once; set-identical to the naive join."""
    groups = signature_groups(simhash(docs), ["simhash"]).localCheckpoint()
    within = _group_rows(groups).withColumn("hamming", F.lit(0).cast("long"))
    val_pairs = (
        candidate_pairs(_bands(groups, "simhash", band_keys))
        .withColumn(
            "hamming",
            F.bit_count(F.col("doc_a").bitwiseXOR(F.col("doc_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    values = groups.select("simhash", "members")
    rows = within.unionByName(_pair_rows(val_pairs, values, values))
    return _expand_members(rows).selectExpr(
        "least(xa, xb) AS doc_a", "greatest(xa, xb) AS doc_b", "hamming"
    )


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-duplicate pairs by simhash: block on the top 16 bits (a real
    LSH — Hamming-close hashes usually share the prefix; one band, so
    the first-collision filter is always true), then verify
    bit_count(xor) within blocks (:func:`_simhash_pairs`)."""
    return _simhash_pairs(docs, "array(shiftright(simhash, 16))", max_hamming)


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

    Mechanics are :func:`candidate_pairs` exactly (via
    :func:`_simhash_pairs`): the banded relation is 8× the
    distinct-value relation (tiny), and a pair colliding in several
    bands is kept only at its first agreeing band."""
    band_keys = "array({})".format(
        ", ".join(
            f"shiftright(simhash, {i * SIMHASH_BAND_WIDTH}) & {(1 << SIMHASH_BAND_WIDTH) - 1}"
            for i in range(SIMHASH_BANDS)
        )
    )
    return _simhash_pairs(docs, band_keys, max_hamming)


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
    groups = signature_groups(signatures_from_arrays(arrays)).localCheckpoint()
    pairs = candidate_pairs_grouped(groups)
    return exact_jaccard(
        pairs, hash_sets_from_arrays(arrays), threshold=threshold
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
    tids = arrays.selectExpr(
        "doc_id", f"array_distinct(transform(toks, t -> {_tid_sql('t')})) AS tids"
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
    cand = candidate_pairs_grouped(
        signature_groups(signatures_rowlocal(docs)).localCheckpoint()
    ).select("doc_a", "doc_b")
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
