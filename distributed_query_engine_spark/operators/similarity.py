"""Similarity search over embedding columns: exact top-k (baseline) and
LSH-bucketed ANN (the scale path), plus cosine near-duplicate pairs.

All cosine math goes through the fixed-point integer scaling in
:mod:`distributed_query_engine_spark.functions.vectors` — exact,
order-independent, hence oracle-reproducible (see that module's
docstring).

100 TB design notes:

- Exact top-k: broadcast the (small) query set, per-partition partial
  top-k via the window rank — the corpus never shuffles; cost is one
  scan × |queries| vector ops.
- ANN: random-hyperplane LSH — hyperplane weights are *arithmetically
  defined* (deterministic ±1 from a mod-prime mix of (plane, dim)), so
  bucket assignment is reproducible anywhere. The corpus shuffles once
  on bucket id; queries probe only their bucket. Recall/cost is tuned by
  N_PLANES (buckets = 2^N_PLANES).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_query_engine_spark.functions.vectors import (
    cosine_from_ints,
    dot_long,
    int_vec,
    norm_sq_long,
)

# Defaults the REGISTERED QUERIES pin explicitly (oracle arithmetic
# parity needs fixed values at both engines); library callers can pass
# their own or leave the knob None to have it derived from the corpus
# size (suggest_n_planes / suggest_n_cells below).
N_PLANES = 5
MIX = 2_654_435_761  # Knuth multiplicative constant
M32 = 1 << 32
# Multi-probe radius: a query probes every bucket whose sign pattern
# differs in <= MULTIPROBE_H planes (1 + 5 + 10 + 10 = 26 of 32 buckets
# at N_PLANES=5, H=3).
#
# WHY THESE VALUES (r8 measured sweep, 25-query panel, sf0.001/0.01/0.1):
# the synthetic embeddings are ISOTROPIC noise (mean ~0, no cluster
# structure — label column is independent of geometry; verified
# directly), so a query's "true top-5" are extreme order statistics of
# noise: the 1st-vs-8th neighbor cosine gap is ~0.07 at n=2000. On such
# a corpus every DATA-BLIND candidate generator we measured — single-
# and multi-table sign-LSH (L in 1..16, planes 4..16, Hamming radius
# 0..5) and JL-projection rerank (d' in 8..32, top-C in 1%..40%) —
# lands on the same frontier: recall@5 ~= candidate_fraction + 0.15.
# Only the DATA-DEPENDENT quantizer escapes it: IVF (16 cells, probe 4)
# measures recall 0.77-0.82 at ~25% scanned, because the query's
# nearest Voronoi cells concentrate its near neighbors in a way random
# hyperplanes cannot. The r7 LSH defaults (8 planes, H=2) sat at 0.48 for 24%
# scanned; these defaults buy recall@5 = 0.82-0.87 across all three SFs
# for ~71% scanned — the ">= 0.8 at measured cost" point VERDICT r7
# asked for, with the cost PUBLISHED per query by
# llm_similarity_recall's n_candidates column. On a real (clustered)
# embedding corpus the same machinery prunes hard; tune via
# suggest_n_planes / MULTIPROBE_H and re-read the recall query — it is
# the measurement, not folklore. Centering before hashing was also
# measured: a no-op here (the corpus is already mean-zero).
MULTIPROBE_H = 3


def probe_masks(n_planes: int = N_PLANES, h: int = MULTIPROBE_H) -> list[int]:
    """All n_planes-bit XOR masks with popcount <= h (the multi-probe
    neighborhood)."""
    return [m for m in range(1 << n_planes) if bin(m).count("1") <= h]


PROBE_MASKS = probe_masks()
# Mixing stride between planes in the (plane, dim) → ±1 hash. A fixed
# constant of the hash definition — NOT the embedding dimensionality;
# both the Spark and oracle sides iterate the actual vector length.
PLANE_STRIDE = 64

# Corpus-size-derived knob defaults (used when a caller passes None).
# Both are the standard heuristics, not magic: LSH wants expected bucket
# population n / 2^planes near a scan-batch sweet spot; IVF wants
# ~sqrt(n) cells so cell population and cell count grow together
# (probing n_probe cells then scans ~n_probe*sqrt(n) vectors).
TARGET_BUCKET_POP = 1024


def suggest_n_planes(n_vectors: int, target_pop: int = TARGET_BUCKET_POP) -> int:
    import math

    if n_vectors <= target_pop:
        return 4
    return min(24, max(4, math.ceil(math.log2(n_vectors / target_pop))))


def suggest_n_cells(n_vectors: int) -> int:
    import math

    return min(65536, max(4, int(math.isqrt(max(n_vectors, 1)))))


def plane_sign(j, d):
    """Deterministic ±1 weight for hyperplane j, dimension d (Column
    in, Column out): sign of a 32-bit multiplicative mix."""
    mixed = ((j * PLANE_STRIDE + d + 1) * MIX) % M32
    return F.when(mixed < M32 // 2, 1).otherwise(-1)


def with_int_vec(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("ivec", int_vec(vec_col)).withColumn(
        "nsq", norm_sq_long(F.col("ivec"))
    )


def lsh_bucket(df: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Add an int bucket id: bit j = sign(v · h_j).

    Computed entirely PER ROW with `zip_with` + `aggregate` (n_planes
    plane dots of exact integer arithmetic inside codegen) — zero
    shuffles. The previous formulation exploded a (vec, dim, plane)
    relation and re-aggregated it twice: a 512× row blow-up plus three
    shuffles, per corpus scan, for something that is a pure row-local
    function of the vector."""
    dims = F.sequence(F.lit(0), F.size("ivec") - 1)
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        pdot = F.aggregate(
            F.zip_with(
                F.col("ivec"), dims, lambda x, d: x * plane_sign(F.lit(j), d).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(pdot > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return df.withColumn("bucket", bucket)


def topk_cosine(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Exact brute-force cosine top-k for the given query vec_ids.
    Deterministic tiebreak on candidate vec_id."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_from_ints(
                dot_long(F.col("q_ivec"), F.col("ivec")),
                F.col("q_nsq"),
                F.col("nsq"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine", "rn")
    )


def topk_cosine_ann(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int | None = N_PLANES,
    multiprobe_h: int = MULTIPROBE_H,
) -> DataFrame:
    """LSH-bucketed ANN top-k with MULTI-PROBE: each query searches
    every bucket within Hamming distance ``multiprobe_h`` of its own
    sign pattern (probe buckets = q_bucket XOR mask). The probe
    expansion happens on the broadcast query side (|queries| × |masks|
    tiny rows); the corpus is still scanned once and hash-joined on its
    bucket id — no index shuffles. Each (query, candidate) pair meets at
    exactly one mask, so no dedup pass is needed. Approximate (may miss
    beyond-radius neighbors) but every step is deterministic, so results
    are still oracle-exact.

    ``n_planes=None`` derives the plane count from the corpus size
    (:func:`suggest_n_planes`; one count() action) — the scale default.
    The registered query pins ``n_planes=N_PLANES`` so the oracle can
    replay the arithmetic."""
    scored = _lsh_scored(emb, query_ids, n_planes, multiprobe_h)
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine", "rn")
    )


def _lsh_scored(
    emb: DataFrame,
    query_ids: list[int],
    n_planes: int | None = N_PLANES,
    multiprobe_h: int = MULTIPROBE_H,
) -> DataFrame:
    """The (q_id, vec_id, cosine) candidate relation behind
    :func:`topk_cosine_ann` — factored out so the recall query can
    count candidates (the measured COST of the probe radius) from the
    same relation the search ranks."""
    if n_planes is None:
        n_planes = suggest_n_planes(emb.count())
    masks = probe_masks(n_planes, multiprobe_h)
    base = lsh_bucket(
        with_int_vec(emb).select("vec_id", "ivec", "nsq"), n_planes=n_planes
    )
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
        F.col("bucket").alias("q_bucket"),
    )
    probes = q.select(
        "q_id",
        "q_ivec",
        "q_nsq",
        "q_bucket",
        F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask"),
    ).select(
        "q_id",
        "q_ivec",
        "q_nsq",
        F.col("q_bucket").bitwiseXOR(F.col("mask")).alias("probe_bucket"),
    )
    return (
        base.join(F.broadcast(probes), F.col("bucket") == F.col("probe_bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_from_ints(
                dot_long(F.col("q_ivec"), F.col("ivec")),
                F.col("q_nsq"),
                F.col("nsq"),
            ).alias("cosine"),
        )
    )


def lsh_candidate_counts(
    emb: DataFrame,
    query_ids: list[int],
    n_planes: int | None = N_PLANES,
    multiprobe_h: int = MULTIPROBE_H,
) -> DataFrame:
    """(q_id, n_candidates): how many corpus vectors each query's
    multi-probe neighborhood actually scanned — the denominator of the
    recall/cost trade the knobs buy. Each (query, candidate) pair
    meets at exactly one XOR mask, so a plain count is the candidate-
    set size."""
    return (
        _lsh_scored(emb, query_ids, n_planes, multiprobe_h)
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    )


def topk_with_count(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, vec_id, n_candidates): the top-k of a (q_id, vec_id,
    cosine) candidate relation with each row carrying its query's
    candidate-set size — computed in ONE pass over the scored relation
    (both window functions share the q_id partitioning, so one
    exchange feeds both; the r8 recall query previously evaluated the
    heavy candidate relation twice, once for top-k and once for the
    count)."""
    w = Window.partitionBy("q_id")
    wo = w.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn(
            "n_candidates", F.count(F.lit(1)).over(w).cast("long")
        )
        .withColumn("rn", F.row_number().over(wo).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "n_candidates")
    )


def lsh_scored(
    emb: DataFrame,
    query_ids: list[int],
    n_planes: int | None = N_PLANES,
    multiprobe_h: int = MULTIPROBE_H,
) -> DataFrame:
    """Public alias of the LSH candidate relation (see
    :func:`_lsh_scored`) for callers composing top-k and cost in one
    pass via :func:`topk_with_count`."""
    return _lsh_scored(emb, query_ids, n_planes, multiprobe_h)


# r9 retune (VERDICT r8 item 2): the r8 point (16 cells, probe 4) sat
# at recall 0.77-0.82 for ~25% scanned — just under the >=0.8 bar at
# sf0.01. The r9 sweep (scripts/ivf_sweep.py; grid cells 8..64 x probe
# at 25/31/37% fractions, 25-query panel, all three SFs) found the
# finer quantizer strictly dominates: 32 cells / probe 8 measures
# recall@5 = 0.936 / 0.944 / 0.992 at sf0.001 / 0.01 / 0.1 for ~24.5%
# candidate fraction — same cost as the r8 point, +0.17 recall. 64
# cells at the same fraction drops back (0.87-0.99, cell population
# too thin at n=500), so 32 is the sweet spot for this corpus size;
# at 100 TB derive n_cells ~ sqrt(corpus) (suggest_n_cells) and keep
# probe/cells ~ 1/4. IVF is the RECOMMENDED ANN default (published by
# llm_similarity_recall's `recommended` column): it beats every
# data-blind family on the measured frontier (PLANS.md r8 isotropy
# analysis) and the gap only widens on clustered real-world corpora.
N_CELLS = 32
N_PROBE = 8


def ivf_centroids(
    base: DataFrame,
    n_cells: int,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """Pick/refine the IVF coarse centroids → (cell_id, c_ivec, c_nsq).

    ``strategy``:
      - ``lowest_id``: the n_cells lowest-vec_id vectors. Fully
        arithmetic, so a SQL oracle can replay it — what the registered
        queries pin. Degenerate as a quantizer when early ids are
        correlated (ingest order is rarely random).
      - ``hash_spread``: the n_cells vectors with the smallest
        xxhash64(vec_id) — same cost, still deterministic, but the seeds
        are spread pseudo-randomly across the corpus instead of taking
        the first block. The production-ish init.

    ``lloyd_iters`` > 0 runs that many Lloyd refinement steps: assign
    every vector to its nearest centroid (broadcast join + argmax — the
    same pass ivf_assign runs), then recompute each cell's centroid as
    the element-wise mean of its members, rounded back to the integer
    grid so the result stays deterministic. Each iteration costs one
    corpus scan plus a (cell_id, dim)-keyed aggregate; empty cells keep
    their previous centroid. Centroid count, spread, and refinement are
    the three knobs a 100 TB deployment sizes (n_cells ~ sqrt(corpus),
    :func:`suggest_n_cells`)."""
    if strategy == "lowest_id":
        # True lowest-k, not filter(vec_id < n_cells): the filter form is
        # only equivalent when ids are dense from 0 — on a filtered or
        # offset corpus it under-seeds (or returns ZERO centroids, which
        # cascades to an empty index; r15 rebuild test caught this).
        # Identical output on dense ids, so every pinned oracle that
        # replays the seeding as `WHERE vec_id < n_cells` on the
        # canonical table is unaffected. orderBy+limit compiles to
        # TakeOrderedAndProject — a distributed partial top-k.
        seeds = base.orderBy("vec_id").limit(n_cells)
    elif strategy == "hash_spread":
        # orderBy + limit compiles to TakeOrderedAndProject — a
        # distributed partial top-k, NOT a single-partition window. The
        # seed's own vec_id stays the cell label (cell ids need not be
        # dense).
        seeds = base.orderBy(F.xxhash64("vec_id"), "vec_id").limit(n_cells)
    else:
        raise ValueError(f"unknown centroid strategy {strategy!r}")
    cents = seeds.select(
        F.col("vec_id").alias("cell_id"),
        F.col("ivec").alias("c_ivec"),
        F.col("nsq").alias("c_nsq"),
    )
    for _ in range(lloyd_iters):
        assigned = _assign_to(base, cents)
        # Exact integer mean, rounded half-away-from-zero:
        # sign(sx) * ((2*|sx| + c) div (2*c)). The earlier F.avg form
        # summed doubles — an ORDER-DEPENDENT float accumulation whose
        # round() could flip on exact-.5 boundaries under a different
        # partitioning; sum of longs is exact and partition-invariant,
        # and `div`/`//` truncation on the positive rearrangement is
        # the same half-away rounding in Spark and any SQL oracle.
        means = (
            assigned.select("cell_id", F.posexplode("ivec").alias("d", "x"))
            .groupBy("cell_id", "d")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("c"))
            .withColumn(
                "mx",
                F.expr(
                    "CASE WHEN sx >= 0 THEN (2*sx + c) div (2*c) "
                    "ELSE -((2*(-sx) + c) div (2*c)) END"
                ),
            )
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("d"), F.col("mx")))
                    ),
                    lambda s: s["mx"],
                ).alias("c_ivec")
            )
            .select(
                "cell_id", "c_ivec", dot_long("c_ivec", "c_ivec").alias("c_nsq")
            )
        )
        # Empty cells vanish from `means`; keep their previous centroid
        # so cell ids stay stable across iterations.
        kept = cents.join(means.select("cell_id"), "cell_id", "left_anti")
        cents = means.unionByName(kept).localCheckpoint()
    return cents


def _assign_to(
    base: DataFrame, cents: DataFrame, meta_cols: "tuple[str, ...]" = ()
) -> DataFrame:
    """Nearest-centroid assignment (ties → lowest cell id): broadcast
    centroids, scan the corpus once, per-vector argmax.

    The argmax is ``max_by`` over the ordering struct (c_cos, -cell_id)
    — identical row choice to the historical row_number window ((cos
    DESC, cell ASC): higher struct = higher cos, then lower cell id) but
    PARTIAL-AGGREGABLE: the map side reduces each partition to one row
    per vec_id BEFORE the exchange, so the shuffle carries ~|corpus|
    rows instead of |corpus| × n_cells rows each dragging the full ivec
    array — an n_cells× shuffle-volume cut that matters exactly when
    n_cells grows with the corpus (suggest_n_cells ~ sqrt(N)).

    ``meta_cols`` rides filterable metadata (e.g. ``label``) THROUGH
    the assignment into the index relation — a 100 TB vector store
    stores predicate columns next to the codes so hybrid search filters
    inside the probed-cell scan instead of joining the corpus back.

    Execution (r15): one Arrow ``mapInPandas`` corpus scan against the
    centroid matrix, which is DRIVER-BOUNDED by construction
    (suggest_n_cells caps at 65536 → ≤33 MiB of float64) and rides to
    executors inside the task closure the way a broadcast hint would
    ship it. The prior declarative form (crossJoin + partial-aggregable
    max_by) was plan-shaped right but paid an interpreted
    higher-order-function dot per (vector × cell) — corpus × n_cells ×
    ~27 µs, ~24 s of the sf1 graph build and the dominant term of every
    index build at 10×+. The blocked matmul is EXACT, not approximate:
    all products/partial sums are integers < 2^53 where float64 is
    order-independent, so scores equal the integer-arithmetic scores
    bit-for-bit (same argument as :func:`_knn_edges`); centroid columns
    are sorted cell-ascending so ``np.argmax``'s first-maximum rule IS
    the historical (c_cos DESC, cell_id ASC) tie-break. No shuffle at
    all (the old form exchanged ~|corpus| rows for the final agg)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    crows = cents.select("cell_id", "c_ivec", "c_nsq").collect()
    crows.sort(key=lambda r: r["cell_id"])
    cell_ids = np.array([r["cell_id"] for r in crows], dtype=np.int64)
    C = np.array([r["c_ivec"] for r in crows], dtype=np.float64)
    cn = np.sqrt(np.array([r["c_nsq"] for r in crows], dtype=np.float64))

    out_schema = T.StructType(
        list(base.schema.fields) + [T.StructField("cell_id", T.LongType())]
    )

    def _nearest(batches):
        for pdf in batches:
            if pdf.empty:
                yield pdf.assign(cell_id=pd.Series(dtype="int64"))
                continue
            nv = np.sqrt(pdf["nsq"].to_numpy().astype(np.float64))
            V = np.stack(pdf["ivec"].to_numpy()).astype(np.float64)
            # block rows so the (rows x n_cells) score matrix stays
            # ~32 MiB even at the 65536-cell cap
            block = max(16, (4 << 20) // max(1, len(cell_ids)))
            best = np.empty(len(V), dtype=np.int64)
            for i0 in range(0, len(V), block):
                cos = (V[i0:i0 + block] @ C.T) / (
                    nv[i0:i0 + block, None] * cn[None, :]
                )
                best[i0:i0 + block] = np.argmax(cos, axis=1)
            yield pdf.assign(cell_id=cell_ids[best])

    return base.mapInPandas(_nearest, out_schema).select(
        "vec_id", "ivec", "nsq", *meta_cols, "cell_id"
    )


def kmeans_cell_stats(
    emb: DataFrame,
    n_cells: int,
    lloyd_iters: int,
    strategy: str = "lowest_id",
) -> DataFrame:
    """Per-cell audit of a Lloyd-refined k-means clustering of the
    embedding corpus → (cell_id, n_members, sum_member_dot, c_l1,
    c_nsq), every column an exact integer so a SQL oracle can replay
    the whole data-dependent training loop (the same discipline as the
    BPE trainer): ``sum_member_dot`` is the Σ over members of the exact
    integer dot(ivec, centroid) — the fixed-point analogue of the
    within-cluster cohesion k-means maximizes — and ``c_l1``/``c_nsq``
    checksum the learned centroid itself. Empty cells (their seed kept
    by :func:`ivf_centroids`) appear with n_members = 0, pinning the
    empty-cell-carry path.

    100 TB shape: each Lloyd iteration is one corpus scan against
    BROADCAST centroids (the |corpus| × n_cells argmax partial-
    aggregates before its shuffle) plus one (cell_id, dim)-keyed
    aggregate bounded at n_cells × dim rows post-agg; the stats pass is
    the same assignment scan with a per-cell aggregate. The corpus is
    never collected — only n_cells-row centroid relations checkpoint."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    cents = ivf_centroids(base, n_cells, strategy=strategy, lloyd_iters=lloyd_iters)
    assigned = _assign_to(base, cents)
    member = (
        assigned.join(F.broadcast(cents), "cell_id")
        .select(
            "cell_id",
            dot_long(F.col("ivec"), F.col("c_ivec")).alias("m_dot"),
        )
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("m_dot").alias("sum_member_dot"),
        )
    )
    return cents.join(member, "cell_id", "left").select(
        "cell_id",
        F.coalesce("n_members", F.lit(0).cast("long")).alias("n_members"),
        F.coalesce("sum_member_dot", F.lit(0).cast("long")).alias(
            "sum_member_dot"
        ),
        F.aggregate(
            F.transform("c_ivec", lambda x: F.abs(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("c_l1"),
        "c_nsq",
    )


def hard_negatives(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = N_CELLS,
    lloyd_iters: int = 0,
    strategy: str = "lowest_id",
) -> DataFrame:
    """Hard-negative mining: for each query vector, the top-k
    highest-cosine corpus vectors assigned to a DIFFERENT (Lloyd-
    refined) k-means cell → (q_id, vec_id, cosine, rn). "Similar but
    from another cluster" is the contrastive-training definition of a
    hard negative; the same-cell neighbors a plain top-k would return
    are the POSITIVES semantic dedup collapses.

    100 TB shape: the clustering reuses :func:`ivf_centroids` (each
    iteration one corpus scan against broadcast centroids); mining is
    then one more scan with the tiny query panel broadcast and a
    cell-inequality predicate evaluated scan-side — the corpus never
    shuffles except the per-query top-k window on (q_id)."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    cents = ivf_centroids(base, n_cells, strategy=strategy, lloyd_iters=lloyd_iters)
    assigned = _assign_to(base, cents)
    q = assigned.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
        F.col("cell_id").alias("q_cell"),
    )
    scored = assigned.join(
        F.broadcast(q), F.col("cell_id") != F.col("q_cell")
    ).select(
        "q_id",
        "vec_id",
        cosine_from_ints(
            dot_long(F.col("q_ivec"), F.col("ivec")),
            F.col("q_nsq"),
            F.col("nsq"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine", "rn")
    )


def ivf_assign(
    emb: DataFrame,
    n_cells: int | None = N_CELLS,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid
    cell by cosine (ties → lowest cell id).

    Centroid choice is delegated to :func:`ivf_centroids` (strategy +
    optional Lloyd refinement); ``n_cells=None`` derives the cell count
    from the corpus size (:func:`suggest_n_cells`; one count() action).
    The registered queries pin ``n_cells=N_CELLS, strategy='lowest_id',
    lloyd_iters=0`` so the oracle can replay the arithmetic. At 100 TB:
    centroids broadcast, the corpus is scanned once, and the only
    shuffle is the per-vector argmax (bounded at |corpus| × n_cells rows
    pre-aggregation)."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    if n_cells is None:
        n_cells = suggest_n_cells(base.count())
    cents = ivf_centroids(base, n_cells, strategy=strategy, lloyd_iters=lloyd_iters)
    return _assign_to(base, cents)


def topk_cosine_ivf(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = N_PROBE,
    n_cells: int | None = N_CELLS,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF ANN top-k: each query probes its n_probe nearest cells and
    ranks exactly within them. Approximate (misses neighbors assigned to
    unprobed cells) but fully deterministic with the pinned defaults, so
    the oracle is exact. Search cost scales with n_probe/n_cells of the
    corpus instead of all of it — the knobs a 100 TB deployment turns
    (``n_cells=None`` derives ~sqrt(corpus) via
    :func:`suggest_n_cells`; ``strategy``/``lloyd_iters`` pick and
    refine the quantizer, :func:`ivf_centroids`)."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    if n_cells is None:
        n_cells = suggest_n_cells(base.count())
    cents = ivf_centroids(base, n_cells, strategy=strategy, lloyd_iters=lloyd_iters)
    assigned = _assign_to(base, cents)
    return _ivf_search(cents, assigned, query_ids, k, n_probe)


def topk_cosine_ivf_filtered(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = N_PROBE,
    n_cells: int = N_CELLS,
) -> DataFrame:
    """HYBRID (filtered) ANN: top-k among vectors sharing the QUERY's
    ``label`` — the metadata-predicate-plus-vector search every
    production store serves ("similar items in the same category").
    The index is filter-AGNOSTIC (quantizer trained on the full
    corpus, same cells as the unfiltered search) and the label rides
    INSIDE the assignment relation (``_assign_to`` meta_cols), so the
    predicate evaluates inside the probed-cell scan — no corpus-side
    join-back, candidate cost = n_probe/n_cells × selectivity. Fewer
    than k in-filter candidates in the probed cells → fewer rows for
    that query (approximate by the same contract as the unfiltered
    IVF; a production store widens n_probe on shortfall)."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq", "label")
    cents = ivf_centroids(base.select("vec_id", "ivec", "nsq"), n_cells)
    assigned = _assign_to(base, cents, meta_cols=("label",))
    q = assigned.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
        F.col("label").alias("q_label"),
    )
    pw = Window.partitionBy("q_id").orderBy(
        F.col("p_cos").desc(), F.col("cell_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "cell_id",
            cosine_from_ints(
                dot_long(F.col("q_ivec"), F.col("c_ivec")),
                F.col("q_nsq"),
                F.col("c_nsq"),
            ).alias("p_cos"),
        )
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= n_probe)
        .select("q_id", "cell_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell_id")
        .join(F.broadcast(q), "q_id")
        .filter(
            (F.col("vec_id") != F.col("q_id"))
            & (F.col("label") == F.col("q_label"))
        )
        .select(
            "q_id",
            "vec_id",
            "label",
            cosine_from_ints(
                dot_long(F.col("q_ivec"), F.col("ivec")),
                F.col("q_nsq"),
                F.col("nsq"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "label", "cosine", "rn")
    )


def topk_cosine_ivf_deleted(
    emb: DataFrame,
    query_ids: list[int],
    tombstones: DataFrame,
    k: int = 5,
    n_probe: int = N_PROBE,
    n_cells: int = N_CELLS,
) -> DataFrame:
    """DELETE lifecycle for the IVF index: deletions are a TOMBSTONE
    relation (vec_id), never an index rewrite — the quantizer and the
    surviving assignments are untouched (rewriting a cell-partitioned
    100 TB codes relation per delete batch would be the store's write
    amplification death). Search excludes tombstoned ids with one
    broadcast anti-join on the probed-cell scan; a background
    compaction would eventually rewrite cells whose tombstone fraction
    crosses a threshold (the append_to_ivf_index twin closes the CRUD
    triangle: build → append → delete)."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    cents = ivf_centroids(base, n_cells)
    assigned = _assign_to(base, cents)
    corpus = assigned.join(
        F.broadcast(tombstones.select("vec_id")), "vec_id", "left_anti"
    )
    return _ivf_search(cents, assigned, query_ids, k, n_probe, corpus=corpus)


def ivf_compaction_report(
    emb: DataFrame,
    tombstones: DataFrame,
    threshold_num: int = 2,
    threshold_den: int = 25,
    n_cells: int = N_CELLS,
) -> DataFrame:
    """Tombstone-threshold COMPACTION planning — the background half of
    the delete lifecycle (:func:`topk_cosine_ivf_deleted` reads around
    tombstones; this decides which cells to rewrite). A cell compacts
    when its tombstone fraction reaches threshold_num/threshold_den —
    compared in EXACT integers (n_tomb·den ≥ n_total·num), never a
    float threshold, so engine and oracle agree on boundary cells. The
    report is one map-combined aggregate over the assignment relation
    joined to the broadcast tombstone set: per cell, live/tombstone
    counts and the post-compaction stored-row count. At 100 TB only
    the flagged cells' files are rewritten (they are hive partitions
    of the codes/assignments layout); unflagged cells keep paying the
    anti-join at read — the same threshold economics as LSM stores."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    cents = ivf_centroids(base, n_cells)
    assigned = _assign_to(base, cents)
    flagged = assigned.join(
        F.broadcast(tombstones.select("vec_id").withColumn("_t", F.lit(1))),
        "vec_id",
        "left",
    )
    stats = flagged.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.coalesce(F.col("_t"), F.lit(0)).cast("long")).alias("n_tomb"),
    )
    compacted = (
        F.col("n_tomb") * threshold_den >= F.col("n_total") * threshold_num
    )
    return stats.select(
        "cell_id",
        "n_total",
        "n_tomb",
        (F.col("n_tomb").cast("double") / F.col("n_total")).alias("tomb_frac"),
        compacted.alias("compacted"),
        F.when(compacted, F.col("n_total") - F.col("n_tomb"))
        .otherwise(F.col("n_total"))
        .alias("n_stored_after"),
    )


def _ivf_search(
    cents: DataFrame,
    assigned: DataFrame,
    query_ids: list[int],
    k: int | None,
    n_probe: int,
    corpus: "DataFrame | None" = None,
) -> DataFrame:
    """The IVF search given its two index relations: probe selection
    over broadcast centroids, exact ranking within probed cells. Query
    vectors come from the assignment relation itself (an index lookup),
    so search needs NOTHING beyond the index. ``corpus`` overrides the
    SCANNED side only (tombstone-excluded view for the delete
    lifecycle) while queries still resolve from the full index."""
    if corpus is None:
        corpus = assigned
    q = assigned.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
    )
    pw = Window.partitionBy("q_id").orderBy(F.col("p_cos").desc(), F.col("cell_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "cell_id",
            cosine_from_ints(
                dot_long(F.col("q_ivec"), F.col("c_ivec")), F.col("q_nsq"), F.col("c_nsq")
            ).alias("p_cos"),
        )
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= n_probe)
        .select("q_id", "cell_id")
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell_id")
        .join(F.broadcast(q), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_from_ints(
                dot_long(F.col("q_ivec"), F.col("ivec")), F.col("q_nsq"), F.col("nsq")
            ).alias("cosine"),
        )
    )
    if k is None:
        # recall/cost instrumentation path: the raw candidate relation
        return scored
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine", "rn")
    )


def ivf_scored(
    emb: DataFrame,
    query_ids: list[int],
    n_cells: int | None = N_CELLS,
    n_probe: int = N_PROBE,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """The IVF candidate relation (q_id, vec_id, cosine) — same index
    construction as :func:`topk_cosine_ivf` (knobs forwarded so cost
    measurements can never silently describe a different index than
    the search)."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    if n_cells is None:
        n_cells = suggest_n_cells(base.count())
    cents = ivf_centroids(base, n_cells, strategy=strategy, lloyd_iters=lloyd_iters)
    assigned = _assign_to(base, cents)
    return _ivf_search(cents, assigned, query_ids, None, n_probe)


def ivf_candidate_counts(
    emb: DataFrame,
    query_ids: list[int],
    n_cells: int | None = N_CELLS,
    n_probe: int = N_PROBE,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """(q_id, n_candidates) for the IVF path — the vectors inside each
    query's ``n_probe`` probed cells (cost twin of
    :func:`lsh_candidate_counts`; index knobs forwarded like
    :func:`topk_cosine_ivf` so the counts always describe the same
    index as the search being measured)."""
    return (
        ivf_scored(emb, query_ids, n_cells, n_probe, strategy, lloyd_iters)
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    )


def build_ivf_index(
    emb: DataFrame,
    index_path: str,
    n_cells: int | None = N_CELLS,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> None:
    """Materialize the IVF index as the parquet artifact a production
    deployment maintains: ``centroids/`` (cell_id, c_ivec, c_nsq —
    broadcast-sized) and ``assignments/`` (vec_id, ivec, nsq, cell_id —
    the corpus, PARTITIONED BY cell so a probe reads only its cells'
    files). Built once per corpus version; queries then pay index reads
    only, never a corpus re-embed/re-assign."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    if n_cells is None:
        n_cells = suggest_n_cells(base.count())
    cents = ivf_centroids(base, n_cells, strategy=strategy, lloyd_iters=lloyd_iters)
    assigned = _assign_to(base, cents)
    cents.write.mode("overwrite").parquet(f"{index_path}/centroids")
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{index_path}/assignments"
    )


def append_to_ivf_index(spark, emb_new: DataFrame, index_path: str) -> None:
    """Assign a NEW batch of vectors to an EXISTING index's learned
    cells and append them to the assignments relation — the batch-
    ingest shape a 100 TB vector store actually runs (VERDICT r9
    item 4; the ANN analog of the incremental-dedup trilogy). The
    quantizer is NOT retrained: cell geometry is a versioned artifact
    and retraining would invalidate every stored assignment, so ingest
    is ONE broadcast of the stored centroids against the new batch's
    scan (the same partial-aggregable argmax as :func:`_assign_to`)
    plus an append of part-files into the cell-partitioned layout —
    searches see the new vectors immediately via the same
    partition-pruned reads, no rebuild, no rewrite of existing files."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    base = with_int_vec(emb_new).select("vec_id", "ivec", "nsq")
    _assign_to(base, cents).write.mode("append").partitionBy(
        "cell_id"
    ).parquet(f"{index_path}/assignments")


def topk_cosine_ivf_index(
    spark,
    index_path: str,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF ANN search against a :func:`build_ivf_index` artifact —
    identical results to :func:`topk_cosine_ivf` for the same corpus
    and knobs (the index stores exactly the relations that function
    derives). The assignment relation is partitioned by cell_id, so
    Spark's partition pruning restricts the scan to probed cells once
    the probe set is known — at 100 TB that is the difference between
    reading n_probe/n_cells of the index and reading all of it."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    # partition-column type inference narrows small cell ids to int;
    # restore the long the in-memory relations carry
    assigned = spark.read.parquet(f"{index_path}/assignments").withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    return _ivf_search(cents, assigned, query_ids, k, n_probe)


def semdedup(
    emb: DataFrame,
    threshold: float = 0.35,
    n_cells: int | None = N_CELLS,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): coarse-quantize the corpus into cells
    (:func:`ivf_assign`, the same deterministic centroid assignment the
    IVF index uses), then compare EXACT cosine only within cells; a
    vector is a semantic duplicate when a LOWER-id vector in its cell is
    at/above ``threshold`` cosine (keep-lowest, the deterministic
    keeper). Returns one row per vector: (vec_id, cell_id, kept).

    Scale shape — the reason SemDeDup works at corpus scale: the
    quadratic pairwise comparison is confined to one cell, and cell
    count grows with the corpus (``n_cells=None`` derives ~sqrt(corpus)
    via :func:`suggest_n_cells`; the registered query pins N_CELLS for
    oracle determinism), so per-cell work stays bounded. One broadcast
    (centroids), one shuffle on cell_id for the within-cell self-join,
    one anti-join-shaped left join for the kept flag. Popular cells skew
    the pair production, so the within-cell self-join is SALTED exactly
    as dedup.candidate_pairs (the cell id is the band key analog): side
    A is tagged hash(vec_id) % SALT_GROUPS, side B is replicated across
    all salts (a bounded ×SALT_GROUPS blow-up of the LINEAR vector
    relation), and the join key becomes (cell_id, salt) — each popular
    cell's k² pair production spreads over SALT_GROUPS tasks instead of
    one. Each unordered pair still meets exactly once after the
    vec_a < vec_b filter, so the result is set-identical to the
    unsalted join."""
    from distributed_query_engine_spark.operators.dedup import SALT_GROUPS

    assigned = ivf_assign(
        emb, n_cells=n_cells, strategy=strategy, lloyd_iters=lloyd_iters
    ).select("vec_id", "cell_id", "ivec", "nsq")
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), "cell_id",
        F.col("ivec").alias("ivec_a"), F.col("nsq").alias("nsq_a"),
        F.pmod(F.xxhash64("vec_id"), F.lit(SALT_GROUPS)).alias("salt"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), "cell_id",
        F.col("ivec").alias("ivec_b"), F.col("nsq").alias("nsq_b"),
        F.explode(F.array(*[F.lit(g) for g in range(SALT_GROUPS)])).alias("salt"),
    )
    # The salted join must SHUFFLE on (cell_id, salt) to do its job: a
    # broadcast of b would hand every probe task the WHOLE ×SALT_GROUPS
    # replica (the salt then spreads nothing — probe-side partitioning
    # does — and the explode only inflates the broadcast 16×). With the
    # r15 MapInPandas assignment upstream, Catalyst's size estimate for
    # b is opaque enough to pick that degenerate broadcast at small SFs,
    # so the shuffle is forced with a hash-join hint (build side = a,
    # the unexploded replica; no sort, unlike merge).
    removed = (
        a.hint("shuffle_hash").join(b, ["cell_id", "salt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            cosine_from_ints(
                dot_long(F.col("ivec_a"), F.col("ivec_b")),
                F.col("nsq_a"),
                F.col("nsq_b"),
            )
            >= threshold
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    return (
        assigned.join(removed, "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.coalesce(~F.col("dup"), F.lit(True)).alias("kept"),
        )
    )


def cosine_near_dup_pairs(
    emb: DataFrame, threshold: float, n_planes: int | None = N_PLANES
) -> DataFrame:
    """Embedding near-duplicate pairs, blocked by the random-hyperplane
    LSH bucket (:func:`lsh_bucket` — the same per-row, zero-shuffle
    bucketing the ANN path uses): exact cosine within buckets,
    (a < b) ordering.

    Scale: an earlier version blocked on the ``label`` column — within-
    label all-pairs, quadratic in label popularity and dead on a real
    corpus where one label dominates. Hyperplane buckets are bounded by
    construction (2^N_PLANES keys whose population tracks the cosine
    geometry, not a metadata column), so the self-join is a hash join on
    a high-cardinality key and each bucket's pair production is small.
    Like every LSH block, same-bucket candidacy is approximate (cosine-
    close pairs land together with probability (1 - θ/π)^N_PLANES); the
    cosine itself is exact.

    Zero-length embeddings are excluded up front: cosine against them is
    undefined (0/0), and the SQL oracle's exploded bucket computation
    drops them naturally — filtering here keeps both engines on the same
    contract (an empty vector is a near-duplicate of nothing).

    ``n_planes=None`` derives the bucket-bit count from the corpus size
    (:func:`suggest_n_planes`; one count() action); the registered query
    pins N_PLANES for oracle parity."""
    vecs = with_int_vec(emb).filter(F.size("ivec") > 0).select(
        "vec_id", "ivec", "nsq"
    )
    if n_planes is None:
        n_planes = suggest_n_planes(vecs.count())
    base = lsh_bucket(vecs, n_planes=n_planes)
    a = base.select(
        F.col("vec_id").alias("vec_a"), "bucket",
        F.col("ivec").alias("ivec_a"), F.col("nsq").alias("nsq_a"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), "bucket",
        F.col("ivec").alias("ivec_b"), F.col("nsq").alias("nsq_b"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.col("bucket"),
            cosine_from_ints(
                dot_long(F.col("ivec_a"), F.col("ivec_b")),
                F.col("nsq_a"),
                F.col("nsq_b"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --- Product quantization (Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search" — the FAISS IVF-PQ compression half).
# M_SUB subspaces of dim/M_SUB dims, K_CODES centroids per subspace:
# each vector compresses to M_SUB small ints (64 dims × 8 B → 4 B/vec
# here; a real deployment uses 8-bit codes for 32× compression), and
# search scans CODES against a per-query distance table instead of raw
# vectors — the memory-bounded design that lets a 100 TB corpus's index
# fit in RAM. All arithmetic is exact integer (fixed-point subvectors,
# squared-L2 decomposes across subspaces), so a SQL oracle replays
# codebook training, encoding, and the ADC scan bit-for-bit.
# r11 knob sweep (scripts/pq_sweep.py, PLANS.md r11): recall rises
# monotonically with code budget on BOTH corpus shapes; (8, 32) =
# 5 bytes/vector on the 64-dim corpus (51x smaller than the raw float
# vector) lifts residual+re-rank recall@5 to 0.904 raw / 0.928
# clustered at sf0.1 (from 0.840 / 0.816 at the r10 (4, 16) point)
# and the ADC-only rung to 0.15-0.26. Production stores run 8-bit
# codes (k=256) at m = dim/4..dim/8 — this grid point is the same
# shape scaled to the oracle-replayable synthetic corpus.
PQ_M_SUB = 8
PQ_K_CODES = 32
PQ_LLOYD_ITERS = 1


def _pq_subvecs(
    df: DataFrame, dim: int, m_sub: int, keys: "tuple[str, ...]"
) -> DataFrame:
    """(*keys, m, sv): the per-subspace slices of ivec. dim must be
    divisible by m_sub (the caller probes it once — a scalar, like
    suggest_n_cells' count()). ``keys`` are the id columns — the
    residual query side slices per (q_id, cell_id)."""
    sd = dim // m_sub
    return df.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("ivec", m * sd + 1, sd).alias("sv"),
                    )
                    for m in range(m_sub)
                ]
            )
        ).alias("s"),
    ).select(*keys, "s.m", "s.sv")


def _pq_dist(sv_a, sv_b) -> "Column":
    """Exact-integer squared L2 between two fixed-point subvectors:
    ||a||² − 2·a·b + ||b||² (each term a long)."""
    return (
        norm_sq_long(sv_a) - 2 * dot_long(sv_a, sv_b) + norm_sq_long(sv_b)
    )


def _l2_mats(rows):
    """(id, vec) rows → (ids asc, C float64, ||c||²): the operand of
    :func:`_nearest_l2` for one centroid set — the coarse cells, or one
    subspace's codebook. Rows sorted id-ascending, so first-argmin IS
    the lowest-id tie-break."""
    import numpy as np

    rows = sorted(rows, key=lambda t: t[0])
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    C = np.array([v for _, v in rows], dtype=np.float64)
    return ids, C, (C * C).sum(axis=1) if len(rows) else np.empty(0)


def _nearest_l2(V, C, cn):
    """Row index into ``C`` of each ``V`` row's nearest centroid by
    squared L2, ties → lowest index — the ONE L2 argmin of the PQ
    family: coarse assignment, codebook seeding, Lloyd training and
    encoding all call it (the cosine :func:`_assign_to` is a different
    metric).

    EXACT, not approximate: comparing ||v−c||² across centroids is
    comparing ||c||² − 2·v·c (||v||² is constant per row), and every
    term is an INTEGER — fixed-point components < 2²³ keep every
    product < 2⁴⁶ and every partial sum < 2⁵³, where float64 addition
    is exact and order-independent — so dropping ||v||² cannot reorder
    or un-tie anything, and the choice equals the long arithmetic the
    oracles replay. ``C`` rows are id-ascending (:func:`_l2_mats`), so
    ``np.argmin``'s first-minimum rule IS the historical (−dist, −id)
    max_by tie-break. Rows are blocked so the (rows × centroids)
    distance matrix stays ~32 MiB even at the 65536-cell cap."""
    import numpy as np

    block = max(16, (4 << 20) // max(1, len(C)))
    best = np.empty(len(V), dtype=np.int64)
    for i0 in range(0, len(V), block):
        d = cn[None, :] - 2.0 * (V[i0:i0 + block].astype(np.float64) @ C.T)
        best[i0:i0 + block] = np.argmin(d, axis=1)
    return best


def _collect_low_rows(base: DataFrame, k: int) -> list:
    """The k lowest-vec_id vectors as driver rows [(vec_id, [int]), …]
    sorted by id — ONE TakeOrderedAndProject job serving centroid
    seeding, codebook seeding, AND the dimensionality probe (ids are
    unique non-negative keys, so every row in a value window
    [lo, lo + w) ⊆ [0, k) is among the rank-lowest k — the window can
    be carved out driver-side)."""
    return [
        (r["vec_id"], [int(x) for x in r["ivec"]])
        for r in base.orderBy("vec_id")
        .limit(k)
        .select("vec_id", "ivec")
        .collect()
    ]


def _pq_seed_rows(
    low_rows: list, dim: int, m_sub: int, k_codes: int, seed_lo: int,
    cent_rows=None,
) -> list:
    """The codebook seeds as driver rows [(m, code_id, c_sv), ...]:
    the vec_id VALUE window [seed_lo, seed_lo + k_codes) carved from
    pre-collected :func:`_collect_low_rows` output, residual-shifted
    against ``cent_rows`` when given, sliced into subvectors
    driver-side. The arithmetic (argmin cell, x − c, slice) is the
    same exact integer math the kernels run; doing it here saves the
    per-seed jobs the old subs-filter + join DAG paid."""
    import numpy as np

    rows = [
        (vid, v)
        for vid, v in low_rows
        if seed_lo <= vid < seed_lo + k_codes
    ]
    out = []
    sd = dim // m_sub
    if cent_rows is not None:
        _, C, cn = _l2_mats(cent_rows)
    for vid, vv in rows:
        v = np.array(vv, dtype=np.int64)
        if cent_rows is not None:
            if not len(C):
                continue  # no centroids → no assignment → no seed rows
            v = v - C[_nearest_l2(v[None, :], C, cn)[0]].astype(np.int64)
        code = int(vid) - seed_lo
        for m in range(m_sub):
            out.append((m, code, [int(x) for x in v[m * sd:(m + 1) * sd]]))
    return out


def _pq_kernel(dim: int, m_sub: int, cent_rows, cb_rows, residual: bool):
    """The per-batch kernel body shared by encoding and Lloyd training:
    ``encode(Vi) -> (cell_ids, R, codes)`` for an int64 (rows × dim)
    batch — ``cell_ids`` each row's nearest coarse cell (None when
    ``cent_rows`` is None: plain PQ), ``R`` the vectors the codebooks
    quantize (x − c(x) when ``residual``; exact int64), and ``codes``
    {m: (code_ids asc, nearest-code column index per row)}. Returns
    None when nothing can be encoded (no centroids, or codebooks not
    covering all m_sub subspaces)."""
    import numpy as np

    cents = None if cent_rows is None else _l2_mats(cent_rows)
    by_m: dict[int, list] = {}
    for m, code_id, c_sv in cb_rows:
        by_m.setdefault(m, []).append((code_id, c_sv))
    mats = {m: _l2_mats(lst) for m, lst in by_m.items()}
    if len(mats) != m_sub or (cents is not None and not len(cents[0])):
        return None
    sd = dim // m_sub

    def encode(Vi):
        cell_ids = None
        if cents is not None:
            best = _nearest_l2(Vi, cents[1], cents[2])
            cell_ids = cents[0][best]
            if residual:
                Vi = Vi - cents[1][best].astype(np.int64)
        return cell_ids, Vi, {
            m: (ids, _nearest_l2(Vi[:, m * sd:(m + 1) * sd], Cm, cbn))
            for m, (ids, Cm, cbn) in mats.items()
        }

    return encode


def _ivfpq_codes(
    base: DataFrame,
    dim: int,
    m_sub: int,
    cent_rows,
    cb_rows,
    residual: bool,
) -> DataFrame:
    """(vec_id, cell_id, m, code_id): coarse assignment + (optionally
    residual) PQ encoding FUSED into one Arrow kernel pass over the
    corpus — the relation ``codes ⋈ assigned`` used to build with two
    mapInPandas stages and a corpus-sized sort-merge join (2 exchanges
    + 2 sorts); here it is one Python stage and no exchange.
    ``cent_rows=None`` is plain PQ: no coarse quantizer, and the
    relation is (vec_id, m, code_id). Exactness per
    :func:`_nearest_l2`; the residual subtraction is exact int64."""
    import numpy as np
    import pandas as pd

    encode = _pq_kernel(dim, m_sub, cent_rows, cb_rows, residual)
    cell = "" if cent_rows is None else "cell_id long, "
    schema = f"vec_id long, {cell}m int, code_id long"

    def _encode(batches):
        for pdf in batches:
            if pdf.empty or encode is None:
                continue
            Vi = np.stack(pdf["ivec"].to_numpy()).astype(np.int64)
            cell_ids, _, codes = encode(Vi)
            out = {"vec_id": np.repeat(pdf["vec_id"].to_numpy(), m_sub)}
            if cell_ids is not None:
                out["cell_id"] = np.repeat(cell_ids, m_sub)
            out["m"] = np.tile(np.arange(m_sub, dtype=np.int32), len(Vi))
            out["code_id"] = np.stack(
                [ids[best] for ids, best in (codes[m] for m in range(m_sub))],
                axis=1,
            ).reshape(-1)
            yield pd.DataFrame(out)

    return base.select("vec_id", "ivec").mapInPandas(_encode, schema)


def _pq_train_partials_base(
    base: DataFrame,
    dim: int,
    m_sub: int,
    cent_rows,
    cb_rows,
) -> DataFrame:
    """One Lloyd step's sufficient statistics straight from the PACKED
    corpus: the kernel assigns each vector's (residual when
    ``cent_rows`` is given) subvectors to their nearest codes — the
    encoding argmin bit-identically — and emits per-(m, code)
    component sums + counts, ≤ m_sub × k_codes rows per task. One
    corpus-scan job, no explode relation, no shuffle; per-task sums
    are exact int64, the caller merges in unbounded Python ints."""
    import numpy as np
    import pandas as pd

    encode = _pq_kernel(dim, m_sub, cent_rows, cb_rows, residual=True)
    sd = dim // m_sub
    schema = "m int, code_id long, s_sv array<long>, c long"

    def _part(batches):
        acc: dict = {}
        for pdf in batches:
            if pdf.empty or encode is None:
                continue
            Vi = np.stack(pdf["ivec"].to_numpy()).astype(np.int64)
            _, R, codes = encode(Vi)
            for m, (ids, best) in codes.items():
                Sm = R[:, m * sd:(m + 1) * sd]
                for bi in np.unique(best):
                    rmask = best == bi
                    key = (m, int(ids[bi]))
                    s = Sm[rmask].sum(axis=0)
                    if key in acc:
                        acc[key][0] += s
                        acc[key][1] += int(rmask.sum())
                    else:
                        acc[key] = [s, int(rmask.sum())]
        if acc:
            yield pd.DataFrame(
                [
                    {"m": m, "code_id": c, "s_sv": s.tolist(), "c": n}
                    for (m, c), (s, n) in acc.items()
                ]
            )

    return base.select("vec_id", "ivec").mapInPandas(_part, schema)


def _lloyd_merge(cb: dict, partial_rows) -> None:
    """Merge collected per-task partials into the driver codebook
    state: exact unbounded-int sums, then the sign-aware
    round-half-away integer mean — the same CASE WHEN
    (2*sx + c) div (2*c) arithmetic both engines replay. Codes absent
    from the partials keep their previous centroid (empty-code
    carry)."""
    agg: dict = {}
    for r in partial_rows:
        key = (r["m"], r["code_id"])
        if key in agg:
            s, n = agg[key]
            agg[key] = ([a + int(b) for a, b in zip(s, r["s_sv"])], n + r["c"])
        else:
            agg[key] = ([int(x) for x in r["s_sv"]], r["c"])
    for key, (s, n) in agg.items():
        cb[key] = [
            (2 * x + n) // (2 * n) if x >= 0 else -((2 * (-x) + n) // (2 * n))
            for x in s
        ]


def _pq_codebooks_rows(
    base: DataFrame,
    dim: int,
    m_sub: int,
    k_codes: int,
    lloyd_iters: int,
    seeds: list,
    cent_rows=None,
) -> list:
    """Per-subspace codebooks [(m, code_id, c_sv)]: seeds (from
    :func:`_pq_seed_rows` — the lowest-vec_id window, deterministic and
    oracle-replayable, the ivf_centroids 'lowest_id' discipline)
    refined by exact-integer Lloyd steps over squared L2, on the
    residuals x − c(x) when ``cent_rows`` is given. Empty codes keep
    their previous centroid (the empty-cell carry from ivf_centroids).

    The codebook is DRIVER-BOUNDED by construction (≤ m_sub × k_codes
    rows of subvector-length ints — 4 KiB at the default (8, 32)
    knobs, ~0.5 MiB at the production (16, 256)), so the Lloyd loop
    keeps it as driver state: per iteration ONE corpus-scan job
    computes assignment + per-code sufficient statistics inside the
    kernel (:func:`_pq_train_partials_base`), and the mean/carry
    arithmetic merges the per-task partials in exact unbounded Python
    ints."""
    cb: dict = {(m, c): sv for m, c, sv in seeds}
    for _ in range(lloyd_iters):
        cb_rows = [(m, c, sv) for (m, c), sv in cb.items()]
        _lloyd_merge(
            cb, _pq_train_partials_base(base, dim, m_sub, cent_rows, cb_rows).collect()
        )
    return [(int(m), int(c), sv) for (m, c), sv in sorted(cb.items())]


_CENTS_SCHEMA = "cell_id long, c_ivec array<long>"
_CB_SCHEMA = "m int, code_id long, c_sv array<long>"


def _ivfpq_build(
    emb: DataFrame,
    n_cells: "int | None",
    m_sub: int,
    k_codes: int,
    lloyd_iters: int,
    residual: bool,
):
    """The one PQ / IVF-PQ index build: returns ``(base, dim, low_rows,
    cent_rows, cb_rows)`` — the spread, dim-guarded corpus scan, the
    collected lowest-id vectors, the coarse centroids as driver rows
    (None when ``n_cells`` is None: plain PQ), and the trained
    codebooks as driver rows.

    The index relations are driver-bounded, so they are materialized
    ONCE as driver rows (r15): one lowest-K collect serves the dim
    probe, centroid seeds (true lowest-k — orderBy + limit, never
    ``filter(vec_id < n_cells)``, which under-seeds to an EMPTY
    quantizer on non-dense ids) AND codebook seeds; training runs one
    kernel job per Lloyd step. Residual seeds skip [0, n_cells): those
    ids ARE the coarse centroids, so their residuals are all-zero —
    k_codes identical zero seeds would collapse Lloyd to one effective
    code. The raw scan is spread first (dedup._spread_narrow_scan; the
    r9 one-split lesson): a compact embeddings file arrives in 1-2
    splits, which would single-thread the kernels."""
    from distributed_query_engine_spark.operators.dedup import (
        _spread_narrow_scan,
    )

    narrow = with_int_vec(emb).filter(F.size("ivec") > 0).select(
        "vec_id", "ivec"
    )
    seed_lo = n_cells if residual else 0
    low_rows = _collect_low_rows(narrow, max(n_cells or 0, seed_lo + k_codes))
    if not low_rows:
        raise ValueError("PQ: empty corpus — no vectors to index")
    dim = len(low_rows[0][1])
    base = _spread_narrow_scan(_dim_guard(narrow, dim, m_sub), key="vec_id")
    cent_rows = None if n_cells is None else low_rows[:n_cells]
    res_cents = cent_rows if residual else None
    seeds = _pq_seed_rows(low_rows, dim, m_sub, k_codes, seed_lo, res_cents)
    cb_rows = _pq_codebooks_rows(
        base, dim, m_sub, k_codes, lloyd_iters, seeds, cent_rows=res_cents
    )
    return base, dim, low_rows, cent_rows, cb_rows


def _panel_probe_qdt(
    low_map: dict,
    query_ids: list,
    cent_rows,
    cb_rows,
    dim: int,
    m_sub: int,
    n_probe: int,
    residual: bool,
):
    """Driver-side probe sets + ADC distance tables for a query panel
    whose vectors are all inside the collected lowest-K window — the
    panel is request metadata (the bm25 qterms-collect class), and
    every quantity here is panel × index-knob sized. Pure-Python exact
    integer arithmetic: ||a−b||² over int components equals the
    engine's ||a||² − 2ab + ||b||² long expression identically, and
    sorted() on (p_dist, cell_id) reproduces the probe window's
    row_number order. Returns (probe_rows, qdt_rows); qdt rows carry
    cell_id in the residual flavor."""
    cents = sorted(cent_rows, key=lambda t: t[0])
    by_m: dict[int, list] = {}
    for m, c, sv in cb_rows:
        by_m.setdefault(m, []).append((c, sv))
    sd = dim // m_sub

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probe_rows, qdt_rows = [], []
    for qid in query_ids:
        qv = low_map[qid]
        ranked = sorted(
            ((d2(qv, cv), cid) for cid, cv in cents)
        )[:n_probe]
        for _, cid in ranked:
            probe_rows.append((qid, cid))
        if residual:
            cmap = dict(cents)
            for _, cid in ranked:
                qres = [x - c for x, c in zip(qv, cmap[cid])]
                for m, codes in by_m.items():
                    qsv = qres[m * sd:(m + 1) * sd]
                    for code, c_sv in codes:
                        qdt_rows.append(
                            (qid, cid, m, code, d2(qsv, c_sv))
                        )
        else:
            for m, codes in by_m.items():
                qsv = qv[m * sd:(m + 1) * sd]
                for code, c_sv in codes:
                    qdt_rows.append((qid, m, code, d2(qsv, c_sv)))
    return probe_rows, qdt_rows


def _probe_dim_strict(
    narrow: DataFrame, m_sub: int, id_col: str = "vec_id"
) -> "tuple[int, DataFrame]":
    """Probe the vector dimensionality on the RAW narrow projection —
    BEFORE :func:`~...dedup._spread_narrow_scan` — so the one-row read
    never forces the spread's repartition exchange to materialize
    (r11 ADVICE). Returns ``(dim, guarded)`` where ``guarded`` re-emits
    ``ivec`` through a size guard that RAISES on any row whose
    dimensionality differs: PQ subvector slicing silently mis-slices a
    heterogeneous corpus (and the DuckDB oracle slices per-row
    ``len(ivec)//m``, so engine and oracle would diverge instead of
    erroring) — mixed-dim input must fail loudly, not produce wrong
    neighbors. The guard lives INSIDE the consumed ivec expression so
    column pruning can't optimize it away; cost is one size()
    comparison per row inside codegen."""
    row = narrow.select(F.size("ivec").alias("d")).first()
    if row is None:
        raise ValueError("PQ: empty corpus — no vectors to index")
    dim = row["d"]
    return dim, _dim_guard(narrow, dim, m_sub, id_col)


def _dim_guard(
    narrow: DataFrame, dim: int, m_sub: int, id_col: str = "vec_id"
) -> DataFrame:
    """The homogeneity guard of :func:`_probe_dim_strict`, for callers
    that already know ``dim`` (e.g. from :func:`_collect_low_rows` —
    saving the one-row probe job)."""
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    guarded = narrow.withColumn(
        "ivec",
        F.when(F.size("ivec") == dim, F.col("ivec")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"PQ requires homogeneous vector dims: expected {dim}, got "
                    ),
                    F.size("ivec").cast("string"),
                    F.lit(f" ({id_col} "),
                    F.col(id_col).cast("string"),
                    F.lit(")"),
                )
            )
        ),
    )
    return guarded


def _stored_index_shape(cb: DataFrame) -> "tuple[int, int]":
    """Derive ``(m_sub, dim)`` from a STORED codebook relation —
    ``dim = m_sub × len(c_sv)`` (r12 ADVICE: :func:`_probe_dim_strict`
    only enforces internal homogeneity of a new batch, so a batch with
    a different-but-homogeneous dim used to zip_with against mismatched
    centroids and silently append NULL-component garbage codes). One
    scalar aggregate over the broadcast-sized codebooks; callers raise
    on any mismatch against the incoming batch/query shape."""
    row = cb.agg(
        F.count_distinct("m").alias("m_sub"),
        F.min(F.size("c_sv")).alias("sv_lo"),
        F.max(F.size("c_sv")).alias("sv_hi"),
    ).first()
    if row is None or row["m_sub"] == 0:
        raise ValueError("IVF-PQ index: empty codebooks relation")
    if row["sv_lo"] != row["sv_hi"]:
        raise ValueError(
            "IVF-PQ index: corrupt codebooks (ragged subvector lengths "
            f"{row['sv_lo']}..{row['sv_hi']})"
        )
    return int(row["m_sub"]), int(row["m_sub"]) * int(row["sv_lo"])


def _check_against_stored_index(
    cb: DataFrame, m_sub: int, dim: int, what: str
) -> None:
    """Raise unless ``(m_sub, dim)`` of an incoming batch/query matches
    the stored index's shape — the 'mixed-dim must fail loudly'
    contract extended across index generations (r12 ADVICE)."""
    m_stored, dim_stored = _stored_index_shape(cb)
    if m_sub != m_stored or dim != dim_stored:
        raise ValueError(
            f"IVF-PQ index shape mismatch: stored index has m_sub="
            f"{m_stored}, dim={dim_stored}; {what} has m_sub={m_sub}, "
            f"dim={dim}"
        )


def topk_l2_pq(
    emb: DataFrame,
    query_ids: list[int],
    k: int | None = 5,
    m_sub: int = PQ_M_SUB,
    k_codes: int = PQ_K_CODES,
    lloyd_iters: int = PQ_LLOYD_ITERS,
) -> DataFrame:
    """PQ/ADC approximate nearest neighbors by squared L2: train
    per-subspace codebooks, ENCODE the corpus to M_SUB codes per
    vector, build each query's (m, code) distance table (M_SUB ×
    K_CODES tiny rows, broadcast), and rank candidates by the
    asymmetric-distance sum Σ_m dtable[m, code_m(v)] — approximate
    (quantization error) but fully deterministic, hence oracle-exact.
    It is :func:`topk_l2_ivfpq` without the coarse quantizer: the same
    build, encoding kernel and ADC scan, over every vector's codes.

    100 TB shape: the scan side is the CODES relation (M_SUB ints per
    vector — memory-resident at corpus scale, the point of PQ); the
    distance table is query-local and broadcast; the per-(q, vec) sum
    partial-aggregates map-side. Raw vectors are touched only at
    train/encode time (and would be re-ranked from disk for the final
    top-k in a full IVF-PQ deployment)."""
    return topk_l2_ivfpq(
        emb, query_ids, k, None, None, m_sub, k_codes, lloyd_iters
    )


def _probe_qdt(
    q: DataFrame,
    cents: "DataFrame | None",
    cb: DataFrame,
    dim: int,
    m_sub: int,
    n_probe: "int | None",
    residual: bool,
) -> "tuple[DataFrame | None, DataFrame]":
    """In-plan probe sets and ADC distance tables for the query panel
    ``q`` (q_id, q_ivec): each query probes its ``n_probe`` nearest
    cells by exact-integer squared L2 (ties → lowest cell id), and its
    table is dist[m, code] = ||q[m] − codebook[m, code]||². With
    ``residual`` the table is per (query, probed cell): the query is
    re-expressed in each probed cell's frame (q − c_cell) before the
    lookup. ``cents=None`` is plain PQ: no probes, one table per query.
    Every relation is |q|·n_probe·M·K tiny rows, broadcast by
    :func:`_adc_topk`. Returns (probes, q_dt)."""
    probes = None
    if cents is not None:
        pw = Window.partitionBy("q_id").orderBy("p_dist", "cell_id")
        probes = (
            q.crossJoin(F.broadcast(cents))
            .select(
                "q_id",
                "cell_id",
                _pq_dist(F.col("q_ivec"), F.col("c_ivec")).alias("p_dist"),
            )
            .withColumn("prn", F.row_number().over(pw))
            .filter(F.col("prn") <= n_probe)
            .select("q_id", "cell_id")
        )
    if residual:
        keys = ("q_id", "cell_id")
        qv = (
            probes.join(q, "q_id")
            .join(F.broadcast(cents), "cell_id")
            .select(
                *keys,
                F.zip_with("q_ivec", "c_ivec", lambda x, c: x - c).alias("ivec"),
            )
        )
    else:
        keys = ("q_id",)
        qv = q.select("q_id", F.col("q_ivec").alias("ivec"))
    q_dt = (
        _pq_subvecs(qv, dim, m_sub, keys=keys)
        .withColumnRenamed("sv", "q_sv")
        .join(F.broadcast(cb), "m")
        .select(
            *keys,
            "m",
            "code_id",
            _pq_dist(F.col("q_sv"), F.col("c_sv")).alias("dist"),
        )
    )
    return probes, q_dt


def _adc_topk(
    codes: DataFrame,
    probes: "DataFrame | None",
    q_dt: DataFrame,
    k: "int | None",
) -> DataFrame:
    """The ADC scan: the codes relation (restricted to probed cells
    when ``probes`` is given — dynamic partition pruning on a stored
    index) joins the broadcast distance tables on every key they share
    (m, code_id, plus q_id / cell_id when probed / residual), and each
    candidate's distance is the per-(q, vec) partial-aggregated sum.
    ``k=None`` returns that scored relation (the recall/cost
    instrumentation path, the ivf_scored pattern); otherwise the
    per-query top-k by (adc_dist, vec_id)."""
    if probes is not None:
        codes = codes.join(F.broadcast(probes), "cell_id")
    scored = (
        codes.join(
            F.broadcast(q_dt), [c for c in q_dt.columns if c in codes.columns]
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dist").alias("adc_dist"))
    )
    if k is None:
        return scored
    w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "adc_dist", "rn")
    )


def topk_l2_ivfpq(
    emb: DataFrame,
    query_ids: list[int],
    k: int | None = 5,
    n_cells: "int | None" = N_CELLS,
    n_probe: "int | None" = N_PROBE,
    m_sub: int = PQ_M_SUB,
    k_codes: int = PQ_K_CODES,
    lloyd_iters: int = PQ_LLOYD_ITERS,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ — the composed production vector-store design (FAISS's
    default at scale): IVF bounds WHICH vectors are scanned (each query
    probes its n_probe nearest cells by exact-integer squared L2), PQ
    bounds the BYTES per scanned vector (the probed cells' vectors are
    ranked by the ADC sum over their codes, never their raw
    embeddings). Both stages share the lowest-id/Lloyd determinism, so
    the full two-level index + search replays exactly in SQL.
    ``n_cells=None`` drops the coarse quantizer (plain PQ,
    :func:`topk_l2_pq`).

    ``residual=True`` is what FAISS IndexIVFPQ actually quantizes: each
    vector's code is trained/assigned on x − c(x) (its offset from the
    coarse centroid), not on x itself. On structured corpora this is
    the difference between a working index and a collapsed one:
    raw-vector codebooks spend their K codes separating the corpus's
    dominant (inter-cluster) variance, leaving nothing to rank the
    WITHIN-cluster neighbors a top-k query actually needs — measured on
    the planted-cluster slice (llm_similarity_pq_recall_clustered: raw
    IVF-PQ 0.04 recall@5 vs residual's, PLANS.md r11). The ADC table
    becomes per-(query, probed cell) — still |q|·n_probe·M·K tiny
    broadcast rows.

    100 TB shape: centroids, codebooks, probe sets and distance tables
    broadcast; the search scan is the codes relation (a few ints per
    vector, carrying its cell_id out of the one fused assign + encode
    kernel pass, :func:`_ivfpq_codes`); no corpus-sized shuffle at
    build or search. Search cost = n_probe/n_cells of the codes
    relation per query."""
    base, dim, low_rows, cent_rows, cb_rows = _ivfpq_build(
        emb, n_cells, m_sub, k_codes, lloyd_iters, residual
    )
    spark = base.sparkSession
    low_map = dict(low_rows)
    if cent_rows is not None and all(qid in low_map for qid in query_ids):
        # panel vectors already collected → probes + distance tables
        # are driver-computed local relations (no extra scan branches
        # or broadcast-build jobs in the search plan). Kept on
        # measurement (perfbench llm_batch --trace 1, sf0.01, 4-core
        # VM, 11 alternating runs a side): llm_similarity_ivfpq median
        # 2.69 s vs 3.28 s in-plan (quartile spread 0.48 s), 7 vs 10
        # exec jobs.
        probe_rows, qdt_rows = _panel_probe_qdt(
            low_map, query_ids, cent_rows, cb_rows, dim, m_sub, n_probe,
            residual,
        )
        probes = spark.createDataFrame(probe_rows, "q_id long, cell_id long")
        cell = "cell_id long, " if residual else ""
        q_dt = spark.createDataFrame(
            qdt_rows, f"q_id long, {cell}m int, code_id long, dist long"
        )
    else:
        cents = (
            None if cent_rows is None
            else spark.createDataFrame(cent_rows, _CENTS_SCHEMA)
        )
        q = base.filter(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("q_id"), F.col("ivec").alias("q_ivec")
        )
        probes, q_dt = _probe_qdt(
            q,
            cents,
            spark.createDataFrame(cb_rows, _CB_SCHEMA),
            dim,
            m_sub,
            n_probe,
            residual,
        )
    codes = _ivfpq_codes(base, dim, m_sub, cent_rows, cb_rows, residual)
    return _adc_topk(codes, probes, q_dt, k)


def build_ivfpq_index(
    emb: DataFrame,
    index_path: str,
    n_cells: int = N_CELLS,
    m_sub: int = PQ_M_SUB,
    k_codes: int = PQ_K_CODES,
    lloyd_iters: int = PQ_LLOYD_ITERS,
) -> int:
    """Materialize the RESIDUAL IVF-PQ index — the artifact a
    production vector store actually maintains (FAISS IndexIVFPQ on
    disk): ``centroids/`` (cell_id, c_ivec — broadcast-sized),
    ``codebooks/`` (m, code_id, c_sv — broadcast-sized), and
    ``codes/`` (vec_id, m, code_id) PARTITIONED BY cell_id. The
    corpus-sized relation stores M_SUB small ints per vector — at
    100 TB of embeddings the codes relation is the only per-vector
    state a search reads, and the cell partitioning means a probe
    reads n_probe/n_cells of it. Raw vectors are touched only here
    (train/encode) and in an optional re-rank. The build is
    :func:`topk_l2_ivfpq`'s (``residual=True``). Returns the probed
    vector dimensionality (stored implicitly by the codebooks)."""
    base, dim, _, cent_rows, cb_rows = _ivfpq_build(
        emb, n_cells, m_sub, k_codes, lloyd_iters, residual=True
    )
    spark = base.sparkSession
    spark.createDataFrame(cent_rows, _CENTS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/centroids")
    spark.createDataFrame(cb_rows, _CB_SCHEMA).write.mode("overwrite").parquet(
        f"{index_path}/codebooks"
    )
    codes = _ivfpq_codes(base, dim, m_sub, cent_rows, cb_rows, residual=True)
    codes.select("vec_id", "m", "code_id", "cell_id").write.mode(
        "overwrite"
    ).partitionBy("cell_id").parquet(f"{index_path}/codes")
    return dim


def append_to_ivfpq_index(
    spark, emb_new: DataFrame, index_path: str, m_sub: int = PQ_M_SUB
) -> None:
    """Ingest a NEW vector batch into an existing :func:`build_ivfpq_index`
    artifact WITHOUT retraining — the compressed-index twin of
    :func:`append_to_ivf_index`: the stored quantizer (centroids +
    codebooks) is a versioned artifact whose retrain would invalidate
    every stored code, so ingest collects the stored (broadcast-sized)
    centroids and codebooks to the driver, runs the batch through the
    same fused assign + residual-encode kernel as the build
    (:func:`_ivfpq_codes`), and appends part-files into the
    cell-partitioned codes layout — existing files never rewritten,
    searches see the new codes immediately through the same
    partition-pruned reads. Batch-sized work only; the corpus is never
    rescanned."""
    cb = spark.read.parquet(f"{index_path}/codebooks")
    narrow = with_int_vec(emb_new).filter(F.size("ivec") > 0).select(
        "vec_id", "ivec"
    )
    dim, narrow = _probe_dim_strict(narrow, m_sub)
    _check_against_stored_index(cb, m_sub, dim, "ingest batch")
    cent_rows = [
        (r["cell_id"], [int(x) for x in r["c_ivec"]])
        for r in spark.read.parquet(f"{index_path}/centroids").collect()
    ]
    cb_rows = [
        (r["m"], r["code_id"], [int(x) for x in r["c_sv"]])
        for r in cb.collect()
    ]
    codes = _ivfpq_codes(narrow, dim, m_sub, cent_rows, cb_rows, residual=True)
    codes.select("vec_id", "m", "code_id", "cell_id").write.mode(
        "append"
    ).partitionBy("cell_id").parquet(f"{index_path}/codes")


def topk_l2_ivfpq_index(
    spark,
    index_path: str,
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = N_PROBE,
    m_sub: int = PQ_M_SUB,
) -> DataFrame:
    """Search a :func:`build_ivfpq_index` artifact — identical results
    to ``topk_l2_ivfpq(..., residual=True)`` for the same corpus and
    knobs (the index stores exactly the relations that function
    derives, and the search runs the same probe / distance-table
    builder and ADC scan). Centroids and codebooks broadcast; the query
    vectors come from one point-lookup-shaped read of the embeddings
    relation; the codes scan is restricted to probed cells by dynamic
    partition pruning — at 100 TB a search reads n_probe/n_cells of a
    few-ints-per-vector relation and nothing else."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    cb = spark.read.parquet(f"{index_path}/codebooks")
    # partition-column type inference narrows small cell ids to int;
    # restore the long the in-memory relations carry
    codes = spark.read.parquet(f"{index_path}/codes").withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    q_narrow = (
        with_int_vec(emb)
        .filter(F.col("vec_id").isin(query_ids) & (F.size("ivec") > 0))
        .select(F.col("vec_id").alias("q_id"), "ivec")
    )
    dim, q_guarded = _probe_dim_strict(q_narrow, m_sub, id_col="q_id")
    _check_against_stored_index(cb, m_sub, dim, "query panel")
    q = q_guarded.select("q_id", F.col("ivec").alias("q_ivec"))
    probes, q_dt = _probe_qdt(q, cents, cb, dim, m_sub, n_probe, residual=True)
    return _adc_topk(codes, probes, q_dt, k)


# ADC shortlist size for the re-rank stage (candidates per query that
# get their raw vectors re-read and exactly re-scored).
PQ_RERANK_C = 50


def topk_l2_ivfpq_rerank(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    c: int = PQ_RERANK_C,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    m_sub: int = PQ_M_SUB,
    k_codes: int = PQ_K_CODES,
    lloyd_iters: int = PQ_LLOYD_ITERS,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ + EXACT RE-RANK — the complete production ladder: the ADC
    scan over probed cells' codes produces a per-query shortlist of
    ``c`` candidates, whose RAW vectors (and only whose) are then
    re-read and exactly re-scored by squared L2 for the final top-k.
    This is how FAISS-style deployments recover exact-metric quality
    from a compressed index: the corpus-sized scan stays codes-only,
    and the expensive raw-vector reads are bounded at |queries| × c
    rows regardless of corpus size.

    100 TB shape: stage 1 is :func:`topk_l2_ivfpq`'s scored relation
    (broadcast index relations, codes-only scan); stage 2 broadcasts
    the tiny shortlist onto one more base scan (at scale: point reads
    of c rows from the vector store) and re-ranks within a
    |queries| × c relation. Deterministic end to end.

    ``residual=True`` takes the shortlist from the RESIDUAL-encoded ADC
    scan instead — the complete FAISS IndexIVFPQ default (coarse cells
    + residual codes + exact re-rank); the re-rank stage itself is
    encoding-agnostic."""
    from distributed_query_engine_spark.operators.dedup import (
        _spread_narrow_scan,
    )

    scored = topk_l2_ivfpq(
        emb, query_ids, None, n_cells, n_probe, m_sub, k_codes, lloyd_iters,
        residual=residual,
    )
    ws = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    shortlist = (
        scored.withColumn("crn", F.row_number().over(ws))
        .filter(F.col("crn") <= c)
        .select("q_id", "vec_id")
    )
    base = _spread_narrow_scan(
        with_int_vec(emb).filter(F.size("ivec") > 0).select("vec_id", "ivec"),
        key="vec_id",
    )
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("ivec").alias("q_ivec")
    )
    reranked = (
        base.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            _pq_dist(F.col("q_ivec"), F.col("ivec")).alias("l2_dist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("l2_dist", "vec_id")
    return (
        reranked.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "l2_dist", "rn")
    )


RP_DIMS = 16  # random-projection output dimensionality


def random_projection(emb: DataFrame, k: int = RP_DIMS) -> DataFrame:
    """JOHNSON–LINDENSTRAUSS RANDOM PROJECTION to ``k`` dims with the
    deterministic ±1 plane hash (Achlioptas-style sign matrix — the
    same :func:`plane_sign` family the LSH bucketer uses, so the
    "random" matrix is reproducible in any engine): y_j = Σ_d x_d ·
    sign(j, d) over the FIXED-POINT integer vectors, so every projected
    coordinate is an exact long. Entirely ROW-LOCAL (k integer folds
    per vector inside codegen — zero shuffles, the embedding analog of
    dedup.signatures_from_arrays); output is the tidy (vec_id, j, y)
    relation. At 100 TB this is the standard cheap pre-step that cuts
    downstream ANN/clustering cost 4× (64→16 dims) while JL preserves
    pairwise geometry within the usual bounds."""
    return project_vectors(emb, k).select(
        "vec_id", F.posexplode("yvec").alias("j", "y")
    )


def _plane_dot_term(j: int):
    # one-arg-per-param closures: PySpark derives lambda arity from the
    # Python signature (see dedup.signatures_from_arrays)
    return lambda x, d: x * plane_sign(F.lit(j), d).cast("long")


def project_vectors(emb: DataFrame, k: int = RP_DIMS) -> DataFrame:
    """(vec_id, yvec array<long>, ynsq): the packed projected vectors +
    exact squared norm — the form downstream similarity search
    consumes (random_projection's tidy output is its posexplode)."""
    dims = F.sequence(F.lit(0), F.size("ivec") - 1)
    ys = F.array(
        *[
            F.aggregate(
                F.zip_with(F.col("ivec"), dims, _plane_dot_term(j)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for j in range(k)
        ]
    )
    out = with_int_vec(emb).select("vec_id", ys.alias("yvec"))
    return out.withColumn("ynsq", norm_sq_long(F.col("yvec")))


# ---------------------------------------------------------------------------
# kNN-graph refinement (VERDICT r12 item 6): the graph-based rung of the
# ANN ladder, re-expressed as BUCKETED JOINS (no HNSW pointer chasing —
# a distributed engine can't chase pointers; it can join bounded
# relations).
# ---------------------------------------------------------------------------

KNN_G = 8  # stored out-degree (g=8 measured best recall-per-candidate at sf0.01: 0.968 vs 0.944 IVF-only on the 25-query panel; see llm_similarity_graph_recall + BASELINE.md r13)
GRAPH_SEEDS = 10  # IVF candidates seeding the neighbor expansion


def knn_graph(
    emb: DataFrame,
    g: int = KNN_G,
    n_cells: int | None = N_CELLS,
    n_planes: int = N_PLANES,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Bounded-degree kNN graph over the corpus: per vector, its top-``g``
    exact-cosine neighbors among vectors sharing its IVF cell OR its
    LSH bucket — (src_id, dst_id, g_cosine), ``g`` rows per src.

    WHY two groupings: a graph built from one space partition can only
    connect vectors the partition already co-locates, so expanding IVF
    candidates through it would never escape the probed cells. The LSH
    bucketing CROSSCUTS the cell structure (sign pattern vs nearest
    centroid), so its edges bridge cells — that bridge is where the
    refinement's recall gain comes from (measured:
    llm_similarity_graph_recall).

    Scale shape: two salted bounded self-joins (the semdedup/
    candidate_pairs discipline — side A salt-tagged, side B replicated
    over SALT_GROUPS so one popular cell/bucket spreads across tasks),
    then ONE per-src top-g window (WindowGroupLimit: partial limit
    before the shuffle). Group populations are bounded the same way
    semdedup's are — cells/buckets grow with the corpus. In production
    the graph is a build-once artifact maintained beside the IVF index;
    here it is derived in-plan so the oracle can replay it."""
    if assigned is None:
        assigned = ivf_assign(
            emb, n_cells=n_cells, strategy=strategy, lloyd_iters=lloyd_iters
        )
    grouped = _two_groupings(assigned, n_planes)
    return _knn_edges(grouped, grouped, g)


def _two_groupings(assigned: DataFrame, n_planes: int) -> DataFrame:
    """(vec_id, grp, ivec, nsq) under BOTH groupings — IVF cell AND LSH
    bucket — derived from an assignment relation (vec_id, cell_id,
    ivec, nsq); lsh_bucket operates on the ivec column directly, so no
    embedding re-read is needed. Bucket group ids are NEGATIVE
    (-(bucket+1)) so the two can never collide: cell ids are centroid
    vec_ids (non-negative, unbounded — a fixed additive offset silently
    merged groups once ids reached it; r13 review), negatives are
    reserved for buckets."""
    cell_grouped = assigned.select(
        "vec_id", F.col("cell_id").cast("long").alias("grp"), "ivec", "nsq"
    )
    bucketed = lsh_bucket(assigned, n_planes).select(
        "vec_id",
        (-(F.col("bucket") + F.lit(1))).alias("grp"),
        "ivec",
        "nsq",
    )
    return cell_grouped.unionByName(bucketed)


def _knn_edges(srcs: DataFrame, dsts: DataFrame, g: int) -> DataFrame:
    """Top-``g`` exact-cosine edges from every vector in ``srcs`` to its
    group-mates in ``dsts`` (both (vec_id, grp, ivec, nsq) relations).
    srcs == dsts gives the symmetric build; the incremental ingest
    passes srcs = the new batch, dsts = the full corpus — new nodes get
    full-quality edges while existing nodes' lists stay untouched (the
    standard staleness tradeoff of incremental graph ingest, documented
    at the query). Salted like semdedup's self-join so a popular
    cell/bucket spreads over SALT_GROUPS tasks.

    Execution (r15): the within-group pair scoring runs as a COGROUPED
    Arrow kernel — ``applyInPandas`` over (grp, salt) with the src
    slice on the left and the group's full dst population on the
    right, scored by one blocked float64 matmul per slice. The prior
    declarative join materialized every pair in the JVM and paid an
    interpreted higher-order-function dot per pair (~27 µs — measured
    sf1: 42M pairs ≈ 40 s with the exchanges; the Arrow path runs the
    same corpus in ~6 s and scales by FLOPs, not rows). EXACTNESS IS
    PRESERVED, not approximated: every product and partial sum is an
    integer below 2^53 (|x|≤2^21.6 per component, 64 dims), where
    float64 arithmetic is exact regardless of accumulation order — so
    the BLAS dot equals the integer dot bit-for-bit, and cosine
    (exact-int dot / sqrt·sqrt product, both correctly rounded IEEE
    ops) matches the JVM expression bit-for-bit. Per-src ordering ties
    are broken by dst_id via a STABLE argsort over a dst-ascending
    population — the same (cosine DESC, dst_id ASC) order the window
    form used. Per-group top-g lists then merge across the two
    groupings with a dense_rank over ≤2g rows per src (a pair sharing
    cell AND bucket arrives twice with an identical cosine; dense_rank
    counts distinct dsts, and the twin rows are dropped after the
    g-filter on the tiny survivor relation, never on the pair scale)."""
    import numpy as np
    import pandas as pd

    from distributed_query_engine_spark.operators.dedup import SALT_GROUPS

    a = srcs.select(
        F.col("vec_id").alias("src_id"), "grp",
        F.col("ivec").alias("ivec_a"), F.col("nsq").alias("nsq_a"),
        F.pmod(F.xxhash64("vec_id"), F.lit(SALT_GROUPS)).alias("salt"),
    )
    b = dsts.select(
        F.col("vec_id").alias("dst_id"), "grp",
        F.col("ivec").alias("ivec_b"), F.col("nsq").alias("nsq_b"),
        # cast to match side a's LONG salt: cogroup aligns key TUPLES
        # by type-sensitive comparison, and an int-vs-long mismatch
        # silently pairs every group with an empty other side
        F.explode(
            F.array(*[F.lit(s).cast("long") for s in range(SALT_GROUPS)])
        ).alias("salt"),
    )

    def _top_g(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(
                {"src_id": pd.Series(dtype="int64"),
                 "dst_id": pd.Series(dtype="int64"),
                 "g_cosine": pd.Series(dtype="float64")}
            )
        # dst-ascending population => a STABLE argsort on -cosine
        # breaks exact-cosine ties by dst_id, exactly the window order
        order = np.argsort(right["dst_id"].to_numpy(), kind="stable")
        dst_ids = right["dst_id"].to_numpy()[order]
        B = np.stack(right["ivec_b"].to_numpy()[order]).astype(np.float64)
        nb = np.sqrt(right["nsq_b"].to_numpy()[order].astype(np.float64))
        src_ids = left["src_id"].to_numpy()
        A = np.stack(left["ivec_a"].to_numpy()).astype(np.float64)
        na = np.sqrt(left["nsq_a"].to_numpy().astype(np.float64))
        # block the matmul so the (block x population) score matrix
        # stays ~32 MiB no matter how hot the group is
        block = max(64, min(4096, (4 << 20) // max(1, len(dst_ids))))
        out_s, out_d, out_c = [], [], []
        for i0 in range(0, len(A), block):
            Ab, sb = A[i0:i0 + block], src_ids[i0:i0 + block]
            cos = (Ab @ B.T) / (na[i0:i0 + block, None] * nb[None, :])
            cos[sb[:, None] == dst_ids[None, :]] = -np.inf  # self-pairs
            top = np.argsort(-cos, axis=1, kind="stable")[:, :g]
            take = np.take_along_axis(cos, top, axis=1)
            keep = np.isfinite(take)
            rows = np.repeat(np.arange(len(Ab)), top.shape[1]).reshape(top.shape)
            out_s.append(sb[rows[keep]])
            out_d.append(dst_ids[top[keep]])
            out_c.append(take[keep])
        return pd.DataFrame(
            {"src_id": np.concatenate(out_s),
             "dst_id": np.concatenate(out_d),
             "g_cosine": np.concatenate(out_c)}
        )

    per_group = (
        a.groupBy("grp", "salt")
        .cogroup(b.groupBy("grp", "salt"))
        .applyInPandas(_top_g, "src_id long, dst_id long, g_cosine double")
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("g_cosine").desc(), F.col("dst_id")
    )
    return (
        per_group.withColumn("grn", F.dense_rank().over(w))
        .filter(F.col("grn") <= g)
        .select("src_id", "dst_id", "g_cosine")
        .distinct()
    )


def _graph_search(
    cents: DataFrame,
    assigned: DataFrame,
    edges: DataFrame,
    query_ids: list[int],
    k: int | None,
    n_probe: int,
    seeds: int,
) -> DataFrame:
    """The graph-refined search given its three relations (shared by the
    in-plan and index-reading paths exactly as _ivf_search serves the
    IVF pair — 'identical results' is structural, not asserted): IVF
    probe over broadcast centroids -> top-``seeds`` candidates -> one
    hop over the bounded edge relation -> exact rerank to top-``k``
    (``k=None`` returns the raw rerank candidate relation for
    cost/recall instrumentation)."""
    cand = _ivf_search(cents, assigned, query_ids, None, n_probe)
    sw = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    seed_rel = (
        cand.withColumn("srn", F.row_number().over(sw))
        .filter(F.col("srn") <= seeds)
        .select("q_id", "vec_id")
    )
    expanded = seed_rel.join(
        edges.select("src_id", "dst_id"), seed_rel["vec_id"] == F.col("src_id")
    ).select("q_id", F.col("dst_id").alias("vec_id"))
    allc = seed_rel.unionByName(expanded).distinct()
    base = assigned.select("vec_id", "ivec", "nsq")
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
    )
    scored = (
        allc.join(base, "vec_id")
        .join(F.broadcast(q), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_from_ints(
                dot_long(F.col("q_ivec"), F.col("ivec")),
                F.col("q_nsq"),
                F.col("nsq"),
            ).alias("cosine"),
        )
    )
    if k is None:
        # recall/cost instrumentation path: the raw candidate relation
        return scored
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine", "rn")
    )


def topk_cosine_ivf_graph(
    emb: DataFrame,
    query_ids: list[int],
    k: int | None = 5,
    n_probe: int = N_PROBE,
    seeds: int = GRAPH_SEEDS,
    g: int = KNN_G,
    n_cells: int | None = N_CELLS,
    n_planes: int = N_PLANES,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF + one-hop kNN-graph refinement: probe ``n_probe`` cells, take
    the top-``seeds`` IVF candidates per query, EXPAND each seed to its
    ``g`` graph neighbors (one join against the bounded-degree graph —
    neighbors may live in unprobed cells), then exact-rerank the union
    to top-``k``. Deterministic end to end, so the oracle replays it.

    The centroid/assignment relations are derived ONCE and shared by the
    probe stage and the graph build (knn_graph takes them precomputed —
    r13 review: the first cut paid the corpus x n_cells argmax twice).

    Scale shape: the expansion joins a (queries x seeds)-sized relation
    against a (corpus x g)-sized one on vec_id — a plain equi-join both
    sides of which are bounded; the rerank joins the candidate ids back
    to the corpus relation for their vectors (index lookup shape) with
    the query panel broadcast. No stage touches more than
    |seeds|*(1+g) candidates per query after the probe stage."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    if n_cells is None:
        n_cells = suggest_n_cells(base.count())
    cents = ivf_centroids(base, n_cells, strategy=strategy, lloyd_iters=lloyd_iters)
    assigned = _assign_to(base, cents)
    graph = knn_graph(
        emb, g=g, n_cells=n_cells, n_planes=n_planes,
        strategy=strategy, lloyd_iters=lloyd_iters, assigned=assigned,
    )
    return _graph_search(cents, assigned, graph, query_ids, k, n_probe, seeds)


def ivf_graph_scored(
    emb: DataFrame,
    query_ids: list[int],
    n_probe: int = N_PROBE,
    seeds: int = GRAPH_SEEDS,
    g: int = KNN_G,
    n_cells: int | None = N_CELLS,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """The graph-refined candidate relation (q_id, vec_id, cosine) —
    cost/recall instrumentation twin of :func:`topk_cosine_ivf_graph`
    (same construction, no final top-k), mirroring ivf_scored /
    lsh_scored so the recall ladder can count candidates."""
    return topk_cosine_ivf_graph(
        emb, query_ids, k=None, n_probe=n_probe, seeds=seeds, g=g,
        n_cells=n_cells, n_planes=n_planes,
    )


def build_graph_index(
    emb: DataFrame,
    index_path: str,
    g: int = KNN_G,
    n_cells: int | None = N_CELLS,
    n_planes: int = N_PLANES,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> None:
    """Materialize the graph-refinement index — the production artifact
    for :func:`topk_cosine_ivf_graph`'s search: ``centroids/`` +
    ``assignments/`` (cell-partitioned, byte-identical layout to
    :func:`build_ivf_index`) plus ``edges/`` (the bounded-degree
    (src_id, dst_id) kNN graph, corpus x g rows). The graph build is
    the expensive stage (two salted within-group self-joins) — exactly
    what build-once/search-many amortizes; searches then pay index
    reads only."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    if n_cells is None:
        n_cells = suggest_n_cells(base.count())
    cents = ivf_centroids(base, n_cells, strategy=strategy, lloyd_iters=lloyd_iters)
    # Materialize the assignment ONCE: it is consumed twice below (the
    # partitioned write and the edge build), and without the checkpoint
    # the edge job re-runs the corpus × n_cells argmax from scratch
    # (measured sf1: ~26 s of silent recompute).
    assigned = _assign_to(base, cents).localCheckpoint()
    cents.write.mode("overwrite").parquet(f"{index_path}/centroids")
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{index_path}/assignments"
    )
    knn_graph(
        emb, g=g, n_cells=n_cells, n_planes=n_planes,
        strategy=strategy, lloyd_iters=lloyd_iters, assigned=assigned,
    ).select("src_id", "dst_id").write.mode("overwrite").parquet(
        f"{index_path}/edges"
    )
    # Rebuilding into a previously-compacted index_path must repoint the
    # generation marker, or readers (edges_dir) and append_to_graph_index
    # keep resolving a stale edges_v<N> from the OLD corpus while the
    # fresh edges/ is silently ignored (ADVICE r14). Publish 'edges' with
    # the same tmp+os.replace discipline as compact_graph_index, then GC
    # the old-corpus generations — centroids/assignments were already
    # overwritten above, so no reader grace applies to a full rebuild.
    marker = os.path.join(index_path, "EDGES_CURRENT")
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write("edges")
    os.replace(tmp, marker)
    import shutil as _sh

    for d in os.listdir(index_path):
        if d.startswith("edges_v"):
            _sh.rmtree(os.path.join(index_path, d), ignore_errors=True)


def topk_cosine_graph_index(
    spark,
    index_path: str,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = N_PROBE,
    seeds: int = GRAPH_SEEDS,
) -> DataFrame:
    """Graph-refined ANN search against a :func:`build_graph_index`
    artifact — structurally identical results to
    :func:`topk_cosine_ivf_graph` for the same corpus and knobs: both
    delegate to :func:`_graph_search`, this one feeding it the three
    PERSISTED relations. Query vectors resolve from the assignment
    relation (index lookups); the probe stage partition-prunes the
    cell-partitioned assignments; nothing touches the embeddings
    table."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    assigned = spark.read.parquet(f"{index_path}/assignments").withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    edges = spark.read.parquet(edges_dir(index_path))
    return _graph_search(cents, assigned, edges, query_ids, k, n_probe, seeds)


SQ_LEVELS = 255  # 8-bit scalar quantization: codes in [0, 255]


def sq8_quantized(emb: DataFrame) -> DataFrame:
    """SCALAR QUANTIZATION (SQ8) — the simplest rung of the vector-
    compression ladder (beside PQ's trained codebooks, matryoshka's
    prefixes, and the random projection): each DIMENSION is affinely
    mapped to an 8-bit code against the corpus' per-dimension min/max,
    q_d = floor((x_d − mn_d)·255 / (mx_d − mn_d)) — 4× smaller than
    float32 storage with no training step.

    Composition of :func:`sq8_dim_stats` (learn the quantizer) and
    :func:`sq8_encode` (encode against it; the clamp is the identity on
    the defining corpus). Exact-arithmetic discipline: everything stays
    in int64 so the oracle replays bit-identically — u = 255·dequant;
    overflow bound |ivec| < 2^20 ⇒ 64-dim dot < 2^62 (corpus |x| ≤ 0.58
    measured). 100 TB shape: the per-dim min/max is ONE map-combined
    aggregate producing a 1-row broadcast; encode is a row-local zip —
    no corpus shuffle at all."""
    return sq8_encode(emb, sq8_dim_stats(emb))


def topk_cosine_sq8(emb: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Brute-force top-k by SQ8-quantized cosine: the storage-compressed
    twin of topk_cosine (same broadcast-panel scan shape, 4x smaller
    vectors at rest). Approximate in VALUES (quantization error), exact
    in ARITHMETIC — fully oracle-replayable."""
    qz = sq8_quantized(emb)
    q = qz.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("uvec").alias("q_uvec"),
        F.col("unsq").alias("q_unsq"),
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
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine", "rn")
    )


SQ_RERANK_C = 25  # SQ8 shortlist size handed to the exact rerank


def topk_cosine_ivf_sq8(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = N_PROBE,
    c: int = SQ_RERANK_C,
    n_cells: int | None = N_CELLS,
    strategy: str = "lowest_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF + SQ8 + EXACT RERANK — the training-light production config
    (FAISS's "IVF,SQ8"): coarse cells prune the scan to n_probe/n_cells
    of the corpus, the probed candidates are ranked by the 4x-compressed
    SQ8 representation (what a deployment keeps in memory), and only the
    per-query shortlist of ``c`` ids re-reads full-precision vectors for
    the exact final top-k. Compositional twin of topk_l2_ivfpq_rerank
    with the trained PQ codebooks swapped for the training-free scalar
    grid — same three-stage plan shape: broadcast probe, pruned
    compressed scan, id-join rerank."""
    base = with_int_vec(emb).select("vec_id", "ivec", "nsq")
    if n_cells is None:
        n_cells = suggest_n_cells(base.count())
    cents = ivf_centroids(base, n_cells, strategy=strategy, lloyd_iters=lloyd_iters)
    assigned = _assign_to(base, cents)
    qz = sq8_quantized(emb).join(
        assigned.select("vec_id", "cell_id"), "vec_id"
    )
    q_full = assigned.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
    )
    pw = Window.partitionBy("q_id").orderBy(F.col("p_cos").desc(), F.col("cell_id"))
    probes = (
        q_full.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "cell_id",
            cosine_from_ints(
                dot_long(F.col("q_ivec"), F.col("c_ivec")),
                F.col("q_nsq"),
                F.col("c_nsq"),
            ).alias("p_cos"),
        )
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= n_probe)
        .select("q_id", "cell_id")
    )
    qq = qz.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("uvec").alias("q_uvec"),
        F.col("unsq").alias("q_unsq"),
    )
    sq_scored = (
        qz.join(F.broadcast(probes), "cell_id")
        .join(F.broadcast(qq), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_from_ints(
                dot_long(F.col("q_uvec"), F.col("uvec")),
                F.col("q_unsq"),
                F.col("unsq"),
            ).alias("sq_cos"),
        )
    )
    cw = Window.partitionBy("q_id").orderBy(F.col("sq_cos").desc(), F.col("vec_id"))
    shortlist = (
        sq_scored.withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= c)
        .select("q_id", "vec_id")
    )
    rer = (
        shortlist.join(base, "vec_id")
        .join(F.broadcast(q_full), "q_id")
        .select(
            "q_id",
            "vec_id",
            cosine_from_ints(
                dot_long(F.col("q_ivec"), F.col("ivec")),
                F.col("q_nsq"),
                F.col("nsq"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        rer.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine", "rn")
    )


def edges_dir(index_path: str) -> str:
    """Resolve the CURRENT edge-relation directory of a graph index.

    Compaction publishes generationally (``edges_v<N>`` + an
    ``EDGES_CURRENT`` pointer file flipped with an atomic rename — the
    BM25 ``_PUBLISHED`` discipline applied to edges), so a concurrent
    reader always resolves either the old or the new generation, never
    a missing or half-written directory. A fresh build (no pointer yet)
    resolves to the original ``edges/``."""
    marker = os.path.join(index_path, "EDGES_CURRENT")
    try:
        with open(marker) as f:
            name = f.read().strip()
        if name:
            return os.path.join(index_path, name)
    except OSError:
        pass
    return os.path.join(index_path, "edges")


def append_to_graph_index(
    spark,
    emb_new: DataFrame,
    index_path: str,
    g: int = KNN_G,
    n_planes: int = N_PLANES,
) -> None:
    """Ingest a NEW vector batch into an EXISTING graph index WITHOUT a
    rebuild — the graph leg of the incremental-ingest triangle (IVF,
    BM25, now the kNN graph): (1) assign the batch to the STORED
    centroids (broadcast — the quantizer is never retrained on ingest)
    and append its part-files into the cell-partitioned assignments;
    (2) compute edges for the BATCH SOURCES ONLY, against the full
    (existing ∪ batch) corpus under both groupings, and append them.

    Asymmetry is the documented tradeoff of incremental graph ingest:
    new nodes get full-quality out-edges immediately (they are
    reachable as EXPANSION TARGETS through any seed that lands on
    them — seeds come from the IVF probe, which sees appended
    assignments at once), while EXISTING nodes' edge lists do not gain
    pointers to the new batch until the next periodic rebuild/compact.
    Cost: one broadcast-centroid scan of the batch + one
    batch-vs-corpus bounded group join — never a corpus x corpus
    rebuild."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    batch = with_int_vec(emb_new).select("vec_id", "ivec", "nsq")
    # consumed twice (append-write + the batch side of the edge join)
    b_assigned = _assign_to(batch, cents).localCheckpoint()
    b_assigned.write.mode("append").partitionBy("cell_id").parquet(
        f"{index_path}/assignments"
    )
    full = spark.read.parquet(f"{index_path}/assignments").withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    full_grouped = _two_groupings(full, n_planes)
    batch_grouped = _two_groupings(b_assigned, n_planes)
    _knn_edges(batch_grouped, full_grouped, g).select(
        "src_id", "dst_id"
    ).write.mode("append").parquet(edges_dir(index_path))


def compact_graph_index(
    spark,
    index_path: str,
    g: int = KNN_G,
    n_planes: int = N_PLANES,
) -> None:
    """COMPACT a graph index after incremental ingests: recompute the
    full symmetric edge relation over the CURRENT assignments (one
    bounded group self-join — the same cost as the initial build's edge
    stage) and overwrite ``edges/``. This is the periodic rebuild the
    ingest path's documented staleness points at: after compaction,
    existing nodes regain pointers into every ingested batch, and
    search is bit-identical to a from-scratch build on the union corpus
    (given the same stored quantizer) — the LSM economics of the BM25
    and IVF compactors, applied to edges. Centroids and assignments are
    untouched (the quantizer is a versioned artifact; retraining is the
    separate, rarer event).

    Publication is GENERATIONAL (r14, ADVICE r13): the new relation is
    written to ``edges_v<N+1>``, then the ``EDGES_CURRENT`` pointer file
    is flipped with one atomic ``os.replace`` — a concurrent
    :func:`topk_cosine_graph_index` reader resolves either the old or
    the new generation, never a missing directory (the prior
    rmtree+move left a window where ``edges/`` did not exist at all).
    The immediately-previous generation is kept as reader grace; older
    generations are garbage-collected."""
    full = spark.read.parquet(f"{index_path}/assignments").withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    grouped = _two_groupings(full, n_planes)
    cur = edges_dir(index_path)
    cur_name = os.path.basename(cur)
    gen = int(cur_name.rsplit("_v", 1)[1]) if "_v" in cur_name else 0
    new_name = f"edges_v{gen + 1}"
    _knn_edges(grouped, grouped, g).select("src_id", "dst_id").write.mode(
        "overwrite"
    ).parquet(os.path.join(index_path, new_name))
    marker = os.path.join(index_path, "EDGES_CURRENT")
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write(new_name)
    os.replace(tmp, marker)  # the atomic publish point
    import shutil as _sh

    for d in os.listdir(index_path):
        if (d == "edges" or d.startswith("edges_v")) and d not in (
            new_name,
            cur_name,
        ):
            _sh.rmtree(os.path.join(index_path, d), ignore_errors=True)


def sq8_dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension (mn, mx) of the integer-scaled corpus as a 1-row
    relation with array columns — the SQ8 quantizer's learned
    parameters (broadcastable; one map-combined aggregate)."""
    base = with_int_vec(emb).select("vec_id", "ivec")
    ex = base.select(F.posexplode("ivec").alias("pos", "x"))
    return (
        ex.groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mn", "mx"))
            ).alias("dims")
        )
        .select(
            F.transform("dims", lambda s: s["mn"]).alias("mn_arr"),
            F.transform("dims", lambda s: s["mx"]).alias("mx_arr"),
        )
    )


def sq8_encode(emb: DataFrame, stats: DataFrame) -> DataFrame:
    """Encode vectors against GIVEN quantizer stats, CLAMPING each value
    to the stored per-dimension range first: the quantizer is a
    versioned artifact — an ingested batch may exceed the ranges the
    corpus defined at build time, and clamping (not re-deriving) is
    what keeps every previously stored code valid. For the defining
    corpus the clamp is the identity. Returns (vec_id, codes, uvec,
    unsq) — u = mn*255 + q*span = 255*dequant, exact int64."""
    base = with_int_vec(emb).select("vec_id", "ivec")
    z = base.crossJoin(F.broadcast(stats))
    spans = F.zip_with("mx_arr", "mn_arr", lambda a, b: a - b)
    clamped = F.zip_with(
        "ivec",
        F.arrays_zip("mn_arr", "mx_arr"),
        lambda x, s: F.least(F.greatest(x, s["mn_arr"]), s["mx_arr"]),
    )
    withc = z.select(
        "vec_id",
        "mn_arr",
        spans.alias("span_arr"),
        F.zip_with(
            clamped,
            F.arrays_zip(
                "mn_arr",
                F.zip_with("mx_arr", "mn_arr", lambda a, b: a - b).alias("span"),
            ),
            lambda x, s: F.when(
                s["span"] > 0,
                F.floor(((x - s["mn_arr"]) * SQ_LEVELS) / s["span"]).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ).alias("codes"),
    )
    u = F.zip_with(
        "codes",
        F.arrays_zip("mn_arr", "span_arr"),
        lambda q, s: s["mn_arr"] * SQ_LEVELS + q * s["span_arr"],
    )
    out = withc.select("vec_id", "codes", u.alias("uvec"))
    return out.withColumn("unsq", dot_long(F.col("uvec"), F.col("uvec")))


def build_sq8_index(emb: DataFrame, index_path: str) -> None:
    """Materialize the SQ8 index: ``dims/`` (the 1-row quantizer
    parameters) + ``codes/`` (vec_id, codes — the 4x-compressed
    at-rest representation; u is reconstructed row-locally at read).
    Build-once like every other index artifact."""
    stats = sq8_dim_stats(emb)
    stats.write.mode("overwrite").parquet(f"{index_path}/dims")
    sq8_encode(emb, stats).select("vec_id", "codes").write.mode(
        "overwrite"
    ).parquet(f"{index_path}/codes")


def append_to_sq8_index(spark, emb_new: DataFrame, index_path: str) -> None:
    """Ingest a batch WITHOUT re-deriving the quantizer: encode against
    the STORED dims (clamped — out-of-range batch values saturate at
    the learned grid edge, the standard SQ ingest behavior) and append
    the codes. Existing codes are never rewritten; re-deriving min/max
    instead would invalidate every stored code — the same
    versioned-artifact rule as IVF centroids and PQ codebooks."""
    stats = spark.read.parquet(f"{index_path}/dims")
    sq8_encode(emb_new, stats).select("vec_id", "codes").write.mode(
        "append"
    ).parquet(f"{index_path}/codes")


def topk_cosine_sq8_index(
    spark, index_path: str, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Brute-force SQ8 top-k served entirely FROM the index: codes +
    the 1-row dims relation reconstruct u row-locally (one broadcast,
    no shuffle); query vectors are index lookups. Same plan shape as
    topk_cosine_sq8 reading 4x fewer bytes at rest."""
    stats = spark.read.parquet(f"{index_path}/dims")
    codes = spark.read.parquet(f"{index_path}/codes")
    z = codes.crossJoin(F.broadcast(stats))
    u = F.zip_with(
        "codes",
        F.arrays_zip(
            "mn_arr",
            F.zip_with("mx_arr", "mn_arr", lambda a, b: a - b).alias("span"),
        ),
        lambda q, s: s["mn_arr"] * SQ_LEVELS + q * s["span"],
    )
    qz = z.select("vec_id", u.alias("uvec")).withColumn(
        "unsq", dot_long(F.col("uvec"), F.col("uvec"))
    )
    q = qz.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("uvec").alias("q_uvec"),
        F.col("unsq").alias("q_unsq"),
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
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine", "rn")
    )
