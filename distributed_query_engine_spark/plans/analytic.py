"""Analytic surface beyond the §2.3 core: subqueries (Catalyst
decorrelation), pivot/unpivot, exact statistics, QUALIFY-style dedup,
bucketed co-located joins, and multi-join TPC-H-shaped reports.

Reference parity notes: the reference's host engine compiles an OQL-like
select-from-where surface through staged IRs (SURVEY.md §3); subqueries
and grouped reports are the [P]-level query surface, and everything else
here is the Spark-grade extension the north star demands. Floating-point
aggregates follow the deterministic-decimal discipline of
``functions/deterministic.py``; statistics are computed from exact integer
power sums so Spark and the DuckDB oracle produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_query_engine_spark import staging
from distributed_query_engine_spark.catalog import Tables, local_rows
from distributed_query_engine_spark.functions.deterministic import dsum, sql_dsum
from distributed_query_engine_spark.registry import query

# ---------------------------------------------------------------------------
# Subqueries. Catalyst rewrites all four into joins (RewriteCorrelated-
# ScalarSubquery / RewritePredicateSubquery) — at 100 TB the correlated
# form becomes one aggregate + one join, never a per-row re-scan.
# ---------------------------------------------------------------------------

_DAVG_TOTALPRICE = (
    "CAST(CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(*)"
)
# Spark's parser rejects bare VARCHAR (DuckDB-only spelling); its
# unparameterized string type is STRING — same string-routed conversion.
_DAVG_TOTALPRICE_SPARK = _DAVG_TOTALPRICE.replace("AS VARCHAR", "AS STRING")


@query(
    "subquery_scalar",
    oracle=lambda: f"""
    WITH a AS (SELECT CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS ap
               FROM part)
    SELECT p_partkey, p_name, p_retailprice
    FROM part, a
    WHERE p_retailprice > ap
    """,
)
def subquery_scalar(spark, sf_dir):
    """Uncorrelated scalar subquery: parts above the global average price.
    The single-row aggregate broadcasts; the filter stays in the scan
    stage."""
    p = Tables(spark, sf_dir).part
    avg_df = p.agg(
        (F.sum(F.col("p_retailprice").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))).alias("ap")
    )
    return (
        p.join(F.broadcast(avg_df))
        .filter(F.col("p_retailprice") > F.col("ap"))
        .select("p_partkey", "p_name", "p_retailprice")
    )


@query(
    "subquery_correlated",
    oracle=lambda: f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT {_DAVG_TOTALPRICE}
                          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def subquery_correlated(spark, sf_dir):
    """Correlated scalar subquery (orders above their customer's own
    average). Written as SQL on purpose: Catalyst decorrelates it into
    aggregate-then-join — `.explain()` shows no per-row subplan."""
    Tables(spark, sf_dir).orders.createOrReplaceTempView("sq_orders")
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM sq_orders o
        WHERE o_totalprice > (SELECT {_DAVG_TOTALPRICE_SPARK}
                              FROM sq_orders o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )


@query(
    "subquery_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def subquery_exists(spark, sf_dir):
    t = Tables(spark, sf_dir)
    t.customer.createOrReplaceTempView("sq_customer")
    t.orders.createOrReplaceTempView("sq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM sq_customer c
        WHERE EXISTS (SELECT 1 FROM sq_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        """
    )


@query(
    "subquery_in",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
    """,
)
def subquery_in(spark, sf_dir):
    t = Tables(spark, sf_dir)
    t.part.createOrReplaceTempView("sq_part")
    t.lineitem.createOrReplaceTempView("sq_lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name
        FROM sq_part
        WHERE p_partkey IN (SELECT l_partkey FROM sq_lineitem WHERE l_quantity >= 45)
        """
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot
# ---------------------------------------------------------------------------


@query(
    "pivot_sum",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_sum(spark, sf_dir):
    """Pivot with EXPLICIT value list — without it Spark first runs a
    distinct scan of the pivot column (an extra job at 100 TB)."""
    o = Tables(spark, sf_dir).orders
    piv = o.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"]).count()
    return piv.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("f_cnt"),
        F.coalesce("O", F.lit(0)).alias("o_cnt"),
        F.coalesce("P", F.lit(0)).alias("p_cnt"),
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
    """,
)
def unpivot_stack(spark, sf_dir):
    p = Tables(spark, sf_dir).part
    return p.select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "attr", "val")


# ---------------------------------------------------------------------------
# Exact statistics from integer power sums. Built-in stddev/corr are
# float-accumulation-order-dependent across engines; over integer-valued
# columns the power sums are exact BIGINTs and the one final double
# expression (written with identical operation order here and in the
# oracle) is bit-identical. x = l_quantity (integral ≤ 50), y = discount
# in whole percent (≤ 10).
# ---------------------------------------------------------------------------


@query(
    "agg_stats_family",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS sx,
             SUM(CAST(round(l_discount * 100) AS BIGINT)) AS sy,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
             SUM(CAST(round(l_discount * 100) AS BIGINT)
                   * CAST(round(l_discount * 100) AS BIGINT)) AS syy,
             SUM(CAST(l_quantity AS BIGINT)
                   * CAST(round(l_discount * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n - 1 AS DOUBLE) AS var_qty,
           sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n - 1 AS DOUBLE)) AS stddev_qty,
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n - 1 AS DOUBLE) AS covar_qd,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             AS corr_qd
    FROM s
    """,
)
def agg_stats_family(spark, sf_dir):
    l = Tables(spark, sf_dir).lineitem
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_discount") * 100).cast("bigint")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    var_q = (sxx_d - sx_d * sx_d / n_d) / (F.col("n") - 1).cast("double")
    covar = (F.col("sxy").cast("double") - sx_d * sy_d / n_d) / (F.col("n") - 1).cast("double")
    corr_num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    corr_den = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        "l_returnflag",
        var_q.alias("var_qty"),
        F.sqrt(var_q).alias("stddev_qty"),
        covar.alias("covar_qd"),
        (corr_num / corr_den).alias("corr_qd"),
    )


@query(
    "agg_median",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_median(spark, sf_dir):
    """Exact interpolated median. l_quantity is integer-valued, so the
    midpoint interpolation is exact in IEEE double and both engines agree
    bit-for-bit; arbitrary-double medians would not be cross-engine
    reproducible."""
    l = Tables(spark, sf_dir).lineitem
    return l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.75) AS p75,
           quantile_cont(l_extendedprice, 0.75)
             - quantile_cont(l_extendedprice, 0.25) AS iqr,
           TRUE AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark, sf_dir):
    """Exact quartiles + IQR per group, with the approx path asserted
    against them. Spark's ``percentile`` and DuckDB's ``quantile_cont``
    share the linear-interpolation definition, so the doubles match
    bit-for-bit (verified across sf0.001-0.1 on this column). The
    t-digest ``approx_percentile`` sketch ALSO executes — its estimate
    is engine-specific, so (as with agg_approx_count_distinct) the
    oracle-checkable contract is a boolean asserting the p50 estimate
    lands within 5% of the exact value (the same tolerance class as the
    agg_approx_count_distinct contract — the t-digest has no hard
    accuracy bound, so a tight 1% assertion could flip spuriously on a
    regenerated/rescaled dataset). At 100 TB the exact path is one
    sort-based agg per group; the sketch path is the constant-memory
    default, and this query keeps its accuracy measured instead of
    assumed."""
    l = Tables(spark, sf_dir).lineitem
    p25 = F.percentile("l_extendedprice", F.lit(0.25))
    p50 = F.percentile("l_extendedprice", F.lit(0.5))
    p75 = F.percentile("l_extendedprice", F.lit(0.75))
    agg = l.groupBy("l_returnflag").agg(
        p25.alias("p25"),
        p50.alias("p50"),
        p75.alias("p75"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_a50"),
    )
    return agg.select(
        "l_returnflag",
        "p25",
        "p50",
        "p75",
        (F.col("p75") - F.col("p25")).alias("iqr"),
        (
            F.abs(F.col("_a50") - F.col("p50")) <= 0.05 * F.abs(F.col("p50"))
        ).alias("approx_within_5pct"),
    )


@query(
    "agg_max_by",
    oracle="""
    SELECT c_nationkey,
           max_by(c_name, c_custkey) AS latest_customer,
           min_by(c_name, c_custkey) AS first_customer,
           count(*) AS n
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_max_by(spark, sf_dir):
    """max_by/min_by keyed on the UNIQUE c_custkey — keying on a column
    with duplicate extrema would be nondeterministic in any engine."""
    c = Tables(spark, sf_dir).customer
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", "c_custkey").alias("latest_customer"),
        F.min_by("c_name", "c_custkey").alias("first_customer"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Window value functions / QUALIFY-style dedup
# ---------------------------------------------------------------------------


@query(
    "window_first_last_nth",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER w AS last_ok,
           nth_value(o_orderkey, 2) OVER w AS second_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_nth(spark, sf_dir):
    o = Tables(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    )


@query(
    "qualify_latest_per_key",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def qualify_latest_per_key(spark, sf_dir):
    """Latest-row-per-key dedup (the QUALIFY idiom): the single most
    common pattern in CDC/dim-table maintenance. One shuffle on the key;
    at 100 TB prefer this over dropDuplicates (which gives an arbitrary
    row, not the latest)."""
    o = Tables(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Deterministic sampling. TABLESAMPLE is seed/engine-dependent; hash-mod
# on the key is reproducible everywhere and still pushes the filter into
# the scan.
# ---------------------------------------------------------------------------


@query(
    "sample_hash_mod",
    oracle=lambda: f"""
    SELECT l_returnflag, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem WHERE l_orderkey % 20 = 7
    GROUP BY l_returnflag
    """,
)
def sample_hash_mod(spark, sf_dir):
    l = Tables(spark, sf_dir).lineitem
    return (
        l.filter(F.col("l_orderkey") % 20 == 7)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
    )


# Per-stratum keep-rates in percent (md5-prefix bucket < rate). The md5
# idiom is the engine-portable one from operators/dedup.hashed_token_ids:
# both engines define md5 over the same UTF-8 bytes, so the sample is
# reproducible anywhere — unlike TABLESAMPLE, whose row choice is
# seed/engine/partition-dependent.
_STRATA_RATES = {"A": 25, "N": 10, "R": 50}


@query(
    "sample_stratified",
    oracle=lambda: f"""
    WITH keyed AS (
      SELECT l_returnflag, l_quantity,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS pct
      FROM lineitem
    )
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM keyed
    WHERE (l_returnflag = 'A' AND pct < {_STRATA_RATES['A']})
       OR (l_returnflag = 'N' AND pct < {_STRATA_RATES['N']})
       OR (l_returnflag = 'R' AND pct < {_STRATA_RATES['R']})
    GROUP BY l_returnflag
    """,
)
def sample_stratified(spark, sf_dir):
    """Stratified sampling with per-stratum rates (A 25% / N 10% /
    R 50%): deterministic md5-bucket per row, one filter, one partial
    aggregate. The filter is a row-local expression, so at 100 TB the
    op reads the scan once and shuffles only the tiny per-stratum
    partials — the standard down-sampling shape for training-mix
    construction."""
    l = Tables(spark, sf_dir).lineitem
    pct = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = F.create_map(
        *[x for k, v in _STRATA_RATES.items() for x in (F.lit(k), F.lit(v))]
    )
    return (
        l.filter(pct < rate[F.col("l_returnflag")])
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
    )


# Fixed-bound histogram geometry (integer cents so the bucket id is
# exact integer arithmetic in both engines).
_HIST_LO_CENTS = 90_000  # 900.00
_HIST_WIDTH_CENTS = 1_041_000  # (105_000.00 - 900.00) / 10 buckets
_HIST_BUCKETS = 10


@query(
    "agg_histogram",
    oracle=lambda: f"""
    WITH c AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT CAST(least((greatest(cents - {_HIST_LO_CENTS}, 0))
                        // {_HIST_WIDTH_CENTS}, {_HIST_BUCKETS - 1}) AS INT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(cents) AS min_cents, MAX(cents) AS max_cents
    FROM c GROUP BY 1
    """,
)
def agg_histogram(spark, sf_dir):
    """Fixed-bound histogram of l_extendedprice in 10 equal-width
    buckets. The bucket id is a row-local integer expression, so the
    whole op is one map-side-combined aggregate over exactly
    ``_HIST_BUCKETS`` groups — no skew possible, scan-bound at any
    scale. Fixed bounds (not data-dependent min/max) keep it one pass;
    a quantile-bounded variant would first need the agg_median path."""
    l = Tables(spark, sf_dir).lineitem
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    bucket = F.least(
        F.floor(F.greatest(cents - _HIST_LO_CENTS, F.lit(0)) / _HIST_WIDTH_CENTS),
        F.lit(_HIST_BUCKETS - 1),
    ).cast("int")
    return (
        l.select(cents.alias("cents"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


_AGG_SALTS = 16


@query(
    "agg_salted_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY event_type
    """,
)
def agg_salted_distinct(spark, sf_dir):
    """Two-phase salted aggregation for skewed group keys: events has
    only a handful of event_type values, so a direct
    groupBy(event_type).agg(countDistinct(user_id)) funnels each type's
    entire distinct-set state through one reducer. Phase 1 groups on
    (event_type, salt) where salt = hash(user_id) % 16 — the distinct
    sets are disjoint across salts BECAUSE the salt is a function of the
    distinct key — and phase 2 sums the 16 per-salt partials per type.
    State per reducer drops 16×; the pattern generalizes to any
    algebraic combine over a skewed key. Counts and integer-cents sums
    keep the result bit-exact against the unsalted oracle."""
    e = Tables(spark, sf_dir).events
    salt = F.pmod(F.xxhash64("user_id"), F.lit(_AGG_SALTS)).cast("int")
    phase1 = (
        e.withColumn("salt", salt)
        .groupBy("event_type", "salt")
        .agg(
            F.countDistinct("user_id").alias("du"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    return phase1.groupBy("event_type").agg(
        F.sum("du").alias("n_users"),
        F.sum("n").alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )


_JOIN_SALTS = 8


@query(
    "join_skew_salted",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_skew_salted(spark, sf_dir):
    """Salted shuffle join for a hot-key fact side: the fact's join key
    is widened to (user_id, salt) with salt = hash(event_id) % 8 — an
    arbitrary row-local spreader — and the dimension side is replicated
    8× with an explode over the salt range, so each formerly-hot
    (user_id) reducer becomes 8 cooler (user_id, salt) reducers. The
    SHUFFLE_HASH hint pins the demonstration to a shuffle join (a
    broadcast would bypass salting; at 100 TB you salt exactly when the
    dim is too big to broadcast AND the fact keys are skewed). Replicas
    multiply only the SMALL side; results aggregate identically to the
    plain equi-join oracle."""
    t = Tables(spark, sf_dir)
    fact = t.events.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(_JOIN_SALTS)).cast("int")
    )
    dim = (
        t.customer.select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        ).withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1))),
        )
    )
    return (
        fact.join(dim.hint("SHUFFLE_HASH"), ["user_id", "salt"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Bitwise scalar family
# ---------------------------------------------------------------------------


@query(
    "scalar_bitwise",
    oracle="""
    SELECT event_id,
           event_id & 255 AS band,
           event_id | 4096 AS bor,
           xor(event_id, 1023) AS bxor,
           event_id << 2 AS shl,
           event_id >> 3 AS shr,
           CAST(bit_count(event_id) AS INT) AS popcnt
    FROM events
    """,
)
def scalar_bitwise(spark, sf_dir):
    e = Tables(spark, sf_dir).events
    i = F.col("event_id")
    return e.select(
        "event_id",
        i.bitwiseAND(F.lit(255)).alias("band"),
        i.bitwiseOR(F.lit(4096)).alias("bor"),
        i.bitwiseXOR(F.lit(1023)).alias("bxor"),
        F.shiftleft(i, 2).alias("shl"),
        F.shiftright(i, 3).alias("shr"),
        F.bit_count(i).alias("popcnt"),
    )


# ---------------------------------------------------------------------------
# Batch sessionization (gaps-and-islands) — the batch twin of the
# streaming session_window op, and the classic window-function composite:
# lag → gap flag → running sum → group. Exactly two shuffles (one on
# user_id for the windows, one for the final group — and the second is
# partial-aggregated map-side on the same partitioning).
# ---------------------------------------------------------------------------


@query(
    "window_sessionize_batch",
    oracle="""
    WITH lagd AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS pus
      FROM events
    ),
    marks AS (
      SELECT user_id, event_id, ts, us,
             CASE WHEN pus IS NULL OR us - pus > 300000000
                  THEN 1 ELSE 0 END AS is_new
      FROM lagd
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT user_id, CAST(sid AS BIGINT) AS sid,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def window_sessionize_batch(spark, sf_dir):
    """Gap-based sessionization in batch (5-minute inactivity gap).
    Gap arithmetic runs on exact microsecond longs so both engines flag
    identical boundaries. Both windows order by (ts, event_id) — a real
    unique tiebreak; ordering the running sum by (ts, us) would leave the
    session id engine-dependent for duplicate (user_id, ts) rows at a
    boundary."""
    e = Tables(spark, sf_dir).events
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marks = e.select(
        "user_id",
        "event_id",
        "ts",
        F.unix_micros("ts").alias("us"),
        F.lag(F.unix_micros("ts")).over(w_lag).alias("pus"),
    ).withColumn(
        "is_new",
        F.when(
            F.col("pus").isNull() | (F.col("us") - F.col("pus") > 300_000_000), 1
        ).otherwise(0),
    )
    return (
        marks.withColumn("sid", F.sum("is_new").over(w_run))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketized range join: the scale rewrite for banded theta-joins. A
# BETWEEN join against an interval dimension plans as BroadcastNestedLoop
# (O(|fact|×|dim|) comparisons); aligning the fact row to its bucket key
# turns it into a hash equi-join. join_theta_range keeps the general
# theta form; this is the shape you reach for when bands are regular.
# ---------------------------------------------------------------------------


@query(
    "join_range_bucketized",
    oracle=lambda: f"""
    WITH months AS (
      SELECT unnest(range(TIMESTAMP '1995-01-01', TIMESTAMP '2002-01-01',
                          INTERVAL 1 MONTH)) AS month_start
    )
    SELECT m.month_start, COUNT(*) AS n, {sql_dsum('l.l_quantity')} AS sum_qty
    FROM lineitem l
    JOIN months m ON date_trunc('month', l.l_shipdate) = m.month_start
    GROUP BY m.month_start
    """,
)
def join_range_bucketized(spark, sf_dir):
    l = Tables(spark, sf_dir).lineitem
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01 00:00:00").cast("timestamp"),
                F.lit("2001-12-01 00:00:00").cast("timestamp"),
                F.expr("interval 1 month"),
            )
        ).alias("month_start")
    )
    return (
        l.withColumn("bucket", F.date_trunc("month", F.col("l_shipdate")))
        .join(F.broadcast(months), F.col("bucket") == F.col("month_start"))
        .groupBy("month_start")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
    )


@query(
    "agg_boolean_family",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_quantity >= 25) AS BIGINT) AS n_heavy,
           bool_and(l_quantity > 0) AS all_positive,
           bool_or(l_discount > 0.05) AS any_discounted
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_boolean_family(spark, sf_dir):
    l = Tables(spark, sf_dir).lineitem
    return l.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") >= 25).alias("n_heavy"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_discounted"),
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS nd_parts,
           COUNT(DISTINCT l_suppkey) AS nd_supps,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_multi_distinct(spark, sf_dir):
    """Multiple DISTINCT aggregates in one pass — Spark plans an Expand
    (one replica per distinct set) feeding a single aggregation tree
    rather than N self-joins."""
    l = Tables(spark, sf_dir).lineitem
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_parts"),
        F.countDistinct("l_suppkey").alias("nd_supps"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join: the 100 TB fact-fact pattern. Both sides are
# written bucketBy(8, key) + sortBy(key); the join then needs NO shuffle
# of either fact table (the only Exchange left in the plan belongs to the
# final small aggregation). tests/test_operators_unit.py asserts the
# exchange-free join shape.
# ---------------------------------------------------------------------------


def _bucketed_tables(spark, sf_dir):
    """The bucketed lineitem/orders tables: written once per source
    fingerprint as a staging generation, registered over its files in
    every process (the catalog is in-memory, so a new process must not
    rewrite files a concurrent one may be scanning)."""
    t = Tables(spark, sf_dir)
    specs = [("lineitem", t.lineitem, "l_orderkey"), ("orders", t.orders, "o_orderkey")]
    n = 8
    gen = staging.generation("bucketed", sf_dir, ("lineitem", "orders"), str(n))

    def build(p):
        for name, df, key in specs:
            tbl = f"bkt_{name}_{gen.tag}"
            (
                df.write.format("parquet")
                .bucketBy(n, key)
                .sortBy(key)
                .option("path", str(p / name))
                .mode("overwrite")
                .saveAsTable(tbl)
            )
            spark.sql(f"DROP TABLE {tbl}")  # external: the files stay

    base = staging.publish(gen, build, spark, ("bkt_lineitem_", "bkt_orders_"))
    out = []
    for name, df, key in specs:
        tbl = f"bkt_{name}_{gen.tag}"
        staging.register_bucketed(
            spark, tbl, base / name, df.schema.toDDL(), key, n
        )
        out.append(spark.table(tbl))
    return out


@query(
    "join_bucketed_colocated",
    oracle=lambda: f"""
    SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark, sf_dir):
    lb, ob = _bucketed_tables(spark, sf_dir)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped multi-join reports (the [P]-level select-from-where-group-
# order surface of the reference's query language, at realistic join
# depth). Dimensions broadcast; the fact-side shuffles are keyed on the
# join columns Catalyst picks.
# ---------------------------------------------------------------------------


@query(
    "tpch_q3_shipping_priority",
    oracle=lambda: f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark, sf_dir):
    t = Tables(spark, sf_dir)
    cut = F.lit("1998-03-15 00:00:00").cast("timestamp")
    return (
        t.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cut)
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > cut)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5_region_revenue",
    oracle=lambda: f"""
    SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_region_revenue(spark, sf_dir):
    t = Tables(spark, sf_dir)
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    return (
        t.lineitem.join(
            t.orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle=lambda: f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): pure
    filter-then-aggregate, the canonical scan-bound query — every
    predicate pushes to the parquet scan, the aggregate is a map-side
    partial to one row, zero joins, zero wide shuffles. The revenue sum
    goes through exact decimal accumulation (functions/deterministic)
    so both engines report the identical double."""
    l = Tables(spark, sf_dir).lineitem
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    return (
        l.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle=lambda: f"""
    SELECT c_custkey, c_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            t.lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("c_custkey", "c_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE — iterative fixpoint inside the
# engine; DuckDB shares the SQL:1999 semantics, so the oracle is the
# same query text modulo dialect).
# ---------------------------------------------------------------------------


@query(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE up(custkey, node, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT custkey, CAST(FLOOR(node / 10) AS BIGINT), depth + 1
      FROM up WHERE node > 0
    ),
    depths AS (
      SELECT custkey, MAX(depth) AS steps FROM up GROUP BY custkey
    )
    SELECT CAST(steps AS BIGINT) AS steps,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(custkey) AS BIGINT) AS min_key,
           CAST(MAX(custkey) AS BIGINT) AS max_key
    FROM depths GROUP BY steps
    """,
)
def sql_recursive_cte(spark, sf_dir):
    """WITH RECURSIVE — the SQL:1999 iterative fixpoint, executed by
    Spark 4's recursive-CTE operator (UnionLoop): each customer key
    walks the functional graph node → floor(node/10) until it reaches
    0, and the result histograms customers by walk length (= digit
    count). Recursion depth is data-bounded (~7 at sf1); Spark's
    spark.sql.cteRecursionLevelLimit (default 100) guards runaways. At
    100 TB each iteration is a distributed self-union — no driver-side
    looping — which is the point: the fixpoint loop lives INSIDE the
    engine, unlike the driver-orchestrated connected_components
    iteration (operators/dedup.py) that needs per-round checkpointing."""
    t = Tables(spark, sf_dir)
    t.customer.createOrReplaceTempView("customer_rcte_v")
    return spark.sql(
        """
        WITH RECURSIVE up(custkey, node, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM customer_rcte_v
          UNION ALL
          SELECT custkey, CAST(FLOOR(node / 10) AS BIGINT), depth + 1
          FROM up WHERE node > 0
        ),
        depths AS (
          SELECT custkey, MAX(depth) AS steps FROM up GROUP BY custkey
        )
        SELECT CAST(steps AS BIGINT) AS steps,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(custkey) AS BIGINT) AS min_key,
               CAST(MAX(custkey) AS BIGINT) AS max_key
        FROM depths GROUP BY steps
        """
    )


@query(
    "join_bloom_pruned",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_pruned(spark, sf_dir):
    """Runtime BLOOM-FILTER join pruning — the non-partition-column
    analog of dynamic partition pruning: the selective build side
    (urgent orders) is aggregated into a bloom filter at runtime and
    injected as a ``might_contain(l_orderkey)`` predicate INTO THE FACT
    SCAN, so most lineitem rows die before the shuffle instead of
    after it. At 100 TB this is the difference between shuffling the
    whole fact table and shuffling ~the matching fraction.

    Conf isolation: bloom injection needs a shuffle join and
    scan-size thresholds met, so the knobs are set on a FORKED session
    (``spark.newSession()`` — same context, private conf) rather than
    mutated on the caller's session where they would leak into every
    subsequent query of a driver run. Plan-asserted in
    tests/test_plans.py::test_bloom_filter_reaches_fact_scan."""
    from distributed_query_engine_spark.session import tune_session

    s2 = spark.newSession()
    tune_session(s2)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    t = Tables(s2, sf_dir)
    o = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority"
    )
    l = t.lineitem.select("l_orderkey", "l_quantity")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH counted AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
      SELECT l_returnflag, l_quantity, cnt,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cnt DESC, l_quantity DESC) AS rn
      FROM counted
    )
    SELECT l_returnflag,
           CAST(l_quantity AS BIGINT) AS mode_qty,
           CAST(cnt AS BIGINT) AS mode_cnt
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark, sf_dir):
    """MODE with a PINNED tie-break — the built-in ``mode()`` aggregate
    picks an arbitrary value among equally-frequent candidates (engine-
    and partitioning-dependent), which can never pass a cross-engine
    hash check and silently breaks reproducible pipelines. The
    deterministic form is two aggregates: count per (group, value),
    then max_by over the (count, value) tuple — ties break toward the
    LARGEST value, by construction, in any engine. Same two-shuffle
    cost class as the naive mode at 100 TB (first agg is map-side
    combinable)."""
    l = Tables(spark, sf_dir).lineitem
    counted = l.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counted.groupBy("l_returnflag").agg(
        F.max_by("l_quantity", F.struct("cnt", "l_quantity"))
        .cast("long")
        .alias("mode_qty"),
        F.max("cnt").cast("long").alias("mode_cnt"),
    )


@query(
    "subquery_not_in_nulls",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_not_in_clean,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_custkey NOT IN (SELECT NULLIF(c_custkey, 1)
                                    FROM customer)) AS n_not_in_nullable
    FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                            WHERE c_custkey IS NOT NULL)
    """,
)
def subquery_not_in_nulls(spark, sf_dir):
    """NOT IN under THREE-VALUED LOGIC — the classic silent-wrong-
    results trap: if the subquery produces even one NULL, ``x NOT IN
    (...)`` is never TRUE (it is NULL for non-members), so the whole
    result collapses to empty. A plain null-rejecting anti-join would
    return the non-members and be WRONG. Both engines implement the
    SQL standard (Spark plans NOT IN as NullAwareAntiJoin); this query
    pins the two cases side by side: the clean subquery counts real
    non-members, the NULLIF-poisoned one must count 0."""
    o = Tables(spark, sf_dir).orders
    c = Tables(spark, sf_dir).customer
    o.createOrReplaceTempView("_nin_orders")
    c.createOrReplaceTempView("_nin_customer")
    return spark.sql(
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_not_in_clean,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM _nin_orders
                WHERE o_custkey NOT IN (SELECT NULLIF(c_custkey, 1)
                                        FROM _nin_customer))
                 AS n_not_in_nullable
        FROM _nin_orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM _nin_customer
                                WHERE c_custkey IS NOT NULL)
        """
    )


@query(
    "groupby_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders GROUP BY ALL
    """,
)
def groupby_all(spark, sf_dir):
    """GROUP BY ALL — every non-aggregate select item becomes a grouping
    key (Spark 4 and DuckDB share the extension). Saves the classic
    drift bug where a projection edit silently desynchronizes from the
    GROUP BY list."""
    t = Tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("_gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM _gba_orders GROUP BY ALL
        """
    )


# ---------------------------------------------------------------------------
# r6 additions: large-order report (TPC-H Q18 shape), CDC merge/upsert,
# SCD2 history build, and mergeable HLL sketch rollup — the warehouse
# maintenance patterns a 100 TB corpus pipeline runs daily.
# ---------------------------------------------------------------------------


@query(
    "tpch_q18_large_orders",
    oracle=lambda: f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity')} AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): the aggregate-filtered
    semi-join report. The only wide shuffle is the lineitem pre-
    aggregation by order key (map-side combinable); the >300-quantity
    filter makes the qualifying-order set TINY, so it broadcasts into
    semi-joins that prune BOTH the lineitem and orders scans before the
    report join — at 100 TB nothing but the qualifying orders' rows
    ever leaves the scan stage, and the final grouping runs over a
    relation the size of the answer. Customer is a broadcast dim."""
    t = Tables(spark, sf_dir)
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("_qty"))
        .filter(F.col("_qty") > 300)
        .select("l_orderkey")
    )
    l_big = t.lineitem.join(F.broadcast(big), "l_orderkey", "left_semi")
    o_big = t.orders.join(
        F.broadcast(big),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left_semi",
    )
    return (
        l_big.join(F.broadcast(o_big), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def _merge_oracle() -> str:
    from distributed_query_engine_spark.operators.cdc import MERGE_ORACLE_SQL

    return MERGE_ORACLE_SQL


@query("merge_upsert_cdc", oracle=_merge_oracle)
def merge_upsert_cdc(spark, sf_dir):
    """MERGE / CDC-apply without a table format: apply a change batch
    (update / delete / insert ops) to a dimension snapshot. The naive
    plan is a FULL OUTER join — an unavoidable both-sides shuffle of
    the whole snapshot. Because a CDC batch is tiny relative to the
    dimension, the scale-correct plan is ONE scan of the snapshot with
    a BROADCAST left join against the batch (deletes filtered, updates
    coalesced in the projection), plus a union of the insert rows: the
    100 TB snapshot is never shuffled or scanned twice. The batch
    derivation and the apply live in operators/cdc.py, SHARED with the
    streaming maintenance loop (stream_cdc_apply) so both provably run
    the same merge and share the same oracle. Plan-asserted broadcast
    in tests/test_plans.py."""
    from distributed_query_engine_spark.operators.cdc import apply_cdc, cdc_batch

    s = Tables(spark, sf_dir).customer
    return apply_cdc(s, cdc_batch(s))


@query(
    "scd2_from_events",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id) AS BIGINT)
             AS version
    FROM changes
    """,
)
def scd2_from_events(spark, sf_dir):
    """SCD TYPE-2 history build from an event log: collapse each user's
    event stream into change intervals — one row per event_type CHANGE,
    with [valid_from, valid_to) validity and a version counter; the
    open current row has valid_to NULL. Change detection is lag() over
    (user_id, ts, event_id); interval close is lead() over the change
    rows. Both windows share the user_id partitioning, so the whole
    build costs ONE hash exchange of the log at 100 TB — the filter
    between the two window passes preserves distribution and Catalyst
    plans no second exchange (the event_id tiebreak pins tie order in
    both engines)."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return ch.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
    )


# Count-min sketch geometry: D independent hash rows × W buckets. The
# per-row hash is the repo's engine-portable md5 idiom (both engines
# hash identical UTF-8 bytes), so sketch contents are bit-identical
# cross-engine and the oracle can rebuild the exact same sketch.
_CMS_D, _CMS_W = 4, 64


def _cms_bucket_sql(r: str, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({r} AS VARCHAR) || ':' || "
        f"CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % {_CMS_W}"
    )


def _cms_bucket_col(r, key):
    """Spark twin of ``_cms_bucket_sql`` — module-level so the
    property suite can run the REAL engine expression against its
    Python model (ADVICE r7), not a reimplementation of it."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", r.cast("string"), key.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )


@query(
    "agg_countmin_heavy_hitters",
    oracle=lambda: f"""
    WITH rows_d AS (SELECT unnest(range({_CMS_D})) AS r),
    cells AS (
      SELECT r, {_cms_bucket_sql('r', 'user_id')} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events CROSS JOIN rows_d
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
    ),
    est AS (
      SELECT e.user_id, e.exact_n, MIN(c.c) AS cms_est
      FROM exact e
      CROSS JOIN rows_d d
      JOIN cells c ON c.r = d.r
                  AND c.bucket = {_cms_bucket_sql('d.r', 'e.user_id')}
      GROUP BY e.user_id, e.exact_n
    )
    SELECT user_id, exact_n, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_n AS BIGINT) AS overcount,
           cms_est >= exact_n AS is_upper_bound
    FROM est
    ORDER BY exact_n DESC, user_id
    LIMIT 10
    """,
)
def agg_countmin_heavy_hitters(spark, sf_dir):
    """COUNT-MIN SKETCH heavy hitters — the fixed-memory frequency
    sketch next to HLL (cardinality) and t-digest (quantiles): D=4
    hash rows × W=64 buckets hold event counts per user in 256 cells
    TOTAL, regardless of key cardinality; a key's estimate is the MIN
    of its D cells, which OVER-counts (collisions only add) and never
    under-counts — the classic one-sided guarantee, emitted here as an
    ``is_upper_bound`` column the oracle re-derives (every row TRUE by
    construction, and checked against the true counts, not assumed).
    Hashes are the engine-portable md5 idiom, so the sketch is
    bit-identical cross-engine and the WHOLE THING is exact-oracle —
    unlike engine-opaque sketch bytes (cf. agg_hll_sketch_merge's
    estimate-within-5% contract).

    100 TB: the sketch build is ONE partial-aggregated shuffle of
    D×|events| rows into D·W = 256 cells (map-side combine does almost
    all of it); the estimate probe broadcasts those 256 cells; exact
    counts here exist only to ground the oracle. Memory is O(D·W)
    per executor whatever the key cardinality — the whole point of
    sketching at scale."""
    ev = Tables(spark, sf_dir).events.select("user_id")
    rows_d = F.explode(
        F.sequence(F.lit(0), F.lit(_CMS_D - 1))
    ).alias("r")
    bucket = _cms_bucket_col
    cells = (
        ev.select("user_id", rows_d)
        .select("user_id", "r", bucket(F.col("r"), F.col("user_id")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = exact.select("user_id", "exact_n", rows_d).select(
        "user_id",
        "exact_n",
        "r",
        bucket(F.col("r"), F.col("user_id")).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        est.select(
            "user_id",
            F.col("exact_n").cast("long").alias("exact_n"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_n")).cast("long").alias("overcount"),
            (F.col("cms_est") >= F.col("exact_n")).alias("is_upper_bound"),
        )
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(10)
    )


@query(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT r_name,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
           TRUE AS within_5pct
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_hll_sketch_merge(spark, sf_dir):
    """MERGEABLE HLL SKETCHES (Spark 4 Apache DataSketches binding):
    build one HLL sketch per nation, then UNION the sketch VALUES up to
    region level — the pre-aggregation pattern that makes 100 TB
    cardinality rollups cheap: fine-grained sketches are materialized
    once (map-side combinable, constant bytes per group) and every
    coarser rollup merges sketches instead of re-touching raw rows.
    Sketch bytes are engine-specific, so the oracle contract mirrors
    agg_approx_count_distinct: emit the exact distinct count plus a
    boolean asserting the merged-sketch estimate lands within 5%. The
    exact region count is the SUM of per-nation exact counts — valid
    because c_custkey spaces are disjoint across nations (each customer
    has exactly one nation), i.e. the same mergeability the sketch
    provides for OVERLAPPING key spaces."""
    t = Tables(spark, sf_dir)
    per_nation = (
        t.customer.join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey", "n_nationkey")
        .agg(
            F.hll_sketch_agg("c_custkey").alias("sk"),
            F.countDistinct("c_custkey").alias("_exact"),
        )
    )
    rolled = (
        per_nation.join(
            F.broadcast(t.region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
            F.sum("_exact").cast("long").alias("exact_customers"),
        )
    )
    return rolled.select(
        "r_name",
        "exact_customers",
        (
            F.abs(F.col("_est") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("within_5pct"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase,
           CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
             / (SELECT COUNT(*) FROM s1) AS view_to_click,
           CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
             / (SELECT COUNT(*) FROM s2) AS click_to_purchase
    """,
)
def funnel_conversion(spark, sf_dir):
    """ORDERED-STEP FUNNEL (view → click → purchase) in ONE shuffle.
    The SQL formulation is three chained aggregate+join stages — at
    100 TB that is three exchanges of the event log plus two joins on a
    users-sized relation too big to broadcast. The Spark-first plan
    groups each user's step events ONCE (sort_array over collect_list)
    and runs the funnel state machine as a JVM higher-order
    ``F.aggregate`` lambda over the sorted array: stage k advances only
    on the matching event type with ts STRICTLY after the previous
    advance — exactly the ``MIN(ts) > prev`` semantics of the SQL, so
    the oracle is the 3-CTE formulation while the engine pays one hash
    exchange and zero Python. Per-user state is one (stage, ts) struct;
    per-user arrays are bounded by that user's step-event count."""
    ev = Tables(spark, sf_dir).events
    steps = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "ts", "event_type")
    per_user = steps.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("seq")
    )
    init = F.struct(
        F.lit(0).alias("stage"),
        F.lit(None).cast("timestamp").alias("t"),
    )
    staged = per_user.select(
        F.aggregate(
            "seq",
            init,
            lambda acc, x: (
                F.when(
                    (acc.stage == 0) & (x.event_type == F.lit("view")),
                    F.struct(F.lit(1).alias("stage"), x.ts.alias("t")),
                )
                .when(
                    (acc.stage == 1)
                    & (x.event_type == F.lit("click"))
                    & (x.ts > acc.t),
                    F.struct(F.lit(2).alias("stage"), x.ts.alias("t")),
                )
                .when(
                    (acc.stage == 2)
                    & (x.event_type == F.lit("purchase"))
                    & (x.ts > acc.t),
                    F.struct(F.lit(3).alias("stage"), x.ts.alias("t")),
                )
                .otherwise(acc)
            ),
        )["stage"].alias("stage")
    )
    return staged.agg(
        F.sum((F.col("stage") >= 1).cast("long")).alias("n_view"),
        F.sum((F.col("stage") >= 2).cast("long")).alias("n_click"),
        F.sum((F.col("stage") >= 3).cast("long")).alias("n_purchase"),
    ).select(
        "n_view",
        "n_click",
        "n_purchase",
        (F.col("n_click").cast("double") / F.col("n_view")).alias("view_to_click"),
        (F.col("n_purchase").cast("double") / F.col("n_click")).alias(
            "click_to_purchase"
        ),
    )


@query(
    "sql_pipe_syntax",
    oracle=lambda: f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 100
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax(spark, sf_dir):
    """SQL PIPE SYNTAX (Spark 4, SQL:2023-style ``|>`` chains): each
    stage consumes the previous stage's relation top-down —
    scan |> filter |> aggregate |> post-agg filter |> order — the
    linear form of the same logical plan the nested SELECT produces.
    Catalyst compiles both to the identical plan (pushdown, partial
    aggregation, TakeOrdered all still apply), so the oracle is the
    classic GROUP BY/HAVING formulation. Registered because a user
    migrating pipelines benefits from the operator-at-a-time reading
    order; semantically it is pure surface syntax."""
    t = Tables(spark, sf_dir)
    t.lineitem.createOrReplaceTempView("_pipe_lineitem")
    return spark.sql(
        """
        FROM _pipe_lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                       AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 100
        |> ORDER BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, sum_qty
        """
    )


def _pagerank_oracle() -> str:
    """DuckDB replay of the exact fixed-point PageRank (operators/graph.py):
    5 chained CTE iterations of the identical integer arithmetic."""
    from distributed_query_engine_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        UNIT,
    )

    base = (DAMP_DEN - DAMP_NUM) * UNIT
    its = []
    for k in range(1, 6):
        its.append(
            f"""r{k} AS (
      SELECT e.dst AS node,
             CAST(CAST({base} AS BIGINT) // ({DAMP_DEN} * nn.n)
                  + ({DAMP_NUM} * CAST(SUM(r{k - 1}.r // deg.d) AS BIGINT))
                    // {DAMP_DEN} AS BIGINT) AS r
      FROM edges e
      JOIN r{k - 1} ON e.src = r{k - 1}.node
      JOIN deg ON e.src = deg.src
      CROSS JOIN nn
      GROUP BY e.dst, nn.n
    )"""
        )
    chain = ",\n    ".join(its)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs
    ),
    deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (
      SELECT src AS node, CAST(CAST({UNIT} AS BIGINT) // nn.n AS BIGINT) AS r
      FROM deg CROSS JOIN nn
    ),
    {chain}
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           r AS rank_fp,
           CAST(r AS DOUBLE) / 1000000000000.0 AS rank
    FROM r5
    ORDER BY rank_fp DESC, node
    LIMIT 25
    """


@query("graph_pagerank", oracle=_pagerank_oracle)
def graph_pagerank(spark, sf_dir):
    """Distributed PAGERANK over the customer–supplier trade graph
    (edges = distinct (customer, supplier) pairs linked by an order
    line, symmetrized so every node has degree >= 1). The second
    iterative algorithm family next to connected components: a FIXED
    iteration count of damped score diffusion, one rank-join + one
    aggregation per iteration. Ranks are exact BIGINT micro-units
    (operators/graph.py) so the 5 iterations are bit-replicable by the
    DuckDB CTE-chain oracle — no float drift under any partitioning.
    The iteration-invariant edge relation is hash-partitioned by src
    and localCheckpoint-ed ONCE (at cluster scale: ``checkpoint``), so
    per-iteration cost is moving the node-sized rank relation, not
    re-deriving the trade graph."""
    from distributed_query_engine_spark.operators.graph import pagerank_fixed_point

    t = Tables(spark, sf_dir)
    pairs = (
        t.orders.join(
            t.lineitem, F.col("o_orderkey") == F.col("l_orderkey")
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .repartition("src")
        .localCheckpoint()
    )
    ranks = pagerank_fixed_point(edges, iterations=5)
    return (
        ranks.select(
            "node",
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.col("r").alias("rank_fp"),
            (F.col("r").cast("double") / F.lit(1e12)).alias("rank"),
        )
        .orderBy(F.col("rank_fp").desc(), "node")
        .limit(25)
    )


@query(
    "timeseries_resample_ffill",
    oracle=lambda: f"""
    WITH ev AS (SELECT * FROM events WHERE user_id < 8),
    per_hour AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             {sql_dsum('value')} AS hour_value
      FROM ev GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM ev GROUP BY 1
    ),
    grid AS (
      SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    ),
    joined AS (
      SELECT g.user_id, g.hour, p.hour_value
      FROM grid g LEFT JOIN per_hour p
        ON g.user_id = p.user_id AND g.hour = p.hour
    )
    SELECT user_id, hour, hour_value,
           hour_value IS NULL AS is_gap,
           LAST_VALUE(hour_value IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value
    FROM joined
    """,
)
def timeseries_resample_ffill(spark, sf_dir):
    """TIME-SERIES RESAMPLE + GAP-FILL: align each user's irregular
    event stream to a fixed hourly grid (sequence() exploded between
    per-user bounds — generated DISTRIBUTED, one row group per user,
    never on the driver), left-join the hourly aggregates, and
    forward-fill gaps with last(ignorenulls) over the time order. The
    hourly aggregation, the grid join, and the fill window all share
    the user partitioning; the fill is a running frame, so state per
    user is one value. At 100 TB the grid explode is linear in
    user-hours and the only wide exchanges are the per-hour aggregate
    and the per-user window — no driver-side calendar materialization
    anywhere."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") < 8)
    per_hour = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(dsum("value", "hour_value"))
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour"),
    )
    joined = grid.join(per_hour, ["user_id", "hour"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hour",
        "hour_value",
        F.col("hour_value").isNull().alias("is_gap"),
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
    )


@query(
    "join_lateral_topn",
    oracle="""
    SELECT n.n_name, l.c_custkey, l.c_name, l.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 3) l
    """,
)
def join_lateral_topn(spark, sf_dir):
    """LATERAL correlated subquery with ORDER BY + LIMIT — "for each
    nation, its top-3 customers by balance" written the way a SQL user
    thinks it (a per-row subquery). Naively that is a re-executed query
    per outer row; Catalyst DECORRELATES it into one distributed
    partial top-k (WindowGroupLimit: per-partition prune, then final
    prune after the exchange — plan-asserted) joined to the outer
    relation — the identical plan class as the hand-written
    topk_per_group, so the declarative form costs nothing at 100 TB.
    The c_custkey tiebreak pins tied balances for the exact oracle.

    Plan gotcha this query pins: the sort keys must appear in the
    subquery's SELECT list. If an ORDER BY column (here c_custkey) is
    NOT projected, Catalyst can't fold the sort into the row_number
    window and instead plans a GLOBAL range-sort of the inner relation
    before the per-group limit — a full-table sort at 100 TB. The
    plan assertion fails on that shape (rangepartitioning forbidden)."""
    t = Tables(spark, sf_dir)
    t.nation.createOrReplaceTempView("_lat_nation")
    t.customer.createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, l.c_custkey, l.c_name, l.c_acctbal
        FROM _lat_nation n,
        LATERAL (SELECT c_custkey, c_name, c_acctbal FROM _lat_customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 3) l
        """
    )


# ---------------------------------------------------------------------------
# EWMA smoothing as an integer FIR filter
# ---------------------------------------------------------------------------

# 8-lag FIR truncation of EWMA(α=1/4): w_k = round(α(1−α)^k · 2^20),
# PRECOMPUTED to integer literals shared verbatim by engine and oracle —
# the transcendental pow() never executes in either engine (r6 pinned
# libm pow as cross-engine-divergent), and the truncation tail
# (1−α)^8 ≈ 10% is a fixed, documented property of the filter, not a
# float artifact.
_EWMA_W = (262144, 196608, 147456, 110592, 82944, 62208, 46656, 34992)


@query(
    "timeseries_ewma_smooth",
    oracle=lambda: f"""
    WITH iv AS (
      SELECT event_type, event_id, ts,
             CAST(floor(value * 1000) AS BIGINT) AS v_milli,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    lagged AS (
      SELECT event_type, event_id, ts, v_milli, rn,
             {' + '.join(f"{w} * lag(v_milli, {k}) OVER (PARTITION BY event_type ORDER BY ts, event_id)" if k else f"{w} * v_milli" for k, w in enumerate(_EWMA_W))}
               AS ewma_e20
      FROM iv
    )
    SELECT event_type, event_id, v_milli,
           CAST(ewma_e20 AS BIGINT) AS ewma_e20,
           CAST(ewma_e20 AS DOUBLE) / 943600.0 AS smoothed_milli
    FROM lagged
    WHERE rn >= {len(_EWMA_W)}
    """,
)
def timeseries_ewma_smooth(spark, sf_dir):
    """EWMA SMOOTHING per event type as an INTEGER FIR FILTER: the
    8-lag truncation of the exponential moving average (α = 1/4),
    with weights round(α(1−α)^k·2²⁰) baked as integer literals shared
    by engine and oracle — no pow() executes anywhere (libm pow is
    last-ulp-divergent cross-engine, the r6 catch), and every smoothed
    value is an exact int64 dot product of the last 8 milli-scaled
    observations (|ewma_e20| ≤ 2²⁰·Σ|v| — int64-safe to |v_milli| ~
    10¹²). The reported smoothed value normalizes by the exact weight
    sum (943600) in ONE double division of exact integers. Rows with
    fewer than 8 lags are excluded (full-window semantics) so the
    truncated filter's warm-up is explicit, not silently biased.

    100 TB: one shuffle into the per-type time order; the 8 lags and
    the dot product all share that single window sort — the identical
    plan class as window_lag_lead, linear in the series."""
    from pyspark.sql.window import Window

    ev = Tables(spark, sf_dir).events
    order = Window.partitionBy("event_type").orderBy("ts", "event_id")
    iv = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
    ).withColumn("rn", F.row_number().over(order))
    ewma = None
    for k, w in enumerate(_EWMA_W):
        term = F.lit(w) * (
            F.col("v_milli") if k == 0 else F.lag("v_milli", k).over(order)
        )
        ewma = term if ewma is None else ewma + term
    return (
        iv.withColumn("ewma_e20", ewma)
        .filter(F.col("rn") >= len(_EWMA_W))
        .select(
            "event_type",
            "event_id",
            "v_milli",
            F.col("ewma_e20").cast("long").alias("ewma_e20"),
            (F.col("ewma_e20").cast("double") / F.lit(943600.0)).alias(
                "smoothed_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Robust time-series anomaly detection (median / MAD)
# ---------------------------------------------------------------------------

# 3-sigma-equivalent MAD multiplier: 3 * 1.4826 (the normal-consistency
# constant). One literal so Spark and the oracle share the exact double.
_MAD_K = 4.4478


@query(
    "timeseries_anomaly_mad",
    oracle=f"""
    WITH iv AS (
      SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v
      FROM events
    ),
    med AS (SELECT event_type, median(v) AS med_milli FROM iv GROUP BY 1),
    dev AS (
      SELECT i.event_type, abs(i.v - m.med_milli) AS adev, m.med_milli
      FROM iv i JOIN med m USING (event_type)
    ),
    mad AS (SELECT event_type, median(adev) AS mad_milli FROM dev GROUP BY 1)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           min(d.med_milli) AS med_milli,
           min(x.mad_milli) AS mad_milli,
           CAST(SUM(CASE WHEN d.adev > x.mad_milli * {_MAD_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM dev d JOIN mad x USING (event_type)
    GROUP BY d.event_type
    """,
)
def timeseries_anomaly_mad(spark, sf_dir):
    """ROBUST OUTLIER DETECTION per event type: median / MAD (median
    absolute deviation) with the 3-sigma-equivalent cut |x - med| >
    3 * 1.4826 * MAD — the standard robust alternative to mean/stddev
    z-scores, immune to the very outliers it hunts. Values are
    integerized first (floor(value*1000) — floor, not round, so no
    cross-engine tie-rounding question exists at all): medians of
    integer-valued data interpolate to exact half-integers, keeping
    both medians and every derived comparison bit-identical in IEEE
    double across engines (the agg_median discipline, applied twice).

    Scale shape: two grouped exact medians + two BROADCAST joins of the
    per-type stats (the dimension side is |event_type| rows) + one
    final partial-aggregated count — the events relation shuffles only
    into the two median aggregations. Exact per-group medians buffer a
    group's values on one task, so a 100 TB deployment with heavy
    per-type volume flips them to approx_percentile(..., accuracy) and
    keeps this exact path for audit samples — the same
    measured-not-assumed contract as agg_percentile. The skew-critical
    part (the anomaly COUNT) is partial-aggregated map-side either
    way."""
    ev = Tables(spark, sf_dir).events
    iv = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("v"),
    )
    med = iv.groupBy("event_type").agg(
        F.median("v").alias("med_milli")
    )
    dev = iv.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("v") - F.col("med_milli")).alias("adev"),
        "med_milli",
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad_milli"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med_milli").alias("med_milli"),
            F.min("mad_milli").alias("mad_milli"),
            F.sum(
                F.when(F.col("adev") > F.col("mad_milli") * _MAD_K, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H shapes, second wave: Q4 (EXISTS), Q14 (conditional ratio), Q19
# (disjunctive pushdown)
# ---------------------------------------------------------------------------


@query(
    "tpch_q4_late_shipments",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_late_shipments(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking), adapted to this
    schema's columns: orders with at least one lineitem shipped > 30
    days after the order date, counted by priority. The EXISTS
    decorrelates to a LEFT SEMI join on l_orderkey (Catalyst
    RewritePredicateSubquery), so the fact-fact correlation costs one
    shuffle pair and the lineitem side is pruned to two columns; the
    date filter prunes the orders scan first."""
    t = Tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("_q4_orders")
    t.lineitem.createOrReplaceTempView("_q4_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM _q4_orders o
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM _q4_lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY o_orderpriority
        """
    )


@query(
    "tpch_q14_promo_revenue",
    oracle=lambda: f"""
    SELECT 100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO' "
                             "THEN l_extendedprice * (1 - l_discount) "
                             "ELSE 0 END")}
             / {sql_dsum('l_extendedprice * (1 - l_discount)')}
             AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def tpch_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 (promotion effect): the conditional-aggregate ratio —
    promo revenue share of one month's shipments. Part is the dimension
    side (broadcast); both sums go through exact decimal accumulation
    and the final percentage is ONE double division, so the ratio is
    bit-identical cross-engine. One scan, one broadcast join, one
    map-side partial aggregate to a single row."""
    t = Tables(spark, sf_dir)
    l, p = t.lineitem, t.part
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    joined = l.filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    ).join(F.broadcast(p.select("p_partkey", "p_type")),
           F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        (F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "tpch_q19_disjunctive_revenue",
    oracle=lambda: f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates) —
    the classic optimizer test for OR-of-ANDs: Catalyst extracts the
    common l_quantity bounds' union and the per-side p_brand/p_size
    conjuncts so PART of the disjunction pushes into each scan
    (l_quantity <= 30 reaches the lineitem scan; the brand/size
    disjunction reaches the part scan) instead of evaluating the whole
    OR only post-join. Part broadcasts; revenue is decimal-exact."""
    t = Tables(spark, sf_dir)
    l, p = t.lineitem, t.part
    joined = l.join(
        F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
        F.col("p_partkey") == F.col("l_partkey"),
    )
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & q.between(20, 30))
    )
    return joined.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "tpch_q7_nation_volume",
    oracle=lambda: f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def tpch_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 (volume shipping): bilateral trade between two nations (the synthetic data's NATION_3/NATION_7)
    by ship year. The interesting plan property is the NATION DIM USED
    TWICE — one physical relation, two broadcast aliases (supplier's
    nation and customer's nation), with the disjunctive nation-pair
    predicate evaluated after both lookups; the two fact-fact joins
    (lineitem⋈orders on orderkey) are the only shuffles, every
    dimension (supplier, customer, nation×2) broadcasts. Revenue is
    decimal-exact; the year extraction groups map-side."""
    t = Tables(spark, sf_dir)
    l, s, o, c, n = t.lineitem, t.supplier, t.orders, t.customer, t.nation
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        l.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
               F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o.select("o_orderkey", "o_custkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firstw AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM events
    ),
    joined AS (
      SELECT f.cohort_week,
             CAST((epoch(a.week) - epoch(f.cohort_week)) / 604800 AS BIGINT)
               AS week_offset
      FROM act a JOIN firstw f USING (user_id)
    ),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_size
      FROM firstw GROUP BY cohort_week
    )
    SELECT j.cohort_week, j.week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COUNT(*) AS DOUBLE) / s.cohort_size AS retention
    FROM joined j JOIN sizes s USING (cohort_week)
    GROUP BY j.cohort_week, j.week_offset, s.cohort_size
    """,
)
def cohort_retention(spark, sf_dir):
    """COHORT RETENTION — the canonical product-analytics triangle:
    users grouped by first-activity week, retention = share of the
    cohort active in each subsequent week. Three aggregates over the
    events relation (first-touch per user, distinct user-weeks, the
    cohort×offset rollup) — each partial-agg'd map-side; the per-user
    join shuffles on user_id once and the cohort-size relation (weeks,
    tiny) broadcasts into the final percentage. Week offsets are exact
    epoch arithmetic on Monday-truncated weeks (both engines truncate
    identically), and the retention ratio is one double division of
    exact integers — bit-identical cross-engine."""
    ev = Tables(spark, sf_dir).events
    firstw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    joined = act.join(firstw, "user_id").select(
        "cohort_week",
        (
            (
                F.unix_timestamp("week") - F.unix_timestamp("cohort_week")
            )
            / 604800
        )
        .cast("long")
        .alias("week_offset"),
    )
    sizes = firstw.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            F.col("n_active").cast("long").alias("n_active"),
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
    )


@query(
    "window_gaps_islands_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS dayno
      FROM events
    ),
    numbered AS (
      SELECT user_id, dayno,
             dayno - row_number() OVER (PARTITION BY user_id ORDER BY dayno)
               AS grp
      FROM days
    ),
    islands AS (
      SELECT user_id, grp, COUNT(*) AS streak
      FROM numbered GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(MAX(streak) AS BIGINT) AS longest_streak,
           CAST(SUM(streak) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_islands
    FROM islands GROUP BY user_id
    """,
)
def window_gaps_islands_streaks(spark, sf_dir):
    """GAPS-AND-ISLANDS — the classic consecutive-run pattern,
    distinct from sessionize (which groups by gap THRESHOLD; islands
    group by exact adjacency): a user's activity days form an island
    when day_number − row_number is constant, so each island collapses
    to one group key with zero self-joins. Reports per-user longest
    daily streak, active days, and island count. All integer day
    arithmetic; the row_number window and both rollups share the
    user_id partitioning, so the whole query is ONE shuffle of the
    distinct user-day relation followed by map-side-combinable
    aggregates."""
    from pyspark.sql.window import Window

    ev = Tables(spark, sf_dir).events
    days = ev.select(
        "user_id",
        (F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400)
        .cast("long")
        .alias("dayno"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dayno")
    numbered = days.withColumn(
        "grp", F.col("dayno") - F.row_number().over(w)
    )
    islands = numbered.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak")
    )
    return islands.groupBy("user_id").agg(
        F.max("streak").cast("long").alias("longest_streak"),
        F.sum("streak").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    nodes AS (
      SELECT s1 AS n FROM pairs UNION SELECT s2 FROM pairs
    ),
    deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT s1 AS n FROM pairs UNION ALL SELECT s2 FROM pairs
      ) GROUP BY n
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM pairs e1
      JOIN pairs e2 ON e2.s1 = e1.s2
      JOIN pairs e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    )
    SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST(COALESCE((SELECT SUM(d * (d - 1) / 2) FROM deg), 0)
                AS BIGINT) AS n_wedges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           CASE WHEN COALESCE((SELECT SUM(d * (d - 1) / 2) FROM deg), 0) = 0
                THEN CAST(0 AS BIGINT)
                ELSE CAST((SELECT 3000 * t FROM tri)
                       // (SELECT SUM(d * (d - 1) / 2) FROM deg) AS BIGINT)
           END AS clustering_milli
    """,
)
def graph_triangle_count(spark, sf_dir):
    """TRIANGLE COUNTING with DEGREE ORIENTATION — the third graph
    algorithm next to connected components and PageRank, over the
    supplier co-order projection (suppliers linked when they share an
    order). The scale algorithm is the classic orientation trick: each
    undirected edge points from its lower-(degree, id) endpoint to the
    higher, which bounds every node's out-degree by O(sqrt(|E|)) —
    wedge generation (the quadratic step) is then per-LOW-degree-node,
    so a celebrity node's d² wedge explosion cannot happen. One
    self-join builds wedges, one more join closes them; the oracle
    counts the same triangles with the naive a<b<c 3-join, so the
    optimization is verified against the definition. Reports the
    global clustering coefficient as exact integer milli-units."""
    t = Tables(spark, sf_dir)
    l = t.lineitem.select("l_orderkey", "l_suppkey")
    a, b = l.alias("a"), l.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        pairs.select(F.col("s1").alias("n"))
        .unionAll(pairs.select(F.col("s2").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient: src = lower (d, n) endpoint
    e = (
        pairs.join(deg.select(F.col("n").alias("s1"), F.col("d").alias("d1")), "s1")
        .join(deg.select(F.col("n").alias("s2"), F.col("d").alias("d2")), "s2")
        .select(
            F.when(
                (F.col("d1") < F.col("d2"))
                | ((F.col("d1") == F.col("d2")) & (F.col("s1") < F.col("s2"))),
                F.struct(F.col("s1").alias("u"), F.col("s2").alias("v")),
            )
            .otherwise(F.struct(F.col("s2").alias("u"), F.col("s1").alias("v")))
            .alias("e")
        )
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
    )
    w1 = e.select(F.col("u"), F.col("v").alias("x"))
    w2 = e.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    # close each wedge with the canonical (min, max) undirected edge
    closed = wedges.join(
        pairs.select(
            F.col("s1").alias("x"), F.col("s2").alias("y")
        ),
        ["x", "y"],
        "left_semi",
    )
    n_tri = closed.count()
    n_nodes = deg.count()
    n_edges = pairs.count()
    n_wedges = (
        deg.agg(F.sum(F.expr("d * (d - 1) div 2")).alias("w")).collect()[0]["w"]
    )
    # Empty/trivial co-order graph has no wedges: define the clustering
    # coefficient as 0 instead of dividing by zero (oracle mirrors).
    n_wedges = int(n_wedges or 0)
    clustering_milli = 3000 * n_tri // n_wedges if n_wedges else 0
    return local_rows(
        t.lineitem.sparkSession,
        [
            (
                int(n_nodes),
                int(n_edges),
                int(n_wedges),
                int(n_tri),
                int(clustering_milli),
            )
        ],
        "n_nodes long, n_edges long, n_wedges long, n_triangles long, clustering_milli long",
    )


_FUZZY_MAX_DIST = 5


@query(
    "fuzzy_match_names",
    oracle=lambda: f"""
    WITH names AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    ),
    blocked AS (
      SELECT p_name, n_parts,
             string_split(p_name, ' ')[-1] AS block_key
      FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM blocked a JOIN blocked b
      ON a.block_key = b.block_key AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
    """,
)
def fuzzy_match_names(spark, sf_dir):
    """FUZZY ENTITY MATCHING — edit-distance join with blocking, the
    entity-resolution primitive: candidate pairs come from a BLOCK KEY
    (the name's last word — the stable token a real pipeline derives
    from a normalized attribute), identical names COLLAPSE to one row
    first (the signature_groups move: a name shared by k parts must
    not contribute k² pairs to the block), and survivors are scored
    with exact Levenshtein distance — an integer DP both engines
    define identically, so the whole report is hash-exact. At 100 TB
    the block key gets more attributes (soundex/metaphone + length
    band) and hot blocks get the standard salting; the shape —
    dedupe, block, bounded all-pairs, exact verify — is the same one
    the minhash pipeline uses, applied to short strings where edit
    distance is the right metric."""
    p = Tables(spark, sf_dir).part
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    blocked = names.withColumn(
        "block_key", F.element_at(F.split("p_name", " "), -1)
    )
    a = blocked.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "block_key",
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "block_key",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "block_key")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist <= _FUZZY_MAX_DIST)
        .select(
            "name_a",
            "name_b",
            dist.cast("long").alias("dist"),
            "n_parts_a",
            "n_parts_b",
        )
    )


_BASKET_MIN_SUPPORT = 5


@query(
    "basket_pair_lift",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets),
    item AS (SELECT l_partkey, COUNT(*) AS item_cnt FROM baskets GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS pair_cnt
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b,
           CAST(p.pair_cnt AS BIGINT) AS support_cnt,
           CAST(p.pair_cnt AS DOUBLE) / ia.item_cnt AS confidence_a_to_b,
           CAST(p.pair_cnt AS DOUBLE) * t.n / (ia.item_cnt * ib.item_cnt)
             AS lift
    FROM pairs p
    JOIN item ia ON ia.l_partkey = p.part_a
    JOIN item ib ON ib.l_partkey = p.part_b
    CROSS JOIN n_orders t
    WHERE p.pair_cnt >= {_BASKET_MIN_SUPPORT}
    """,
)
def basket_pair_lift(spark, sf_dir):
    """MARKET-BASKET ANALYSIS — pairwise association rules over order
    baskets: support, confidence, and lift for every part pair
    co-occurring in ≥ 5 orders. The pair generation
    self-joins baskets ON THE ORDER KEY, so a basket's pair production
    is bounded by its own line count squared (single-digit here; a
    pathological mega-basket would get the same salting treatment as
    every other hot key in this repo) — never a global item×item
    join. Counts are exact integers; confidence and lift are single
    double divisions of exact integers against the broadcast
    basket-count scalar, so the scores hash-match bit-for-bit."""
    t = Tables(spark, sf_dir)
    baskets = t.lineitem.select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.select("l_orderkey").distinct().count()
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("item_cnt"))
    a = baskets.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = baskets.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= _BASKET_MIN_SUPPORT)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("item_cnt").alias("cnt_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("item_cnt").alias("cnt_b")
    )
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("pair_cnt").cast("long").alias("support_cnt"),
            (F.col("pair_cnt").cast("double") / F.col("cnt_a")).alias(
                "confidence_a_to_b"
            ),
            (
                F.col("pair_cnt").cast("double")
                * F.lit(int(n_orders))
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        )
    )


@query(
    "pareto_abc_classification",
    oracle=lambda: f"""
    WITH rev AS (
      SELECT l_suppkey,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,6))) * 1000000 AS BIGINT)
               AS rev_micros
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,6))) * 1000000 AS BIGINT)
              AS t_micros
            FROM lineitem),
    ranked AS (
      SELECT r.l_suppkey, r.revenue,
             SUM(r.rev_micros)
               OVER (ORDER BY r.revenue DESC, r.l_suppkey
                     ROWS UNBOUNDED PRECEDING) AS cum_micros,
             t.t_micros
      FROM rev r CROSS JOIN tot t
    )
    SELECT l_suppkey, revenue,
           CAST(cum_micros AS DOUBLE) / CAST(t_micros AS DOUBLE) AS cum_share,
           CASE WHEN cum_micros * 20 <= 16 * t_micros THEN 'A'
                WHEN cum_micros * 20 <= 19 * t_micros THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def pareto_abc_classification(spark, sf_dir):
    """PARETO / ABC CLASSIFICATION — the warehouse 80/15/5 rule:
    suppliers ranked by revenue, classified by cumulative revenue
    share (A ≤ 80%, B ≤ 95%, C rest). Per-supplier revenues are
    decimal-exact; the running sum accumulates in INTEGER MICROS in a
    PINNED order (revenue desc, suppkey tiebreak) — two r6/r7 catches
    live here: (1) window engines may reassociate double addition
    (DuckDB's segment tree does), so the cumsum must not be double;
    (2) the r7 sf1 smoke showed CAST(DECIMAL AS DOUBLE) itself
    diverges in the last ulp once the cumulative value exceeds
    double's ~16 exact digits (Spark converts the exact BigDecimal,
    DuckDB scales an integer through double arithmetic) — whereas
    int64→double is a SINGLE correctly-rounded IEEE conversion in
    both engines. So the window sums bigint micros, the reported
    share is one int64→double division pair, and the A/B/C boundary
    decisions are pure integer comparisons (cum·20 vs 16·t / 19·t) —
    overflow-safe while total corpus revenue ≤ ~4.6e17 micro-dollars.
    The ranking is global by definition (a cumulative share over ALL
    suppliers), and supplier-grain is not dimension-grain at 100 TB —
    so the running sum is the distributed two-pass prefix scan
    (operators/prefix.py: range-partition by (revenue desc, suppkey),
    per-partition cumsum, broadcast offsets; VERDICT r10 item 1c)
    instead of the r10 single-partition global window."""
    t = Tables(spark, sf_dir)
    l = t.lineitem
    rev_expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # micros derive from the DECIMAL sum directly — never from dsum's
    # double output: re-casting a ~2e11-magnitude double (ulp ≈ 3e-5)
    # back to DECIMAL(38,6) re-opens the engine-divergent cast rounding
    # this query exists to avoid (caught by the unit-scale pin).
    rev = l.groupBy("l_suppkey").agg(
        dsum(rev_expr, "revenue"),
        (F.sum(rev_expr.cast("decimal(38,6)")) * 1000000)
        .cast("long")
        .alias("rev_micros"),
    )
    total = l.agg(
        (F.sum(rev_expr.cast("decimal(38,6)")) * 1000000)
        .cast("long")
        .alias("t_micros")
    )
    from distributed_query_engine_spark.operators.prefix import (
        partitioned_running,
    )

    ranked = partitioned_running(
        rev.crossJoin(F.broadcast(total)),
        [F.col("revenue").desc(), F.col("l_suppkey")],
        sum_cols=[("rev_micros", "cum_micros")],
    )
    return ranked.select(
        "l_suppkey",
        "revenue",
        (
            F.col("cum_micros").cast("double") / F.col("t_micros").cast("double")
        ).alias("cum_share"),
        F.when(F.col("cum_micros") * 20 <= 16 * F.col("t_micros"), "A")
        .when(F.col("cum_micros") * 20 <= 19 * F.col("t_micros"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "timeseries_changepoint_cusum",
    oracle="""
    WITH iv AS (
      SELECT event_type, event_id, ts,
             CAST(floor(value * 1000) AS BIGINT) AS v
      FROM events
    ),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s
      FROM iv GROUP BY event_type
    ),
    walked AS (
      SELECT i.event_type, i.event_id, st.n, st.s,
             row_number() OVER (PARTITION BY i.event_type
                                ORDER BY i.ts, i.event_id) AS k,
             SUM(i.v) OVER (PARTITION BY i.event_type
                            ORDER BY i.ts, i.event_id
                            ROWS UNBOUNDED PRECEDING) AS prefix
      FROM iv i JOIN stats st USING (event_type)
    ),
    cusum AS (
      SELECT event_type, event_id, k,
             abs(n * prefix - k * s) AS acs
      FROM walked
    )
    SELECT event_type,
           CAST(MAX(acs) AS BIGINT) AS max_abs_cusum,
           CAST(MIN(CASE WHEN acs = m THEN k END) AS BIGINT) AS cp_position,
           CAST(MAX(k) AS BIGINT) AS n
    FROM (SELECT c.*, MAX(acs) OVER (PARTITION BY event_type) AS m FROM cusum c)
    GROUP BY event_type
    """,
)
def timeseries_changepoint_cusum(spark, sf_dir):
    """CUSUM CHANGEPOINT DETECTION per event type: the position where
    the cumulative deviation from the series mean peaks — the classic
    single-changepoint estimator. Entirely EXACT INTEGER arithmetic
    via the multiply-through trick: instead of v_i − mean (a division
    that would leave the fixed-point world), the walk accumulates
    n·prefix_k − k·S, which is n× the true CUSUM and shares its argmax
    — so the detected position and peak are bit-identical in any
    engine, no float drift. Range bound: |n·prefix − k·S| ≤
    n²·max|v_milli|, so int64 holds while n²·max|v_milli| < 2⁶³ —
    e.g. a million-step series is safe up to |v| ≈ 9.2e3 (milli-scaled
    9.2e6), and a 10⁸-row per-type series needs |v_milli| < ~922; past
    that, accumulate the score in DECIMAL(38,0) instead. One shuffle
    into the per-type time order; the prefix sum, the peak, and the
    earliest-argmax tiebreak all share that partitioning."""
    from pyspark.sql.window import Window

    ev = Tables(spark, sf_dir).events
    iv = ev.select(
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
        "event_type",
        "k",
        F.abs(F.col("n") * F.col("prefix") - F.col("k") * F.col("s")).alias(
            "acs"
        ),
    )
    peak = Window.partitionBy("event_type")
    return (
        cusum.withColumn("m", F.max("acs").over(peak))
        .groupBy("event_type")
        .agg(
            F.max("acs").cast("long").alias("max_abs_cusum"),
            F.min(F.when(F.col("acs") == F.col("m"), F.col("k")))
            .cast("long")
            .alias("cp_position"),
            F.max("k").cast("long").alias("n"),
        )
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    probes AS (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 97 = 0
    )
    SELECT p.event_id, p.user_id,
           c.event_type AS state_at_ts,
           c.valid_from
    FROM probes p
    JOIN changes c
      ON c.user_id = p.user_id
     AND c.valid_from <= p.ts
     AND (c.valid_to IS NULL OR p.ts < c.valid_to)
    """,
)
def join_point_in_time_scd2(spark, sf_dir):
    """POINT-IN-TIME (AS-OF-VALIDITY) JOIN — the consumer SCD2 exists
    for: probe rows (a 1/97 sample of the event log standing in for a
    fact table) look up the dimension state that was valid AT their
    timestamp, via key equality + validity-interval containment.
    Spark plans the equi key as the join key and the interval bounds
    as join filters, so the shuffle moves each side once on user_id —
    never a range cross-product; exactly one history row matches each
    probe because SCD2 intervals partition the timeline ([from, to)
    half-open, asserted by construction in scd2_from_events). At
    100 TB the history side is the small one and broadcasts per the
    usual dimension rule."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    probes = ev.filter(F.col("event_id") % 97 == 0).select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    return (
        probes.join(
            changes,
            (probes.user_id == changes.user_id)
            & (F.col("valid_from") <= F.col("p_ts"))
            & (F.col("valid_to").isNull() | (F.col("p_ts") < F.col("valid_to"))),
        )
        .select(
            "event_id",
            probes.user_id.alias("user_id"),
            F.col("event_type").alias("state_at_ts"),
            "valid_from",
        )
    )


@query(
    "yoy_revenue_growth",
    oracle=lambda: f"""
    WITH yearly AS (
      SELECT n.n_name,
             CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, year(o.o_orderdate)
    )
    SELECT n_name, yr, revenue,
           lag(revenue) OVER (PARTITION BY n_name ORDER BY yr) AS prev_revenue,
           revenue / lag(revenue) OVER (PARTITION BY n_name ORDER BY yr) - 1
             AS yoy_growth
    FROM yearly
    """,
)
def yoy_revenue_growth(spark, sf_dir):
    """YEAR-OVER-YEAR GROWTH per customer nation — the canonical BI
    trend report: yearly decimal-exact revenues, lag() within each
    nation's year series, growth as one double division of two exact
    values (NULL for each nation's first year, matching SQL lag
    semantics). The window runs over the nation×year aggregate — a few
    dozen rows per nation at any corpus size — after the fact-table
    work is done in partial-agg'd joins with broadcast dimensions."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    yearly = (
        t.lineitem.join(
            t.orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("yr"))
        .agg(dsum(rev, "revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "n_name", "yr", "revenue",
        prev.alias("prev_revenue"),
        (F.col("revenue") / prev - 1).alias("yoy_growth"),
    )


@query(
    "rfm_segmentation",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             CAST(epoch(max(o_orderdate)) AS BIGINT) AS recency_epoch,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, recency_epoch, frequency, monetary,
             ntile(4) OVER (ORDER BY recency_epoch DESC, o_custkey) AS r_score,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
      FROM rfm
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(o_custkey) AS BIGINT) AS sample_custkey
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def rfm_segmentation(spark, sf_dir):
    """RFM CUSTOMER SEGMENTATION — recency/frequency/monetary quartile
    scores (ntile(4) each, best = 1) rolled up to segment counts. The
    per-customer rollup is one partial-agg'd shuffle of orders; the
    o_custkey tiebreaks make quartile boundaries deterministic
    cross-engine (ntile on ties without a tiebreak would not be); the
    monetary sum is decimal-exact. Output is the 4×4×4 segment grid —
    the thing a marketing pipeline actually consumes.

    Customer-grain is NOT dimension-grain at 100 TB, so the three
    quartile scores do NOT use unpartitioned ntile windows (three
    single-partition sorts of the aggregate — VERDICT r10 item 1b).
    Instead each metric gets a global rank from the two-pass prefix
    scan (operators/prefix.py: range-partition, per-partition
    row_number, broadcast offsets) and ntile(4) is reproduced from
    (rank, n) with the SQL-standard bucket arithmetic — first
    ``n mod 4`` buckets hold ``n div 4 + 1`` rows, the rest ``n div
    4`` — in exact integer CASE expressions, so the scores are
    byte-identical to the oracle's ntile over the same total order."""
    from distributed_query_engine_spark.operators.prefix import (
        partitioned_running,
    )

    o = Tables(spark, sf_dir).orders
    rfm = o.groupBy("o_custkey").agg(
        F.unix_timestamp(F.max("o_orderdate")).cast("long").alias("recency_epoch"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("monetary"),
    )
    ranked = partitioned_running(
        rfm, [F.col("recency_epoch").desc(), F.col("o_custkey")], rank_col="r_rk"
    )
    ranked = partitioned_running(
        ranked, [F.col("frequency").desc(), F.col("o_custkey")], rank_col="f_rk"
    )
    ranked = partitioned_running(
        ranked, [F.col("monetary").desc(), F.col("o_custkey")], rank_col="m_rk"
    )
    from distributed_query_engine_spark.operators.prefix import exact_ntile

    nrow = rfm.agg(F.count(F.lit(1)).alias("_n"))

    def ntile4(rk):
        return exact_ntile(rk, F.col("_n"), 4)

    scored = (
        ranked.crossJoin(F.broadcast(nrow))
        .withColumn("r_score", ntile4(F.col("r_rk")))
        .withColumn("f_score", ntile4(F.col("f_rk")))
        .withColumn("m_score", ntile4(F.col("m_rk")))
    )
    return scored.groupBy(
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("o_custkey").cast("long").alias("sample_custkey"),
    )


@query(
    "dq_expectations_report",
    oracle="""
    SELECT 'orders_custkey_fk' AS rule, CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem_partkey_fk', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    UNION ALL
    SELECT 'customer_custkey_unique', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'lineitem_quantity_range', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'documents_text_nonempty', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    """,
)
def dq_expectations_report(spark, sf_dir):
    """DATA-QUALITY EXPECTATIONS REPORT — the Great-Expectations-style
    rule suite as one relation: referential integrity (orphan FK rows
    via null-extension counting on a left join — the dimension side
    broadcasts, so the check costs one fact scan), key uniqueness
    (count vs distinct-count), range conformance, and non-emptiness,
    each one scan + partial aggregation, unioned into the
    (rule, n_checked, n_violations) report a pipeline gate consumes.
    At 100 TB each rule is independently one pass over its table with
    broadcast lookups — no rule multiplies another's cost, and the
    report is the natural place observe()-style metrics land
    (scan_observed_metrics demonstrates the streaming-side variant)."""
    t = Tables(spark, sf_dir)

    def rule(name, df, viol_col):
        return df.agg(
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(viol_col).cast("long").alias("n_violations"),
        )

    fk_orders = t.orders.join(
        F.broadcast(t.customer.select("c_custkey")),
        F.col("c_custkey") == F.col("o_custkey"),
        "left",
    )
    fk_lineitem = t.lineitem.join(
        F.broadcast(t.part.select("p_partkey")),
        F.col("p_partkey") == F.col("l_partkey"),
        "left",
    )
    uniq = t.customer.agg(
        F.lit("customer_custkey_unique").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.count_distinct("c_custkey"))
        .cast("long")
        .alias("n_violations"),
    )
    return (
        rule(
            "orders_custkey_fk",
            fk_orders,
            F.when(F.col("c_custkey").isNull(), 1).otherwise(0),
        )
        .unionByName(
            rule(
                "lineitem_partkey_fk",
                fk_lineitem,
                F.when(F.col("p_partkey").isNull(), 1).otherwise(0),
            )
        )
        .unionByName(uniq)
        .unionByName(
            rule(
                "lineitem_quantity_range",
                t.lineitem,
                F.when(F.col("l_quantity").between(1, 50), 0).otherwise(1),
            )
        )
        .unionByName(
            rule(
                "documents_text_nonempty",
                t.documents,
                F.when(
                    F.col("text").isNull() | (F.length("text") == 0), 1
                ).otherwise(0),
            )
        )
    )


@query(
    "markov_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS cnt
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    totals AS (
      SELECT prev_type, SUM(cnt) AS row_total FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type,
           CAST(t.cnt AS BIGINT) AS cnt,
           CAST(t.cnt AS DOUBLE) / tt.row_total AS p
    FROM trans t JOIN totals tt USING (prev_type)
    """,
)
def markov_transition_matrix(spark, sf_dir):
    """FIRST-ORDER MARKOV TRANSITION MATRIX over per-user event
    sequences: P(next_type | prev_type) estimated from adjacent-event
    counts — the sequence-modeling summary behind next-action
    prediction, funnel leak analysis, and bot detection (bots have
    degenerate transition rows). One lag() window over the user/time
    order (the same single exchange the SCD2 build uses), exact
    integer transition counts, row-normalized with one double division
    against the broadcast row totals — a |types|² relation regardless
    of corpus size."""
    from pyspark.sql.window import Window

    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = trans.groupBy("prev_type").agg(F.sum("cnt").alias("row_total"))
    return trans.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("cnt").cast("long").alias("cnt"),
        (F.col("cnt").cast("double") / F.col("row_total")).alias("p"),
    )


@query(
    "agg_string_agg_ordered",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nation JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    """,
)
def agg_string_agg_ordered(spark, sf_dir):
    """ORDERED STRING AGGREGATION (LISTAGG/string_agg with ORDER BY) —
    the reporting surface every warehouse user reaches for: group
    members concatenated in a PINNED order. Spark's collect_list is
    partition-order-dependent, so the deterministic form is
    array_join(sort_array(collect_list(...))) — same value as SQL's
    ordered string_agg in any engine, any partitioning. The rollup is
    a partial-agg'd shuffle of the (tiny) dimension join."""
    t = Tables(spark, sf_dir)
    return (
        t.nation.join(
            F.broadcast(t.region),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "window_running_distinct_count",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS distinct_types_so_far
    FROM marked
    """,
)
def window_running_distinct_count(spark, sf_dir):
    """RUNNING COUNT(DISTINCT) — not directly expressible as a window
    aggregate in ANY engine (distinct windows are unsupported), so the
    standard two-window rewrite: mark each (user, type)'s FIRST
    occurrence with row_number, then a running sum of the marks gives
    the distinct-type count as of every event. Both windows hash on
    user_id (the second reuses the first's exchange), integer-exact at
    any scale — the pattern behind 'how many distinct features had
    this account touched by time t' product questions."""
    from pyspark.sql.window import Window

    ev = Tables(spark, sf_dir).events
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    return marked.select(
        "user_id", "event_id",
        F.sum("first_seen").over(w_run).cast("long").alias(
            "distinct_types_so_far"
        ),
    )


@query(
    "user_path_analysis",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    """,
)
def user_path_analysis(spark, sf_dir):
    """USER PATH ANALYSIS — the first-three-actions journey report
    behind onboarding funnels: each user's first 3 events (by time,
    event_id tiebreak) joined into a path string, counted across
    users. One user_id window exchange shared with the rollup; the
    path build is collect_list UNDER THE WINDOW ORDER re-joined (the
    deterministic LISTAGG form), and the output is |distinct paths| ≤
    |types|³ rows regardless of corpus size."""
    from pyspark.sql.window import Window

    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "events_seasonality_profile",
    oracle="""
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def events_seasonality_profile(spark, sf_dir):
    """SEASONALITY PROFILE — the day-of-week × hour-of-day activity
    heatmap behind capacity planning and anomaly baselines: event and
    distinct-user counts per (dow, hod) cell. One partial-agg'd
    shuffle into at most 168 cells regardless of corpus size; the
    distinct count is per-cell exact (the approx/salted variants exist
    for when cells are hot — agg_approx_count_distinct,
    agg_salted_distinct). DuckDB's dayofweek is 0-6 Sunday-first and
    Spark's dayofweek is 1-7 Sunday-first — the Spark side subtracts
    one so the calendars line up (an off-by-one that silently shifts
    every weekly profile if unpinned)."""
    ev = Tables(spark, sf_dir).events
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "interval_concurrency_peak",
    # Sessions = sessionize(30 min gap) per user; sweep-line: +1 at
    # each session start, −1 at end, running sum in (ts, delta, user)
    # order (ends before starts at the same instant via delta asc),
    # global peak + the time it was first reached.
    oracle="""
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id,
             MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM (SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM marks)
      GROUP BY user_id, sid
    ),
    sweep AS (
      SELECT s_start AS t, 1 AS delta, user_id FROM sess
      UNION ALL
      SELECT s_end AS t, -1 AS delta, user_id FROM sess
    ),
    walked AS (
      SELECT t, SUM(delta) OVER (ORDER BY t, delta, user_id
                                 ROWS UNBOUNDED PRECEDING) AS open_now
      FROM sweep
    )
    SELECT CAST(MAX(open_now) AS BIGINT) AS peak_concurrency,
           CAST(floor(MIN(CASE WHEN open_now = m THEN epoch(t) END)) AS BIGINT)
             AS first_peak_epoch
    FROM (SELECT w.*, MAX(open_now) OVER () AS m FROM walked w)
    """,
)
def interval_concurrency_peak(spark, sf_dir):
    """SWEEP-LINE INTERVAL CONCURRENCY — the classic max-overlap
    algorithm as a dataflow: user sessions (30-minute-gap sessionize)
    become ±1 boundary events, a running sum over the global time
    order counts simultaneously-open sessions, and the report is the
    peak plus the first instant it was reached. The deliberate
    convention — ends sort BEFORE starts at the same instant (delta
    ascending) — makes back-to-back sessions NOT count as overlapping,
    and the user_id tiebreak pins the walk exactly. The running sum is
    the distributed two-pass prefix scan (operators/prefix.py —
    range-partition by (t, delta, user_id), per-partition cumsum,
    broadcast per-partition offsets): the boundary relation is 2 rows
    per SESSION, which at 100 TB of events is NOT dimension-grain, so
    the r10-flagged single-partition global-order window is replaced
    by a plan whose every sort is partition-local (VERDICT r10 item
    1c). The peak+first-instant report is one struct-max aggregate
    (max lexicographic (open_now, -epoch)) — partial-agg'd map-side,
    no unpartitioned max-window over the walked relation either."""
    from pyspark.sql.window import Window

    ev = Tables(spark, sf_dir).events
    w_u = Window.partitionBy("user_id").orderBy("ts")
    marks = ev.select(
        "user_id", "ts",
        F.when(
            F.lag("ts").over(w_u).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w_u).cast("long")
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = (
        marks.withColumn(
            "sid",
            F.sum("is_new").over(
                w_u.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    sweep = sess.select(
        F.col("s_start").alias("t"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        sess.select(
            F.col("s_end").alias("t"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    from distributed_query_engine_spark.operators.prefix import (
        partitioned_running,
    )

    walked = partitioned_running(
        sweep,
        [F.col("t"), F.col("delta"), F.col("user_id")],
        sum_cols=[("delta", "open_now")],
    ).select("t", "open_now")
    # max (open_now, -epoch) lexicographically == (peak, -(first instant
    # the peak was reached)) — one map-side-combined scalar aggregate.
    return walked.agg(
        F.max(
            F.struct(
                F.col("open_now").alias("o"),
                (-F.unix_timestamp("t")).alias("neg_epoch"),
            )
        ).alias("s")
    ).select(
        F.col("s.o").cast("long").alias("peak_concurrency"),
        (-F.col("s.neg_epoch")).cast("long").alias("first_peak_epoch"),
    )


@query(
    "agg_higher_moments",
    # Skewness/kurtosis from EXACT integer power sums (l_quantity is
    # integer-valued): both engines compute the identical final double
    # expression over bit-equal inputs. Population (biased) form.
    oracle="""
    WITH ps AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s2,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (CAST(s3 AS DOUBLE) / n
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
              + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n))
             / ((CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                * sqrt(CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
               AS skewness,
           (CAST(s4 AS DOUBLE) / n
              - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
              + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s2 AS DOUBLE) / n)
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             / ((CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                * (CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
             - 3.0 AS excess_kurtosis
    FROM ps
    """,
)
def agg_higher_moments(spark, sf_dir):
    """SKEWNESS AND EXCESS KURTOSIS — the 3rd/4th-moment completion of
    agg_stats_family, by the same discipline: exact integer power sums
    (l_quantity is integer-valued, so s1..s4 are bit-equal in any
    engine at any partitioning), then ONE identical double expression
    per statistic on both sides. The built-in skewness/kurtosis
    aggregates stream doubles and are order-dependent — unusable for
    cross-engine replay; the power-sum form is the textbook
    numerically-naive one, which is exactly what makes it reproducible
    (and fine here: the moments fit comfortably in int64 for bounded
    integer measures)."""
    l = Tables(spark, sf_dir).lineitem
    q = F.col("l_quantity").cast("long")
    ps = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    m4 = F.col("s4").cast("double") / n
    var = m2 - m1 * m1
    # var^1.5 as var*sqrt(var): sqrt is IEEE-correctly-rounded in both
    # engines, pow(x, 1.5) is NOT (libm implementations differ in the
    # last ulp — caught by the repr-exact driver sweep at sf0.01)
    skew = (m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1) / (var * F.sqrt(var))
    kurt = (
        m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2 - 3.0 * m1 * m1 * m1 * m1
    ) / (var * var) - 3.0
    return ps.select(
        "l_returnflag",
        "n",
        skew.alias("skewness"),
        kurt.alias("excess_kurtosis"),
    )


@query(
    "agg_regression_family",
    # OLS of y = discount-in-whole-percent on x = quantity, per return
    # flag — the regr_slope/regr_intercept/regr_r2 aggregate family via
    # the SAME power-sum discipline as agg_stats_family: both columns
    # are integer-valued, the five sums are exact BIGINTs at any
    # partitioning, and each statistic is ONE double expression in the
    # closed form (slope = (n·sxy−sx·sy)/(n·sxx−sx²), intercept =
    # (sy·sxx−sx·sxy)/(n·sxx−sx²), r² via the two double factors — num
    # < 2^53 so int64→double is exact; den conversions are identically
    # IEEE-rounded in both engines). int64 headroom: n·sxy peaks ~4.5e15
    # at the sf1 slice and ~4.5e17 at sf10; sf100 would move the power
    # sums to DECIMAL(38,0) — same rescale note as plans/retrieval.py.
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS sx,
             SUM(CAST(round(l_discount * 100) AS BIGINT)) AS sy,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
             SUM(CAST(round(l_discount * 100) AS BIGINT)
                   * CAST(round(l_discount * 100) AS BIGINT)) AS syy,
             SUM(CAST(l_quantity AS BIGINT)
                   * CAST(round(l_discount * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           CAST(sy * sxx - sx * sxy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS intercept,
           (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) AS r2,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS avg_x,
           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS avg_y
    FROM s
    """,
)
def agg_regression_family(spark, sf_dir):
    """regr_slope / regr_intercept / regr_r2 / regr_avgx / regr_avgy —
    grouped OLS from exact integer power sums (see oracle comment).
    Scale shape: one map-side-combined shuffle carrying six BIGINTs per
    group; the closed-form statistics are per-group scalar expressions,
    so the plan is identical to any grouped sum at 100 TB."""
    l = Tables(spark, sf_dir).lineitem
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_discount") * 100).cast("bigint")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    num = (n * sxy - sx * sy).cast("double")
    den = (n * sxx - sx * sx).cast("double")
    den_y = (n * syy - sy * sy).cast("double")
    return s.select(
        "l_returnflag",
        "n",
        (num / den).alias("slope"),
        ((sy * sxx - sx * sxy).cast("double") / den).alias("intercept"),
        ((num * num) / (den * den_y)).alias("r2"),
        (sx.cast("double") / n.cast("double")).alias("avg_x"),
        (sy.cast("double") / n.cast("double")).alias("avg_y"),
    )


@query(
    "mv_incremental_refresh",
    # Incremental materialized-view maintenance: the stored MV holds
    # ALGEBRAIC partial states (count, decimal sum, min, max) per group;
    # a new-arrivals batch folds in WITHOUT rescanning the base fact —
    # union the two state relations and merge with the combine functions
    # (sum-of-sums, min-of-mins...). avg is DERIVED from merged
    # (sum, count) at read time — the classic reason avg itself is not a
    # mergeable state. The oracle recomputes from scratch over the full
    # table: incremental == full IS the correctness contract.
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
             / count(*) AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def mv_incremental_refresh(spark, sf_dir):
    """Scale shape: the refresh cost is |delta| + |groups| — the base
    fact is NEVER rescanned (here the 'stored MV' is simulated by
    aggregating the base split; in production it's a parquet state
    table). Both aggregates are map-side partial; the merge is a
    |groups|-sized shuffle."""
    o = Tables(spark, sf_dir).orders
    DEC = "decimal(38,6)"

    def states(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("sum_dec"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )

    base = states(o.filter(F.col("o_orderkey") % 10 != 0))  # stored MV
    delta = states(o.filter(F.col("o_orderkey") % 10 == 0))  # new batch
    merged = base.unionByName(delta).groupBy("o_orderpriority").agg(
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_price").alias("min_price"),
        F.max("max_price").alias("max_price"),
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("sum_dec").cast("string").cast("double").alias("revenue"),
        "min_price",
        "max_price",
        (
            F.col("sum_dec").cast("string").cast("double") / F.col("n_orders")
        ).alias("avg_price"),
    )


@query(
    "snapshot_diff_audit",
    # Snapshot reconciliation: classify every key across two table
    # versions as added / removed / changed / unchanged and roll up the
    # audit (row counts + absolute balance drift in exact cents). Old
    # snapshot = keys with c_custkey % 7 != 3; new snapshot = keys with
    # c_custkey % 5 != 2, balances bumped +100 where c_custkey % 11 = 0.
    oracle="""
    WITH old AS (
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer WHERE c_custkey % 7 != 3
    ),
    new AS (
      SELECT c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT)
               + CASE WHEN c_custkey % 11 = 0 THEN 10000 ELSE 0 END AS cents
      FROM customer WHERE c_custkey % 5 != 2
    ),
    diff AS (
      SELECT COALESCE(o.c_custkey, n.c_custkey) AS key,
             CASE WHEN o.c_custkey IS NULL THEN 'added'
                  WHEN n.c_custkey IS NULL THEN 'removed'
                  WHEN o.cents != n.cents THEN 'changed'
                  ELSE 'unchanged' END AS status,
             abs(COALESCE(n.cents, 0) - COALESCE(o.cents, 0)) AS drift_cents
      FROM old o FULL JOIN new n ON n.c_custkey = o.c_custkey
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(drift_cents) AS BIGINT) AS total_drift_cents
    FROM diff GROUP BY status
    """,
)
def snapshot_diff_audit(spark, sf_dir):
    """Scale shape: one co-partitioned full outer join on the key (both
    sides shuffle once on c_custkey; with bucketed snapshots it would be
    exchange-free), then a 4-group rollup. Drift is exact integer cents
    (HALF_UP round contract), so the audit is engine-reproducible."""
    c = Tables(spark, sf_dir).customer
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    old = c.filter(F.col("c_custkey") % 7 != 3).select(
        "c_custkey", cents.alias("cents")
    )
    new = c.filter(F.col("c_custkey") % 5 != 2).select(
        "c_custkey",
        (
            cents
            + F.when(F.col("c_custkey") % 11 == 0, F.lit(10000)).otherwise(0)
        ).alias("cents"),
    )
    diff = (
        old.alias("o")
        .join(new.alias("n"), F.col("n.c_custkey") == F.col("o.c_custkey"), "full")
        .select(
            F.when(F.col("o.c_custkey").isNull(), "added")
            .when(F.col("n.c_custkey").isNull(), "removed")
            .when(F.col("o.cents") != F.col("n.cents"), "changed")
            .otherwise("unchanged")
            .alias("status"),
            F.abs(
                F.coalesce(F.col("n.cents"), F.lit(0))
                - F.coalesce(F.col("o.cents"), F.lit(0))
            ).alias("drift_cents"),
        )
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("drift_cents").cast("bigint").alias("total_drift_cents"),
    )


@query(
    "graph_shortest_paths",
    # Bounded-hop BFS (k-hop landmark distances) over the same
    # customer-supplier trade graph as graph_pagerank. The oracle's
    # depth-bounded recursive CTE uses UNION (tuple-dedup) so its
    # working set is nodes x hops, not paths — replayable at the sf1
    # sweep, unlike the quadratic min-label CC walks.
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs
    ),
    walk(node, dist) AS (
      SELECT c_custkey * 2 AS node, 0 AS dist
      FROM customer WHERE c_custkey <= 2
      UNION
      SELECT e.dst, w.dist + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.dist < 3
    )
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(min(dist) AS BIGINT) AS dist
    FROM walk GROUP BY node
    """,
)
def graph_shortest_paths(spark, sf_dir):
    """Minimum hop distance from the landmark set (customers 1-2) within
    3 hops — operators/graph.py::bfs_hop_distance. Scale shape: per hop
    one frontier-edge join (edges src-partitioned and checkpointed ONCE)
    + one node-grain min-aggregate; settled set is node-sized. Exact
    integer labels: bit-identical under any partitioning."""
    from distributed_query_engine_spark.operators.graph import bfs_hop_distance

    t = Tables(spark, sf_dir)
    pairs = (
        t.orders.join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .repartition("src")
        .localCheckpoint()
    )
    sources = (
        t.customer.filter(F.col("c_custkey") <= 2)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    dist = bfs_hop_distance(edges, sources, max_hops=3)
    return dist.select(
        "node",
        F.when(F.col("node") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("node_type"),
        F.col("dist").cast("long").alias("dist"),
    )


@query(
    "privacy_k_anonymity",
    # Privacy audit before corpus release: equivalence classes over the
    # quasi-identifier (nation, market segment), class size k, and
    # l-diversity of the sensitive attribute (acctbal band) — classes
    # with k < 5 or l < 2 are re-identification / homogeneity risks.
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                    WHEN c_acctbal < 5000 THEN 'mid'
                                    ELSE 'high' END) AS BIGINT) AS l_div,
           (count(*) < 5) AS k_risky,
           (count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                WHEN c_acctbal < 5000 THEN 'mid'
                                ELSE 'high' END) < 2) AS l_risky
    FROM customer GROUP BY c_nationkey, c_mktsegment
    """,
)
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity + l-diversity audit over the customer table. Scale
    shape: one map-side-combined aggregate at quasi-identifier grain
    (bounded: |nations| x |segments|); the distinct-count is over a
    3-value band so the partial state is tiny."""
    c = Tables(spark, sf_dir).customer
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.countDistinct(band).cast("long").alias("l_div"),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "k",
        "l_div",
        (F.col("k") < 5).alias("k_risky"),
        (F.col("l_div") < 2).alias("l_risky"),
    )


@query(
    "dq_referential_integrity_report",
    # Star-schema FK audit: orphan counts per relationship in ONE row
    # per edge — the reconciliation report run before publishing a
    # warehouse snapshot. Anti-join semantics exactly;
    # the distinct-child counts make the report self-normalizing.
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
           CAST((SELECT count(DISTINCT l_orderkey) FROM lineitem) AS BIGINT)
             AS n_child_keys,
           CAST((SELECT count(*) FROM
                 (SELECT DISTINCT l_orderkey FROM lineitem) c
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = c.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           CAST((SELECT count(DISTINCT o_custkey) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM
                 (SELECT DISTINCT o_custkey FROM orders) c
                 WHERE NOT EXISTS (SELECT 1 FROM customer k
                                   WHERE k.c_custkey = c.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           CAST((SELECT count(DISTINCT c_nationkey) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM
                 (SELECT DISTINCT c_nationkey FROM customer) c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           CAST((SELECT count(DISTINCT l_suppkey) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM
                 (SELECT DISTINCT l_suppkey FROM lineitem) c
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = c.l_suppkey))
                AS BIGINT)
    """,
)
def dq_referential_integrity_report(spark, sf_dir):
    """FK orphan audit across four star-schema edges. Scale shape: each
    edge is one DISTINCT child-key aggregate (partial map-side) + one
    LEFT ANTI join — dimension-sized parents broadcast; fact-fact
    (lineitem→orders) shuffles once on the key; the report is 4 rows.
    At 100 TB this is the shape you want: key-grain relations, never
    row-grain fanout."""
    t = Tables(spark, sf_dir)
    edges = [
        (
            "lineitem.l_orderkey -> orders",
            t.lineitem.select(F.col("l_orderkey").alias("k")),
            t.orders.select(F.col("o_orderkey").alias("k")),
            False,
        ),
        (
            "orders.o_custkey -> customer",
            t.orders.select(F.col("o_custkey").alias("k")),
            t.customer.select(F.col("c_custkey").alias("k")),
            True,
        ),
        (
            "customer.c_nationkey -> nation",
            t.customer.select(F.col("c_nationkey").alias("k")),
            t.nation.select(F.col("n_nationkey").alias("k")),
            True,
        ),
        (
            "lineitem.l_suppkey -> supplier",
            t.lineitem.select(F.col("l_suppkey").alias("k")),
            t.supplier.select(F.col("s_suppkey").alias("k")),
            True,
        ),
    ]
    reports = []
    for name, child, parent, bc in edges:
        keys = child.distinct()
        orphans = keys.join(
            F.broadcast(parent) if bc else parent, "k", "left_anti"
        )
        reports.append(
            keys.agg(F.count(F.lit(1)).cast("long").alias("n_child_keys"))
            .crossJoin(
                orphans.agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
            )
            .select(
                F.lit(name).alias("fk_edge"), "n_child_keys", "n_orphans"
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@query(
    "agg_bitmap_distinct",
    # Exact distinct via Spark's bitmap aggregate family
    # (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg
    # / bitmap_or_agg / bitmap_count): the MERGEABLE exact-distinct
    # state — unlike a raw COUNT(DISTINCT), daily bitmap states OR
    # together, which is why warehouse rollups store bitmaps. Built
    # here as daily states merged to per-type totals; the oracle is the
    # plain distinct the bitmaps must equal exactly.
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """Scale shape: the per-(type, day, bucket) bitmap build is one
    map-side-combined aggregate whose state is a fixed-width bitmap
    (not a growing hash set); the daily→total merge is bitmap_or_agg
    over (type, bucket) — re-aggregation reads the SMALL state
    relation, never the fact table, which is the whole point at
    100 TB (same algebra as mv_incremental_refresh, exact instead of
    approximate unlike HLL)."""
    from distributed_query_engine_spark.catalog import Tables as _T

    ev = _T(spark, sf_dir).events
    ev.createOrReplaceTempView("ev_bitmap")
    return spark.sql(
        """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 bitmap_bucket_number(user_id) AS bucket,
                 bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
          FROM ev_bitmap
          GROUP BY event_type, CAST(ts AS DATE), bitmap_bucket_number(user_id)
        ),
        merged AS (
          SELECT event_type, bucket, bitmap_or_agg(bm) AS bm
          FROM daily GROUP BY event_type, bucket
        )
        SELECT event_type,
               CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_users
        FROM merged GROUP BY event_type
        """
    )
