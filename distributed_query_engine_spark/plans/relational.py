"""Relational core: scans, projection/filter, joins, aggregation, sort,
limit, set operations (SURVEY.md §2.3).

Reference parity notes: the reference evidences scans with column pruning
and predicate pushdown (``doRdbmsScan``/``pushToRdbms``,
``DistributedQueryEngine.diff:104-121``), record projection
(``RecordProj``, ``:82``), and — via the RAW query language [P] —
select-from-where-group-by-order-by, joins and nesting. Everything here is
declared with the DataFrame API so Catalyst plans the physical side
(broadcast vs sort-merge, partial aggregation, TakeOrderedAndProject);
per-query notes flag the 100 TB-relevant choices.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_query_engine_spark.catalog import Tables, local_rows
from distributed_query_engine_spark.functions.deterministic import (
    davg,
    dsum,
    sql_davg,
    sparksql_dsum,
    sql_dsum,
)
from distributed_query_engine_spark.registry import query

# ---------------------------------------------------------------------------
# Flagship: pricing-summary (TPC-H Q1 shape) — scan → filter → project →
# partial+final hash agg → sort, all in one whole-stage-codegen pipeline.
# At 100 TB this is the canonical map-side-combine query: the shuffle
# carries only |groups| × |partitions| rows.
# ---------------------------------------------------------------------------


@query(
    "flagship",
    oracle=lambda: f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def flagship(spark, sf_dir):
    l = Tables(spark, sf_dir).lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Scans (reference: RDBMSScan, DistributedQueryEngine.diff:140)
# ---------------------------------------------------------------------------


@query("scan_parquet", oracle="SELECT * FROM nation")
def scan_parquet(spark, sf_dir):
    return Tables(spark, sf_dir).nation


# ---------------------------------------------------------------------------
# Projection (reference: column pruning at diff:104-107; RecordProj at :82)
# ---------------------------------------------------------------------------


@query(
    "project_prune",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def project_prune(spark, sf_dir):
    # Catalyst ColumnPruning pushes this into the parquet scan: ReadSchema
    # in .explain() shows only these three columns are read off disk.
    l = Tables(spark, sf_dir).lineitem
    return l.select("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "project_struct_field",
    oracle="SELECT c_name AS name, c_acctbal AS acctbal FROM customer",
)
def project_struct_field(spark, sf_dir):
    # Nested-record projection (RecordProj e.idn): pack then project a
    # struct field; Catalyst collapses create_struct/getField to a no-op.
    c = Tables(spark, sf_dir).customer
    packed = c.select(F.struct("c_name", "c_acctbal").alias("rec"))
    return packed.select(
        F.col("rec.c_name").alias("name"), F.col("rec.c_acctbal").alias("acctbal")
    )


# ---------------------------------------------------------------------------
# Filters (reference: pushToRdbms, diff:121 — here: parquet PushedFilters)
# ---------------------------------------------------------------------------


@query(
    "filter_comparison",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_quantity > 45.0
    """,
)
def filter_comparison(spark, sf_dir):
    l = Tables(spark, sf_dir).lineitem
    return l.filter(F.col("l_quantity") > 45.0).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "filter_in",
    oracle="""
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def filter_in(spark, sf_dir):
    o = Tables(spark, sf_dir).orders
    return o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        "o_orderkey", "o_orderpriority"
    )


@query(
    "filter_like",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_mktsegment LIKE 'AUTO%' OR c_mktsegment LIKE '%ING'
    """,
)
def filter_like(spark, sf_dir):
    c = Tables(spark, sf_dir).customer
    return c.filter(
        F.col("c_mktsegment").like("AUTO%") | F.col("c_mktsegment").like("%ING")
    ).select("c_custkey", "c_mktsegment")


@query(
    "filter_null",
    oracle="""
    SELECT event_id, event_type FROM events
    WHERE NULLIF(event_type, 'click') IS NULL
    """,
)
def filter_null(spark, sf_dir):
    # IS NULL / null-safe predicate over a genuinely nullable expression.
    e = Tables(spark, sf_dir).events
    return e.filter(F.nullif(F.col("event_type"), F.lit("click")).isNull()).select(
        "event_id", "event_type"
    )


@query(
    "filter_between",
    oracle="""
    SELECT o_orderkey, o_orderdate FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1996-12-31 00:00:00'
    """,
)
def filter_between(spark, sf_dir):
    o = Tables(spark, sf_dir).orders
    return o.filter(
        F.col("o_orderdate").between("1996-01-01 00:00:00", "1996-12-31 00:00:00")
    ).select("o_orderkey", "o_orderdate")


@query(
    "filter_boolean_logic",
    oracle="""
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE (l_discount > 0.05 AND l_quantity < 10.0)
       OR NOT (l_returnflag = 'A')
    """,
)
def filter_boolean_logic(spark, sf_dir):
    l = Tables(spark, sf_dir).lineitem
    cond = ((F.col("l_discount") > 0.05) & (F.col("l_quantity") < 10.0)) | ~(
        F.col("l_returnflag") == "A"
    )
    return l.filter(cond).select("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# Joins. Physical strategy is Catalyst's call: dimension sides under the
# 10 MB broadcast threshold go broadcast-hash (no shuffle of the fact
# table); fact-fact joins go sort-merge on the join key. At 100 TB the
# decisive property is that the fact table shuffles at most once, on its
# join key.
# ---------------------------------------------------------------------------


@query(
    "join_inner_equi",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment, o.o_totalprice AS totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner_equi(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.orders.join(
        t.customer, t.orders.o_custkey == t.customer.c_custkey, "inner"
    ).select(
        "o_orderkey", "c_custkey", "c_mktsegment", F.col("o_totalprice").alias("totalprice")
    )


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    """,
)
def join_left(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.customer.join(
        t.orders, t.orders.o_custkey == t.customer.c_custkey, "left"
    ).select("c_custkey", "o_orderkey")


@query(
    "join_right",
    oracle="""
    SELECT p.p_partkey, l.l_orderkey
    FROM lineitem l RIGHT JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def join_right(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.join(
        t.part, t.lineitem.l_partkey == t.part.p_partkey, "right"
    ).select("p_partkey", "l_orderkey")


@query(
    "join_full",
    oracle="""
    SELECT c.c_custkey, s.s_suppkey, COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey
    FROM customer c FULL JOIN supplier s ON c.c_nationkey = s.s_nationkey
    """,
)
def join_full(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.customer.join(
        t.supplier, t.customer.c_nationkey == t.supplier.s_nationkey, "full"
    ).select(
        "c_custkey",
        "s_suppkey",
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.customer.join(
        t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 150000)
    """,
)
def join_anti(spark, sf_dir):
    # Anti join against a filtered subset (customers with no high-value
    # order) so the result is non-empty at every sf — an always-empty
    # result would vacuously match any oracle.
    t = Tables(spark, sf_dir)
    big = t.orders.filter(F.col("o_totalprice") > 150000)
    return t.customer.join(
        big, t.customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_broadcast",
    oracle="""
    SELECT n.n_name, COUNT(*) AS cust_cnt, {dsum} AS acctbal_sum
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """.format(dsum=sql_dsum("c.c_acctbal")),
)
def join_broadcast(spark, sf_dir):
    # Explicit broadcast hint: at 100 TB the fact side must NOT shuffle
    # for a 25-row dimension — pin the strategy rather than trusting
    # the size estimate.
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(
            F.broadcast(t.nation),
            t.customer.c_nationkey == t.nation.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("cust_cnt"),
            dsum("c_acctbal", "acctbal_sum"),
        )
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT b.label, COUNT(*) AS cnt
    FROM events e
    JOIN (VALUES ('low', -1e18, 25.0), ('mid', 25.0, 50.0),
                 ('high', 50.0, 75.0), ('top', 75.0, 1e18)) b(label, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.label
    """,
)
def join_theta_range(spark, sf_dir):
    # Pure inequality (band) join: tiny side broadcast → BroadcastNestedLoop
    # with only |bins| comparisons per row. The 100 TB-safe shape for
    # binning: never shuffle the fact table.
    e = Tables(spark, sf_dir).events
    bins = local_rows(
        spark,
        [("low", -1e18, 25.0), ("mid", 25.0, 50.0), ("high", 50.0, 75.0), ("top", 75.0, 1e18)],
        "label string, lo double, hi double",
    )
    return (
        e.join(F.broadcast(bins), (e.value >= bins.lo) & (e.value < bins.hi))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.region.crossJoin(t.nation).select("r_name", "n_name")


@query(
    "join_asof_event",
    oracle="""
    SELECT c.event_id, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def join_asof_event(spark, sf_dir):
    """As-of join (each click matched to the latest purchase at-or-before
    it, per user) — an operator Spark lacks natively. Implemented as the
    union + last(ignorenulls) window trick: one shuffle on user_id, no
    per-row lookups, no driver materialization — the scalable pattern
    (vs. a naive theta join which is O(clicks × purchases) per user)."""
    e = Tables(spark, sf_dir).events
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_click"),
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(None).cast("double").alias("p_value"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("is_click"),
        F.col("ts").alias("p_ts"), F.col("value").alias("p_value"),
    )
    # Order purchases before clicks at identical ts so "at-or-before"
    # (>=) semantics hold on ties.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).select(
        "event_id", "user_id", "ts", "is_click",
        F.last("p_ts", ignorenulls=True).over(w).alias("purchase_ts"),
        F.last("p_value", ignorenulls=True).over(w).alias("purchase_value"),
    )
    return merged.filter(
        (F.col("is_click") == 1) & F.col("purchase_ts").isNotNull()
    ).select(
        "event_id", "user_id", F.col("ts").alias("click_ts"),
        "purchase_ts", "purchase_value",
    )


@query(
    "join_asof_tolerance",
    oracle="""
    SELECT c.event_id, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    WHERE c.ts - p.ts <= INTERVAL '1 hour'
    """,
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a TOLERANCE bound (pandas ``merge_asof``'s
    ``tolerance=``): the latest purchase at-or-before each click counts
    only if it happened within the last hour — stale matches are
    discarded, not replaced by older ones (that is the asof contract:
    the candidate is the latest predecessor, then the bound applies).
    Same single-shuffle union + last(ignorenulls) window plan as
    join_asof_event; the tolerance is a post-window row filter, so the
    scale shape is unchanged."""
    base = join_asof_event(spark, sf_dir)
    return base.filter(
        F.col("click_ts") - F.col("purchase_ts") <= F.expr("interval 1 hour")
    )


# ---------------------------------------------------------------------------
# Aggregation (RAW QL group-by [P]; nested collections diff:227, :287)
# ---------------------------------------------------------------------------


@query(
    "agg_groupby_sum_avg_min_max_count",
    oracle=lambda: f"""
    SELECT event_type,
           COUNT(*) AS cnt,
           {sql_dsum('value')} AS value_sum,
           {sql_davg('value')} AS value_avg,
           MIN(value) AS value_min,
           MAX(value) AS value_max
    FROM events GROUP BY event_type
    """,
)
def agg_groupby_sum_avg_min_max_count(spark, sf_dir):
    e = Tables(spark, sf_dir).events
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("value", "value_sum"),
        davg("value", "value_avg"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark, sf_dir):
    o = Tables(spark, sf_dir).orders
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_count_distinct(spark, sf_dir):
    # HyperLogLog++ partial aggregation: constant memory per group vs the
    # exact count-distinct's shuffle expansion — the 100 TB default for
    # cardinality estimation. HLL sketches differ by engine, so the
    # oracle-checkable contract is: emit the exact count plus a boolean
    # asserting the HLL estimate (rsd=0.02) landed within 5% of it. The
    # sketch still executes; the output is engine-independent.
    l = Tables(spark, sf_dir).lineitem
    agg = l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", 0.02).alias("_approx"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("_approx") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("within_5pct"),
    )


@query(
    "agg_collect_nested",
    oracle="""
    SELECT n.n_name, string_agg(c.c_name, '|' ORDER BY c.c_name) AS customers
    FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def agg_collect_nested(spark, sf_dir):
    # RAW's nest: group rows into a nested collection value
    # (SqlCollectionType nesting, diff:227; `collection()` literals,
    # diff:287). collect_list is unordered across partitions → sort_array
    # for a canonical value.
    t = Tables(spark, sf_dir)
    return (
        t.nation.join(t.customer, t.customer.c_nationkey == t.nation.n_nationkey)
        .groupBy("n_name")
        # The nested collection is built distributed (collect_list →
        # sort_array), then joined to a '|'-separated string so the
        # top-level output column is a driver-hashable scalar.
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_list("c_name"))).alias(
                "customers"
            )
        )
    )


@query(
    "agg_rollup",
    oracle=lambda: f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS cnt, {sql_dsum('o_totalprice')} AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark, sf_dir):
    o = Tables(spark, sf_dir).orders
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice", "total")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark, sf_dir):
    l = Tables(spark, sf_dir).lineitem
    return l.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "agg_grouping_sets",
    oracle=lambda: f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           {sql_dsum('o_totalprice')} AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    o = Tables(spark, sf_dir).orders
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
               {sparksql_dsum('o_totalprice')} AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders FROM orders
    GROUP BY o_custkey HAVING COUNT(*) >= 5
    """,
)
def agg_having(spark, sf_dir):
    o = Tables(spark, sf_dir).orders
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 5)
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------


@query(
    "sort_orderby_multi",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ORDER BY c_mktsegment ASC, c_acctbal DESC NULLS LAST, c_custkey
    """,
)
def sort_orderby_multi(spark, sf_dir):
    c = Tables(spark, sf_dir).customer
    return c.select("c_custkey", "c_mktsegment", "c_acctbal").orderBy(
        F.col("c_mktsegment").asc(),
        F.col("c_acctbal").desc_nulls_last(),
        F.col("c_custkey").asc(),
    )


@query(
    "limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def limit_topk(spark, sf_dir):
    # Spark plans TakeOrderedAndProject: per-partition top-k then a k-way
    # driver merge — no global sort, the only sane shape at 100 TB.
    # o_orderkey tiebreak makes the result set deterministic.
    o = Tables(spark, sf_dir).orders
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer) WHERE rn <= 3
    """,
)
def topk_per_group(spark, sf_dir):
    # Single shuffle on the group key; rank truncation happens inside the
    # window operator (Spark inserts a WindowGroupLimit since 3.5, so
    # non-top rows are dropped before the sort buffer grows).
    c = Tables(spark, sf_dir).customer
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.select(
            "c_mktsegment", "c_custkey", "c_acctbal",
            # long to match ROW_NUMBER()'s BIGINT in the oracle — Spark's
            # row_number is int32 and the driver's value hash is
            # type-sensitive.
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "set_union_all",
    oracle="""
    SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 100000
    """,
)
def set_union_all(spark, sf_dir):
    o = Tables(spark, sf_dir).orders
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_orderkey").alias("okey"))
    b = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_orderkey").alias("okey"))
    return a.unionByName(b)


@query(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nkey FROM customer
    UNION
    SELECT s_nationkey AS nkey FROM supplier
    """,
)
def set_union_distinct(spark, sf_dir):
    t = Tables(spark, sf_dir)
    a = t.customer.select(F.col("c_nationkey").alias("nkey"))
    b = t.supplier.select(F.col("s_nationkey").alias("nkey"))
    return a.unionByName(b).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nkey FROM supplier
    """,
)
def set_intersect(spark, sf_dir):
    t = Tables(spark, sf_dir)
    a = t.customer.select(F.col("c_nationkey").alias("nkey"))
    b = t.supplier.select(F.col("s_nationkey").alias("nkey"))
    return a.intersect(b)


@query(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nkey FROM supplier
    """,
)
def set_except(spark, sf_dir):
    t = Tables(spark, sf_dir)
    a = t.customer.select(F.col("c_nationkey").alias("nkey"))
    b = t.supplier.select(F.col("s_nationkey").alias("nkey"))
    return a.exceptAll(b)


@query(
    "dedup_exact",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber DESC, l_partkey,
                                         l_suppkey, l_quantity) AS rn
      FROM lineitem) WHERE rn = 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact deduplication with a deterministic keep-rule (last line per
    order). dropDuplicates(subset) keeps an *arbitrary* row — fine for
    idempotent pipelines, wrong for reproducible ones — so the library
    form is the window rank-1 pattern: one shuffle on the dedup key.
    The ORDER BY is a total order within each key group (the synthetic
    lineitem has duplicate (orderkey, linenumber) pairs), otherwise the
    kept row is engine-dependent."""
    l = Tables(spark, sf_dir).lineitem
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_linenumber").desc(), "l_partkey", "l_suppkey", "l_quantity"
    )
    return (
        l.select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "limit_offset_pagination",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 20
    """,
)
def limit_offset_pagination(spark, sf_dir):
    """LIMIT + OFFSET pagination (page 3 of a leaderboard): Spark
    executes offset(k).limit(n) as a single take of the first k+n
    ordered rows with the first k dropped at the driver — the cost is
    page_number × page_size, which is why deep pagination on a cluster
    should switch to keyset pagination (WHERE sort_key < last_seen —
    the filter pushes to the scan and the cost stays one page). This
    query pins the OFFSET semantics; the keyset form is expressible
    with filter_comparison + limit_topk."""
    o = Tables(spark, sf_dir).orders
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(20)
        .limit(10)
    )


@query(
    "sort_within_partitions",
    # Order-insensitive driver compare: the CONTENT contract is just the
    # projected rows; the plan contract (local sort, no exchange) is
    # what the query exists to pin, asserted in test_plans.py.
    oracle="SELECT l_orderkey, l_shipdate, l_extendedprice FROM lineitem",
)
def sort_within_partitions(spark, sf_dir):
    """sortWithinPartitions — the write-optimization sort: orders rows
    INSIDE each partition with NO global exchange (a global orderBy
    range-partitions the full relation first). This is how you lay out
    files for downstream range-pruning — parquet min/max stats per
    row group become selective when each file is locally sorted on the
    filter key — at exactly zero shuffle cost. The plan is asserted
    Exchange-free with a Sort node marked non-global."""
    l = Tables(spark, sf_dir).lineitem
    return l.select("l_orderkey", "l_shipdate", "l_extendedprice").sortWithinPartitions(
        "l_shipdate"
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH c AS (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
      FROM customer
    ),
    d AS (
      SELECT NULLIF(s, 'NONE') AS seg, label FROM (VALUES
        ('AUTOMOBILE', 'cars'), ('MACHINERY', 'machines'),
        ('NONE', 'unsegmented')) AS t(s, label)
    )
    SELECT d.label, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM c JOIN d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.label
    """,
)
def join_null_safe_eq(spark, sf_dir):
    """NULL-SAFE EQUALITY JOIN (``<=>`` / IS NOT DISTINCT FROM): the
    join variant where NULL matches NULL — here customers whose
    segment was nulled (BUILDING → NULL) still land on the
    'unsegmented' dimension row instead of silently dropping out, the
    exact trap a plain equi join springs on nullable keys. Spark plans
    ``<=>`` as a HASH join key (null-safe keys hash like values), so
    the shape stays a broadcast hash join — no degradation to a
    nested-loop over the null rows."""
    c = Tables(spark, sf_dir).customer.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    d = local_rows(
        c.sparkSession,
        [("AUTOMOBILE", "cars"), ("MACHINERY", "machines"), (None, "unsegmented")],
        "seg string, label string",
    )
    return (
        c.join(F.broadcast(d), c.seg.eqNullSafe(d.seg))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_asof_nearest",
    # pandas merge_asof(direction='nearest', tolerance=1h): the purchase
    # with MINIMUM |Δts| within ±1 hour; ties broken backward-first
    # (the asof convention), then by purchase ts. The oracle brute-
    # forces candidates inside the bounded ±1h window — bounded, so the
    # theta join stays linear-ish in matches.
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    cand AS (
      SELECT c.event_id, c.user_id,
             c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value,
             row_number() OVER (PARTITION BY c.event_id ORDER BY
                abs(epoch_us(c.ts) - epoch_us(p.ts)),
                CASE WHEN p.ts <= c.ts THEN 0 ELSE 1 END,
                p.ts,
                CASE WHEN p.ts <= c.ts THEN -p.value ELSE p.value END) AS rn
      FROM c JOIN p ON p.user_id = c.user_id
       AND p.ts >= c.ts - INTERVAL 1 HOUR
       AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    SELECT event_id, user_id,
           CAST(click_ts AS TIMESTAMP) AS click_ts,
           CAST(purchase_ts AS TIMESTAMP) AS purchase_ts,
           purchase_value
    FROM cand WHERE rn = 1
    """,
)
def join_asof_nearest(spark, sf_dir):
    """NEAREST-direction as-of join with tolerance (the third asof
    flavor after backward and backward+tolerance): one union + window
    pass computes BOTH the latest-predecessor and earliest-successor
    purchase per click, then a row-local chooser picks the nearer one
    inside ±1 hour (tie → backward). Same single user_id shuffle as
    join_asof_event — never the O(clicks × purchases) theta join the
    oracle uses (the oracle can afford it: its window is bounded)."""
    e = Tables(spark, sf_dir).events
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_click"),
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(None).cast("double").alias("p_value"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("is_click"),
        F.col("ts").alias("p_ts"), F.col("value").alias("p_value"),
    )
    # p_value is a deterministic FINAL tie-breaker for two purchases at
    # the identical (user_id, ts) (r12 ADVICE): with one shared asc
    # ordering, last() (backward) picks the max value and first()
    # (forward) the min — the oracle mirrors that with its direction-
    # signed CASE key. One ordering for both frames keeps a single sort.
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "p_value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "p_value")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = clicks.unionByName(purchases).select(
        "event_id", "user_id", "ts", "is_click",
        F.last("p_ts", ignorenulls=True).over(wb).alias("b_ts"),
        F.last("p_value", ignorenulls=True).over(wb).alias("b_value"),
        F.first("p_ts", ignorenulls=True).over(wf).alias("f_ts"),
        F.first("p_value", ignorenulls=True).over(wf).alias("f_value"),
    ).filter(F.col("is_click") == 1)
    us = F.unix_micros
    tol = 3_600_000_000  # 1 hour in microseconds
    diff_b = us(F.col("ts")) - us(F.col("b_ts"))
    diff_f = us(F.col("f_ts")) - us(F.col("ts"))
    valid_b = F.col("b_ts").isNotNull() & (diff_b <= tol)
    valid_f = F.col("f_ts").isNotNull() & (diff_f <= tol)
    pick_b = valid_b & (~valid_f | (diff_b <= diff_f))
    out = merged.select(
        "event_id", "user_id", F.col("ts").alias("click_ts"),
        F.when(pick_b, F.col("b_ts"))
        .when(valid_f, F.col("f_ts"))
        .alias("purchase_ts"),
        F.when(pick_b, F.col("b_value"))
        .when(valid_f, F.col("f_value"))
        .alias("purchase_value"),
    )
    return out.filter(F.col("purchase_ts").isNotNull())
