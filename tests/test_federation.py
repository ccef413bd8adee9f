"""Multi-vendor federation layer: dialect dispatch, registry JSON
round-trip, Hive DESCRIBE schema inference (reference
DistributedQueryEngine.diff:20-66,113-127,230-247). The executable
Derby path is covered by the `scan_jdbc_dialect_dispatch` oracle query;
these tests pin the Hive-side behavior no in-container server can
exercise."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from distributed_query_engine_spark import federation as FED


def test_vendor_from_connection_string():
    # reference vendorFromConnStr: chars between "jdbc:" and next ":"
    assert FED.vendor_from_connection_string("jdbc:hive2://h:10000/db") == "hive2"
    assert FED.vendor_from_connection_string("jdbc:postgresql://h:5432/db") == "postgresql"
    assert FED.vendor_from_connection_string("jdbc:derby:/tmp/db;create=true") == "derby"
    with pytest.raises(ValueError):
        FED.vendor_from_connection_string("hive2://no-jdbc-prefix")


def test_connection_strings_match_reference_shapes():
    hive = FED.make_database(FED.HIVE, name="w", host="h", port=10000, database="default")
    assert hive.connection_string() == "jdbc:hive2://h:10000/default"  # diff:61
    assert hive.driver == "org.apache.hive.jdbc.HiveDriver"  # diff:58
    pg = FED.make_database(FED.POSTGRESQL, name="p", host="h", port=5432, database="db")
    assert pg.connection_string() == "jdbc:postgresql://h:5432/db"  # diff:46


def test_dialect_dispatch_hive_backticks_vs_ansi_quotes():
    # the generateSql vendor match (diff:117-127): hive2 -> backticks
    hive_sql = FED.dialect_for("jdbc:hive2://h:10000/default").select_sql(
        "table1", columns=["id", "name"], predicates=["id >= 10"]
    )
    assert hive_sql == "SELECT `id`, `name` FROM `table1` WHERE (id >= 10)"
    ansi_sql = FED.dialect_for("jdbc:postgresql://h:5432/db").select_sql(
        "table1", columns=["id", "name"], predicates=["id >= 10"]
    )
    assert ansi_sql == 'SELECT "id", "name" FROM "table1" WHERE (id >= 10)'
    # schema-qualified target (reference rdbms(name, db, schema, table))
    assert (
        FED.dialect_for("jdbc:hive2://h:1/d").select_sql("t", schema="default")
        == "SELECT * FROM `default`.`t`"
    )


def test_registry_json_roundtrip_and_vendor_factory():
    reg = FED.RdbmsRegistry()
    reg.register(
        FED.make_database(FED.HIVE, name="w", host="h", port=10000, database="default")
    )
    reg.register(FED.make_database(FED.DERBY, name="d", host="", port=0, database="/tmp/x"))
    back = FED.RdbmsRegistry.from_json(reg.to_json())
    assert back.names() == ["d", "w"]
    assert back.get("w").vendor == FED.HIVE
    assert back.get("w").driver == "org.apache.hive.jdbc.HiveDriver"
    assert back.get("w").connection_string() == "jdbc:hive2://h:10000/default"
    with pytest.raises(KeyError, match="Could not find database entry"):
        back.get("missing")
    with pytest.raises(ValueError, match="Unknown database vendor"):
        FED.make_database("sqlite", name="x", host="h", port=1, database="d")


# One registry entry per vendor exactly as ``to_json`` wrote it while each
# vendor was its own class: every entry carries a ``driver`` key.
_REGISTRY_JSON_WITH_DRIVER_KEYS = (
    '[{"database": "db", "driver": "org.postgresql.Driver", "host": "h", '
    '"name": "pg", "password": "p", "port": 5432, "properties": {}, '
    '"username": "u", "vendor": "postgresql"}, '
    '{"database": "db", "driver": "com.mysql.cj.jdbc.Driver", "host": "h", '
    '"name": "my", "password": null, "port": 3306, "properties": {}, '
    '"username": null, "vendor": "mysql"}, '
    '{"database": "XEPDB1", "driver": "oracle.jdbc.OracleDriver", "host": "h", '
    '"name": "ora", "password": null, "port": 1521, "properties": {}, '
    '"username": null, "vendor": "oracle"}, '
    '{"database": "default", "driver": "org.apache.hive.jdbc.HiveDriver", '
    '"host": "h", "name": "wh", "password": null, "port": 10000, '
    '"properties": {"ssl": "true"}, "username": null, "vendor": "apache-hive"}, '
    '{"database": "/tmp/x", "driver": "org.apache.derby.jdbc.EmbeddedDriver", '
    '"host": "", "name": "dy", "password": null, "port": 0, "properties": {}, '
    '"username": null, "vendor": "derby"}, '
    '{"database": "/data/x.db", "driver": "org.duckdb.DuckDBDriver", "host": "", '
    '"name": "dk", "password": null, "port": 0, "properties": {}, '
    '"username": null, "vendor": "duckdb"}]'
)


def test_registry_json_with_driver_keys_still_loads():
    reg = FED.RdbmsRegistry.from_json(_REGISTRY_JSON_WITH_DRIVER_KEYS)
    got = {
        n: (reg.get(n).vendor, reg.get(n).driver, reg.get(n).connection_string())
        for n in reg.names()
    }
    assert got == {
        "pg": ("postgresql", "org.postgresql.Driver", "jdbc:postgresql://h:5432/db"),
        "my": ("mysql", "com.mysql.cj.jdbc.Driver", "jdbc:mysql://h:3306/db"),
        "ora": (
            "oracle", "oracle.jdbc.OracleDriver", "jdbc:oracle:thin:@h:1521/XEPDB1"
        ),
        "wh": (
            "apache-hive",
            "org.apache.hive.jdbc.HiveDriver",
            "jdbc:hive2://h:10000/default",
        ),
        "dy": (
            "derby",
            "org.apache.derby.jdbc.EmbeddedDriver",
            "jdbc:derby:/tmp/x;create=true",
        ),
        "dk": ("duckdb", "org.duckdb.DuckDBDriver", "jdbc:duckdb:/data/x.db"),
    }
    pg = reg.get("pg")
    assert (pg.username, pg.password) == ("u", "p")
    assert reg.get("wh").jdbc_properties() == {
        "driver": "org.apache.hive.jdbc.HiveDriver", "ssl": "true"
    }
    # the derived driver is not state: a round trip stays equal without it
    again = FED.RdbmsRegistry.from_json(reg.to_json())
    assert all(again.get(n) == reg.get(n) for n in reg.names())


def test_hive_describe_schema_maps_types_and_skips_banners():
    rows = [
        ("id", "int"),
        ("name", "varchar(64)"),
        ("seen", "timestamp"),
        ("amount", "decimal(12,2)"),
        ("", ""),  # Hive partition-info banner separator
        ("# Partition Information", ""),
        ("# col_name", "data_type"),
    ]
    schema = FED.hive_describe_schema(rows)
    assert schema == T.StructType(
        [
            T.StructField("id", T.IntegerType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("seen", T.TimestampType(), True),
            T.StructField("amount", T.DecimalType(12, 2), True),
        ]
    )
    # Complex types parse recursively; TIME coerces to timestamp;
    # anything unrecognized lands on a CONCRETE StringType instead of
    # throwing — the reference's MatchError gap (diff:237-243) that
    # SURVEY.md's watch-list says not to reproduce.
    assert FED.hive_type_to_spark("array<int>") == T.ArrayType(
        T.IntegerType(), True
    )
    assert FED.hive_type_to_spark("map<string,bigint>") == T.MapType(
        T.StringType(), T.LongType(), True
    )
    assert FED.hive_type_to_spark(
        "struct<a:int,b:array<double>>"
    ) == T.StructType(
        [
            T.StructField("a", T.IntegerType(), True),
            T.StructField("b", T.ArrayType(T.DoubleType(), True), True),
        ]
    )
    assert FED.hive_type_to_spark("time") == T.TimestampType()
    with pytest.warns(UserWarning, match="unknown Hive type"):
        assert (
            FED.hive_type_to_spark("uniontype<int,string>") == T.StringType()
        )


def test_hive_parameterized_types_nested_in_complex_types():
    # DESCRIBE emits e.g. struct<a:decimal(12,2),b:int> — the comma
    # inside decimal(12,2) is NOT a field separator. _split_top_level
    # must track '(' / ')' depth alongside '<' / '>' (ADVICE r3).
    assert FED.hive_type_to_spark(
        "struct<a:decimal(12,2),b:int>"
    ) == T.StructType(
        [
            T.StructField("a", T.DecimalType(12, 2), True),
            T.StructField("b", T.IntegerType(), True),
        ]
    )
    assert FED.hive_type_to_spark("map<string,decimal(10,2)>") == T.MapType(
        T.StringType(), T.DecimalType(10, 2), True
    )
    assert FED.hive_type_to_spark(
        "array<struct<x:varchar(64),y:decimal(38,18)>>"
    ) == T.ArrayType(
        T.StructType(
            [
                T.StructField("x", T.StringType(), True),
                T.StructField("y", T.DecimalType(38, 18), True),
            ]
        ),
        True,
    )
    assert FED._split_top_level("a:decimal(12,2),b:map<string,int>") == [
        "a:decimal(12,2)",
        "b:map<string,int>",
    ]


def test_jdbc_v2_limit_not_pushed_to_derby(spark, sf_dir):
    """Regression guard for a measured wrong-results bug: with Spark's
    default pushDownLimit=true, .limit(k) over the Derby-backed
    JDBCTableCatalog plans `PushedTopN`, drops the local TakeOrdered,
    and the remote returns the UNLIMITED relation (limit(3) -> 100
    rows). scan_jdbc_agg_pushdown disables limit pushdown on its
    catalog; this pins both the row count and the absence of the
    pushed-TopN marker."""
    from distributed_query_engine_spark.registry import all_queries

    # seed the Derby db + catalog via the query itself
    all_queries()["scan_jdbc_agg_pushdown"](spark, sf_dir).collect()
    cat = "fed_agg_" + sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    fed = spark.table(f"{cat}.APP.SUPPLIER_AGG")
    q = fed.orderBy("s_suppkey").limit(3)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedTopN" not in plan and "PushedLimit" not in plan, plan
    assert len(q.collect()) == 3


def test_user_scoped_registry_isolates_credentials():
    # reference: UserManagers(config).getClient(user).getRDBMSServer(db)
    # (diff:109-114) — same db name, different credentials per user.
    users = FED.UserScopedRegistry()
    users.register(
        "alice",
        FED.make_database(
            FED.POSTGRESQL,
            name="wh", host="h1", port=5432, database="db", username="alice"
        ),
    )
    users.register(
        "bob",
        FED.make_database(
            FED.POSTGRESQL,
            name="wh", host="h2", port=5432, database="db", username="bob"
        ),
    )
    assert users.get("alice", "wh").username == "alice"
    assert users.get("alice", "wh").host == "h1"
    assert users.get("bob", "wh").username == "bob"
    assert users.get("bob", "wh").host == "h2"
    # no cross-user fallthrough: carol sees nothing — and the failed
    # probe must NOT create state (users() is an audit listing; unknown
    # or attacker-supplied names growing it unboundedly would be a leak)
    with pytest.raises(KeyError, match=r"wh \(user: carol\)"):
        users.get("carol", "wh")
    assert users.users() == ["alice", "bob"]
    # the unknown-user view is read-only: registering through it must
    # raise instead of silently mutating a detached registry
    with pytest.raises(TypeError, match="read-only"):
        users.for_user("carol").register(
            FED.make_database(
                FED.POSTGRESQL,
                name="wh", host="h3", port=5432, database="db", username="c"
            )
        )
    assert users.users() == ["alice", "bob"]


def test_failed_inference_returns_result_not_raise(spark):
    # reference FailedInference (diff:154,195): inference failure is a
    # pattern-matchable VALUE, not a raw exception.
    ok = FED.try_hive_describe_schema([("id", "int")])
    assert ok.ok and ok.schema == T.StructType(
        [T.StructField("id", T.IntegerType(), True)]
    )
    bad = FED.try_hive_describe_schema([("id", "int", "extra", "arity")])
    assert not bad.ok and bad.schema is None
    assert "hive DESCRIBE inference failed" in bad.error

    unreachable = FED.try_jdbc_metadata_schema(
        spark,
        "jdbc:derby:/nonexistent/dir/that/cannot/be/created/x",
        "t",
        {"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    assert not unreachable.ok and unreachable.schema is None
    assert "jdbc metadata inference failed" in unreachable.error


def test_mysql_oracle_vendor_matrix_golden():
    # VERDICT r7 item 6: the reference names MYSQL/ORACLE vendor slots
    # (diff:50-51) but no in-container server exists — pin each
    # vendor's URL construction, driver class, quoting, and paging
    # form as golden strings so the matrix is tested wire-free.
    my = FED.make_database(FED.MYSQL, name="m", host="h", port=3306, database="db")
    assert my.connection_string() == "jdbc:mysql://h:3306/db"
    assert my.driver == "com.mysql.cj.jdbc.Driver"
    assert FED.vendor_from_connection_string(my.connection_string()) == "mysql"

    ora = FED.make_database(FED.ORACLE, name="o", host="h", port=1521, database="XEPDB1")
    assert ora.connection_string() == "jdbc:oracle:thin:@h:1521/XEPDB1"
    assert ora.driver == "oracle.jdbc.OracleDriver"
    assert FED.vendor_from_connection_string(ora.connection_string()) == "oracle"

    # MySQL: backticks + classic LIMIT offset, count
    my_d = FED.dialect_for(my.connection_string())
    assert (
        my_d.select_sql("t", columns=["id"], predicates=["id > 3"],
                        limit=10, offset=20)
        == "SELECT `id` FROM `t` WHERE (id > 3) LIMIT 20, 10"
    )
    assert my_d.select_sql("t", limit=5) == "SELECT * FROM `t` LIMIT 5"

    # Oracle: double quotes + OFFSET/FETCH (no LIMIT keyword exists)
    ora_d = FED.dialect_for(ora.connection_string())
    assert (
        ora_d.select_sql("t", columns=["id"], predicates=["id > 3"],
                         limit=10, offset=20)
        == 'SELECT "id" FROM "t" WHERE (id > 3) '
           "OFFSET 20 ROWS FETCH NEXT 10 ROWS ONLY"
    )
    assert "LIMIT" not in ora_d.select_sql("t", limit=5)

    # registry JSON round-trip preserves both vendor tags
    reg = FED.RdbmsRegistry()
    reg.register(my)
    reg.register(ora)
    back = FED.RdbmsRegistry.from_json(reg.to_json())
    assert (back.get("m").vendor, back.get("m").driver) == (
        FED.MYSQL, "com.mysql.cj.jdbc.Driver"
    )
    assert (back.get("o").vendor, back.get("o").driver) == (
        FED.ORACLE, "oracle.jdbc.OracleDriver"
    )
    assert back.get("o").connection_string() == ora.connection_string()


def test_paging_forms_across_remaining_vendors():
    # Hive shares MySQL's LIMIT form; Postgres/Derby take the ANSI
    # OFFSET/FETCH base. Offset-without-limit (r9 ADVICE): Hive has no
    # unbounded idiom so it must REFUSE (a finite cap silently
    # truncates past it); MySQL uses its manual's documented 2^64-1
    # idiom; Spark-Thrift emits a standalone OFFSET clause.
    hive = FED.dialect_for("jdbc:hive2://h:10000/d")
    assert hive.paginate_clause(7, 3) == "LIMIT 3, 7"
    with pytest.raises(ValueError, match="cannot express OFFSET") as err:
        hive.paginate_clause(None, 3)
    assert 'dialect_for("jdbc:mysql:…")' in str(err.value)
    my = FED.dialect_for("jdbc:mysql://h:3306/d")
    assert my.paginate_clause(None, 3) == "LIMIT 3, 18446744073709551615"
    assert my.paginate_clause(None, 0) == ""
    sp = FED.dialect_for("jdbc:hive2://h:10000/d", flavor="spark")
    assert sp.paginate_clause(None, 3) == "OFFSET 3"
    pg = FED.dialect_for("jdbc:postgresql://h:5432/d")
    assert pg.paginate_clause(7, 3) == "OFFSET 3 ROWS FETCH NEXT 7 ROWS ONLY"
    assert pg.paginate_clause(7) == "FETCH NEXT 7 ROWS ONLY"
    derby = FED.dialect_for("jdbc:derby:/tmp/x")
    assert derby.paginate_clause(1, 0) == "FETCH NEXT 1 ROWS ONLY"


def test_oracle11g_rownum_paging_goldens():
    """VERDICT r13 item 8: the pre-12c Oracle paging grammar — an 11g
    endpoint rejects OFFSET/FETCH at parse time, and the naive
    ``WHERE ROWNUM > n`` returns zero rows — so every form is a golden
    string against the documented nested-ROWNUM idiom."""
    d = FED.dialect_for("jdbc:oracle:thin:@h:1521/X", flavor="oracle11g")
    # limit-only: single wrap, cap via ROWNUM on the ordered inner query
    assert d.select_sql("emp", columns=["id"], limit=5, order_by=["id"]) == (
        'SELECT * FROM (SELECT "id" FROM "emp" ORDER BY "id") '
        "WHERE ROWNUM <= 5"
    )
    # offset+limit: double wrap; the cap (offset+limit) sits on the
    # MIDDLE query (early scan stop), the outer filter uses the
    # materialized rnum_ alias and projects it away
    assert d.select_sql(
        "emp", columns=["id", "name"], limit=2, offset=4, order_by=["id"]
    ) == (
        'SELECT "id", "name" FROM (SELECT t.*, ROWNUM rnum_ FROM '
        '(SELECT "id", "name" FROM "emp" ORDER BY "id") t '
        "WHERE ROWNUM <= 6) WHERE rnum_ > 4"
    )
    # offset-only: no middle cap — all rows past the offset
    assert d.select_sql(
        "emp", columns=["id"], offset=4, order_by=["id"]
    ) == (
        'SELECT "id" FROM (SELECT t.*, ROWNUM rnum_ FROM '
        '(SELECT "id" FROM "emp" ORDER BY "id") t) WHERE rnum_ > 4'
    )
    # reserved words + embedded quotes keep ANSI doubling inside the
    # ROWNUM wrappers (the quoting layer must survive the nesting)
    assert d.select_sql(
        "group", columns=['a"b'], schema="public", limit=1, order_by=['a"b']
    ) == (
        'SELECT * FROM (SELECT "a""b" FROM "public"."group" '
        'ORDER BY "a""b") WHERE ROWNUM <= 1'
    )
    # no paging -> plain inner query, no wrap
    assert d.select_sql("emp", columns=["id"]) == 'SELECT "id" FROM "emp"'
    # '*' projection cannot exclude the helper column: refuse loudly
    with pytest.raises(ValueError, match="explicit column list"):
        d.select_sql("emp", offset=4, order_by=["id"])
    # multi-page without order_by warns like every other dialect
    with pytest.warns(UserWarning, match="without order_by"):
        d.select_sql("emp", columns=["id"], limit=2, offset=4)
    # flavor validation mirrors the spark-flavor rules
    with pytest.raises(ValueError, match="only applies to jdbc:oracle"):
        FED.dialect_for("jdbc:mysql://h:3306/d", flavor="oracle11g")


def test_oracle11g_has_no_paging_clause():
    # The ROWNUM grammar wraps the whole SELECT, so there is no clause to
    # hand out; the 12c+ OFFSET/FETCH clause would be rejected by an 11g
    # server at parse time.
    d = FED.dialect_for("jdbc:oracle:thin:@h:1521/X", flavor="oracle11g")
    for limit, offset in ((5, 10), (5, 0), (None, 10)):
        with pytest.raises(ValueError, match="select_sql"):
            d.paginate_clause(limit, offset)
    # the 12c+ dialect keeps its clause
    assert FED.dialect_for("jdbc:oracle:thin:@h:1521/X").paginate_clause(5, 10) == (
        "OFFSET 10 ROWS FETCH NEXT 5 ROWS ONLY"
    )


def test_mysql_backtick_limit_interplay_goldens():
    """VERDICT r13 item 8: MySQL's backtick quoting composed with every
    LIMIT form — reserved words, embedded backticks, and the comma
    paging grammar in ONE statement (the interplay class, not the
    clauses in isolation)."""
    my = FED.dialect_for("jdbc:mysql://h:3306/d")
    # reserved word + embedded backtick + offset paging
    assert my.select_sql(
        "order", columns=["limit", "we`ird"], limit=10, offset=20,
        order_by=["limit"],
    ) == (
        "SELECT `limit`, `we``ird` FROM `order` "
        "ORDER BY `limit` LIMIT 20, 10"
    )
    # limit without offset: plain LIMIT n (no comma form)
    assert my.select_sql("t", columns=["a"], limit=3) == (
        "SELECT `a` FROM `t` LIMIT 3"
    )
    # offset without limit: the manual's unbounded idiom, composed with
    # schema + predicate + order
    assert my.select_sql(
        "t", columns=["a"], predicates=["a > 1"], schema="db2",
        offset=7, order_by=["a"],
    ) == (
        "SELECT `a` FROM `db2`.`t` WHERE (a > 1) "
        "ORDER BY `a` LIMIT 7, 18446744073709551615"
    )
    # LIMIT 0 is valid MySQL (schema-probe idiom) and must not be
    # confused with "no limit"
    assert my.select_sql("t", columns=["a"], limit=0) == (
        "SELECT `a` FROM `t` LIMIT 0"
    )


def test_dialect_flavor_validated_and_unordered_paging_warns():
    # r9 ADVICE: a typo'd flavor or flavor='spark' on a non-hive2 URL
    # used to fall through silently to a dialect the endpoint rejects
    # only at query time.
    with pytest.raises(ValueError, match="unknown dialect flavor"):
        FED.dialect_for("jdbc:hive2://h:10000/d", flavor="Spark")
    with pytest.raises(ValueError, match="unknown dialect flavor"):
        FED.dialect_for("jdbc:hive2://h:10000/d", flavor="sparksql")
    with pytest.raises(ValueError, match="only applies to jdbc:hive2"):
        FED.dialect_for("jdbc:mysql://h:3306/d", flavor="spark")
    # r9 ADVICE: paged scans without ORDER BY are nondeterministic
    # across executions — select_sql warns (but still emits the SQL).
    d = FED.dialect_for("jdbc:postgresql://h:5432/d")
    with pytest.warns(UserWarning, match="without order_by"):
        sql = d.select_sql("t", limit=5, offset=10)
    assert sql.endswith("OFFSET 10 ROWS FETCH NEXT 5 ROWS ONLY")
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")  # ordered paging must NOT warn
        d.select_sql("t", order_by=["id"], limit=5, offset=10)
        # r10 ADVICE: a single-page LIMIT without OFFSET is a
        # legitimate unordered sample — it must NOT warn either (the
        # instability is strictly the offset > 0 multi-page case)
        one_page = d.select_sql("t", limit=5)
    assert one_page.endswith("FETCH NEXT 5 ROWS ONLY")


def test_live_thrift_paged_scan_spark_flavor(spark, sf_dir):
    # r8 review catch: the Hive dialect's comma paging form ('LIMIT o, n')
    # is correct HiveQL but the repo's live jdbc:hive2:// endpoint is
    # Spark's Thrift server, which rejects it. Prove the declared
    # Spark flavor works over the real wire: ORDER BY + LIMIT/OFFSET
    # pushed through the live server returns exactly the page.
    from distributed_query_engine_spark.catalog import Tables

    port = FED.start_thrift_server(spark)
    Tables(spark, sf_dir).nation.createOrReplaceGlobalTempView(
        "nation_hive2_paged"
    )
    reg = FED.RdbmsRegistry()
    reg.register(
        FED.make_database(
            FED.HIVE, name="spark_thrift", host="localhost", port=port,
            database="default",
        )
    )
    df = FED.federated_scan(
        spark,
        reg,
        "spark_thrift",
        "nation_hive2_paged",
        columns=["n_nationkey", "n_name"],
        session_conf={"spark.sql.ansi.doubleQuotedIdentifiers": "true"},
        schema="global_temp",
        limit=5,
        offset=10,
        order_by=["n_nationkey"],
        flavor="spark",
    )
    rows = sorted((r.n_nationkey for r in df.collect()))
    assert rows == [10, 11, 12, 13, 14]
    # and the generated SQL forms differ exactly as documented
    url = reg.get("spark_thrift").connection_string()
    spark_sql = FED.dialect_for(url, flavor="spark").select_sql(
        "t", limit=5, offset=10, order_by=["k"]
    )
    hive_sql = FED.dialect_for(url).select_sql(
        "t", limit=5, offset=10, order_by=["k"]
    )
    assert spark_sql.endswith("ORDER BY `k` LIMIT 5 OFFSET 10")
    assert hive_sql.endswith("ORDER BY `k` LIMIT 10, 5")


def test_user_scoped_registry_resolves_to_live_per_user_derby(spark, tmp_path):
    """VERDICT r10 item 5 — per-user catalog isolation AT QUERY TIME,
    not just registry unit-semantics: the SAME connector name ('wh')
    resolves through UserScopedRegistry.for_user to two DIFFERENT live
    embedded-Derby databases (reference: UserManagers(config)
    .getClient(user).getRDBMSServer(dbName), diff:109-114), and the
    federated scan each user runs returns that user's rows only."""
    users = FED.UserScopedRegistry()
    seeds = {"alice": [(1, "alpha"), (2, "amber")], "bob": [(7, "bravo")]}
    for user, rows in seeds.items():
        db = FED.make_database(
            FED.DERBY, name="wh", host="", port=0, database=str(tmp_path / f"derby_{user}")
        )
        df = spark.createDataFrame(rows, "k int, v string")
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("driver", db.driver)
            .option("createTableColumnTypes", "v VARCHAR(16)")
            .jdbc(db.connection_string(), "items", properties=db.jdbc_properties())
        )
        users.register(user, db)
    got = {
        user: sorted(
            (r["k"], r["v"])
            for r in FED.federated_scan(
                spark, users.for_user(user), "wh", "ITEMS", columns=["k", "v"]
            ).collect()
        )
        for user in seeds
    }
    assert got == {"alice": [(1, "alpha"), (2, "amber")], "bob": [(7, "bravo")]}
    # the frozen empty view for an unknown user cannot reach either db
    with pytest.raises(KeyError):
        FED.federated_scan(spark, users.for_user("carol"), "wh", "ITEMS")


@pytest.mark.parametrize(
    "url,flavor,q,expected",
    [
        # ANSI family (Postgres / Oracle / Derby): embedded double
        # quotes double, backticks pass through literally.
        ("jdbc:postgresql://h:5432/d", None, 'we"ird', '"we""ird"'),
        ("jdbc:postgresql://h:5432/d", None, "with`tick", '"with`tick"'),
        ("jdbc:oracle:thin:@h:1521/X", None, 'a"b"c', '"a""b""c"'),
        ("jdbc:derby:/tmp/x", None, 'we"ird', '"we""ird"'),
        # backtick family (Hive / MySQL / Spark-Thrift): embedded
        # backticks double, double quotes pass through literally.
        ("jdbc:hive2://h:10000/d", None, "we`ird", "`we``ird`"),
        ("jdbc:mysql://h:3306/d", None, "we`ird", "`we``ird`"),
        ("jdbc:mysql://h:3306/d", None, 'with"quote', '`with"quote`'),
        ("jdbc:hive2://h:10000/d", "spark", "we`ird", "`we``ird`"),
    ],
)
def test_identifier_quoting_edge_cases_per_vendor(url, flavor, q, expected):
    """VERDICT r12 item 4: the exact surface the reference hand-rolls at
    diff:58-66 — embedded quote characters must DOUBLE inside the
    vendor's own quote style and pass through literally inside the
    other style, so a hostile/unlucky identifier can never break out of
    its quoting."""
    assert FED.dialect_for(url, flavor=flavor).quote(q) == expected


@pytest.mark.parametrize(
    "url,expected",
    [
        (
            "jdbc:postgresql://h:5432/d",
            'SELECT "select", "order" FROM "public"."group" '
            "WHERE (x > 1) AND (y < 2) "
            'ORDER BY "order" OFFSET 4 ROWS FETCH NEXT 2 ROWS ONLY',
        ),
        (
            "jdbc:oracle:thin:@h:1521/X",
            'SELECT "select", "order" FROM "public"."group" '
            "WHERE (x > 1) AND (y < 2) "
            'ORDER BY "order" OFFSET 4 ROWS FETCH NEXT 2 ROWS ONLY',
        ),
        (
            "jdbc:mysql://h:3306/d",
            "SELECT `select`, `order` FROM `public`.`group` "
            "WHERE (x > 1) AND (y < 2) "
            "ORDER BY `order` LIMIT 4, 2",
        ),
        (
            "jdbc:hive2://h:10000/d",
            "SELECT `select`, `order` FROM `public`.`group` "
            "WHERE (x > 1) AND (y < 2) "
            "ORDER BY `order` LIMIT 4, 2",
        ),
    ],
)
def test_select_sql_golden_reserved_words_per_vendor(url, expected):
    """Reserved words used as schema/table/column names must come out
    quoted in every clause (SELECT list, FROM target, ORDER BY), with
    the vendor's full paging grammar appended — one golden string per
    vendor so any quoting/paging regression diffs loudly."""
    sql = FED.dialect_for(url).select_sql(
        "group",
        columns=["select", "order"],
        predicates=["x > 1", "y < 2"],
        schema="public",
        limit=2,
        offset=4,
        order_by=["order"],
    )
    assert sql == expected


def test_select_sql_spark_flavor_golden():
    sql = FED.dialect_for("jdbc:hive2://h:10000/d", flavor="spark").select_sql(
        "group", columns=["select"], schema="public", limit=2, offset=4,
        order_by=["order"],
    )
    assert sql == (
        "SELECT `select` FROM `public`.`group` "
        "ORDER BY `order` LIMIT 2 OFFSET 4"
    )
