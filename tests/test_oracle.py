"""The oracle rule (``scripts/oracle.py``) without a JVM, plus one real
query through ``duck`` + ``compare``.

The engine side of the Spark-free cases is a DuckDB relation carrying a
declared Spark schema: ``compare`` reads only ``columns``, ``schema``,
``collect``, ``count`` and ``filter`` from a DataFrame.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from scripts import oracle

_TYPES = {"int": T.IntegerType(), "bigint": T.LongType(), "double": T.DoubleType()}


class Engine:
    """A stand-in for a Spark DataFrame over DuckDB rows."""

    def __init__(self, sql: str, **types: str):
        self.rel = sql if isinstance(sql, duckdb.DuckDBPyRelation) else duckdb.sql(sql)
        self.types = types
        self.columns = list(types)
        self.schema = T.StructType(
            [T.StructField(c, _TYPES.get(t) or t) for c, t in types.items()]
        )

    def collect(self):
        return self.rel.fetchall()

    def count(self):
        return len(self.rel.fetchall())

    def filter(self, cond: str):
        return Engine(self.rel.filter(cond), **self.types)


def _compare(engine_sql, oracle_sql, **kw):
    e_sql, types = engine_sql
    return oracle.compare(Engine(e_sql, **types), duckdb.sql(oracle_sql), **kw)


ORACLE = "SELECT * FROM (VALUES (1, 2.0::DOUBLE), (3, 4.0::DOUBLE)) t(a, b)"

# (engine, oracle, match?): differences in the rows alone, types equal
ROW_CASES = [
    # permuted columns, permuted rows, mixed-case names
    (("SELECT * FROM (VALUES (4.0::DOUBLE, 3), (2.0::DOUBLE, 1)) t(\"B\", \"A\")",
      {"B": "double", "A": "int"}), ORACLE, True),
    # a 1e-13 float difference (12-digit rounding hid it)
    (("SELECT * FROM (VALUES (1, 2.0000000000001::DOUBLE), (3, 4.0::DOUBLE)) t(a, b)",
      {"a": "int", "b": "double"}), ORACLE, False),
    # a missing row
    (("SELECT * FROM (VALUES (1, 2.0::DOUBLE)) t(a, b)",
      {"a": "int", "b": "double"}), ORACLE, False),
]


@pytest.mark.parametrize("engine, oracle_sql, match", ROW_CASES)
def test_row_rule(engine, oracle_sql, match):
    n, problems = _compare(engine, oracle_sql)
    assert (problems == []) is match, problems


def test_benchmark_row_digest_agrees_with_compare():
    """perfbench/run.py keeps its own copy of the rule (``row_digest``)
    so the benchmark stays self-contained; it must agree with
    ``compare`` on every row case."""
    path = Path(__file__).resolve().parents[1] / "perfbench" / "run.py"
    spec = importlib.util.spec_from_file_location("perfbench_run", path)
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    for (e_sql, types), oracle_sql, _ in ROW_CASES:
        e, o = duckdb.sql(e_sql), duckdb.sql(oracle_sql)
        same = run.row_digest(list(types), e.fetchall()) == run.row_digest(
            o.columns, o.fetchall()
        )
        assert same is (not _compare((e_sql, types), oracle_sql)[1]), e_sql


def test_int32_vs_int64_is_a_type_mismatch():
    _, problems = _compare(
        ("SELECT * FROM (VALUES (1, 2.0::DOUBLE), (3, 4.0::DOUBLE)) t(a, b)",
         {"a": "bigint", "b": "double"}),
        ORACLE,
    )
    assert problems == ["type a: engine=int64 oracle=int32"]


def test_top_level_array_is_not_driver_sortable():
    sql = "SELECT * FROM (VALUES (1, [1, 2]::BIGINT[]), (2, [3]::BIGINT[])) t(a, v)"
    _, problems = _compare((sql, {"a": "int", "v": T.ArrayType(T.LongType())}), sql)
    assert len(problems) == 1 and "not driver-sortable" in problems[0]


def test_empty_block_fails_and_a_populated_one_passes():
    pairs = "SELECT * FROM (VALUES (3, 6), (4, 5)) t(doc_a, doc_b)"
    engine = (pairs, {"doc_a": "int", "doc_b": "int"})
    in_block = "SELECT * FROM (VALUES (3, 6)) t(doc_a, doc_b)"
    assert _compare(engine, in_block, block=(("doc_a", "doc_b"), 3)) == (1, [])
    n, problems = _compare(engine, in_block + " LIMIT 0", block=(("doc_a", "doc_b"), 7))
    assert n == 0 and any("empty block" in p for p in problems)


def test_above_cap_only_counts_are_compared():
    other = "SELECT * FROM (VALUES (5, 6.0::DOUBLE), (7, 8.0::DOUBLE)) t(a, b)"
    engine = (other, {"a": "int", "b": "double"})
    assert _compare(engine, ORACLE, cap=1) == (2, [])
    assert _compare(engine, ORACLE, cap=2)[1]  # at the cap: rows compared
    _, problems = _compare(engine, ORACLE + " LIMIT 1", cap=1)
    assert problems == ["rowcount engine=2 oracle=1"]


def test_duck_blocks_keyed_tables_and_materializes_the_block(tmp_path):
    src = tmp_path / "sf1"
    src.mkdir()
    pq.write_table(pa.table({"doc_id": list(range(10))}), src / "documents.parquet")
    pq.write_table(pa.table({"r_regionkey": list(range(10))}), src / "region.parquet")
    count = "SELECT count(*) FROM {}"
    con = oracle.duck(src, block=3)
    assert con.sql(count.format("documents")).fetchone() == (4,)
    assert con.sql(count.format("region")).fetchone() == (10,)
    block = Path(oracle.materialize_block_dir(str(src), mod=3))
    assert block.name == "sf1block3" and (block / "region.parquet").is_symlink()
    con = oracle.duck(block)
    assert con.sql(count.format("documents")).fetchone() == (4,)
    with pytest.raises(FileNotFoundError):
        oracle.duck(tmp_path / "missing")


def test_flagship_matches_its_oracle(spark, sf_dir, duck):
    from distributed_query_engine_spark.registry import all_oracles, all_queries

    n, problems = oracle.compare(
        all_queries()["flagship"](spark, sf_dir), duck.sql(all_oracles()["flagship"])
    )
    assert n > 0 and problems == []
