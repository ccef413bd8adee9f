"""The local mirror of the driver's correctness gate: every registered
query with an oracle runs on Spark AND DuckDB at sf0.001 and must match
exactly by ``scripts/oracle.py``'s rule (names, Arrow-level types,
driver sortability, repr-exact rows with no float rounding). Queries
without an oracle are smoke-run (plan executes, returns rows)."""

from __future__ import annotations

import pytest

# slow tier (r16): full-registry oracle sweep (~23 min) — the driver's own CORRECTNESS gate runs the same comparison; builder target; excluded from the default run (pytest.ini)
pytestmark = pytest.mark.slow

from distributed_query_engine_spark.registry import all_oracles, all_queries
from scripts import oracle

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        _, problems = oracle.compare(df, duck.sql(ORACLES[name]))
        assert not problems, problems
    else:
        # smoke: plan executes end-to-end AND the output would survive the
        # driver's pandas canonicalizer (rows-only checks still canon).
        assert oracle.unsortable(df.columns, df.limit(200).collect()) is None


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)
