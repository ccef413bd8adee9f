"""Shared fixtures: one SparkSession per test session, a DuckDB
connection over the sf-dir tables (``scripts/oracle.py``'s ``duck``), and
sf-dir paths."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from distributed_query_engine_spark.session import get_spark  # noqa: E402
from scripts import oracle  # noqa: E402

import os  # noqa: E402

# Unit/oracle tests default to sf0.001 for speed; the driver's gate runs
# at sf0.01 — override with DQE_TEST_SF=/root/testdata/sf0.01.
SF_UNIT = os.environ.get("DQE_TEST_SF", "/root/testdata/sf0.001")
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dqe-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_UNIT


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = oracle.duck(sf_dir)
    yield con
    con.close()
