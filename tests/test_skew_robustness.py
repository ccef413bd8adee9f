"""Skewed-corpus robustness pins (VERDICT r13 item 3).

Every oracle sweep before r14 ran on the near-uniform seed-42 corpus —
the distribution the salting/banding paths were tuned on. This module
generates a SKEWED slice (scripts/gen_sf_scaleup.py --skew: hot join
keys with geometric shares, heavy-tailed doc lengths/duplication, hot
ANN cells) and re-runs the join / dedup / BM25 surfaces against their
DuckDB oracles on it, repr-exact — so a future change that is only
correct under uniform keys fails here, not at 100 TB.

The big-K sweep lives in BASELINE.md (r14 record, .tmp/sf1skew); this
is the always-on pin at K=2 over sf0.001.
"""

from __future__ import annotations

import pytest

# slow tier (r16): skewed-slice scale suite; excluded from the default run (pytest.ini)
pytestmark = pytest.mark.slow

import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_UNIT, make_duck

REPO = Path(__file__).resolve().parents[1]

PINNED = [
    # hot-FK joins (o_custkey / l_suppkey collapse onto 8 keys)
    "join_inner_equi",
    "join_skew_salted",
    "join_broadcast",
    "topk_per_group",
    "agg_salted_distinct",
    # dedup over heavy-tailed dup classes + doc lengths
    "llm_dedup_exact",
    "llm_dedup_minhash",
    "llm_dedup_clusters",
    "llm_dedup_simhash",
    "llm_dedup_containment",  # salted pair join (r14) — hot prefix tokens
    # BM25 over skewed dl + hot terms (scan + materialized index)
    "llm_bm25_topk",
    "llm_bm25_index",
    # ANN over hot cells (10% of vectors collapse onto 53 hot vectors)
    "llm_similarity_ivf",
    "llm_semdedup",
]


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("sfskew")
    subprocess.run(
        [
            sys.executable,
            str(REPO / "scripts" / "gen_sf_scaleup.py"),
            "--skew",
            "2",
            SF_UNIT,
            str(d),
        ],
        check=True,
        capture_output=True,
    )
    return str(d)


@pytest.fixture(scope="module")
def skew_duck(skew_dir):
    con = make_duck(skew_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", PINNED)
def test_skewed_corpus_oracle_exact(name, spark, skew_dir, skew_duck):
    from distributed_query_engine_spark.registry import all_oracles, all_queries

    df = all_queries()[name](spark, skew_dir)
    srows = [tuple(r) for r in df.collect()]
    rel = skew_duck.sql(all_oracles()[name])
    drows = rel.fetchall()
    scols = [c.lower() for c in df.columns]
    dcols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    oi = sorted(range(len(scols)), key=lambda i: scols[i])
    od = sorted(range(len(dcols)), key=lambda i: dcols[i])
    ss = sorted(tuple(repr(r[i]) for i in oi) for r in srows)
    dd = sorted(tuple(repr(r[i]) for i in od) for r in drows)
    assert len(srows) > 0  # 0 rows vacuously matches any oracle
    assert ss == dd, f"{name}: {len(ss)} spark vs {len(dd)} oracle rows"
