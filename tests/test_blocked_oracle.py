"""Pin the pair-locality assumption behind the blocked oracles (r15).

``scripts/oracle.py``'s BLOCKED list lets ``driver_sim.py --scale``
check the quadratic-output dedup family EXACTLY at 10x+ slices by
replaying the oracle on a deterministic 1/97 key block while the engine
runs at full scale. That
is only sound if each query is pair-local: its full-corpus output
restricted to both-members-in-block must equal the output computed on
the block-only corpus. This test asserts exactly that equality at
the test scale for every BLOCKED name — if a future change introduces a global
decision (corpus-seeded centroids, rank-based vocabulary, cluster
representative), this is the test that fails.

The pin uses mod 3 instead of the sweep's 97: pair-locality holds for
ANY block, and at the test corpus size a 1/97 block leaves zero
both-in-block pairs — a vacuous equality. 1/3 keeps every name's block
populated (``compare`` rejects an empty block), so the equality actually
witnesses pairs.
"""

from __future__ import annotations

import pytest

# slow tier (r16): sf0.01 dedup-family oracle replays; excluded from the default run (pytest.ini)
pytestmark = pytest.mark.slow

from scripts import oracle

PIN_MOD = 3


@pytest.fixture(scope="module")
def blocked_duck(sf_dir):
    con = oracle.duck(sf_dir, block=PIN_MOD)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(oracle.BLOCKED))
def test_engine_block_restriction_equals_blocked_oracle(
    name, spark, sf_dir, blocked_duck
):
    import __spark_entry__ as E

    _, problems = oracle.compare(
        E.queries()[name](spark, sf_dir),
        blocked_duck.sql(E.oracle_sql()[name]),
        block=(oracle.BLOCKED[name], PIN_MOD),
    )
    assert not problems, f"{name}: {problems}"
