"""Query/operator registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2.3 registers itself here with a name, a
``(spark, sf_dir) -> DataFrame`` builder, and (where SQL-expressible) a
DuckDB oracle SQL string — the modern form of the reference's golden-value
matcher (``x should evaluateTo("collection()")``,
``DistributedQueryEngine.diff:285-287``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
Oracle = "str | Callable[[], str]"

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str | Callable[[], str]] = {}


def query(
    name: str, oracle: str | Callable[[], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query. ``oracle`` is ANSI SQL DuckDB runs over the
    same parquet tables (views: region nation customer supplier part
    orders lineitem events documents embeddings) — either a plain string
    or a zero-arg callable returning the SQL (LAZY form; preferred for
    f-strings that interpolate helper fragments, so a typo in one oracle
    fails that one query at render time instead of killing the whole
    module import — the round-2/round-3 failure mode). Omit ``oracle``
    only for genuinely non-SQL-expressible operators (driver then records
    a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver invokes queries with ITS OWN vanilla session;
            # apply our runtime-settable defaults (UTC timezone, AQE,
            # Arrow) so results don't depend on the caller's conf.
            from distributed_query_engine_spark.session import tune_session

            tune_session(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver walks ``queries()`` in dict order and checks only the first
# ~50 entries per round, so we order NEVER-TESTED, PREVIOUSLY-FAILED, and
# MODIFIED-SINCE-LAST-GREEN queries FIRST and verified-green ones LAST —
# across rounds every query then earns a driver CORRECTNESS row.  The
# verified-green set is computed from the CORRECTNESS_r*.json files the
# driver itself writes (latest row per query wins), so each new round's
# results automatically rotate fresh unchecked queries into the window.
#
# INVARIANT (round-2 lesson): any round that changes a query's semantics,
# its oracle, or an operator it depends on MUST stamp it in ``_CHANGED``
# with the round number of the change — otherwise the changed queries
# are exactly the ones deprioritized out of re-verification. A green
# CORRECTNESS row only counts as verification if it was recorded in a
# round >= the stamp, so stamped queries automatically re-front until
# the driver re-samples them, then automatically demote — no manual
# cleanup in later rounds. Empty while every past stamp is older than
# its query's latest green row (a satisfied stamp changes no order).
_CHANGED: dict[str, int] = {}


def _latest_driver_rows() -> dict[str, tuple[int, dict]]:
    """Latest driver CORRECTNESS (round, row) per query, across rounds."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    rows: dict[str, tuple[int, dict]] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", f.name)
        rnd = int(m.group(1)) if m else 0
        try:
            d = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(d, dict):
            for name, row in d.items():
                # keep the row from the HIGHEST round number, not the
                # last filename in lexicographic glob order (an unpadded
                # or 3-digit round would otherwise let a stale green row
                # shadow a newer FAIL)
                if isinstance(row, dict) and rnd >= rows.get(name, (-1, None))[0]:
                    rows[name] = (rnd, row)
    return rows


def _verified_green(name: str, rows: dict[str, tuple[int, dict]]) -> bool:
    """Does ``name`` have a COUNTING green driver row? Rows-only checks
    record hash_match/schema_match as None — treat anything that isn't
    an explicit mismatch or error as green. A green row older than the
    query's last semantic change (``_CHANGED`` stamp) does not count.
    Shared by ``_driver_order`` and the rotation tests — the predicate
    must never fork."""
    rnd, r = rows.get(name, (0, None))
    return bool(
        r
        and not r.get("err")
        and r.get("rows_match")
        and r.get("schema_match") is not False
        and r.get("hash_match") is not False
        and rnd >= _CHANGED.get(name, 0)
    )


def _driver_order(names: list[str]) -> list[str]:
    rows = _latest_driver_rows()

    def verified_green(n: str) -> bool:
        return _verified_green(n, rows)

    unverified = [n for n in names if not verified_green(n)]
    # Within the unverified set: queries with NO driver row at all (the
    # longest-unchecked backlog) before stale-green/changed ones; ties
    # keep registration order (stable sort).
    unverified.sort(key=lambda n: n in rows)
    back = [n for n in names if verified_green(n)]
    # Within the verified-green tail: OLDEST driver evidence first. With
    # the registry fully verified (r9: 246/246 green), the driver's
    # ~50-slot window is otherwise idle, so its highest-value use is
    # refreshing the stalest green rows (VERDICT r9 item 1) — the r1-r4
    # cohort re-fronts automatically this round, and every future round
    # rotates the then-oldest evidence back into the window with no
    # manual re-prioritisation. Stable sort keeps registration order
    # within a round.
    back.sort(key=lambda n: rows.get(n, (0, None))[0])
    return unverified + back


def all_queries() -> dict[str, QueryFn]:
    import distributed_query_engine_spark.plans  # noqa: F401 — populates registry

    return {n: _QUERIES[n] for n in _driver_order(list(_QUERIES))}


def all_oracles() -> dict[str, str]:
    """Render every registered oracle to SQL. Callables are invoked here
    (lazily); a broken oracle is dropped with a warning so the driver
    degrades that one query to a rows-only check instead of losing all
    131 queries to a single NameError (tests/test_registry.py asserts
    every oracle renders, so CI still fails loudly on a typo)."""
    import warnings

    import distributed_query_engine_spark.plans  # noqa: F401

    rendered: dict[str, str] = {}
    for n in _driver_order(list(_ORACLES)):
        o = _ORACLES[n]
        if callable(o):
            try:
                rendered[n] = o()
            except Exception as ex:  # degrade to rows-only, loudly
                warnings.warn(
                    f"oracle for {n!r} failed to render ({ex!r}); "
                    f"query degrades to rows-only check",
                    stacklevel=2,
                )
        else:
            rendered[n] = o
    return rendered
