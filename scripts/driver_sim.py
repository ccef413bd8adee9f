#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run registered queries
on a vanilla session and check each against its DuckDB oracle with
``scripts/oracle.py``'s rule (column names, Arrow-level types, driver
sortability, repr-exact rows). That is stricter than the driver's
type-sensitive value hash, so a green sweep here implies a green driver
row.

Usage:
  python scripts/driver_sim.py [--sf DIR] [--unverified] [--scale] [name ...]

  no names      every registered query, in driver order
  name ...      an explicit subset (a typo'd name reports ERR)
  --unverified  add every name without a counting green driver row
  --sf DIR      the data directory (default sf0.01; with --scale, .tmp/sf1)
  --scale       the scale sweep over a scaled-up slice
                (scripts/gen_sf_scaleup.py): above oracle.CAP rows only
                counts are compared (OKC), the oracle.SKIP names are
                skipped, and the oracle.BLOCKED names compare on a
                1/97 key block (OKB)

The last line is ``SIM OK: <ok>/<run> FAILURES: [...]``; the exit status
is 1 when any name fails.
"""
from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from scripts import oracle  # noqa: E402

SF = "/root/testdata/sf0.01"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--sf", help="data directory")
    ap.add_argument("--unverified", action="store_true",
                    help="include every name without a counting green driver row")
    ap.add_argument("--scale", action="store_true",
                    help="scale sweep: count-only above CAP, SKIP and BLOCKED lists")
    ap.add_argument("names", nargs="*", help="explicit query names to run")
    ns = ap.parse_args(argv)
    sf = ns.sf or (str(REPO / ".tmp" / "sf1") if ns.scale else SF)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32" if ns.scale else "8")

    from distributed_query_engine_spark import registry
    from distributed_query_engine_spark.session import get_spark

    qs, oracles = registry.all_queries(), registry.all_oracles()
    names = list(ns.names)
    if ns.unverified:
        rows = registry._latest_driver_rows()
        names += [n for n in qs
                  if n not in names and not registry._verified_green(n, rows)]
    if not names and not ns.unverified:
        names = list(qs)

    spark = get_spark("driver-sim-scale" if ns.scale else "driver-sim")
    spark.sparkContext.setLogLevel("ERROR")
    config, skip = {}, set()
    if ns.scale:
        # Sharing the box with a 32-thread Spark JVM, DuckDB's default
        # (80% of RAM, no temp dir) bad_alloc'd on the two heaviest
        # recall-ladder oracles; with a limit and a spill dir both pass.
        spill = REPO / ".tmp" / "duckspill"
        spill.mkdir(parents=True, exist_ok=True)
        config = {"memory_limit": "48GB", "temp_directory": str(spill)}
        skip = oracle.skip_list(sf)
    con = oracle.duck(sf, **config)
    con_block = oracle.duck(sf, block=oracle.BLOCK_MOD, **config) if ns.scale else None

    fails, n_ok, n_counted = [], 0, 0
    skipped = [n for n in names if n in skip]
    for name in names:
        if name in skip:
            print(f"SKIP {name}", flush=True)
            continue
        try:
            fn = qs[name]  # inside try: a typo'd name prints ERR, not a crash
            if name not in oracles:
                df = fn(spark, sf)
                print(f"ROWS {name} {df.count()}", flush=True)
                n_ok += 1
                continue
            if ns.scale and name in oracle.BLOCKED:
                # the 100x rung runs the engine on the block corpus too
                data = oracle.materialize_block_dir(sf) if oracle.hundredfold(sf) else sf
                n, problems = oracle.compare(
                    fn(spark, data), con_block.sql(oracles[name]),
                    block=(oracle.BLOCKED[name], oracle.BLOCK_MOD))
                verdict = "OKB"
            else:
                n, problems = oracle.compare(
                    fn(spark, sf), con.sql(oracles[name]),
                    cap=oracle.CAP if ns.scale else None)
                verdict = "OKC" if ns.scale and n > oracle.CAP else "OK"
        except Exception as ex:
            msg = str(ex).split("\n")[0][:200]
            print(f"ERR  {name} {msg}", flush=True)
            fails.append(name)
            continue
        print(f"{'MISM' if problems else verdict:<5}{name} {n}", flush=True)
        for p in problems:
            print(f"  {p}", flush=True)
        if problems:
            fails.append(name)
        else:
            n_ok += 1
            n_counted += verdict == "OKC"
    if ns.scale:
        print(f"count-only: {n_counted} skipped: {len(skipped)}")
    print(f"SIM OK: {n_ok}/{len(names) - len(skipped)} FAILURES: {fails}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
