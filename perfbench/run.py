#!/usr/bin/env python3
"""Benchmark of the engine's query workloads, end to end and per layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload llm_batch --seed 1 --seconds 5 --trace 0

One driver process runs one client in a closed loop on ``local[<cores>]``:
each query is built with its registered ``(spark, sf_dir) -> DataFrame``
function and consumed with ``count()``, one after another. A pass runs
every query of the workload once, in an order shuffled by ``--seed``.
After a warm-up pass, whose results are checked against the DuckDB
oracles, timed passes run while another one fits in ``--seconds``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics of the
traced ones (see ``layers.py`` and ``NOTES.md``). Progress and a
readable summary go to stderr; the last stdout line is one JSON object.

The benchmark runs in a child process of a supervisor, which ends and
reaps every process the run leaves behind before it exits (see
:func:`supervise`).
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import ctypes
import hashlib
import json
import math
import multiprocessing
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
# Byte copies of the engine's test tables (TESTDATA.md), one directory
# per scale factor. The tables are fixed; --seed only orders the queries.
DATA = HERE / "data"
DEFAULT_SF = "0.01"

WORKLOADS: dict[str, list[str]] = {
    "olap_mix": [
        "flagship", "join_inner_equi", "join_broadcast", "agg_count_distinct",
        "topk_per_group", "agg_rollup", "join_asof_event", "dedup_exact",
        "window_running_sum_frame", "scalar_string", "tpch_q5_region_revenue",
        "subquery_correlated", "window_sessionize_batch",
    ],
    "llm_batch": [
        "llm_dedup_minhash", "llm_similarity_topk", "llm_similarity_ann_lsh",
        "llm_similarity_ivfpq", "llm_bm25_index",
    ],
    "stream_ingest": ["stream_ingest_dedup", "stream_tumbling_window_agg"],
}

END_TO_END_UNITS = {"pass_s": "s", "query_geomean_s": "s", "setup_s": "s"}

# Set in the environment of the child that runs the benchmark itself.
WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_CHILD_SUBREAPER = 36
# How long processes left by the run get to exit on their own (the
# pyspark daemon and its workers end once the JVM's pipe closes).
LEFTOVER_GRACE_S = 5.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def descendants(root: int) -> set[int]:
    """Pids of every process below ``root``, zombies included. (The walk
    of ``bench._tree_pids``; importing ``bench`` would load pyspark and
    the engine into the supervisor.)"""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                s = f.read()
            parent[int(entry)] = int(s[s.rindex(")") + 2:].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    found, todo = set(), [root]
    while todo:
        pid = todo.pop()
        for child, pp in parent.items():
            if pp == pid and child not in found:
                found.add(child)
                todo.append(child)
    return found


def reap_children() -> None:
    """Wait for every child of this process that has already exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float) -> None:
    """Give the processes below this one ``grace_s`` seconds to exit, then
    kill the rest; return once every one of them has been reaped. As a
    child subreaper this process inherits the orphans, so it can wait
    for all of them."""
    deadline = time.monotonic() + grace_s
    warned = False
    while True:
        reap_children()
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() >= deadline:
            if not warned:
                log(f"killing {len(left)} process(es) left by the run")
                warned = True
            for pid in left:
                with contextlib.suppress(ProcessLookupError, PermissionError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process and return its exit code once
    it and every process it started have ended.

    This process becomes a child subreaper (``prctl``), so a process
    whose parent exits first (a pyspark worker, a JVM helper, the
    multiprocessing resource tracker) is re-parented here rather than to
    init. On SIGTERM or SIGINT everything below is killed at once."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")

    def interrupted(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    grace_s = 0.0
    try:
        child = subprocess.Popen([sys.executable, str(Path(__file__).resolve()), *argv],
                                 env={**os.environ, WORKER_ENV: "1"})
        rc = child.wait()
        grace_s = LEFTOVER_GRACE_S
        return rc
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        end_descendants(grace_s)


def row_digest(columns: list[str], rows: list) -> tuple[list[str], str]:
    """``scripts/driver_sim.py``'s comparison rule in digest form: the
    sorted lower-cased column names, and a hash of the sorted rows, each
    row the ``repr`` of its values in sorted-column order. Two results
    match when both parts are equal."""
    cols = [c.lower() for c in columns]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    ordered = sorted(tuple(repr(r[i]) for i in idx) for r in rows)
    return sorted(cols), hashlib.sha256(repr(ordered).encode()).hexdigest()


def oracle_digests(data_dir: str, sqls: dict[str, str]) -> dict[str, tuple[list[str], str]]:
    """Run each oracle on DuckDB over the tables in ``data_dir``. Called
    in a child process, so DuckDB's memory stays out of the measured
    process tree."""
    import duckdb

    con = duckdb.connect(config={"temp_directory": str(WORK / "tmp")})
    for table in sorted(Path(data_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{table}')")
    out = {}
    for name, sql in sqls.items():
        rel = con.sql(sql)
        out[name] = row_digest(rel.columns, rel.fetchall())
    con.close()
    return out


def cached_oracle_digests(data_dir: Path, sqls: dict[str, str]) -> dict:
    """:func:`oracle_digests`, kept under ``.work/oracle`` keyed by a hash
    of the SQL text and of the table files, so DuckDB runs once per
    checkout for each oracle and input."""
    tables = hashlib.sha256()
    for table in sorted(data_dir.glob("*.parquet")):
        tables.update(table.name.encode() + table.read_bytes())
    cache = WORK / "oracle"
    cache.mkdir(exist_ok=True)
    key = {n: hashlib.sha256(tables.digest() + sql.encode()).hexdigest() for n, sql in sqls.items()}
    out = {}
    for name in sqls:
        path = cache / f"{key[name]}.json"
        if path.is_file():
            cols, digest = json.loads(path.read_text())
            out[name] = (cols, digest)
    missing = {n: sql for n, sql in sqls.items() if n not in out}
    if missing:
        ctx = multiprocessing.get_context("spawn")
        with concurrent.futures.ProcessPoolExecutor(1, mp_context=ctx) as pool:
            computed = pool.submit(oracle_digests, str(data_dir), missing).result()
        for name, (cols, digest) in computed.items():
            tmp = cache / f".{key[name]}.{os.getpid()}"
            tmp.write_text(json.dumps([cols, digest]))
            tmp.rename(cache / f"{key[name]}.json")
            out[name] = (cols, digest)
    return out


def purge_derived_state(data_dir: Path) -> None:
    """Delete what the engine derived from ``data_dir`` under
    ``<checkout>/.tmp`` (streaming stage dirs, index stores, checkpoints),
    so every run starts cold and the builds land in ``setup_s``."""
    from distributed_query_engine_spark.catalog import staging_key

    key = staging_key(str(data_dir))
    keys = (key, key.replace(".", "_").replace("-", "_"))
    tmp = ROOT / ".tmp"
    if not tmp.is_dir():
        return
    for top in list(tmp.iterdir()):
        for p in [top] + (list(top.iterdir()) if top.is_dir() else []):
            if any(k in p.name for k in keys):
                shutil.rmtree(p) if p.is_dir() and not p.is_symlink() else p.unlink()
                if p == top:
                    break


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


class Run:
    """One benchmark run: set-up, warm-up with oracle check, timed passes."""

    def __init__(self, args) -> None:
        self.args = args
        self.names = WORKLOADS[args.workload]
        self.cores = len(os.sched_getaffinity(0))
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.expected_rows: dict[str, int] = {}

    def order(self) -> list[str]:
        """The workload's queries in a seeded random order; after the
        warm-up, only those that passed it and the oracle check."""
        names = [n for n in self.names if not self.expected_rows or n in self.expected_rows]
        self.rng.shuffle(names)
        return names

    def timed_query(self, name: str, run) -> float | None:
        """Run one query through ``run(name) -> rows``; wall seconds, or
        None when it failed (exception or a row count unlike warm-up's)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            rows = run(name)
        except Exception as ex:  # a failed query run is a result, not a crash
            self.failed += 1
            log(f"{name} failed: {str(ex).splitlines()[0][:200]}")
            return None
        wall = time.perf_counter() - t0
        if rows != self.expected_rows[name]:
            self.failed += 1
            log(f"{name} returned {rows} rows, warm-up returned {self.expected_rows[name]}")
            return None
        return wall

    def warm_up(self, spark, queries, data_dir: Path) -> tuple[float, dict]:
        """Warm-up pass: build and collect every query. Returns the
        seconds spent running the queries and each result's digest."""
        spent, digests = 0.0, {}
        for name in self.order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, str(data_dir))
                rows = df.collect()
            except Exception as ex:  # a failed query run is a result, not a crash
                self.failed += 1
                log(f"warm-up {name} failed: {str(ex).splitlines()[0][:200]}")
                continue
            spent += time.perf_counter() - t0
            log(f"warm-up {name} {time.perf_counter() - t0:.3f}s rows={len(rows)}")
            self.expected_rows[name] = len(rows)
            digests[name] = row_digest(df.columns, rows)
        return spent, digests

    def check_oracles(self, digests: dict, data_dir: Path) -> None:
        """Compare the warm-up results with their DuckDB oracles; a
        mismatch counts as a failure and drops the query from the timed
        passes."""
        from distributed_query_engine_spark.registry import all_oracles

        oracles = all_oracles()
        sqls = {n: oracles[n] for n in digests if n in oracles}
        expected = cached_oracle_digests(data_dir, sqls)
        mismatched = [n for n, d in expected.items() if d != digests[n]]
        for name in mismatched:
            self.failed += 1
            del self.expected_rows[name]
        log(f"oracle check: {len(expected) - len(mismatched)}/{len(expected)} match "
            f"{' '.join(mismatched)}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=DEFAULT_SF, choices=("0.01", "0.001"),
                    help="scale factor of the input tables (default %(default)s)")
    args = ap.parse_args(argv)

    if not (ROOT / "distributed_query_engine_spark" / "__init__.py").is_file():
        log(f"engine package not found under {ROOT}")
        return 2
    data_dir = DATA / f"sf{args.sf}"
    if not any(data_dir.glob("*.parquet")):
        log(f"input tables not found under {data_dir}")
        return 2
    run = Run(args)
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(run.cores),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(WORK / "tmp"),
        PYSPARK_PYTHON=sys.executable,
    )
    sys.path[:0] = [str(ROOT), str(HERE)]
    import layers

    purge_derived_state(data_dir)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
    }
    event_dir = WORK / f"eventlog-{os.getpid()}"
    if args.trace:
        shutil.rmtree(event_dir, ignore_errors=True)
        event_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })

    with layers.RssSampler() as rss:
        t0 = time.perf_counter()
        from distributed_query_engine_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            from distributed_query_engine_spark.registry import all_queries

            queries = all_queries()
            import_s = time.perf_counter() - t0
            warm_s, digests = run.warm_up(spark, queries, data_dir)
            setup_s = session_s + import_s + warm_s
            log(f"setup {setup_s:.3f}s (session {session_s:.3f}s, registry {import_s:.3f}s, "
                f"warm-up {warm_s:.3f}s)")
            with rss.paused():
                run.check_oracles(digests, data_dir)
            if not run.expected_rows:
                log("no query passed the warm-up and the oracle check")
                return 1
            result = timed_passes(run, spark, queries, data_dir, layers)
        finally:
            stop_spark(spark)
        peak_rss = rss.peak

    purge_derived_state(data_dir)
    if not result["query_s"]:
        log("every timed run of every query failed")
        return 1
    if args.trace:
        events =layers.read_event_log(event_dir)
        shutil.rmtree(event_dir, ignore_errors=True)
        metrics = traced_metrics(run, result, events, layers)
        metrics.update({"session.start_s": session_s, "registry.import_s": import_s})
        units = layers.PER_LAYER_UNITS
    else:
        metrics = {
            "pass_s": statistics.median(result["untraced_pass_s"]),
            "query_geomean_s": geomean([statistics.median(v) for v in result["query_s"].values()]),
            "setup_s": setup_s,
        }
        units = END_TO_END_UNITS
    metrics["peak_rss_mb"] = peak_rss / 2**20
    metrics.update({f"host.{k}": v for k, v in result["contention"].items()})
    all_units = {**layers.PER_LAYER_UNITS, **END_TO_END_UNITS}
    for k, v in sorted(metrics.items()):
        log(f"  {k:28s} {v:.6g} {all_units.get(k, 'ratio')}")
    log(f"  {'error_rate':28s} {run.failed / max(1, run.attempted):.6g} "
        f"({run.failed} failed / {run.attempted} attempted)")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def timed_passes(run: Run, spark, queries, data_dir: Path, layers) -> dict:
    """Timed passes: another pass starts only if one as long as the last
    would still end within ``--seconds``. At least one pass runs (two
    under ``--trace 1``: one untraced, one traced), so a pass longer than
    ``--seconds`` runs past it."""
    sf_dir = str(data_dir)
    query_s: dict[str, list[float]] = {}
    untraced, traced = [], []
    pass_records: list[dict] = []
    contention = layers.Contention()
    start = time.perf_counter()
    pass_no = 0
    with layers.Tracer(spark) if run.args.trace else contextlib.nullcontext() as tracer:
        while True:
            is_traced = bool(run.args.trace) and pass_no % 2 == 1
            if is_traced:
                n_before = len(tracer.queries)
                py0 = layers.python_worker_cpu_s()
                run_one = lambda n: tracer.run_query(pass_no, n, queries[n], spark, sf_dir)
            else:
                run_one = lambda n: queries[n](spark, sf_dir).count()
            t0 = time.perf_counter()
            for name in run.order():
                wall = run.timed_query(name, run_one)
                if wall is None:
                    continue
                log(f"  {name} {wall:.3f}s")
                if is_traced:
                    q = tracer.queries[-1]
                    q["wall_s"] = wall
                    q["cover"] = (q["catalog_s"] + q["build_s"] + q["plan_s"] + q["exec_s"]) / wall
                else:
                    query_s.setdefault(name, []).append(wall)
            pass_s = time.perf_counter() - t0
            (traced if is_traced else untraced).append(pass_s)
            if is_traced:
                pass_records.append({"pass": pass_no, "pass_s": pass_s,
                                     "python_cpu_s": layers.python_worker_cpu_s() - py0,
                                     "queries": tracer.queries[n_before:]})
            log(f"pass {pass_no} {'traced' if is_traced else 'untraced'} {pass_s:.3f}s")
            pass_no += 1
            need_more = run.args.trace and not (traced and untraced)
            if not need_more and time.perf_counter() - start + pass_s > run.args.seconds:
                break
    return {"untraced_pass_s": untraced, "traced_pass_s": traced, "query_s": query_s,
            "passes": pass_records, "contention": contention.read()}


def traced_metrics(run: Run, result: dict, events: list[dict], layers) -> dict[str, float]:
    """Median over traced passes of each per-layer metric, plus the
    tracing overhead; writes the full traced record beside the data."""
    all_queries = [q for p in result["passes"] for q in p["queries"]]
    layers.attribute_events(events, all_queries)
    per_pass = [layers.pass_metrics(p["queries"], run.cores, p["python_cpu_s"])
                for p in result["passes"]]
    metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    metrics["trace.overhead_s"] = (statistics.median(result["traced_pass_s"])
                                   - statistics.median(result["untraced_pass_s"]))
    record = {
        "workload": run.args.workload, "seed": run.args.seed, "sf": float(run.args.sf),
        "cores": run.cores, "metrics": metrics, "per_pass": per_pass,
        "untraced_pass_s": result["untraced_pass_s"],
        "traced_pass_s": result["traced_pass_s"],
        "queries": [_query_record(q) for q in all_queries],
    }
    path = WORK / f"trace-{run.args.workload}.json"
    path.write_text(json.dumps(record, indent=1, sort_keys=True))
    log(f"traced record written to {path}")
    return metrics


def _query_record(q: dict) -> dict:
    keep = ("pass", "query", "rows", "wall_s", "cover", "catalog_s", "build_s", "plan_s",
            "exec_s", "analysis_ms", "optimization_ms", "planning_ms", "flush_retries",
            "jobs", "stages", "tasks", "task")
    out = {k: q[k] for k in keep}
    out["catalog_calls"] = len(q["catalog_spans"])
    out["stream_batches"] = len(q["progress"])
    return out


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(WORKER_ENV) else supervise(sys.argv[1:]))
