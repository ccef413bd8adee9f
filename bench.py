#!/usr/bin/env python
"""Headline benchmark: runs the flagship query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Protocol (BASELINE.md): one discarded warm-up run per query, then the
median of 3 timed runs; results are fully consumed via a count, never a
full driver materialization.

Self-adjudication (r14, VERDICT r13 item 1): the r13 official artifact
was ~45% host-contention noise and only prose rescued it, so every
timed pass now measures its OWN contention and the JSON carries enough
signal to separate host steal from a real regression without textual
adjudication:

- per pass, external CPU is computed from /proc/stat busy jiffies minus
  this process tree's own jiffies (python driver + py4j JVM + pyspark
  worker daemons).  1-min loadavg alone cannot adjudicate: local[32]
  pushes loadavg far past any fixed threshold by itself, so the load
  numbers are recorded for diagnosis but the retry decision keys on
  `ext_cpu_ratio` (fraction of machine CPU consumed by OTHER processes
  during the pass) and `steal_ratio` (hypervisor steal — externally
  caused by definition).
- a timed pass with ext_cpu_ratio > 0.10 or steal_ratio > 0.05 is
  CONTENDED and is re-run (up to 2 extra attempts per pass slot); if
  contention persists the contended sample is kept and flagged.
- per line the JSON reports the median (headline, comparable to every
  prior round) AND the min-of-accepted-passes floor — the r13
  adjudication showed the floor is the contention-robust statistic —
  plus `legacy17_floor_sec` next to `legacy17_total_sec`.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from distributed_query_engine_spark.registry import all_queries
from distributed_query_engine_spark.session import get_spark

BENCH_QUERIES = [
    "flagship",
    "join_inner_equi",
    "join_broadcast",
    "agg_count_distinct",
    "topk_per_group",
    "agg_rollup",
    "join_asof_event",
    "dedup_exact",
    "window_running_sum_frame",
    "scalar_string",
    "tpch_q5_region_revenue",
    "subquery_correlated",
    "window_sessionize_batch",
    "llm_dedup_minhash",
    "llm_similarity_topk",
    "llm_similarity_ann_lsh",
    "stream_tumbling_window_agg",
    # r11 (VERDICT r10 item 7): the recommended production ANN path —
    # a regression in the two-level compressed index design must be
    # driver-visible, not just oracle-correct.
    "llm_similarity_ivfpq",
    # r12 (VERDICT r11 item 8): the production corpus-ingest loop —
    # multi-batch streaming dedup against the mutating signature store.
    # Dominated by the per-batch verify of the twin-heavy synthetic
    # corpus (quadratic pair OUTPUT within twin groups — a data
    # property, see PLANS.md r11 ngram profile), so its absolute time
    # dwarfs the batch lines; benched to catch regressions in the
    # foreachBatch/store design, compared per-line, not in the total.
    "stream_ingest_dedup",
    # r13: the index-SERVING path — bucket-pruned BM25 search against
    # the materialized postings (the content-addressed build is a
    # fingerprint hit after the warm-up run, so the timed runs measure
    # search, which is what a deployment pays per query). A regression
    # here means bucket pruning or the broadcast-stats plan broke.
    "llm_bm25_index",
]

# Lines added after the r1 self-baseline (17 lines): excluded from the
# like-for-like legacy17 subtotal.
_POST_BASELINE_LINES = {
    "llm_similarity_ivfpq",
    "stream_ingest_dedup",
    "llm_bm25_index",
}


# Multi-batch STREAMING lines: walltime carries micro-batch scheduling
# and checkpoint-commit idle gaps on top of the actual work — measured
# +-20% run-to-run at sf0.1 (BASELINE.md r12), which blinded regression
# detection on the heaviest line. For these, the timing is the sum of
# per-batch triggerExecution durations reported by the engine
# (ops.LAST_RUN[sink].exec_ms) — the deterministic work component; the
# protocol change and its measured band are documented in BASELINE.md
# r13. Maps bench name -> ops sink name.
_EXEC_MS_LINES = {"stream_ingest_dedup": "ingest_dedup"}

# Contention thresholds (fractions of total machine CPU during a pass).
EXT_CPU_MAX = 0.10
STEAL_MAX = 0.05
MAX_RETRIES_PER_PASS = 2

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_stat() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies from the aggregate cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:9]]  # user nice sys idle iowait irq sirq steal
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal


def _tree_pids() -> set[int]:
    """This pid plus all /proc descendants (py4j JVM, pyspark daemons)."""
    me = os.getpid()
    ppid: dict[int, int] = {}
    try:
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            pid = int(p)
            try:
                with open(f"/proc/{pid}/stat") as f:
                    s = f.read()
                after = s[s.rindex(")") + 2 :].split()
                ppid[pid] = int(after[1])
            except (OSError, ValueError):
                continue
    except OSError:
        return {me}
    tree = {me}
    changed = True
    while changed:
        changed = False
        for pid, pp in ppid.items():
            if pp in tree and pid not in tree:
                tree.add(pid)
                changed = True
    return tree


def _tree_cpu_jiffies() -> int:
    """utime+stime+cutime+cstime jiffies of the current process tree.

    cutime/cstime (stat fields 16/17) capture CPU of already-reaped
    children (transient pyspark workers under the daemon); without them
    that time lands in nobody's utime and is misattributed to
    ext_cpu_ratio, spuriously flagging UDF/Arrow-heavy passes as
    contended (ADVICE r14). Reaped children no longer appear in /proc,
    so adding the parents' c-fields does not double-count.
    """
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
            after = s[s.rindex(")") + 2 :].split()
            # fields 14-17: utime stime cutime cstime
            total += sum(int(after[i]) for i in (11, 12, 13, 14))
        except (OSError, ValueError, IndexError):
            continue
    return total


def run_once(fn, spark, sf_dir, name: str | None = None) -> dict:
    """One measured pass: wall seconds + contention telemetry."""
    load_start = os.getloadavg()[0]
    total0, idle0, steal0 = _proc_stat()
    self0 = _tree_cpu_jiffies()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    # Force full execution without shipping the whole result to the driver.
    n = df.count()
    assert n >= 0
    wall = time.perf_counter() - t0
    total1, idle1, steal1 = _proc_stat()
    self1 = _tree_cpu_jiffies()
    dtotal = max(1, total1 - total0)
    busy = dtotal - (idle1 - idle0)
    ext = max(0, busy - max(0, self1 - self0))
    sample = {
        "sec": wall,
        "load_start": round(load_start, 2),
        "load_end": round(os.getloadavg()[0], 2),
        "ext_cpu_ratio": round(ext / dtotal, 4),
        "steal_ratio": round((steal1 - steal0) / dtotal, 4),
    }
    if name in _EXEC_MS_LINES:
        from distributed_query_engine_spark.streaming import ops

        run = ops.LAST_RUN.get(_EXEC_MS_LINES[name])
        exec_ms = run.exec_ms if run else None
        if exec_ms:
            sample["sec"] = exec_ms / 1000.0
            sample["wall_sec"] = wall
    sample["contended"] = (
        sample["ext_cpu_ratio"] > EXT_CPU_MAX or sample["steal_ratio"] > STEAL_MAX
    )
    return sample


def timed_passes(fn, spark, sf_dir, name: str, n_passes: int = 3) -> list[dict]:
    """n_passes accepted samples; contended passes re-run up to the cap."""
    out = []
    for _ in range(n_passes):
        sample = run_once(fn, spark, sf_dir, name)
        retries = 0
        while sample["contended"] and retries < MAX_RETRIES_PER_PASS:
            retries += 1
            print(
                f"bench: {name} pass contended "
                f"(ext={sample['ext_cpu_ratio']}, steal={sample['steal_ratio']}) "
                f"— retry {retries}/{MAX_RETRIES_PER_PASS}",
                file=sys.stderr,
                flush=True,
            )
            sample = run_once(fn, spark, sf_dir, name)
        sample["retries"] = retries
        out.append(sample)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    load_at_start = os.getloadavg()[0]
    spark = get_spark(app_name="dqe-bench")
    queries = all_queries()
    names = [n for n in BENCH_QUERIES if n in queries]
    timings: dict[str, float] = {}
    floors: dict[str, float] = {}
    passes: dict[str, list[dict]] = {}
    for name in names:
        fn = queries[name]
        # progress on stderr (stdout stays the one JSON line); printed
        # BEFORE the runs so an abort's last line names the query that
        # died, and again after with its timing
        print(f"bench: {name} ...", file=sys.stderr, flush=True)
        run_once(fn, spark, sf_dir, name)  # discarded warm-up
        samples = timed_passes(fn, spark, sf_dir, name)
        secs = [s["sec"] for s in samples]
        # Clean floor: min over uncontended passes when any exist —
        # the contention-robust statistic (BASELINE.md r13 protocol).
        clean = [s["sec"] for s in samples if not s["contended"]] or secs
        timings[name] = round(statistics.median(secs), 4)
        floors[name] = round(min(clean), 4)
        passes[name] = [
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in s.items()}
            for s in samples
        ]
        print(f"bench: {name} {timings[name]}s (floor {floors[name]}s)", file=sys.stderr, flush=True)
    total = round(sum(timings.values()), 4)
    legacy = {n: v for n, v in timings.items() if n not in _POST_BASELINE_LINES}
    contended_lines = sorted(
        n for n, ss in passes.items() if any(s["contended"] for s in ss)
    )
    summary = {
        "metric": "bench_total_median_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # min-of-uncontended-passes per line: the statistic the
        # r13 adjudication showed survives host steal.
        "floors": floors,
        # the r1 self-baseline total covers the original 17
        # lines; llm_similarity_ivfpq joined in r11 and
        # stream_ingest_dedup in r12, so this subtotal is the
        # like-for-like comparison against BASELINE.md (the
        # full `value` includes the new lines by construction).
        "legacy17_total_sec": round(sum(legacy.values()), 4),
        "legacy17_floor_sec": round(
            sum(v for n, v in floors.items() if n in legacy), 4
        ),
        "load_at_start": round(load_at_start, 2),
        "contended_lines": contended_lines,
        "sf": sf,
    }
    # Per-pass telemetry (wall sec, loadavg, external-CPU and
    # hypervisor-steal fractions, retries, contended flags) goes to a
    # sidecar: the r14 artifact put it inline and pushed the final line
    # past the driver's 2,000-char stdout tail, leaving BENCH_r14.json
    # unparseable (VERDICT r14 item 1). The FINAL stdout line must stay
    # the compact summary.
    sidecar = Path(__file__).resolve().parent / ".tmp" / "bench_full_latest.json"
    try:
        sidecar.parent.mkdir(parents=True, exist_ok=True)
        sidecar.write_text(
            json.dumps({**summary, "passes": passes}, separators=(",", ":"))
        )
        summary["telemetry_file"] = str(sidecar)
    except OSError:
        pass
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:  # hard guard: never exceed the driver's tail capture
        for k in ("telemetry_file", "floors"):
            summary.pop(k, None)
        line = json.dumps(summary, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
