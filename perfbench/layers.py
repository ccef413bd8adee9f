"""Per-layer measurement for the benchmark, taken from outside the engine.

Nothing here edits the engine. Each layer is measured at its public
boundary:

- ``catalog``: :class:`Tracer` swaps ``catalog.read_parquet_table`` for a
  timing wrapper. Every table read resolves that module attribute at call
  time, so the wrapper sees every read.
- ``plans`` builders, Catalyst and the action: :meth:`Tracer.run_query`
  times the builder call, the forcing of ``executedPlan`` and the
  ``count()`` separately, and tags the Spark jobs of each phase with a job
  group ``pb:<pass>:<query>:<phase>``.
- Executor tasks, Python workers and streaming micro-batches: the Spark
  event log of the traced run, parsed by :func:`pass_metrics` after the
  session stops.
- Process tree: RSS and the CPU of the pyspark worker daemon, read from
  ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from datetime import datetime
from pathlib import Path

import bench  # the repository's /proc contention accounting

_CLK = os.sysconf("SC_CLK_TCK")
PHASES = ("catalog", "build", "plan", "exec")
_PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


# ---------------------------------------------------------------- /proc

def tree_rss_bytes() -> int:
    """Resident bytes of this process and all its descendants, each page
    shared between them counted once: the sum of their proportional set
    sizes. A plain RSS sum would count the JVM twice whenever it forks a
    helper command."""
    total = 0
    for pid in bench._tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, ValueError, StopIteration):
            continue
    return total


def python_worker_cpu_s() -> float:
    """CPU seconds of the pyspark worker daemon and the workers it forked
    (live workers by their own counters, reaped ones through the daemon's
    child counters)."""
    jiffies = 0
    for pid in bench._tree_pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
            after = s[s.rindex(")") + 2:].split()
            jiffies += sum(int(after[i]) for i in (11, 12, 13, 14))
        except (OSError, ValueError, IndexError):
            continue
    return jiffies / _CLK


class Contention:
    """Share of machine CPU used by other processes (``ext_cpu_ratio``)
    and by the hypervisor (``steal_ratio``) between construction and
    :meth:`read`, using ``bench.py``'s accounting."""

    def __init__(self) -> None:
        self._stat = bench._proc_stat()
        self._self = bench._tree_cpu_jiffies()

    def read(self) -> dict[str, float]:
        total1, idle1, steal1 = bench._proc_stat()
        self1 = bench._tree_cpu_jiffies()
        total0, idle0, steal0 = self._stat
        dtotal = max(1, total1 - total0)
        busy = dtotal - (idle1 - idle0)
        ext = max(0, busy - max(0, self1 - self._self))
        return {"ext_cpu_ratio": ext / dtotal, "steal_ratio": (steal1 - steal0) / dtotal}


class RssSampler:
    """Background sampler of the process tree's RSS; ``peak`` is the
    largest sample seen outside :meth:`paused` blocks."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            with self._lock:
                self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self._interval)

    @contextlib.contextmanager
    def paused(self):
        """No samples are taken inside this block."""
        with self._lock:
            yield

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- spans

class Tracer:
    """Spans and job groups around one query run's layer calls.

    Use as a context manager: the catalog and streaming wrappers are
    installed on entry and removed on exit.
    """

    def __init__(self, spark) -> None:
        from distributed_query_engine_spark import catalog
        from distributed_query_engine_spark.streaming import ops

        self._sc = spark.sparkContext
        self._catalog, self._ops = catalog, ops
        self._read = catalog.read_parquet_table
        self._run_to_memory = ops.run_to_memory
        self._base: str | None = None
        self._query: dict | None = None
        self.queries: list[dict] = []

    def __enter__(self) -> "Tracer":
        self._catalog.read_parquet_table = self._traced_read
        self._ops.run_to_memory = self._traced_run_to_memory
        return self

    def __exit__(self, *exc) -> None:
        self._catalog.read_parquet_table = self._read
        self._ops.run_to_memory = self._run_to_memory

    def _group(self, phase: str | None) -> None:
        if phase is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{self._base}:{phase}", phase)

    def _traced_read(self, spark, path):
        q = self._query
        if q is None:
            return self._read(spark, path)
        self._group("catalog")
        t0 = time.time()
        try:
            return self._read(spark, path)
        finally:
            q["catalog_spans"].append((t0, time.time()))
            self._group("build")

    def _traced_run_to_memory(self, *args, **kwargs):
        if self._query is not None and kwargs.get("_retry") is False:
            self._query["flush_retries"] += 1
        return self._run_to_memory(*args, **kwargs)

    def run_query(self, pass_no: int, name: str, fn, spark, sf_dir: str) -> int:
        """Build, plan and count one query with every phase timed; the
        record is appended to :attr:`queries`. Returns the row count."""
        self._base = f"pb:{pass_no}:{name}"
        q = self._query = {
            "pass": pass_no, "query": name, "catalog_spans": [], "flush_retries": 0,
        }
        try:
            self._group("build")
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            self._group("plan")
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t2 = time.time()
            phases = qe.tracker().phases()
            for k in ("analysis", "optimization", "planning"):
                opt = phases.get(k)
                q[f"{k}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
            self._group("exec")
            t_exec = time.time()
            rows = df.count()
            t3 = time.time()
        finally:
            self._group(None)
            self._query = None
        cat_s = sum(b - a for a, b in q["catalog_spans"])
        q.update(
            t0=t0, t1=t1, t2=t2, t_exec=t_exec, t3=t3, rows=rows,
            catalog_s=cat_s, build_s=(t1 - t0) - cat_s, plan_s=t2 - t1, exec_s=t3 - t_exec,
        )
        self.queries.append(q)
        return rows


# ------------------------------------------------------------ event log

def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def read_event_log(log_dir: Path) -> list[dict]:
    """Events of the single application that logged to ``log_dir``."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f]


class _Attributor:
    """Maps an event-log timestamp or job group to (query record, phase)."""

    def __init__(self, queries: list[dict]) -> None:
        self._by_group = {}
        for q in queries:
            for ph in PHASES:
                self._by_group[f"pb:{q['pass']}:{q['query']}:{ph}"] = (q, ph)
        self._queries = sorted(queries, key=lambda q: q["t0"])

    def at(self, ms: float) -> tuple[dict, str] | None:
        s = ms / 1000.0
        for q in self._queries:
            if q["t0"] <= s <= q["t3"]:
                if any(a <= s <= b for a, b in q["catalog_spans"]):
                    return q, "catalog"
                if s < q["t1"]:
                    return q, "build"
                return q, "plan" if s < q["t_exec"] else "exec"
        return None

    def job(self, event: dict) -> tuple[dict, str] | None:
        group = (event.get("Properties") or {}).get("spark.jobGroup.id")
        return self._by_group.get(group) or self.at(event["Submission Time"])


def attribute_events(events: list[dict], queries: list[dict]) -> None:
    """Fold jobs, stages, tasks and streaming progress from the event log
    into the traced query records (in place). Jobs carry the benchmark's
    job group; jobs started on other threads (streaming micro-batches)
    are placed by submission time."""
    attr = _Attributor(queries)
    for q in queries:
        q.update(jobs={ph: 0 for ph in PHASES}, stages={ph: 0 for ph in PHASES},
                 tasks={ph: 0 for ph in PHASES}, task_run_s={ph: 0.0 for ph in PHASES},
                 task={}, progress=[])
    stage_owner: dict[int, tuple[dict, str]] = {}
    submitted: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            owner = attr.job(e)
            if owner:
                owner[0]["jobs"][owner[1]] += 1
                for sid in e["Stage IDs"]:
                    stage_owner.setdefault(sid, owner)
        elif kind == "SparkListenerStageCompleted":
            owner = stage_owner.get(e["Stage Info"]["Stage ID"])
            if owner:
                owner[0]["stages"][owner[1]] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            submitted[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(e["Stage ID"])
            if owner:
                _add_task(owner[0], owner[1], e, submitted.get(e["Stage ID"]))
        elif kind == _PROGRESS_EVENT:
            p = e["progress"]
            owner = attr.at(_epoch_ms(p["timestamp"]))
            if owner:
                owner[0]["progress"].append(p)


def _add_task(q: dict, phase: str, e: dict, submitted_ms: int | None) -> None:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    t = q["task"]
    run_s = m.get("Executor Run Time", 0) / 1000.0
    q["tasks"][phase] += 1
    q["task_run_s"][phase] += run_s
    submitted = submitted_ms or info["Launch Time"]
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    acc = {a.get("Name"): a.get("Update", 0) for a in info.get("Accumulables", [])}
    for key, value in (
        ("run_s", run_s),
        ("cpu_s", m.get("Executor CPU Time", 0) / 1e9),
        ("gc_s", m.get("JVM GC Time", 0) / 1000.0),
        ("sched_wait_s", max(0, info["Launch Time"] - submitted) / 1000.0),
        ("failed", int(info.get("Failed", False))),
        ("shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
        ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
        ("spill_memory_bytes", m.get("Memory Bytes Spilled", 0)),
        ("spill_disk_bytes", m.get("Disk Bytes Spilled", 0)),
        ("input_bytes", (m.get("Input Metrics") or {}).get("Bytes Read", 0)),
        ("output_bytes", (m.get("Output Metrics") or {}).get("Bytes Written", 0)),
        ("python_sent", int(acc.get(_PY_SENT) or 0)),
        ("python_received", int(acc.get(_PY_RECV) or 0)),
    ):
        t[key] = t.get(key, 0) + value
    t["peak_exec_mem_bytes"] = max(t.get("peak_exec_mem_bytes", 0),
                                   m.get("Peak Execution Memory", 0))


# ------------------------------------------------------- per-pass roll-up

PER_LAYER_UNITS = {
    "catalog.calls": "count", "catalog.s": "s", "catalog.jobs": "count",
    "build.s": "s", "build.jobs": "count",
    "plan.s": "s", "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.core_util": "ratio",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s", "task.sched_wait_s": "s",
    "task.failed": "count", "task.peak_exec_mem_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "spill.memory_bytes": "bytes", "spill.disk_bytes": "bytes",
    "input.bytes_read": "bytes", "output.bytes_written": "bytes",
    "python.cpu_s": "s", "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "stream.batches": "count", "stream.input_rows": "count", "stream.state_rows": "count",
    "stream.addBatch_ms": "ms", "stream.queryPlanning_ms": "ms", "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms", "stream.latestOffset_ms": "ms",
    "stream.flush_retries": "count", "stream.write_amp": "ratio",
    "stream.exec_s": "s", "stream.batch_p50_ms": "ms",
    "peak_rss_mb": "MB", "rows.out": "count", "split.max_gap": "ratio",
    "trace.overhead_s": "s", "session.start_s": "s", "registry.import_s": "s",
    "host.ext_cpu_ratio": "ratio", "host.steal_ratio": "ratio",
}

# Counts that repeat exactly between two traced runs of one commit.
EXACT_COUNTS = (
    "catalog.calls", "catalog.jobs", "build.jobs", "exec.jobs", "exec.stages",
    "stream.batches", "rows.out",
)


def _input_rows(progress: dict) -> int:
    return sum(src.get("numInputRows", 0) for src in progress.get("sources", []))


def pass_metrics(queries: list[dict], cores: int, python_cpu_s: float) -> dict[str, float]:
    """Per-layer totals of one traced pass (``queries`` already passed
    through :func:`attribute_events`)."""
    def tot(key: str) -> float:
        return sum(q["task"].get(key, 0) for q in queries)

    def phase_sum(field: str, ph: str) -> float:
        return sum(q[field][ph] for q in queries)

    exec_s = sum(q["exec_s"] for q in queries)
    batches = [p for q in queries for p in q["progress"]]
    data_batches = [p for p in batches if _input_rows(p) > 0]
    stream_q = [q for q in queries if q["progress"]]
    stream_in = sum(q["task"].get("input_bytes", 0) for q in stream_q)
    stream_out = sum(q["task"].get("output_bytes", 0) for q in stream_q)
    m = {
        "catalog.calls": sum(len(q["catalog_spans"]) for q in queries),
        "catalog.s": sum(q["catalog_s"] for q in queries),
        "catalog.jobs": phase_sum("jobs", "catalog"),
        "build.s": sum(q["build_s"] for q in queries),
        "build.jobs": phase_sum("jobs", "build"),
        "plan.s": sum(q["plan_s"] for q in queries),
        "plan.analysis_ms": sum(q["analysis_ms"] for q in queries),
        "plan.optimization_ms": sum(q["optimization_ms"] for q in queries),
        "plan.planning_ms": sum(q["planning_ms"] for q in queries),
        "exec.s": exec_s,
        "exec.jobs": phase_sum("jobs", "exec"),
        "exec.stages": phase_sum("stages", "exec"),
        "exec.tasks": phase_sum("tasks", "exec"),
        "exec.core_util": phase_sum("task_run_s", "exec") / (exec_s * cores) if exec_s else 0.0,
        "task.run_s": tot("run_s"),
        "task.cpu_s": tot("cpu_s"),
        "task.gc_s": tot("gc_s"),
        "task.sched_wait_s": tot("sched_wait_s"),
        "task.failed": tot("failed"),
        "task.peak_exec_mem_bytes": max((q["task"].get("peak_exec_mem_bytes", 0)
                                         for q in queries), default=0),
        "shuffle.read_bytes": tot("shuffle_read_bytes"),
        "shuffle.write_bytes": tot("shuffle_write_bytes"),
        "spill.memory_bytes": tot("spill_memory_bytes"),
        "spill.disk_bytes": tot("spill_disk_bytes"),
        "input.bytes_read": tot("input_bytes"),
        "output.bytes_written": tot("output_bytes"),
        "python.cpu_s": python_cpu_s,
        "python.bytes_sent": tot("python_sent"),
        "python.bytes_received": tot("python_received"),
        "stream.batches": len(data_batches),
        "stream.input_rows": sum(_input_rows(p) for p in batches),
        "stream.state_rows": sum(
            sum(op.get("numRowsTotal", 0) for op in q["progress"][-1].get("stateOperators", []))
            for q in stream_q),
        "stream.flush_retries": sum(q["flush_retries"] for q in queries),
        "stream.write_amp": stream_out / stream_in if stream_in else 0.0,
        "stream.exec_s": sum(p["durationMs"].get("triggerExecution", 0) for p in batches) / 1000.0,
        "stream.batch_p50_ms": statistics.median(
            p["durationMs"].get("triggerExecution", 0) for p in data_batches) if data_batches else 0.0,
        "rows.out": sum(q["rows"] for q in queries),
        "split.max_gap": max(abs(1.0 - q["cover"]) for q in queries),
    }
    for ph in _STREAM_PHASES:
        m[f"stream.{ph}_ms"] = sum(p["durationMs"].get(ph, 0) for p in batches)
    return m
