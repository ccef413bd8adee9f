"""Self-test of the benchmark on sf0.001 tables.

Runs ``run.py`` as the benchmark's caller does, once untraced and twice
traced per workload of ``run.WORKLOADS`` (nine short runs, about seven
minutes on 4 cores), and checks that:

- every end-to-end and per-layer metric of ``BENCHMARK.json`` is emitted
  with its unit, and nothing else;
- the traced record keeps its shape;
- per query, the catalog, build, plan and exec spans cover its wall time
  within 10%;
- the counts named in ``layers.EXACT_COUNTS`` repeat exactly between two
  traced runs.

Run from the root of the checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path[:0] = [str(ROOT), str(HERE)]

from layers import EXACT_COUNTS  # noqa: E402
from run import WORKLOADS  # noqa: E402

QUERY_KEYS = {
    "pass", "query", "rows", "wall_s", "cover", "catalog_s", "build_s", "plan_s", "exec_s",
    "analysis_ms", "optimization_ms", "planning_ms", "flush_retries", "jobs", "stages",
    "tasks", "task", "catalog_calls", "stream_batches",
}
RECORD_KEYS = {
    "workload", "seed", "sf", "cores", "metrics", "per_pass", "untraced_pass_s",
    "traced_pass_s", "queries",
}


def bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


def units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    result = bench(workload, 0)
    assert units(result) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_runs(workload):
    first = bench(workload, 1)
    record = json.loads((HERE / ".work" / f"trace-{workload}.json").read_text())
    second = bench(workload, 1)

    assert units(first) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert set(record) == RECORD_KEYS
    assert set(record["metrics"]) <= set(units(first))
    assert record["queries"] and all(set(q) == QUERY_KEYS for q in record["queries"])
    for q in record["queries"]:
        assert abs(1.0 - q["cover"]) <= 0.10, q
    for name in EXACT_COUNTS:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
    assert first["metrics"]["rows.out"]["value"] > 0
