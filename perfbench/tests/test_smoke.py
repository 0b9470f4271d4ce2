"""Smoke run of both workloads, untraced and traced, on tables a tenth
of the benchmark's size and a short run.  Takes a few minutes:

    python3 -m pytest perfbench/tests/test_smoke.py
"""

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKOUT = os.path.dirname(BENCH)


def spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "8", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_and_checks_its_outputs(workload, trace):
    result = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in spec()[section]}
    for name, metric in result["metrics"].items():
        assert name in declared, name
        assert metric["unit"] == declared[name], name
        assert isinstance(metric["value"], float)
    assert set(result["metrics"]) == set(declared)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_run_leaves_no_files_behind():
    assert not os.path.exists(os.path.join(CHECKOUT, ".perfbench_runs")) or not (
        os.listdir(os.path.join(CHECKOUT, ".perfbench_runs"))
    )
