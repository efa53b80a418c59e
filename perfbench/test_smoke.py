"""Smoke tests of the benchmark itself (tiny inputs, ~40 s per run).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload, untraced and traced, must print every metric named in
BENCHMARK.json with its unit, and pass its correctness gate.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_and_gate(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "2", "--trace", str(trace),
         "--smoke"], cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, proc.stderr[-3000:]
    assert res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {n: m["unit"] for n, m in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    for m in want:
        assert isinstance(res["metrics"][m["name"]]["value"], float)
    assert "# inputs sha256=" in proc.stdout


def test_refuses_without_package(tmp_path):
    """A directory holding only the benchmark exits non-zero, no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         BENCH["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
        timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
