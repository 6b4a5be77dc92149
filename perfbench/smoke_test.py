"""Smoke test for the benchmark itself: every workload on the sf0.001
fixtures for a very short run, untraced and traced. Each run must print
every metric BENCHMARK.json names and fail no operation.

    python3 -m pytest perfbench/smoke_test.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> "list[str]":
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--data", os.path.join("perfbench", "data", "sf0.001")],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout.strip().splitlines()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric_without_errors(workload, trace):
    lines = _run(workload, trace)
    out = json.loads(lines[-1])
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    assert out["attempted"] >= 1
    assert out["failed"] == 0 and out["correct"]
    if trace:
        assert out["metrics"]["error_rate"]["value"] == 0
    else:
        diagnostics = json.loads(lines[-2])["diagnostics"]
        assert diagnostics["error_rate"] == 0
