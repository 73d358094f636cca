"""Smoke test: every workload, untraced and traced, on the tiny input size,
emits every metric BENCHMARK.json names, with its unit, and right answers.

    python3 -m pytest perfbench/smoke.py -q

Each case starts its own Spark session (about 30 s). The file name keeps
it out of a plain ``pytest`` run of the repository; pytest collects it when
it is named on the command line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import PRIMARY, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_emits_every_metric(workload: str, trace: int) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        capture_output=True, text=True, timeout=300, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-4000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if trace:
        assert result["metrics"]["streaming.refresh_refill_s"]["value"] != 0.0
        assert result["metrics"]["query.bm25.jobs_per_op"]["value"] >= 1
    else:
        named = json.loads(lines[-2])["named"]
        for name in PRIMARY[workload]:
            assert named[name]["value"] > 0, name
