"""Smoke test of the benchmark at tiny scale (sf0.001-sized geometry, a few
hundred images, a two-batch stream): every workload runs untraced and
traced, emits every metric with its unit, and passes its output checks,
each of which proves it would reject the output with one row dropped.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session; the four take about five minutes
on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    """The result line and the noise context of one tiny run."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    context = next(json.loads(line)["context"] for line in p.stderr.splitlines()
                   if line.startswith('{"context"'))
    return result, context


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_emits_every_metric_and_passes_checks(workload, trace):
    result, context = bench(workload, trace)
    expected = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in result["metrics"].items()} == expected
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert context["checks"]
    assert all(c["ok"] and c["drop_one_row_caught"] for c in context["checks"])
