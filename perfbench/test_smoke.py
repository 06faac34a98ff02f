"""Smoke test of the benchmark itself, at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json untraced and traced and checks
that each declared metric is printed with its unit, then checks that a
deliberately wrong answer is counted as a failed op.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny",
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,declared", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_declared_metric_is_emitted(workload, trace, declared):
    code, result = run(workload, trace)
    assert code == 0
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[declared]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
    if trace == 0:
        assert all(result["metrics"][k]["value"] != 0 for k in want)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_answer_is_counted(workload):
    code, result = run(workload, 0, "--fault")
    assert code == 1
    assert result["correct"] is False
    assert 1 <= result["failed"] <= result["attempted"]
