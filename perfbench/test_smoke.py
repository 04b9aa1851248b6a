"""Tiny-size smoke test of the benchmark.

Runs every workload once at the tiny input size, untraced and traced,
and asserts that the result line is well formed, the outputs matched
the oracle, and every metric BENCHMARK.json names is printed with its
unit.  Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q
    python3 perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
WORKLOADS = ("pages_tiling", "coords_join")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_metric(workload: str, trace: int):
    s = spec()
    want = s["per_layer"] if trace else s["end_to_end"]
    res = run_once(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    for m in want:
        assert m["name"] in res["metrics"], m["name"]
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got["unit"])
        assert isinstance(got["value"], (int, float)), m["name"]
    assert len(res["metrics"]) == len(want)


def test_workloads_match_spec():
    assert {w["name"] for w in spec()["workloads"]} == set(WORKLOADS)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
