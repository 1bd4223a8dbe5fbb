"""Toy-size smoke runs of every workload, untraced and traced.

Asserts that each run prints, as its last line, a result with every
metric ``BENCHMARK.json`` names, each with its declared unit, and that
all operations passed their output checks. Takes a few minutes:

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_emits_every_metric_with_its_unit(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if name.startswith(workload + ".") or not trace:
            assert m["value"] == m["value"], name  # not NaN
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
    else:
        assert res["metrics"][f"{workload}.host_spin_s"]["value"] > 0
