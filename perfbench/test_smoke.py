"""Smoke test for the benchmark command (not part of the tier-1 suite).

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and twice traced on one seed with the
shortest loop, and checks that

* the last stdout line names every metric of BENCHMARK.json with its unit,
  and every op's output matched its reference;
* the two traced runs report identical counts: jobs per op, heroic
  iterations, streaming rows in and out, and sink bytes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
SEED = 7


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[section]}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_metrics_named_and_counts_repeat(workload):
    plain = _run(workload, 0)
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] > 0
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == _units("end_to_end")
    assert all(v["value"] > 0 for v in plain["metrics"].values())

    first, second = _run(workload, 1), _run(workload, 1)
    for res in (first, second):
        assert res["correct"], res
        assert {k: v["unit"] for k, v in res["metrics"].items()} == _units("per_layer")
    exact = [k for k in first["metrics"] if k.endswith(".jobs")] + [
        "heroic.iterations", "streaming.rows_in", "streaming.rows_out", "workspace.sink_bytes",
    ]
    for k in exact:
        assert first["metrics"][k]["value"] == second["metrics"][k]["value"], k
