"""Self-tests of the benchmark.

Two traced runs of each workload, with different seeds, must report the
same exact counters (``layers.EXACT_COUNTERS``) and exactly the per-layer
metrics ``BENCHMARK.json`` lists. Counters that adaptive query execution
may vary are flagged non-exact and only reported. A traced run includes its
untraced reference run and takes two to three minutes; run from the
repository root with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

from layers import EXACT_COUNTERS, NON_EXACT_COUNTERS  # noqa: E402
from run import END_TO_END, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def test_benchmark_json_matches_the_runner():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == END_TO_END


def traced_run(workload: str, seed: int) -> dict[str, tuple[float, str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=False,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: (m["value"], m["unit"]) for k, m in result["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_exact_counters_repeat(workload):
    first, second = traced_run(workload, 11), traced_run(workload, 12)
    listed = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: u for k, (_, u) in first.items()} == listed
    diff = {k: (first[k], second[k]) for k in EXACT_COUNTERS if first[k] != second[k]}
    assert not diff, f"{workload}: exact counters differ between runs: {diff}"
    for k in NON_EXACT_COUNTERS:
        print(f"{workload} {k} (non-exact): {first[k]} / {second[k]}")
