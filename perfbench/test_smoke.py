"""Smoke test: one short run of each workload on the smallest tables,
untraced and traced, with every output check passing.

    python3 -m pytest perfbench/test_smoke.py -q

Each run is a fresh process, as in the benchmark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

_RUN = """
import json, sys
sys.path.insert(0, {here!r})
sys.path.insert(0, {root!r})
import run
result, facts = run.run({workload!r}, 1, 1, {trace}, size="smoke")
print(json.dumps(result))
"""


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", ["serve", "pipeline", "corpus"])
def test_workload_smoke(workload, trace):
    code = _RUN.format(here=HERE, root=ROOT, workload=workload, trace=trace)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, check=True,
        stdout=subprocess.PIPE, text=True, timeout=600,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
