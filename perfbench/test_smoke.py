"""Smoke test of the benchmark itself (not part of the repo's test suite).

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload at a tiny size, from a working directory outside the
repository (so the Python workers must find the library through the
PYTHONPATH the benchmark sets), and checks the result line: every metric
named in BENCHMARK.json is present with its unit, no output check
failed, and on ``llm_http`` the stub's request count equals the count
the seeded fault plan implies for the client as it stands, which has no
prompt cache. Takes about four minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import llm  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

SEED, SCALE = 7, 0.05


def _bench(workload: str, trace: int) -> tuple[dict, dict]:
    with tempfile.TemporaryDirectory() as cwd:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
            cwd=cwd, capture_output=True, text=True, timeout=300,
        )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    info = json.loads(next(l for l in lines if l.startswith("info "))[5:])
    return json.loads(lines[-1]), info


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_reports_every_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    result, info = _bench(workload, trace)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if workload == "llm_http":
        with tempfile.TemporaryDirectory() as work:
            inputs = llm.Inputs(workload, SEED, SCALE, work)
        assert info["stub_requests_per_job"] == [inputs.expected_calls()]
        if trace:
            per_record = result["metrics"]["job.backend.calls_per_record"]["value"]
            assert per_record == inputs.expected_calls() / len(inputs.contents)
