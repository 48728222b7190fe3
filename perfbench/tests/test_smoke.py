"""Smoke test of the benchmark: every workload at the tiny input size,
untraced and traced.  Each run must exit 0, emit every metric that
BENCHMARK.json names with its unit, and run every output check.

    python3 -m pytest perfbench/tests -q

Takes a few minutes: each run starts its own Spark driver.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _run(cwd, workload, trace, scale="tiny"):
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", scale,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_and_check(workload, trace):
    from workloads import WORKLOADS

    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] != 0 for v in result["metrics"].values())
    ran = {json.loads(line[len("# check "):])["name"]
           for line in lines if line.startswith("# check ")}
    assert ran == set(WORKLOADS[workload].checks)


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, BENCH["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert not out.stdout.strip()
