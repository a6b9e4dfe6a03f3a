"""Smoke test of the benchmark itself, at a tiny input scale (0.05).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs once untraced and once traced; each metric declared
in ``BENCHMARK.json`` must come out by name with its unit. A run with
``--corrupt`` must count its jobs as failed, and the command must fail
without printing a result where the library is missing.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
LISTED = [w["name"] for w in SPEC["workloads"]]
# runnable, but not in BENCHMARK.json (see README.md)
WORKLOADS = LISTED + ["encode_fista", "daily_curation"]


def _run(workload, trace, *extra, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.05", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def _result(p):
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_declared_metric_is_emitted(workload, trace):
    res = _result(_run(workload, trace))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in declared}
    if workload in LISTED:
        assert set(res["metrics"]) == names
    else:  # an unlisted workload may add metrics of its own layers
        assert set(res["metrics"]) >= names
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_raises_failed_frac(workload):
    res = _result(_run(workload, 0, "--corrupt"))
    assert not res["correct"]
    assert res["failed"] / res["attempted"] > 0


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
