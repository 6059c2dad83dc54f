"""Smoke tests of the benchmark harness itself.

Run from the repository root (about four minutes on 4 cores)::

    python3 -m pytest perfbench -q

Each workload runs at its smoke size twice, untraced and traced, as a
subprocess from the repository root, the way the benchmark is always run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.run import WORKLOADS
from perfbench.tracer import _covered

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    info, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return info, result


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_with_its_unit_and_equal_job_counts(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    plain_info, plain = _result(_run(workload, 0))
    traced_info, traced = _result(_run(workload, 1))
    for res, section in ((plain, "end_to_end"), (traced, "per_layer")):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert {n: m["unit"] for n, m in res["metrics"].items()} == {
            m["name"]: m["unit"] for m in bench[section]
        }
    assert all(m["value"] > 0 for m in plain["metrics"].values())
    # tracing adds spans and job-group tags, never a Spark job
    assert traced_info["loop_jobs"] == plain_info["loop_jobs"]
    assert traced_info["jobs_per_op"] == plain_info["jobs_per_op"]
    layer = traced["metrics"]
    assert layer["engine.put.calls"]["value"] == len(plain_info["ops_ms"]["put"])
    assert layer["engine.put.jobs_per_call"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_covered_merges_overlapping_intervals():
    assert _covered(0.0, 10.0, []) == 0.0
    assert _covered(0.0, 10.0, [(1, 3), (2, 5), (8, 12), (-5, -1)]) == 6.0
