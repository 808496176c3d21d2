"""Smoke test of the benchmark at tiny scale.

    python3 -m pytest lakebench/test_smoke.py -q

Runs every workload once untraced and once traced with the ``tiny`` input
sizes and a one-second measuring window, and asserts that each run passes
its output checks and prints every metric with its unit.  A last case runs
the benchmark in a directory without the engine and expects it to fail.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)


def _bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_matches_runner():
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == run.GATED
    for m in BENCHMARK["end_to_end"]:
        assert m["unit"] == run.END_TO_END_UNITS[m["name"]]
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_checks_and_prints_metrics(workload, trace):
    p = _bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    report, final = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is True, report["failures"]
    assert final["failed"] == 0 and final["attempted"] >= 1
    want = run.PER_LAYER if trace else {k: run.END_TO_END_UNITS[k] for k in run.GATED}
    assert {k: v["unit"] for k, v in final["metrics"].items()} == want
    for v in final["metrics"].values():
        assert isinstance(v["value"], (int, float))
    # the full report names every end-to-end metric, not-applicable as null
    assert {k: v["unit"] for k, v in report["end_to_end"].items()} == run.END_TO_END_UNITS
    assert report["end_to_end"]["error_rate"]["value"] == 0.0
    if trace:
        assert report["self_time_violations"] == 0
        assert os.path.getsize(report["trace_file"]) > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "lakebench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(str(tmp_path), "lake_scan", 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
