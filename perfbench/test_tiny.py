"""The benchmark's own test: every workload, with every output check, on tiny
inputs, untraced and traced.

    python3 -m pytest perfbench/test_tiny.py -q
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

from run import END_TO_END, PER_LAYER_UNITS, SOURCES, WORKLOADS  # noqa: E402

#: share of ops that fail: every tile_request round ends with a fixed request
#: on which the engine's polygon tracer fails
FAILED_SHARE = {"curate": 0.0, "tile_request": 0.5, "ingest_cycle": 0.0}


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_untraced(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["attempted"] >= 1
    assert out["failed"] == FAILED_SHARE[workload] * out["attempted"]
    assert set(out["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced(workload):
    out = _run(workload, 1)
    assert out["correct"] and out["failed"] == FAILED_SHARE[workload] * out["attempted"]
    assert set(out["metrics"]) == set(PER_LAYER_UNITS)
    with open(os.path.join(ROOT, ".perfbench", "trace", f"{workload}-s7.json")) as fh:
        table = json.load(fh)["table"]
    # the layer self times of an op add up to its wall time
    assert table["reconcile_max_abs_s"] < 1e-6
    assert 0 <= table["residual_s"] <= table["op_wall_s"]


def test_every_per_layer_metric_has_a_source():
    assert set(SOURCES) == set(PER_LAYER_UNITS)


def test_refuses_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/ the run
    exits non-zero without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
