"""Self-tests of the benchmark: tiny runs of every workload, traced and
untraced, and runs whose outputs are deliberately falsified.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark session (about 20-30 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")
TINY = {"filter_write": 400, "contract_gate": 400, "near_dup": 200}

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload, trace=0, extra=(), cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, RUN), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", str(TINY[workload]), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_metric_reported_with_unit_and_outputs_correct(workload, trace):
    result = _result(_run(workload, trace))
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, metric in result["metrics"].items():
        assert isinstance(metric["value"], float), name
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    elif workload == "contract_gate":
        assert result["metrics"]["engine.not_evaluated"]["value"] == 0
        assert result["metrics"]["engine.jobs_per_verify"]["value"] >= 2


@pytest.mark.parametrize("workload", sorted(TINY))
def test_wrong_output_marks_the_run_failed(workload):
    result = _result(_run(workload, extra=["--corrupt"]))
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "out", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", "near_dup", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
