"""Every workload end to end at sf0.001 (slow: each run starts a JVM)."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

from metrics import END_TO_END, PER_LAYER
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[2]


def _run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.splitlines()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_checks_outputs_and_prints_every_end_to_end_metric(workload):
    lines = _run(workload, trace=0)
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(END_TO_END)
    for name, m in out["metrics"].items():
        assert m["unit"] == END_TO_END[name][0]
        assert m["value"] > 0, name


def test_traced_mapreduce_run_reports_every_layer_and_the_map_stage():
    out = json.loads(_run("mapreduce_files", trace=1)[-1])
    assert out["correct"]
    assert set(out["metrics"]) == set(PER_LAYER)
    assert out["metrics"]["mapreduce.map_stage_tasks"]["value"] >= 1
    assert out["metrics"]["mapreduce.outputs_gathered_ratio"]["value"] == 1.0
