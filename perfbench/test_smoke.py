"""Smoke test of the benchmark at tiny inputs (a few minutes on 4 cores).

    python3 -m pytest perfbench/test_smoke.py -q

Each workload, untraced, prints every end-to-end metric of BENCHMARK.json
with its unit and passes its correctness checks; traced, it prints every
per-layer metric, and two traced runs of one seed report identical counts
and byte sizes within 1%.
Without the engine next to it, the benchmark fails without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def result(p: subprocess.CompletedProcess, spec_metrics: list[dict]) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-4000:]
    units = {k: v["unit"] for k, v in out["metrics"].items()}
    assert units == {m["name"]: m["unit"] for m in spec_metrics}
    return out["metrics"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_prints_end_to_end_metrics(workload):
    metrics = result(run(workload, 0), SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in metrics.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat(workload):
    first, second = (result(run(workload, 1), SPEC["per_layer"]) for _ in range(2))
    counts = [m["name"] for m in SPEC["per_layer"] if m["unit"] == "count"]
    assert {k: first[k]["value"] for k in counts} == {k: second[k]["value"] for k in counts}
    # byte sizes depend on row order inside files and batches, which Spark
    # does not fix
    for m in SPEC["per_layer"]:
        if m["unit"] == "B":
            assert first[m["name"]]["value"] == pytest.approx(second[m["name"]]["value"], rel=0.01)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
