"""Smoke test for the benchmark: every workload runs once at tiny size,
untraced and traced, and prints every BENCHMARK.json metric with its unit.

    python3 -m pytest perfbench/tests -q

Each case starts its own Spark JVM (about 30-90 s each).
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
with open(os.path.join(ROOT, "perfbench", "spec.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(cwd: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, proc.stderr[-3000:]
    assert res["attempted"] >= 1
    catalog = BENCH["per_layer" if trace else "end_to_end"]
    assert ({k: v["unit"] for k, v in res["metrics"].items()}
            == {m["name"]: m["unit"] for m in catalog})
    # every metric is a number, in traced runs too: each traced run
    # measures every layer
    for name, m in res["metrics"].items():
        assert type(m["value"]) in (int, float), (name, m["value"])
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_layer_map_names_are_benchmark_metrics():
    names = {m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    for row in SPEC["layer_map"]:
        assert set(row["metrics"]) <= names, row["layer"]
        assert set(row["moves"]) <= names, row["layer"]


def test_fails_without_the_engine(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ must exit
    non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
