"""Smoke test of the benchmark harness at toy size.

Runs every workload of ``BENCHMARK.json`` timed and traced, with its
correctness checks on, so the harness cannot rot unnoticed:

    python3 -m pytest perfbench/tests -q        # ~5 min on 4 cores
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric_and_passes_its_checks(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    values = {k: v["value"] for k, v in res["metrics"].items()}
    if trace:
        # each phase's layer self times cover its wall time
        for phase in ("build", "setup", "ops"):
            assert values[f"trace.{phase}_coverage"] > 0.9, values
        if workload == "batch":
            # the hot batches' phase 2 skips blocks
            assert 0 < values["pruning.survivor_block_ratio"] < 1, values
    else:
        assert all(v > 0 for v in values.values()), values
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_fails_without_the_engine(tmp_path):
    # a directory holding only the benchmark: no engine to measure
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_probe_pickles_as_the_unpatched_function():
    # a kernel closure that refers to a probed function must ship the
    # real one to Python workers
    sys.path.insert(0, ROOT)
    from pyspark import cloudpickle

    from cs6913_web_search_engines_spark.functions import varbyte
    from perfbench import tracing

    orig = varbyte.decode
    tr = tracing.Tracer(enabled=True)
    tr.patch(varbyte, "decode", "varbyte.decode")
    try:
        blob = cloudpickle.dumps(varbyte.decode)
    finally:
        tr.unpatch()
    assert cloudpickle.loads(blob) is orig
