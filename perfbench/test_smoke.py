"""Smoke test of the benchmark itself, on the sf0.001 tables and a few
hundred read pairs (a few minutes on 4 cores):

    python3 -m pytest perfbench/test_smoke.py -q
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
sys.path.insert(1, ROOT)

from run import END_TO_END, PER_LAYER, RESULTS  # noqa: E402
from workloads import PIPELINE, WORKLOADS  # noqa: E402


def bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", "7",
            "--seconds", "1",
            "--trace", str(trace),
            "--data", "sf0.001",
            "--pairs", "300",
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def sidecar(workload: str, trace: int) -> dict:
    with open(os.path.join(RESULTS, f"{workload}-seed7-trace{trace}.json")) as f:
        return json.load(f)


def test_declared_metrics_match_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    out = result(bench(workload, 0))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())
    setup = sidecar(workload, 0)["setup"]
    assert setup["wrappers_installed"] == 0 and setup["wrappers_left"] == []


@pytest.mark.parametrize("workload", ["graph_search", PIPELINE])
def test_traced_run_prints_every_layer_metric_and_restores(workload):
    out = result(bench(workload, 1))
    assert out["correct"] and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER
    assert out["metrics"]["spark.action_jobs"]["value"] > 0
    side = sidecar(workload, 1)
    assert side["setup"]["wrappers_installed"] > 0
    assert side["setup"]["wrappers_left"] == []


def test_tracer_restores_every_wrapped_binding():
    import tracing

    tracer = tracing.Tracer()
    import flink_pipeline_spark.caching as caching
    import flink_pipeline_spark.operators.llm as llm
    from pyspark.sql.classic.dataframe import DataFrame

    before = (caching.materialize, llm.nsw_beam, DataFrame.__dict__["persist"])
    assert tracer.install() > 0
    assert caching.materialize is not before[0] and llm.nsw_beam is not before[1]
    import flink_pipeline_spark.plans.llm_ops as llm_ops  # binds after install

    assert hasattr(llm_ops.nsw_beam, "__perfbench_original__")
    tracer.restore()
    assert (caching.materialize, llm.nsw_beam, DataFrame.__dict__["persist"]) == before
    assert llm_ops.nsw_beam is before[1]
    assert tracing.leftover_wrappers() == []


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("graph_search", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
