"""The benchmark's own test, at the smallest input sizes and on two seeds.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs the command as the benchmark's users do (one subprocess per run) and
checks the contract: every end-to-end metric is printed with its unit, a
broken operation is counted and does not abort the run, the traced run
covers every layer, and a span leaves the caller's job group intact.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def run(workload: str, seed: int, trace: int, *extra: str) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "small", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    report = next(line for line in p.stderr.splitlines() if line.startswith("perfbench report: "))
    return result, json.loads(report.split(": ", 1)[1])


@pytest.mark.parametrize("workload,seed", [("etl_job", 1), ("dedup_corpus", 2)])
def test_end_to_end_metrics_have_units(workload, seed):
    result, _ = run(workload, seed, 0)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


def test_broken_operation_is_counted_not_fatal():
    result, report = run("etl_job", 2, 0, "--inject-broken")
    assert result["failed"] == 1
    assert result["attempted"] > 1
    assert any("MissingColumnError" in e for e in report["errors"])
    # The run went on: the timed phase and the checks still happened.
    assert report["ops"] >= 1 and result["correct"] is True


def test_traced_runs_cover_every_layer():
    import tracing

    seen = set()
    names = {m["name"] for m in SPEC["per_layer"]}
    for workload, seed in (("etl_job", 2), ("dedup_corpus", 1)):
        result, _ = run(workload, seed, 1)
        assert set(result["metrics"]) == names
        seen |= {layer for layer in tracing.LAYERS
                 if result["metrics"][f"{layer}.calls"]["value"] > 0}
    assert seen == set(tracing.LAYERS)


def test_span_restores_callers_job_group():
    import session_start
    import tracing

    session_start.configure_env()
    spark = session_start.start_session("perfbench-test")
    try:
        sc = spark.sparkContext
        sc.setJobGroup("caller-group", "caller description")
        tracer = tracing.Tracer(sc)
        rec, saved = tracer.open("jobs", "outer")
        assert sc.getLocalProperty("spark.jobGroup.id") == f"perfbench-span-{rec['id']}"
        inner, inner_saved = tracer.open("plans.parser", "inner")
        tracer.close(inner, inner_saved)
        assert sc.getLocalProperty("spark.jobGroup.id") == f"perfbench-span-{rec['id']}"
        tracer.close(rec, saved)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec, saved = tracer.open("jobs", "no-caller-group")
        tracer.close(rec, saved)
        assert sc.getLocalProperty("spark.jobGroup.id") is None
    finally:
        session_start.stop_session(spark)
