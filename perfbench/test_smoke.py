"""Tiny-input smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Each case runs the benchmark command in a subprocess at --scale smoke
(one JVM each, about 30 s).
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*extra, cwd=ROOT, workload="table_audit", trace=0):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result, wanted):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_and_no_failures(workload):
    res = _result(_run("--scale", "smoke", workload=workload))
    _assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0


def test_traced_run_reports_every_per_layer_metric():
    res = _result(_run("--scale", "smoke", workload="checkpointed_explain", trace=1))
    _assert_metrics(res, SPEC["per_layer"])
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["explain.cache_hit_ratio"] == 1.0
    assert m["checkpoint.jobs"] > 0 and m["explain.jobs"] > 0
    assert m["explain.cold_s"] > 0 and m["session.get_spark_s"] > 0
    assert m["jvm.peak_rss_mb"] > 0 and m["driver.py_peak_rss_mb"] > 0


def test_wrong_expected_count_is_a_failed_operation():
    res = _result(_run("--scale", "smoke", "--corrupt-oracle"))
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1


def test_refuses_to_run_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
