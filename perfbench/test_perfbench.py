"""The benchmark's own tests: BENCHMARK.json agrees with the code,
the smoke mode runs every workload with its output checks on, and the
benchmark refuses to run without the engine next to it.

    python3 -m pytest perfbench -q -p no:cacheprovider
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
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import workloads  # noqa: E402


def _bench(*args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=timeout)


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"neardup_x10", "media_neardup"}
    assert spec["paths"] == ["perfbench"]


def test_digest_ignores_row_and_column_order():
    a = checks.digest(["x", "y"], [(1, 2.5), (3, None)])
    b = checks.digest(["y", "x"], [(None, 3), (2.5, 1)])
    assert a == b and a[0] == 2
    assert checks.digest(["x", "y"], [(1, 2.5)]) != checks.digest(["x", "y"], [(1, 2.6)])


@pytest.fixture(scope="module")
def smoke():
    """All four workloads in one session on the tiny inputs."""
    proc = _bench("--smoke", "--seconds", "0")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    per_workload = {x["workload"]: x for x in lines if "correct" in x and "workload" in x}
    return per_workload, lines[-1], proc.stderr


@pytest.mark.parametrize("name", ["olap_headline", "neardup_x10", "media_neardup"])
def test_smoke_catalog_workload_is_correct(smoke, name):
    per_workload, _, stderr = smoke
    res = per_workload[name]
    assert res["correct"] and res["failed"] == 0, stderr[-3000:]
    assert set(res["metrics"]) == set(workloads.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_result_line(smoke):
    _, last, _ = smoke
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["attempted"] >= 8


@pytest.mark.xfail(strict=True, reason="pipeline.daily_run fits the model on every "
                   "ingest_date partition, not on the day's statistics")
def test_smoke_daily_elt_is_correct(smoke):
    per_workload, _, stderr = smoke
    assert per_workload["daily_elt"]["correct"], stderr[-3000:]


def test_traced_run_reports_every_layer():
    proc = _bench("--workload", "neardup_x10", "--smoke", "--seconds", "0", "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.splitlines()[-1])
    assert last["correct"]
    metrics = {k: v["value"] for k, v in last["metrics"].items()}
    assert set(metrics) == set(workloads.PER_LAYER)
    # near_dup_clusters' iterative rounds launch their jobs inside the plan build
    assert metrics["op.near_dup_clusters.build_jobs"] >= 10
    assert metrics["cpu.jvm_s"] > 0 and metrics["spark.tasks"] > 0


def test_traced_daily_elt_reports_its_layers():
    proc = _bench("--workload", "daily_elt", "--smoke", "--seconds", "0", "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    metrics = {k: v["value"] for k, v in json.loads(proc.stdout.splitlines()[-1])["metrics"].items()}
    assert set(metrics) == set(workloads.PER_LAYER) | set(workloads.DAILY_LAYER)
    assert all(metrics[f"writers.{t}_s"] > 0 for t in workloads.TABLES)
    assert metrics["rows.video_statistics"] == 200  # the smoke profile's videos


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = _bench("--workload", "neardup_x10", "--seed", "1", "--seconds", "5",
                  "--trace", "0", cwd=tmp_path, timeout=170)
    assert proc.returncode != 0
    assert not any(x.startswith("{") for x in proc.stdout.splitlines())
