"""Self-test of the benchmark at small input sizes (~3 min).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
from worker import WORKLOADS, steal_share  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    record_path = lines[-2].removeprefix("record: ")
    with open(os.path.join(ROOT, record_path)) as f:
        return out, json.load(f)


@pytest.fixture(scope="module")
def traced_lloyd():
    return _result(_run("lloyd_fixture", 1))


def _check_printed(out: dict, specs: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        printed = out["metrics"][m["name"]]
        assert printed["unit"] == m["unit"], m["name"]
        assert isinstance(printed["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics_printed_with_units(workload):
    out, _ = _result(_run(workload, 0))
    _check_printed(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_layer_metrics_printed_with_units(traced_lloyd):
    out, _ = traced_lloyd
    _check_printed(out, SPEC["per_layer"])
    assert out["metrics"]["kmeans.iterations"]["value"] == 10


def test_tagged_call_has_event_log_record(traced_lloyd):
    _, record = traced_lloyd
    first_traced = next(p for p in record["session"]["passes"] if p["traced"])
    assert first_traced["groups"] == ["warm3:kmeans_lloyd"]  # after a warm-up and an untraced pass
    counters = record["session"]["spark"]["warm3:kmeans_lloyd"]
    assert counters["jobs"] > 0 and counters["tasks"] > 0 and counters["in_job_s"] > 0


def test_workloads_name_each_query_once():
    for wl in WORKLOADS.values():
        assert len(set(wl.queries)) == len(wl.queries)
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)


def test_fold_attributes_untagged_jobs_by_window():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 4e8,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
         "Stage IDs": [2], "Properties": {}},
    ]
    out = eventlog.fold(events, {"a": (0.9, 2.1), "b": (5.0, 6.0)})
    assert out["a"]["jobs"] == 2 and out["a"]["stages"] == 2 and out["a"]["tasks"] == 2
    assert out["a"]["in_job_s"] == pytest.approx(1.0)
    assert out["a"]["executor_cpu_s"] == pytest.approx(0.4)
    assert out["a"]["shuffle_write_bytes"] == 7
    assert out["b"]["jobs"] == 0


def test_fold_drops_a_stale_group_outside_its_window():
    # an untimed job submitted after call "a" returned, still under its group
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 3000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
    ]
    out = eventlog.fold(events, {"a": (0.9, 2.1)})
    assert out["a"]["jobs"] == 0 and out["a"]["tasks"] == 0 and out["a"]["in_job_s"] == 0


def test_steal_share_is_stolen_over_wanted_cpu_time():
    # 3 CPU-s run and 1 CPU-s stolen: a quarter of the wanted time was withheld
    assert steal_share((100.0, 10.0), (103.0, 11.0)) == pytest.approx(0.25)
    assert steal_share((5.0, 2.0), (5.0, 2.0)) == 0.0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run("lloyd_fixture", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
