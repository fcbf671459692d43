"""Smoke tests for the benchmark itself.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The workload cases start a Spark session per run (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench.procstat import PeakRss
from perfbench.tracing import Tracer, summarize_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _task_end(stage: int, run_ms: int, py_ms: int = 0, sent: int = 0, back: int = 0) -> dict:
    acc = [
        {"ID": 1, "Name": "time to run Python workers", "Update": str(py_ms), "Value": "0"},
        {"ID": 2, "Name": "data sent to Python workers", "Update": str(sent), "Value": "0"},
        {"ID": 3, "Name": "data returned from Python workers", "Update": str(back), "Value": "0"},
        {"ID": 4, "Name": "number of output rows", "Update": "7", "Value": "7"},
    ]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": 5,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 1024,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2048},
        },
    }


def test_event_log_summary_per_job_group(tmp_path):
    group = {"spark.jobGroup.id": "pipeline"}
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": group},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": group},
        _task_end(1, 1500, py_ms=700, sent=3000, back=1000),
        _task_end(1, 500, py_ms=300, sent=1000, back=1000),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": {}},
        _task_end(2, 250),
    ]
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    (log_dir / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (log_dir / "appstatus_local-1").write_text("")

    groups = summarize_event_log(str(tmp_path))
    g = groups["pipeline"]
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 2)
    assert g.task_s == pytest.approx(2.0)
    assert g.python_s == pytest.approx(1.0)
    assert (g.bytes_to_py, g.bytes_from_py) == (4000, 2000)
    assert (g.shuffle_write, g.spill) == (4096, 2048)
    assert g.gc_s == pytest.approx(0.01)
    rest = groups[""]
    assert (rest.jobs, rest.tasks, rest.python_s) == (1, 1, 0.0)


def test_tracer_nests_spans_and_writes_them(tmp_path):
    tracer = Tracer()
    with tracer.span("op", group="g"):
        time.sleep(0.02)
        with tracer.span("inner"):
            time.sleep(0.02)
    outer, inner = tracer.spans
    assert inner.parent == 0 and inner.group == "g"
    assert tracer.self_seconds(0) == pytest.approx(outer.seconds - inner.seconds)
    path = tmp_path / "trace" / "spans.json"
    tracer.dump(str(path))
    assert [s["name"] for s in json.loads(path.read_text())] == ["op", "inner"]


def test_peak_rss_counts_this_process():
    assert PeakRss(os.getpid()).start().stop() > 1.0


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["dedup_corpus", "match_persons"])
def test_tiny_workload_reports_every_metric(workload, trace):
    spec = _spec()
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", trace, "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    wanted = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if trace == "0":
        assert result["metrics"]["recall"]["value"] == 1.0
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "dedup_corpus", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert not proc.stdout.strip()
