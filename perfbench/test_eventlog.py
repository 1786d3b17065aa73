"""Tests for the event-log parser on a tiny log written here.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import json

import pytest

from perfbench.eventlog import app_log_path, read_events, summarize

APP = "local-123"


def _task(stage, run_ms, cpu_ns, accs=(), peak=0, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": n, "Update": u, "Value": u} for i, n, u in accs
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
            "Peak Execution Memory": peak,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _job(group, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": stages,
            "Properties": props}


def _stage(event, sid, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": f"SparkListenerStage{event}", "Stage Info": {"Stage ID": sid},
            "Properties": props}


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "sparkPlanInfo": {"nodeName": "HashAggregate", "metrics": [], "children": [
         {"nodeName": "InMemoryTableScan", "children": [], "metrics": [
             {"name": "number of output rows", "accumulatorId": 7, "metricType": "sum"}]}]}},
    _job("bbox#0", [0]),
    _stage("Submitted", 0, "bbox#0"),
    _task(0, 10, 4_000_000, [(7, "number of output rows", 50),
                             (9, "time in aggregation build", 3)], peak=100),
    _task(0, 30, 6_000_000, [(7, "number of output rows", 25)], peak=300, shuffle=64),
    _stage("Completed", 0, "bbox#0"),
    # a job with no group set: must not be charged to the previous group
    _job(None, [1]),
    _stage("Submitted", 1, None),
    _task(1, 5, 1_000_000),
    _stage("Completed", 1, None),
    _job("build#1", [2]),
    _stage("Submitted", 2, "build#1"),
    _task(2, 100, 50_000_000, [(11, "time to run Python workers", 80),
                               (12, "data sent to Python workers", 1024)]),
    _task(2, 300, 90_000_000, [(11, "time to run Python workers", 90)]),
    _task(2, 100, 40_000_000),
    _stage("Completed", 2, "build#1"),
]


def _write_rolling(tmp_path):
    """Spark 4.1's rolling layout; the split point is mid-stream and the
    part numbers sort wrongly as strings (10 < 9)."""
    d = tmp_path / f"eventlog_v2_{APP}"
    d.mkdir()
    lines = [json.dumps(e) for e in EVENTS]
    (d / f"events_9_{APP}").write_text("\n".join(lines[:7]) + "\n")
    (d / f"events_10_{APP}").write_text("\n".join(lines[7:]) + "\n")
    (d / f"appstatus_{APP}").write_text("")
    return d


def test_rolling_and_single_file_layouts_read_the_same(tmp_path):
    rolling = _write_rolling(tmp_path)
    single_dir = tmp_path / "single"
    single_dir.mkdir()
    (single_dir / APP).write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    assert app_log_path(str(tmp_path), APP) == str(rolling)
    assert list(read_events(str(rolling))) == EVENTS
    assert list(read_events(app_log_path(str(single_dir), APP))) == EVENTS
    with pytest.raises(FileNotFoundError):
        app_log_path(str(tmp_path), "local-999")


def test_counters_are_keyed_by_job_group(tmp_path):
    groups = summarize(read_events(str(_write_rolling(tmp_path))))
    assert set(groups) == {"bbox#0", "build#1", None}

    bbox = groups["bbox#0"]
    assert (bbox.jobs, bbox.stages, bbox.tasks) == (1, 1, 2)
    assert (bbox.run_ms, bbox.cpu_ns, bbox.gc_ms) == (40, 10_000_000, 2)
    assert bbox.scan_rows == 75
    assert bbox.sql == {"time in aggregation build": 3}
    assert bbox.peak_exec_mem_bytes == 300
    assert bbox.shuffle_write_bytes == 64
    assert bbox.python_stage_skew() == 0.0

    # the ungrouped job is reported apart, not leaked into a neighbour
    assert (groups[None].jobs, groups[None].tasks, groups[None].run_ms) == (1, 1, 5)

    build = groups["build#1"]
    assert build.sql == {"time to run Python workers": 170,
                         "data sent to Python workers": 1024}
    assert build.scan_rows == 0
    assert build.python_stage_skew() == 3.0
