"""Event-log and streaming-progress parsing on a tiny canned log."""

import json

import pytest

import sparklog

MB = 1024 * 1024


def _task(stage, reason="Success", run_ms=100, cpu_ns=50_000_000, sent=0):
    accs = [{"ID": 1, "Name": sparklog.PYTHON_SENT, "Update": str(sent), "Value": str(sent)}] if sent else []
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": MB, "Local Bytes Read": MB},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * MB},
            "Input Metrics": {"Bytes Read": MB},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


PLAN = {
    "nodeName": "AdaptiveSparkPlan",
    "children": [
        {"nodeName": "Exchange", "children": [{"nodeName": "BroadcastExchange", "children": []}]},
        {"nodeName": "ReusedExchange", "children": []},
    ],
}

CANNED = [
    {"Event": "SparkListenerLogStart"},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 10_000,
        "Stage IDs": [0, 1],
        "Properties": {sparklog.QUERY_PROP: "1:q", "spark.sql.execution.id": "7"},
    },
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 7,
     "sparkPlanInfo": {"nodeName": "Exchange", "children": []}},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
     "executionId": 7, "sparkPlanInfo": PLAN},
    _task(0, sent=3 * MB),
    _task(1, reason="ExceptionFailure"),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 10_500},
    # a job from outside any benchmark query is ignored
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 11_000, "Stage IDs": [2], "Properties": {}},
    _task(2),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 11_100},
]


def test_parse_event_log_attributes_jobs_by_property():
    out = sparklog.parse_event_log(json.dumps(e) + "\n" for e in CANNED)
    assert list(out) == ["1:q"]
    q = out["1:q"]
    assert (q["jobs"], q["stages"], q["tasks"], q["failed_tasks"]) == (1, 2, 2, 1)
    assert q["executor_run_s"] == pytest.approx(0.2)
    assert q["executor_cpu_s"] == pytest.approx(0.1)
    assert q["shuffle_read_mb"] == pytest.approx(4.0)
    assert q["shuffle_write_mb"] == pytest.approx(4.0)
    assert q["input_mb"] == pytest.approx(2.0)
    assert q["python_in_mb"] == pytest.approx(3.0)
    # the last adaptive plan wins; the reused exchange is not counted
    assert q["exchanges"] == 2
    assert q["job_intervals"] == [(10.0, 10.5)]


def test_driver_gap_is_wall_minus_union_of_jobs():
    jobs = [(10.0, 10.5), (10.25, 10.75), (12.0, 13.0)]
    assert sparklog.driver_gap((9.5, 12.5), jobs) == pytest.approx(3.0 - 1.25)


PROGRESS = {
    "id": "a",
    "runId": "r1",
    "timestamp": "2026-01-01T00:00:01.500Z",
    "batchId": 0,
    "numInputRows": 5,
    "durationMs": {"triggerExecution": 800, "walCommit": 40, "commitOffsets": 60, "addBatch": 600},
    "stateOperators": [{"numRowsTotal": 7, "memoryUsedBytes": MB}, {"numRowsTotal": 3, "memoryUsedBytes": MB}],
}


def test_progress_figures_from_listener_json():
    f = sparklog.progress_figures(json.loads(json.dumps(PROGRESS)))
    assert f["trigger_s"] == pytest.approx(0.8)
    assert f["commit_s"] == pytest.approx(0.1)
    assert (f["state_rows"], f["state_mb"], f["rows"], f["run_id"]) == (10, 2.0, 5, "r1")
    assert f["t"] == pytest.approx(1767225601.5)
