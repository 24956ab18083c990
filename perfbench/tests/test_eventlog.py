"""The event-log folder, on hand-made events and on a small real log."""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import EventLog, _union_length  # noqa: E402


def job(job_id, group, start_s, end_s, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": start_s * 1000,
         "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end_s * 1000},
    ]


def task(stage, run_ms, reason="Success", attempt=0):
    zero_read = {"Remote Bytes Read": 0, "Local Bytes Read": 0}
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": attempt,
        "Task End Reason": {"Reason": reason}, "Task Info": {"Accumulables": []},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1e6 / 2,
            "JVM GC Time": 0, "Disk Bytes Spilled": 0, "Shuffle Read Metrics": zero_read,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Input Metrics": {"Bytes Read": 100, "Records Read": 5},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
        },
    }


def feed(events):
    log = EventLog()
    for e in events:
        log.feed(e)
    return log


def test_union_length_merges_overlaps():
    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_length([]) == 0


def test_fold_span_gap_and_counts():
    events = (
        job(0, "w.0.a", 10, 12, [0]) + job(1, "w.0.b", 11, 13, [1]) + job(2, "w.1.a", 20, 21, [2])
        + [task(0, 1000), task(0, 1000), task(1, 500, reason="ExceptionFailure"), task(2, 300)]
        + [{"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 1}}]
    )
    out = feed(events).fold({"w.0": [(9, 14)], "w.1": [(19.5, 21.5)]})
    w0 = out["w.0"]
    assert (w0["jobs"], w0["tasks"], w0["failed_tasks"], w0["stage_retries"]) == (2, 3, 1, 1)
    assert w0["run_s"] == pytest.approx(2.5)
    assert w0["cpu_s"] == pytest.approx(1.25)
    assert w0["job_span_s"] == pytest.approx(3.0)
    assert w0["driver_gap_s"] == pytest.approx(2.0)
    assert w0["job_span_s"] + w0["driver_gap_s"] == pytest.approx(w0["wall_s"])
    assert w0["busy_cores"] == pytest.approx(2.5 / 3.0)
    assert w0["input_rows"] == 15 and w0["shuffle_write_bytes"] == 30
    assert out["w.1"]["jobs"] == 1 and out["w.1"]["job_span_s"] == pytest.approx(1.0)


def test_unattributed_job_breaks_coverage():
    """A job of another group inside the window is neither span nor gap."""
    events = job(0, "w.0.a", 10, 11, [0]) + job(1, "", 12, 14, [1])
    w0 = feed(events).fold({"w.0": [(10, 15)]})["w.0"]
    assert w0["job_span_s"] == pytest.approx(1.0)
    assert w0["driver_gap_s"] == pytest.approx(2.0)
    assert (w0["job_span_s"] + w0["driver_gap_s"]) / w0["wall_s"] == pytest.approx(0.6)


def test_paused_segments_are_not_wall_time():
    events = job(0, "w.0.a", 10, 11, [0]) + job(1, "w.0.b", 20, 21, [1])
    w0 = feed(events).fold({"w.0": [(10, 11.5), (19.5, 21)]})["w.0"]
    assert w0["wall_s"] == pytest.approx(3.0)
    assert w0["driver_gap_s"] == pytest.approx(1.0)


def test_sql_metrics_follow_the_execution_group():
    plan = {"nodeName": "BroadcastHashJoin",
            "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
            "children": [{"nodeName": "ArrowEvalPython", "children": [],
                          "metrics": [{"name": "time to run Python workers", "accumulatorId": 8}]}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "jobGroupId": "w.0.k", "sparkPlanInfo": plan},
        *job(0, "w.0.k", 1, 2, [0]),
    ]
    t = task(0, 10)
    t["Task Info"]["Accumulables"] = [{"ID": 7, "Update": "40"}, {"ID": 8, "Update": "1500"}]
    events.append(t)
    events.append({"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
                   "executionId": 3, "accumUpdates": [[7, 2]]})
    w0 = feed(events).fold({"w.0": [(1, 2)]})["w.0"]
    assert w0["max_join_rows"] == {"k": 42}
    assert w0["python_s"] == pytest.approx(1.5)


@pytest.fixture(scope="module")
def small():
    log = EventLog.read(os.path.join(HERE, "data", "small_eventlog.jsonl"))
    with open(os.path.join(HERE, "data", "small_windows.json")) as fh:
        windows = json.load(fh)
    return log.fold(windows)


def test_small_log_counts(small):
    w0, w1 = small["w.0"], small["w.1"]
    assert (w0["jobs"], w0["tasks"], w1["jobs"], w1["tasks"]) == (3, 6, 2, 3)
    assert w0["failed_tasks"] == w1["failed_tasks"] == 0
    assert w0["input_rows"] == 100 + 10 + 50  # range rows of the join and the UDF
    assert w1["input_rows"] == 1000


def test_small_log_sql_metrics(small):
    assert small["w.0"]["max_join_rows"] == {"join": 100}
    assert small["w.1"]["max_join_rows"] == {}
    assert small["w.0"]["python_s"] > 0 and small["w.0"]["python_boot_s"] > 0
    assert small["w.1"]["python_s"] == 0
    assert small["w.1"]["shuffle_write_bytes"] == small["w.1"]["shuffle_read_bytes"] > 0


def test_small_log_span_and_gap_cover_each_window(small):
    for m in small.values():
        assert 0 < m["job_span_s"] < m["wall_s"]
        assert m["job_span_s"] + m["driver_gap_s"] == pytest.approx(m["wall_s"], rel=0.05)
        assert m["busy_cores"] == pytest.approx(m["run_s"] / m["job_span_s"])
