"""Event-log parser on a hand-written uncompressed v2 directory."""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog

APP = "local-1"
SQL = "org.apache.spark.sql.execution.ui."


def _write_v2(tmp_path, files: list[list[dict]]):
    d = tmp_path / f"eventlog_v2_{APP}"
    d.mkdir()
    (d / f"appstatus_{APP}").write_text("")
    for i, events in enumerate(files, start=1):
        (d / f"events_{i}_{APP}").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(tmp_path)


def _task(stage, run_ms, accum=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": a, "Update": str(v)} for a, v in accum]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                         "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}},
    }


def test_rolled_v2_directory(tmp_path):
    first = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g", "spark.sql.execution.id": "2"}},
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 2,
         "sparkPlanInfo": {"nodeName": "Filter", "children": [], "metrics": []}},
        _task(0, 40, accum=[(9, 5)]),
    ]
    second = [
        _task(0, 60, accum=[(9, 7)]),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1500}},
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 2, "accumUpdates": [[9, 3]]},
    ]
    log_dir = _write_v2(tmp_path, [first, second])
    path = eventlog.find_app_log(log_dir, APP)
    assert [p.rsplit("/", 1)[1] for p in eventlog.log_files(path)] == [f"events_1_{APP}", f"events_2_{APP}"]
    log = eventlog.parse(path)
    assert log.job_group == {0: "g"}
    # stage 1 never ran: only stage 0 counts
    assert log.stages_of_jobs([0]) == [0]
    assert [t.run_ms for t in log.stages[0].tasks] == [40, 60]
    assert (log.stages[0].submit_ms, log.stages[0].complete_ms) == (1000, 1500)
    assert log.accum[9] == 15
    assert eventlog.executions_of_group(log, "g") == [2]


def test_missing_log_is_an_error(tmp_path):
    with pytest.raises(FileNotFoundError):
        eventlog.find_app_log(str(tmp_path), APP)
