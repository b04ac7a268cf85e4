"""Event-log parsing on a hand-written log with Spark's field names."""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog

SQL = "org.apache.spark.sql.execution.ui."


def _plan(py_ids, join_id, scan_ids):
    return {
        "nodeName": "AdaptiveSparkPlan", "metrics": [], "children": [{
            "nodeName": "MapInPandas",
            "metrics": [
                {"name": "data sent to Python workers", "accumulatorId": py_ids[0], "metricType": "size"},
                {"name": "data returned from Python workers", "accumulatorId": py_ids[1], "metricType": "size"},
                {"name": "number of output rows", "accumulatorId": py_ids[2], "metricType": "sum"},
            ],
            "children": [{
                "nodeName": "SortMergeJoin",
                "metrics": [{"name": "number of output rows", "accumulatorId": join_id, "metricType": "sum"}],
                "children": [{
                    "nodeName": "Scan parquet",
                    "metrics": [
                        {"name": "number of files read", "accumulatorId": scan_ids[0], "metricType": "sum"},
                        {"name": "number of output rows", "accumulatorId": scan_ids[1], "metricType": "sum"},
                    ],
                    "children": [],
                }],
            }],
        }],
    }


def _task(stage, launch_ms, finish_ms, run_ms, gc_ms=0, shuffle=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
        },
    }


def _stage(stage, accums):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Stage ID": stage, "Accumulables": [
            {"ID": i, "Name": n, "Value": str(v)} for i, n, v in accums
        ] + [{"ID": 999, "Name": "internal.metrics.executorRunTime", "Value": 5}]},
    }


EVENTS = [
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
     "sparkPlanInfo": _plan((1, 2, 3), 4, (5, 6))},
    # adaptive re-planning: the Python node gets fresh accumulators
    {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 0,
     "sparkPlanInfo": _plan((11, 12, 13), 4, (5, 6))},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_000,
     "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}],
     "Properties": {"spark.jobGroup.id": "op-1", "spark.sql.execution.id": "0"}},
    _task(0, 1000_100, 1000_300, 150, gc_ms=10, shuffle=400, read=1000),
    _task(0, 1000_200, 1000_400, 180, shuffle=600, read=3000),
    _stage(0, [(4, "number of output rows", 70), (6, "number of output rows", 500)]),
    _task(1, 1000_600, 1000_900, 250, gc_ms=20),
    _stage(1, [(11, "data sent to Python workers", 4096),
               (12, "data returned from Python workers", 8192),
               (13, "number of output rows", 35)]),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1000_950},
    {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
     "accumUpdates": [[5, 3]]},
    # an untagged job inside the op's interval (started from another thread)
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000_960,
     "Stage Infos": [{"Stage ID": 2}], "Properties": {}},
    _task(2, 1000_970, 1000_990, 15),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1000_995},
    # another op's job
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1002_000,
     "Stage Infos": [{"Stage ID": 3}], "Properties": {"spark.jobGroup.id": "op-2"}},
    _task(3, 1002_010, 1002_500, 480),
]


@pytest.fixture
def log(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return eventlog.parse(eventlog.read_events(str(tmp_path)))


def test_jobs_by_group_and_interval(log):
    jobs = eventlog.jobs_of(log, "op-1", 1000.0, 1001.0)
    assert sorted(j.job_id for j in jobs) == [0, 1]
    assert jobs[0].group == "op-1" and jobs[0].execution == 0
    assert jobs[0].submit == 1000.0 and jobs[0].end == pytest.approx(1000.95)
    assert [j.job_id for j in eventlog.jobs_of(log, "op-2", 1002.0, 1003.0)] == [2]


def test_summary_of_one_op(log):
    jobs = eventlog.jobs_of(log, "op-1", 1000.0, 1001.0)
    s = eventlog.summarize(log, jobs, 1000.0, 1001.0)
    assert (s["jobs"], s["stages"], s["tasks"]) == (2, 3, 4)
    assert s["task_busy_s"] == pytest.approx(0.595)
    assert s["task_gc_s"] == pytest.approx(0.030)
    assert s["task_p50_ms"] == pytest.approx(200.0)
    # tasks cover 100..400, 600..900 and 970..990 ms of the 1 s op
    assert s["idle_s"] == pytest.approx(1.0 - 0.62)
    assert s["shuffle_write_bytes"] == 1000 and s["input_bytes"] == 4000
    assert s["bytes_to_python"] == 4096 and s["bytes_from_python"] == 8192
    assert s["rows_from_python"] == 35
    assert s["python_stage_s"] == pytest.approx(0.25)
    assert s["join_rows_out"] == 70
    assert s["files_read"] == 3


def test_internal_accumulators_are_ignored(log):
    assert all(999 not in acc for acc in log.stage_accums.values())
    assert log.metrics[12] == ("MapInPandas", "data returned from Python workers")
