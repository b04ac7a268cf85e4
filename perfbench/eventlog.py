"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

It needs no UI server: the traced run points ``spark.eventLog.dir`` at its
work directory with compression and rolling off, and after the session
stops :func:`parse` turns the file into jobs, stages, tasks and the SQL
metrics of every plan node. :func:`summarize` then folds the jobs of one op
into the per-layer numbers the benchmark reports.

SQL metrics are keyed by accumulator id. Adaptive query execution re-plans
with fresh accumulators, so node names are collected from every plan the
log carries (the initial plan and each adaptive update). Stage accumulables
hold running totals, so an accumulator's value is its largest reading.
"""

from __future__ import annotations

import json
import os
import statistics
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

from .spans import covered

_SQL = "org.apache.spark.sql.execution.ui."
_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    execution: int | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_write: int
    input_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    #: stage id -> {accumulator id: value} of its SQL metrics
    stage_accums: dict[int, dict[int, float]] = field(default_factory=dict)
    #: SQL execution id -> {accumulator id: value} updated on the driver
    driver_accums: dict[int, dict[int, float]] = field(default_factory=dict)
    #: accumulator id -> (plan node name, metric name)
    metrics: dict[int, tuple[str, str]] = field(default_factory=dict)


def read_events(path: str) -> Iterator[dict]:
    """Events from one log file, or from every file under a directory."""
    files = (
        sorted(os.path.join(path, f) for f in os.listdir(path))
        if os.path.isdir(path) else [path]
    )
    for f in files:
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    stack = [info]
    while stack:
        node = stack.pop()
        for m in node.get("metrics", ()):
            out[m["accumulatorId"]] = (node["nodeName"], m["name"])
        stack.extend(node.get("children", ()))


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(events: Iterable[dict]) -> EventLog:
    log = EventLog()
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            log.jobs[e["Job ID"]] = Job(
                e["Job ID"],
                props.get("spark.jobGroup.id"),
                int(ex) if ex not in (None, "") else None,
                e["Submission Time"] / 1000.0,
                stages=[s["Stage ID"] for s in e.get("Stage Infos", ())],
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            log.tasks.append(Task(
                e["Stage ID"],
                info.get("Launch Time", 0) / 1000.0,
                info.get("Finish Time", 0) / 1000.0,
                m.get("Executor Run Time", 0) / 1000.0,
                m.get("JVM GC Time", 0) / 1000.0,
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                (m.get("Input Metrics") or {}).get("Bytes Read", 0),
            ))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            acc = log.stage_accums.setdefault(si["Stage ID"], {})
            for a in si.get("Accumulables", ()):
                if not str(a.get("Name", "")).startswith("internal."):
                    acc[a["ID"]] = max(acc.get(a["ID"], 0.0), _num(a.get("Value")))
        elif kind in (
            _SQL + "SparkListenerSQLExecutionStart",
            _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            _plan_metrics(e.get("sparkPlanInfo") or {}, log.metrics)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            acc = log.driver_accums.setdefault(e["executionId"], {})
            for aid, value in e.get("accumUpdates", ()):
                acc[aid] = max(acc.get(aid, 0.0), _num(value))
    return log


def jobs_of(log: EventLog, group: str, start: float, end: float) -> list[Job]:
    """The jobs of one op: those tagged with its job group, plus untagged
    jobs submitted inside its interval (jobs started from other threads
    do not inherit the group)."""
    return [
        j for j in log.jobs.values()
        if j.group == group or (j.group is None and start <= j.submit <= end)
    ]


def summarize(log: EventLog, jobs: list[Job], start: float, end: float) -> dict:
    """Per-layer numbers of the jobs of one op that ran in ``[start, end]``."""
    stage_ids = {s for j in jobs for s in j.stages}
    tasks = [t for t in log.tasks if t.stage in stage_ids]
    ran = {t.stage for t in tasks}
    execs = {j.execution for j in jobs if j.execution is not None}

    node_vals: dict[int, float] = {}
    for sid in stage_ids:
        for aid, v in log.stage_accums.get(sid, {}).items():
            node_vals[aid] = max(node_vals.get(aid, 0.0), v)
    for ex in execs:
        for aid, v in log.driver_accums.get(ex, {}).items():
            node_vals[aid] = max(node_vals.get(aid, 0.0), v)

    def total(pred) -> float:
        return sum(
            v for aid, v in node_vals.items()
            if aid in log.metrics and pred(*log.metrics[aid])
        )

    py_nodes = {node for node, metric in log.metrics.values() if metric == _FROM_PY}
    py_accums = {aid for aid, (node, _) in log.metrics.items() if node in py_nodes}
    py_stages = {
        sid for sid in ran
        if py_accums.intersection(log.stage_accums.get(sid, {}))
    }
    durations = [1000.0 * (t.finish - t.launch) for t in tasks]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": len(tasks),
        "task_p50_ms": statistics.median(durations) if durations else 0.0,
        "task_busy_s": sum(t.run_s for t in tasks),
        "task_gc_s": sum(t.gc_s for t in tasks),
        "idle_s": (end - start) - covered(
            ((t.launch, t.finish) for t in tasks), start, end
        ),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "input_bytes": sum(t.input_bytes for t in tasks),
        "python_stage_s": sum(t.run_s for t in tasks if t.stage in py_stages),
        "bytes_to_python": total(lambda n, m: m == _TO_PY),
        "bytes_from_python": total(lambda n, m: m == _FROM_PY),
        "rows_from_python": total(
            lambda n, m: n in py_nodes and m == "number of output rows"
        ),
        "join_rows_out": total(
            lambda n, m: ("Join" in n or n == "CartesianProduct")
            and m == "number of output rows"
        ),
        "files_read": total(lambda n, m: m == "number of files read"),
    }
