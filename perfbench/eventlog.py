"""Reader for Spark's JSON event log (``spark.eventLog.enabled``, written
uncompressed): per-job totals of tasks, stages, executor time, shuffle,
spill, output bytes, failures and the Python-worker SQL metrics, keyed by
the job group each job was submitted under.

Only the fields the benchmark reads are kept.  Timestamps stay in the
log's unit (milliseconds since the epoch) so they line up with spans
timed by ``time.time()``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metric names of PythonSQLMetrics (Spark 4.x)
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list = field(default_factory=list)
    call_site: str = ""
    tasks: int = 0
    failed_tasks: int = 0
    task_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    output_bytes: float = 0.0
    python_ns: float = 0.0
    python_sent_bytes: float = 0.0


@dataclass
class EventLog:
    jobs: dict                 # job_id -> Job
    stage_tasks: dict          # stage_id -> [task run ms, ...] over attempts
    stage_retries: int         # stage attempts beyond the first
    task_failures: int


def _metric_scale(metric_type: str) -> float:
    """Factor from a SQL metric's raw value to nanoseconds (timings) or
    bytes (sizes)."""
    return {"nsTiming": 1.0, "timing": 1e6}.get(metric_type, 1.0)


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))
    for child in info.get("children", []):
        _walk_plan(child, out)


def parse(lines) -> EventLog:
    """Aggregate an event log given as an iterable of JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    sql_metrics: dict[int, tuple] = {}
    stage_tasks: dict[int, list] = defaultdict(list)
    attempts: dict[int, set] = defaultdict(set)
    task_failures = 0
    tasks = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit_ms=ev.get("Submission Time", 0),
                stage_ids=list(ev.get("Stage IDs", [])),
                call_site=props.get("callSite.short", ""),
            )
            for info in ev.get("Stage Infos", []):
                job.call_site = job.call_site or info.get("Stage Name", "")
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev.get("Completion Time")
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            attempts[info["Stage ID"]].add(info.get("Stage Attempt ID", 0))
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev.get("sparkPlanInfo", {}), sql_metrics)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    # SQL plan infos can arrive after the tasks that update their
    # metrics (adaptive re-plans), so tasks are folded in a second pass
    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"]))
        info = ev.get("Task Info", {})
        failed = info.get("Failed", False) or (
            ev.get("Task End Reason", {}).get("Reason", "Success") != "Success"
        )
        if failed:
            task_failures += 1
        m = ev.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        stage_tasks[ev["Stage ID"]].append(run_ms)
        if job is None:
            continue
        job.tasks += 1
        job.failed_tasks += int(failed)
        job.task_ms += run_ms
        job.cpu_ns += m.get("Executor CPU Time", 0)
        job.gc_ms += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        job.shuffle_bytes += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            + sw.get("Shuffle Bytes Written", 0)
        )
        job.spill_bytes += m.get("Disk Bytes Spilled", 0)
        job.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            name, mtype = sql_metrics.get(acc.get("ID"), (acc.get("Name"), "sum"))
            if name == PY_TIME:
                job.python_ns += float(acc.get("Update", 0)) * _metric_scale(mtype)
            elif name == PY_SENT:
                job.python_sent_bytes += float(acc.get("Update", 0))
    retries = sum(len(a) - 1 for a in attempts.values())
    return EventLog(jobs, dict(stage_tasks), retries, task_failures)


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)
