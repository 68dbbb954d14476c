"""Reduce a Spark event log to jobs, per-stage totals, the codegen spans
of each SQL execution's final plan, and stream progress.

Only the events the traced run reports on are parsed. Task-end events are
the bulk of a log; they are decoded only when the task did not succeed, to
count failed tasks. Per-stage totals come from the accumulables of each
stage-completed event: a stage is charged the increase of each accumulator
since the last event that reported it, so an accumulator updated by more
than one stage (an SQL metric of a reused plan node) is not counted twice.
"""

from __future__ import annotations

import datetime
import json
import os
from dataclasses import dataclass, field

# accumulator name -> stage total it adds to
STAGE_SUMS = {
    "internal.metrics.executorRunTime": "task_ms",
    "internal.metrics.executorCpuTime": "task_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.fetchWaitTime": "shuffle_fetch_wait_ms",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_rows",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    _PROGRESS,
    _SQL_START,
    _SQL_UPDATE,
)


@dataclass
class Job:
    id: int
    start: float  # epoch seconds
    end: float | None = None
    stage_ids: list[int] = field(default_factory=list)
    sql_execution: int | None = None


@dataclass
class Stage:
    id: int
    job: int | None
    tasks: int = 0
    failed_tasks: int = 0
    sums: dict = field(default_factory=dict)


@dataclass
class Batch:
    """One stream micro-batch (a QueryProgressEvent)."""

    start: float  # trigger start, epoch seconds
    trigger_s: float
    add_batch_s: float
    wal_commit_s: float
    query_planning_s: float
    state_rows: int
    state_memory_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    batches: list[Batch] = field(default_factory=list)
    # SQL execution id -> whole-stage-codegen spans in its latest plan
    # (the final adaptive plan once the execution has run)
    codegen_stages: dict[int, int] = field(default_factory=dict)


def log_files(path: str) -> list[str]:
    """The event files of one application: a rolling ``eventlog_v2_*``
    directory's ``events_*`` files in order, or a single file."""
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def read_lines(path: str):
    for p in log_files(path):
        with open(p) as f:
            yield from f


def _event_name(line: str) -> str | None:
    # Every line starts with {"Event":"<name>", so the name is read
    # without decoding the rest of the line.
    head = line[:120]
    i = head.find('"Event":"')
    if i < 0:
        return None
    j = head.find('"', i + 9)
    return head[i + 9 : j] if j > 0 else None


def _codegen_spans(plan: dict) -> int:
    names = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.get("nodeName", "").startswith("WholeStageCodegen"):
            names.add(node["nodeName"])
        stack.extend(node.get("children", ()))
    return len(names)


def _iso_to_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def reduce_log(lines) -> EventLog:
    log = EventLog()
    stage_job: dict[int, int] = {}
    last_value: dict[int, float] = {}
    failed: dict[int, int] = {}
    for line in lines:
        name = _event_name(line)
        if name not in _WANTED:
            continue
        if name == "SparkListenerTaskEnd":
            if '"Reason":"Success"' in line:
                continue
            ev = json.loads(line)
            failed[ev["Stage ID"]] = failed.get(ev["Stage ID"], 0) + 1
            continue
        ev = json.loads(line)
        if name == "SparkListenerJobStart":
            sql = ev.get("Properties", {}).get("spark.sql.execution.id")
            job = Job(
                ev["Job ID"],
                ev["Submission Time"] / 1000.0,
                None,
                list(ev["Stage IDs"]),
                int(sql) if sql is not None else None,
            )
            log.jobs[job.id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.id)
        elif name == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif name == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            stage = log.stages.setdefault(sid, Stage(sid, stage_job.get(sid)))
            stage.tasks += info["Number of Tasks"]
            for acc in info.get("Accumulables", []):
                key = STAGE_SUMS.get(acc.get("Name"))
                if key is None:
                    continue
                try:
                    value = float(acc["Value"])
                except (KeyError, TypeError, ValueError):
                    continue
                delta = value - last_value.get(acc["ID"], 0.0)
                last_value[acc["ID"]] = value
                stage.sums[key] = stage.sums.get(key, 0.0) + delta
        elif name in (_SQL_START, _SQL_UPDATE):
            log.codegen_stages[ev["executionId"]] = _codegen_spans(ev["sparkPlanInfo"])
        else:
            p = ev["progress"]
            d = p.get("durationMs", {})
            ops = p.get("stateOperators", [])
            log.batches.append(
                Batch(
                    start=_iso_to_epoch(p["timestamp"]),
                    trigger_s=d.get("triggerExecution", 0) / 1000.0,
                    add_batch_s=d.get("addBatch", 0) / 1000.0,
                    wal_commit_s=d.get("walCommit", 0) / 1000.0,
                    query_planning_s=d.get("queryPlanning", 0) / 1000.0,
                    state_rows=sum(o.get("numRowsTotal", 0) for o in ops),
                    state_memory_bytes=sum(o.get("memoryUsedBytes", 0) for o in ops),
                )
            )
    for sid, n in failed.items():
        log.stages.setdefault(sid, Stage(sid, stage_job.get(sid))).failed_tasks += n
    return log


def find_app_log(event_dir: str) -> str:
    """The single application log written under ``event_dir``."""
    entries = [e for e in os.listdir(event_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one application log in {event_dir}, found {entries}")
    return os.path.join(event_dir, entries[0])
