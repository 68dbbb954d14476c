"""Per-layer metrics of a traced run, from its spans and its event log.

Layers are named after the engine's modules:

- ``queryset``: the query callable (the build layer), with the eager Spark
  jobs it runs and the driver time during which no job runs;
- ``operators``: self time, calls and jobs of each traced
  ``stupidb_spark.operators`` module;
- ``sources``: ``load_table`` calls, and scan input from the event log;
- ``plan``: forcing the physical plan of the returned DataFrame, its
  static shape, and the codegen spans of the noop write's final plan;
- ``exec``: the jobs, stages and tasks of the noop write;
- ``streaming``: micro-batch progress of the streams a callable runs, and
  the sessions it creates.

Every metric is a per-pass total over the timed passes: a sum over the
workload's queries, divided by the number of timed passes.
"""

from __future__ import annotations

import statistics

from eventlog import EventLog
from spans import Span, ancestor_of_kind, attribute, self_times, union_length

# Operator modules the workloads run, reported as metrics (the traced
# record keeps every module).
OPERATOR_MODULES = (
    "dedup",
    "ivf",
    "pq",
    "similarity",
    "skew",
)

_EXEC_SUMS = (
    ("exec.shuffle_write_bytes", "shuffle_write_bytes", 1.0),
    ("exec.shuffle_read_bytes", "shuffle_read_bytes", 1.0),
    ("exec.shuffle_fetch_wait_s", "shuffle_fetch_wait_ms", 1e-3),
    ("exec.spill_bytes", "spill_bytes", 1.0),
    ("exec.python_sent_bytes", "python_sent_bytes", 1.0),
    ("exec.python_received_bytes", "python_received_bytes", 1.0),
    ("exec.task_s", "task_ms", 1e-3),
    ("exec.task_cpu_s", "task_cpu_ns", 1e-9),
    ("exec.gc_s", "gc_ms", 1e-3),
)

# name -> unit, in the order they are printed.
METRICS: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MiB",
    "queryset.build_s": "s",
    "queryset.build_jobs": "count",
    "queryset.build_job_s": "s",
    "queryset.driver_s": "s",
    **{
        f"operators.{m}.{k}": u
        for m in OPERATOR_MODULES
        for k, u in (("self_s", "s"), ("calls", "count"), ("jobs", "count"))
    },
    "sources.load_table_s": "s",
    "sources.load_table_calls": "count",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "plan.s": "s",
    "plan.exchanges": "count",
    "plan.codegen_stages": "count",
    "plan.python_nodes": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.python_sent_bytes": "bytes",
    "exec.python_received_bytes": "bytes",
    "exec.failed_tasks": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.outside_batch_s": "s",
    "streaming.sessions_created": "count",
    "trace.wall_s": "s",
    "trace.coverage_min": "ratio",
}


def _zero_query() -> dict:
    q = {
        "wall_s": 0.0,
        "build_s": 0.0,
        "build_jobs": 0,
        "build_job_s": 0.0,
        "plan_s": 0.0,
        "exec_s": 0.0,
        "exec_jobs": 0,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "input_bytes": 0.0,
        "input_rows": 0.0,
        "batches": 0,
        "trigger_s": 0.0,
        "add_batch_s": 0.0,
        "wal_commit_s": 0.0,
        "query_planning_s": 0.0,
        "state_rows": 0,
        "state_memory_bytes": 0,
        "sessions_created": 0,
        "load_table_calls": 0,
        "load_table_s": 0.0,
        "codegen_stages": 0,
    }
    for _, key, _ in _EXEC_SUMS:
        q[key] = 0.0
    return q


def compute(spans: list[Span], log: EventLog, cores: int) -> tuple[dict, dict, dict]:
    """(metrics, per-query breakdown, per-operator-module breakdown) for the
    timed passes. ``metrics`` has every key of ``METRICS`` except the
    ``session.*`` and plan-count ones, which the engine fills in."""
    by_id = {s.id: s for s in spans}
    timed = [s for s in spans if s.kind == "query" and s.attrs.get("phase") == "timed"]
    passes = max(1, len({s.attrs["pass"] for s in timed}))
    timed_ids = {s.id for s in timed}

    def timed_query(sid):
        q = ancestor_of_kind(by_id, sid, "query")
        return q if q is not None and q.id in timed_ids else None

    per_query: dict[int, dict] = {s.id: _zero_query() for s in timed}
    for s in timed:
        per_query[s.id]["wall_s"] = s.duration

    # Phase spans, load_table and newSession spans under timed queries.
    for s in spans:
        q = timed_query(s.parent) if s.kind != "query" else None
        if q is None:
            continue
        row = per_query[q.id]
        if s.kind == "build":
            row["build_s"] += s.duration
        elif s.kind == "plan":
            row["plan_s"] += s.duration
        elif s.kind == "exec":
            row["exec_s"] += s.duration
        elif s.kind == "source":
            row["load_table_calls"] += 1
            row["load_table_s"] += s.duration
        elif s.kind == "new_session":
            row["sessions_created"] += 1

    # Jobs: charged to the innermost span open at submission.
    job_span = attribute(spans, {j.id: j.start for j in log.jobs.values()})
    build_intervals: dict[int, list] = {}
    job_phase: dict[int, tuple[int, str]] = {}
    op_jobs: dict[str, int] = {}
    exec_sql: dict[int, set[int]] = {}
    for jid, sid in job_span.items():
        q = timed_query(sid)
        if q is None:
            continue
        op = ancestor_of_kind(by_id, sid, "operator")
        if op is not None:
            module = op.name.split(".")[0]
            op_jobs[module] = op_jobs.get(module, 0) + 1
        for phase in ("build", "plan", "exec"):
            p = ancestor_of_kind(by_id, sid, phase)
            if p is not None:
                job_phase[jid] = (q.id, phase)
                row = per_query[q.id]
                if phase == "build":
                    row["build_jobs"] += 1
                    job = log.jobs[jid]
                    end = job.end if job.end is not None else p.end
                    build_intervals.setdefault(p.id, []).append(
                        (max(job.start, p.start), min(end, p.end))
                    )
                elif phase == "exec":
                    row["exec_jobs"] += 1
                    sql = log.jobs[jid].sql_execution
                    if sql is not None:
                        exec_sql.setdefault(q.id, set()).add(sql)
                break
    for qid, executions in exec_sql.items():
        per_query[qid]["codegen_stages"] = sum(log.codegen_stages.get(e, 0) for e in executions)
    for pid, intervals in build_intervals.items():
        q = timed_query(pid)
        per_query[q.id]["build_job_s"] += union_length(
            (a, b) for a, b in intervals if b > a
        )

    # Stages: scan input counts for every phase; the rest for exec only.
    for stage in log.stages.values():
        owner = job_phase.get(stage.job)
        if owner is None:
            continue
        qid, phase = owner
        row = per_query[qid]
        row["input_bytes"] += stage.sums.get("input_bytes", 0.0)
        row["input_rows"] += stage.sums.get("input_rows", 0.0)
        if phase != "exec":
            continue
        row["stages"] += 1
        row["tasks"] += stage.tasks
        row["failed_tasks"] += stage.failed_tasks
        for _, key, _ in _EXEC_SUMS:
            row[key] += stage.sums.get(key, 0.0)

    # Stream micro-batches, charged by trigger start.
    batch_span = attribute(spans, {i: b.start for i, b in enumerate(log.batches)})
    peak: dict[int, tuple[int, int]] = {}
    for i, sid in batch_span.items():
        q = timed_query(sid)
        if q is None:
            continue
        b = log.batches[i]
        row = per_query[q.id]
        row["batches"] += 1
        row["trigger_s"] += b.trigger_s
        row["add_batch_s"] += b.add_batch_s
        row["wal_commit_s"] += b.wal_commit_s
        row["query_planning_s"] += b.query_planning_s
        rows, mem = peak.get(q.id, (0, 0))
        peak[q.id] = (max(rows, b.state_rows), max(mem, b.state_memory_bytes))
    for qid, (rows, mem) in peak.items():
        per_query[qid]["state_rows"] = rows
        per_query[qid]["state_memory_bytes"] = mem

    # Operators: self time nets out nested traced calls.
    selfs = self_times(spans)
    modules: dict[str, dict] = {}
    for s in spans:
        if s.kind != "operator" or timed_query(s.id) is None:
            continue
        module = s.name.split(".")[0]
        m = modules.setdefault(module, {"self_s": 0.0, "calls": 0, "jobs": 0})
        m["self_s"] += selfs[s.id]
        m["calls"] += 1
    for module, n in op_jobs.items():
        modules.setdefault(module, {"self_s": 0.0, "calls": 0, "jobs": 0})["jobs"] = n

    rows = list(per_query.values())

    def total(key):
        return sum(r[key] for r in rows) / passes

    exec_s = total("exec_s")
    metrics = {
        "queryset.build_s": total("build_s"),
        "queryset.build_jobs": total("build_jobs"),
        "queryset.build_job_s": total("build_job_s"),
        "queryset.driver_s": total("build_s") - total("build_job_s"),
        "sources.load_table_s": total("load_table_s"),
        "sources.load_table_calls": total("load_table_calls"),
        "sources.input_bytes": total("input_bytes"),
        "sources.input_rows": total("input_rows"),
        "plan.s": total("plan_s"),
        "plan.codegen_stages": total("codegen_stages"),
        "exec.s": exec_s,
        "exec.jobs": total("exec_jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.failed_tasks": total("failed_tasks"),
        "exec.core_util": total("task_ms") * 1e-3 / (exec_s * cores) if exec_s > 0 else 0.0,
        "streaming.batches": total("batches"),
        "streaming.trigger_s": total("trigger_s"),
        "streaming.add_batch_s": total("add_batch_s"),
        "streaming.wal_commit_s": total("wal_commit_s"),
        "streaming.query_planning_s": total("query_planning_s"),
        "streaming.state_rows": total("state_rows"),
        "streaming.state_memory_bytes": total("state_memory_bytes"),
        "streaming.outside_batch_s": sum(
            r["build_s"] - r["trigger_s"] for r in rows if r["batches"]
        )
        / passes,
        "streaming.sessions_created": total("sessions_created"),
    }
    for name, key, scale in _EXEC_SUMS:
        metrics[name] = total(key) * scale
    for module in OPERATOR_MODULES:
        m = modules.get(module, {"self_s": 0.0, "calls": 0, "jobs": 0})
        for k in ("self_s", "calls", "jobs"):
            metrics[f"operators.{module}.{k}"] = m[k] / passes

    coverage = [
        (r["build_s"] + r["plan_s"] + r["exec_s"]) / r["wall_s"] for r in rows if r["wall_s"] > 0
    ]
    metrics["trace.coverage_min"] = min(coverage) if coverage else 0.0

    breakdown: dict[str, dict] = {}
    for s in timed:
        row = dict(per_query[s.id])
        row["pass"] = s.attrs["pass"]
        breakdown.setdefault(s.name, []).append(row)
    return metrics, breakdown, modules


def median_wall(breakdown: dict[str, list[dict]]) -> float:
    """Sum over queries of the median traced wall time across passes."""
    return sum(statistics.median(r["wall_s"] for r in rs) for rs in breakdown.values())
