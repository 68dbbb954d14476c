"""Per-layer reduction of spans plus an event log."""

import pytest

from eventlog import Batch, EventLog, Job, Stage
from layers import METRICS, compute, median_wall
from spans import Span


def _spans():
    S = Span
    return [
        # untimed check pass: its jobs must not count
        S(0, "q1", "query", 0.0, 5.0, None, "r", {"phase": "check"}),
        S(1, "build", "build", 0.0, 5.0, 0, "r"),
        # timed pass 0
        S(2, "q1", "query", 10.0, 20.0, None, "r", {"phase": "timed", "pass": 0}),
        S(3, "build", "build", 10.0, 16.0, 2, "r"),
        S(4, "sources.load_table", "source", 10.0, 10.5, 3, "r"),
        S(5, "coreset.kcenter", "operator", 11.0, 15.0, 3, "r"),
        S(6, "ivf.train", "operator", 12.0, 13.0, 5, "r"),
        S(7, "SparkSession.newSession", "new_session", 15.5, 15.6, 3, "r"),
        S(8, "plan", "plan", 16.0, 16.5, 2, "r"),
        S(9, "exec", "exec", 16.5, 19.9, 2, "r"),
    ]


def _log():
    log = EventLog()
    log.jobs = {
        0: Job(0, 1.0, 2.0, [0]),  # check pass
        1: Job(1, 11.5, 12.5, [1]),  # coreset, overlaps job 2
        2: Job(2, 12.2, 12.8, [2]),  # ivf, nested in coreset
        3: Job(3, 17.0, 19.0, [3, 4], sql_execution=5),  # exec
    }
    log.codegen_stages = {4: 9, 5: 3}
    log.stages = {
        0: Stage(0, 0, 4, 0, {"input_bytes": 999.0}),
        1: Stage(1, 1, 2, 0, {"input_bytes": 100.0, "input_rows": 10.0, "task_ms": 50.0}),
        2: Stage(2, 2, 2, 0, {"task_ms": 50.0}),
        3: Stage(3, 3, 4, 1, {"input_bytes": 1000.0, "input_rows": 80.0, "task_ms": 4000.0, "python_sent_bytes": 64.0}),
        4: Stage(4, 3, 4, 0, {"task_ms": 2800.0, "shuffle_read_bytes": 12.0, "task_cpu_ns": 2e9}),
    }
    log.batches = [
        Batch(12.0, 0.5, 0.3, 0.05, 0.02, 7, 100),
        Batch(13.5, 0.25, 0.1, 0.05, 0.01, 9, 80),
        Batch(3.0, 9.0, 9.0, 0.0, 0.0, 1, 1),  # check pass
    ]
    return log


def test_build_layer_jobs_and_driver_time():
    m, breakdown, _ = compute(_spans(), _log(), cores=4)
    assert m["queryset.build_s"] == pytest.approx(6.0)
    assert m["queryset.build_jobs"] == 2
    # union of [11.5, 12.5] and [12.2, 12.8]
    assert m["queryset.build_job_s"] == pytest.approx(1.3)
    assert m["queryset.driver_s"] == pytest.approx(4.7)
    assert breakdown["q1"][0]["build_jobs"] == 2


def test_exec_layer_from_stages_of_exec_jobs_only():
    m, _, _ = compute(_spans(), _log(), cores=4)
    assert m["exec.s"] == pytest.approx(3.4)
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (1, 2, 8)
    assert m["exec.failed_tasks"] == 1
    assert m["exec.task_s"] == pytest.approx(6.8)
    assert m["exec.task_cpu_s"] == pytest.approx(2.0)
    assert m["exec.core_util"] == pytest.approx(6.8 / (3.4 * 4))
    assert m["exec.python_sent_bytes"] == 64
    assert m["exec.shuffle_read_bytes"] == 12
    assert m["plan.codegen_stages"] == 3
    # scan input counts in every phase of timed queries, never the check pass
    assert m["sources.input_bytes"] == 1100
    assert m["sources.input_rows"] == 90


def test_operator_self_time_and_jobs():
    m, _, modules = compute(_spans(), _log(), cores=4)
    assert modules["coreset"] == {"self_s": pytest.approx(3.0), "calls": 1, "jobs": 1}
    assert m["operators.ivf.self_s"] == pytest.approx(1.0)
    assert (m["operators.ivf.calls"], m["operators.ivf.jobs"]) == (1, 1)
    assert "operators.coreset.self_s" not in m
    assert m["operators.pq.calls"] == 0
    assert set(modules) == {"coreset", "ivf"}


def test_sources_plan_streaming():
    m, _, _ = compute(_spans(), _log(), cores=4)
    assert (m["sources.load_table_calls"], m["sources.load_table_s"]) == (1, pytest.approx(0.5))
    assert m["plan.s"] == pytest.approx(0.5)
    assert m["streaming.batches"] == 2
    assert m["streaming.trigger_s"] == pytest.approx(0.75)
    assert m["streaming.add_batch_s"] == pytest.approx(0.4)
    assert (m["streaming.state_rows"], m["streaming.state_memory_bytes"]) == (9, 100)
    assert m["streaming.outside_batch_s"] == pytest.approx(6.0 - 0.75)
    assert m["streaming.sessions_created"] == 1


def test_coverage_and_every_metric_present():
    m, breakdown, _ = compute(_spans(), _log(), cores=4)
    assert m["trace.coverage_min"] == pytest.approx(9.9 / 10.0)
    assert median_wall(breakdown) == pytest.approx(10.0)
    engine_filled = {k for k in METRICS if k.startswith("session.") or k in (
        "plan.exchanges", "plan.python_nodes", "trace.wall_s")}
    assert set(METRICS) - engine_filled == set(m)


def test_totals_are_per_pass():
    spans = _spans()
    n = len(spans)
    # a second timed pass of the same query, 2 s long with no children
    spans.append(Span(n, "q1", "query", 30.0, 32.0, None, "r", {"phase": "timed", "pass": 1}))
    spans.append(Span(n + 1, "build", "build", 30.0, 32.0, n, "r"))
    m, breakdown, _ = compute(spans, _log(), cores=4)
    assert m["queryset.build_s"] == pytest.approx((6.0 + 2.0) / 2)
    assert m["queryset.build_jobs"] == 1
    assert [r["pass"] for r in breakdown["q1"]] == [0, 1]
    assert median_wall(breakdown) == pytest.approx(6.0)
