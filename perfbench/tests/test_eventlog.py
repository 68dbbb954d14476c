"""The event-log reducer, on a small captured log and on synthetic lines."""

import json
import os

import pytest

from eventlog import find_app_log, log_files, read_lines, reduce_log

DATA = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    # Captured from a 4-core local session: a grouped count, a 1000-row
    # pandas UDF, a parquet write and a two-batch complete-mode stream.
    # Fields the reducer never reads are dropped, plans keep node names.
    return reduce_log(read_lines(DATA))


def test_jobs_have_epoch_second_bounds(log):
    assert sorted(log.jobs) == list(range(7))
    j = log.jobs[1]
    assert (j.start, j.end, j.stage_ids) == (1792193507.936, 1792193508.149, [1, 2])
    assert all(j.end > j.start for j in log.jobs.values())


def test_skipped_stage_is_not_counted(log):
    # Stage 1 is listed by job 1 but was never run (its shuffle output
    # was reused), so no stage-completed event reports it.
    assert 1 not in log.stages
    assert log.stages[2].job == 1


def test_stage_sums(log):
    s0 = log.stages[0]
    assert s0.job == 0 and s0.tasks == 4
    assert s0.sums["task_ms"] == 1472
    assert s0.sums["shuffle_write_bytes"] == 915
    assert log.stages[2].sums["shuffle_read_bytes"] == 915
    assert s0.sums["input_rows"] == 20000


def test_python_worker_bytes_only_on_the_udf_stage(log):
    sent = {sid: s.sums.get("python_sent_bytes", 0) for sid, s in log.stages.items()}
    assert sent[3] == 8704 and log.stages[3].sums["python_received_bytes"] == 8576
    assert sum(sent.values()) == 8704


def test_codegen_spans_of_each_sql_execution_final_plan(log):
    # Execution 0 is adaptive: its start plan has no codegen spans yet; the
    # last update (the final plan) has two.
    assert log.codegen_stages[0] == 2
    assert log.codegen_stages[7] == 4
    assert {j.id: j.sql_execution for j in log.jobs.values()} == {
        0: 0, 1: 0, 2: 1, 3: 2, 4: 2, 5: 5, 6: 7
    }


def test_stream_progress(log):
    assert len(log.batches) == 2
    b0, b1 = log.batches
    assert b0.start == pytest.approx(1792193513.062)
    assert (b0.trigger_s, b0.add_batch_s, b0.wal_commit_s, b0.query_planning_s) == (
        2.118,
        1.428,
        0.062,
        0.287,
    )
    assert (b1.state_rows, b1.state_memory_bytes) == (3, 2720)


def _line(**ev):
    return json.dumps(ev, separators=(",", ":")) + "\n"


def test_shared_accumulator_charged_by_increase_and_failed_tasks_counted():
    acc = "data sent to Python workers"
    lines = [
        _line(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]}),
        _line(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task End Reason": {"Reason": "ExceptionFailure"}}),
        _line(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task End Reason": {"Reason": "Success"}}),
        _line(
            Event="SparkListenerStageCompleted",
            **{"Stage Info": {"Stage ID": 0, "Number of Tasks": 2, "Accumulables": [{"ID": 7, "Name": acc, "Value": "100"}]}},
        ),
        _line(
            Event="SparkListenerStageCompleted",
            **{"Stage Info": {"Stage ID": 1, "Number of Tasks": 1, "Accumulables": [{"ID": 7, "Name": acc, "Value": "130"}]}},
        ),
        _line(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 2500}),
    ]
    log = reduce_log(lines)
    assert log.stages[0].sums["python_sent_bytes"] == 100
    assert log.stages[1].sums["python_sent_bytes"] == 30
    assert log.stages[0].failed_tasks == 1 and log.stages[1].failed_tasks == 0
    assert (log.jobs[0].start, log.jobs[0].end) == (1.0, 2.5)


def test_rolling_log_directory_is_read_in_index_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    for i in (10, 2, 1):
        (app / f"events_{i}_local-1").write_text(
            _line(Event="SparkListenerJobStart", **{"Job ID": i, "Submission Time": i, "Stage IDs": []})
        )
    assert find_app_log(str(tmp_path)) == str(app)
    assert [os.path.basename(p) for p in log_files(str(app))] == [
        "events_1_local-1",
        "events_2_local-1",
        "events_10_local-1",
    ]
    assert list(reduce_log(read_lines(str(app))).jobs) == [1, 2, 10]
