"""Sliding-window stream must equal its batch twin (complements the
tumbling/session/stateful tests in test_streaming.py)."""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import pytest

from stupidb_spark.queryset import QUERIES
from stupidb_spark.streaming import (
    read_stream_output,
    run_stream,
    sliding_stream,
    stream_events,
)
from tests.conftest import SF_DIR, rowset

SCRATCH = Path("/root/repo/.scratch")


@pytest.fixture()
def staged_events():
    d = SCRATCH / f"stream-{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_sliding_stream_equals_batch(spark, staged_events, tmp_path):
    stream = sliding_stream(stream_events(spark, str(staged_events)))
    out = str(tmp_path / "out")
    run_stream(
        stream, out, checkpoint_dir=str(tmp_path / "ck"), output_mode="complete"
    )
    result = read_stream_output(spark, out, output_mode="complete").drop(
        "batch_id"
    )
    batch = QUERIES["events_sliding"](spark, SF_DIR)
    assert sorted(result.columns) == sorted(batch.columns)
    left = rowset([tuple(r) for r in result.collect()], list(result.columns))
    right = rowset([tuple(r) for r in batch.collect()], list(batch.columns))
    assert left == right
