"""Streaming event-time pipelines over the ``events`` table.

Each transformation here uses the *same* window expression as its batch twin
in ``stupidb_spark/queryset/events.py`` — ``F.window`` / ``F.session_window``
are batch/stream-polymorphic, so a result verified against the DuckDB oracle
in batch is the semantics the stream computes incrementally.

Scale design (what changes on a real cluster, none of which changes the
code): the file source becomes Kafka; ``availableNow`` becomes a continuous
trigger; the per-epoch parquet sink (``run_stream``) can become Delta.
Watermarks bound state: a ``1 hour`` watermark means a window's state is
dropped once the event-time high-water-mark passes its end — state size is
O(active windows × keys), independent of stream length. The stateful
operator keys state by ``user_id``; state store shards follow the shuffle
partitioning, so hot users are the same skew problem (and AQE/salting
answer) as a hot groupBy key in batch.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from stupidb_spark.functions import exact as X
from stupidb_spark.sources.catalog import read_fixture

# ---------------------------------------------------------------------------
# source
# ---------------------------------------------------------------------------


def stream_events(
    spark: SparkSession,
    source_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of events parquet files dropped into ``source_dir``,
    read by the same :func:`~stupidb_spark.sources.catalog.read_fixture` as
    the batch ``load_table('events')`` (pinned schema, TIMESTAMP(NANOS)
    fallback sniffed from the first staged file, so stage at least one
    before defining the stream). ``max_files_per_trigger=1`` makes each
    staged file its own micro-batch (used by tests to prove state carries
    across batches).
    """
    return read_fixture(
        spark,
        "events",
        source_dir,
        stream=True,
        max_files_per_trigger=max_files_per_trigger,
    )


# ---------------------------------------------------------------------------
# windowed aggregations — identical expressions to the batch twins
# ---------------------------------------------------------------------------


def tumbling_stream(
    events: DataFrame, *, width: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of ``events_tumbling``: 1h tumbling event-time windows.

    The watermark lets Spark finalize and drop window state ``watermark``
    past each window's end — without it, state grows without bound.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            X.dsum("value", 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_stream(
    events: DataFrame,
    *,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``events_sliding``: overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            X.dsum("value", 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def sessionized_stream(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str | None = "1 hour"
) -> DataFrame:
    """Streaming twin of ``events_session``: gap-based session windows.

    Session windows REQUIRE a watermark in streaming append/update modes
    (sessions can otherwise merge forever); ``F.session_window`` merges
    partial sessions across micro-batches until the watermark closes them.
    ``watermark=None`` is for COMPLETE-mode runs only (the epoch-sink
    gate): unlike plain window aggregations, the session operator still
    applies the late-row filter in complete mode, so out-of-time-order
    micro-batches would silently lose sessions (measured: 651 of 946 on
    the randomly-staged gate fixture); with no watermark, complete mode
    retains and merges all state, which is that route's contract anyway.
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            X.dsum("value", 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def deduped_stream(
    events: DataFrame,
    *,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once view of an at-least-once event stream: drop rows whose
    ``keys`` were already seen within the watermark horizon.

    The canonical training-pipeline ingest guard — upstream collectors retry,
    so the same event arrives more than once. ``dropDuplicatesWithinWatermark``
    keeps one row per key and, unlike plain ``dropDuplicates``, bounds the
    dedup state: a key's entry is evicted once the event-time high-water-mark
    passes its timestamp + ``watermark``, so state is O(keys per horizon),
    independent of stream length. Duplicates arriving later than the horizon
    are ingested again — pair with a downstream batch ``exact_dedup``
    (operators/dedup.py) for the long tail.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def attribution_stream(
    events: DataFrame,
    *,
    horizon: str = "4 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each click attributed to the same user's
    views in the preceding ``horizon``. Streaming twin of
    ``events_attribution``.

    Both sides carry a watermark and the join condition bounds ``click_ts``
    relative to ``view_ts`` — together these let Spark evict buffered rows
    once the event-time high-water-mark passes ``view_ts + horizon +
    watermark``, so join state is O(events per horizon window), independent
    of stream length. Without the time-range condition a stream-stream inner
    join must buffer BOTH streams forever.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return views.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("view_id", "click_id", "user_id", "view_ts", "click_ts")


# ---------------------------------------------------------------------------
# custom stateful operator — the reference's step/combine/finalize shape,
# re-expressed as Arrow-batched grouped-map-with-state
# ---------------------------------------------------------------------------

_RUNNING_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_event_type", StringType()),
    ]
)

# state = the aggregate's accumulator tuple, exactly a reference
# ``UnaryAssociativeAggregate``'s fields (count, total) plus a navigation
# value — what ``step`` updates and ``finalize`` reads
# (stupidb/functions/associative/core.py:13-81).
_RUNNING_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("total_cents", LongType()),
        StructField("last_type", StringType()),
    ]
)


def _running_totals_fn(
    key: Tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """step(): fold this micro-batch into the accumulator; emit finalize().

    Totals accumulate in integer cents (the exact.py discipline) so the
    running sum is exact regardless of batch boundaries.
    """
    if state.exists:
        n, total_cents, last_type = state.get
    else:
        n, total_cents, last_type = 0, 0, None
    for pdf in pdfs:
        if len(pdf):
            n += len(pdf)
            total_cents += int(pdf["value"].mul(10000).round().astype("int64").sum())
            ordered = pdf.sort_values(["ts", "event_id"])
            last_type = str(ordered["event_type"].iloc[-1])
    state.update((n, total_cents, last_type))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total_cents / 10000.0],
            "last_event_type": [last_type],
        }
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, exact total, last event type) across batches.

    ``applyInPandasWithState`` is the Spark-native custom stateful operator:
    state lives in the state store keyed by ``user_id``, the function sees
    Arrow-batched pandas frames (never row-at-a-time Python), and output mode
    ``update`` emits one row per user per micro-batch that touched it.

    Spark 4's successor API (``transformWithStateInPandas`` — typed state
    handles on a RocksDB store) expresses the same operator, but its
    Python↔JVM state protocol needs ``google.protobuf``, which this
    environment does not provide (verified: the pre-init driver worker
    crashes on the protobuf import) — so this proven API is the shipped
    one. The migration is mechanical: ``init`` takes
    ``handle.getValueState("totals", _RUNNING_STATE)`` and
    ``handleInputRows`` is this function's body.
    """
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_OUTPUT,
            stateStructType=_RUNNING_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# runner
# ---------------------------------------------------------------------------


def size_state_partitions(
    ingest_bytes: int,
    n_batches: int,
    cap: int,
    *,
    target_batch_bytes: int = 128 * 1024,
) -> int:
    """Scale-adaptive state-partition count for a staged-file stream run.

    One state-store instance exists per shuffle partition per micro-batch,
    AQE never coalesces stateful stream shuffles, and each instance pays a
    fixed open/commit/maintenance cost regardless of how little data it
    holds — so the partition count must follow the DATA VOLUME PER
    MICRO-BATCH, not the core count (guide §2: derive partitioning from
    input size, not a constant tuned for one deployment). Measured on the
    round-14 gates at sf0.1 (~0.7 MB/batch): 32 inherited partitions vs 8
    sized ones is 6.7 s vs 3.5 s on the append session gate and 4.2 s vs
    2.5 s on the tumbling gate, with bit-identical read-backs; at sf1
    (~7 MB/batch) the formula saturates at the core-count cap, matching
    the round-13 tuning that was fastest there.

    ``cap`` should be the session's ``defaultParallelism``: state
    partitions beyond the core count only help when per-key state exceeds
    executor memory, which a bounded-cardinality gate rollup never does. A
    production job with a long-lived checkpoint sizes this ONCE to its
    peak expected volume (state partitioning is locked into the
    checkpoint); these gates re-checkpoint per run, so deriving per run is
    exact, not a re-partitioning hazard.
    """
    per_batch = ingest_bytes / max(n_batches, 1)
    parts = int(per_batch // target_batch_bytes) + 1
    return max(1, min(parts, cap))


def dir_bytes(path: str) -> int:
    """Driver-side total size of the parquet files under ``path`` — the
    staged stream input volume, free to compute (no Spark job)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


# A complete-mode epoch is a bounded-cardinality snapshot, so it never
# needs more sink files than this (measured on the sf1 gate: an inherited
# 2000 shuffle partitions wrote 1,660 tiny files per epoch).
COMPLETE_SINK_FILES = 8


def write_epoch(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """Land one micro-batch as the ``batch_id=<n>`` directory under ``path``.

    Structured Streaming delivers at-least-once: a crash after the write
    but before the checkpoint commit replays the batch. Dynamic partition
    overwrite keyed by ``batch_id`` makes the replay rewrite the same
    directory instead of appending a duplicate, so a replayed source plus
    this write is effectively exactly-once on plain parquet.
    """
    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def run_stream(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint_dir: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
    per_batch: Callable[[DataFrame], DataFrame] | None = None,
) -> list[dict]:
    """Run the currently-staged input to completion (``availableNow``)
    into ``path``, one :func:`write_epoch` directory per micro-batch, and
    return the query's ``recentProgress``.

    ``output_mode="complete"`` is for streaming aggregations: every epoch
    is the full current result table, coalesced to
    ``COMPLETE_SINK_FILES``, so once the staged files are drained the
    final epoch is the aggregation over everything ingested — including
    trailing windows an append-mode watermark never finalizes. Complete
    mode retains every group in state, so it suits bounded-cardinality
    rollups; unbounded-key streams use a watermarked append.
    ``per_batch`` maps each micro-batch before it is written (e.g. to a
    per-epoch sketch table).

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    query. Stateful queries need it: there is one state-store instance per
    shuffle partition per micro-batch, AQE never coalesces stateful stream
    shuffles, and the count is locked into the checkpoint, so an inherited
    batch-tuned width is pure commit overhead (measured: an inherited 2000
    ran the sf1 tumbling gate in 140.2 s vs 6.3 s at 32, and the append
    session gate 18.1x slower). Stateless streams leave it None.

    The pin relies on one invariant: Spark clones the session's conf into
    the query inside ``start()``, so setting the pin just before
    ``start()`` and restoring it right after gives every micro-batch the
    pinned width while the caller's session carries it only for the
    duration of this call. Every caller (driver, pytest, bench) runs its
    queries sequentially (``queryset/streamgate.py`` module docstring), so
    nothing else observes that window.
    """
    spark = stream_df.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if per_batch is not None:
            batch_df = per_batch(batch_df)
        if output_mode == "complete":
            batch_df = batch_df.coalesce(COMPLETE_SINK_FILES)
        write_epoch(batch_df, batch_id, path)

    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    query.awaitTermination()
    return query.recentProgress


def read_stream_output(
    spark: SparkSession, path: str, *, output_mode: str
) -> DataFrame:
    """Read back what :func:`run_stream` wrote to ``path``, keeping the
    ``batch_id`` column: the final epoch in complete mode (the full
    result), every epoch otherwise (each row emitted once)."""
    back = spark.read.parquet(path)
    if output_mode != "complete":
        return back
    final = max(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("batch_id=")
    )
    # Partition filter: only the final epoch's directory is scanned.
    return back.filter(F.col("batch_id") == final)
