"""Mergeable-sketch tables — the pre-aggregated rollup pattern a 100 TB
event store actually runs.

``agg_approx_sketch`` answers one query with sketch AGGREGATES; this module
provides the pattern that makes sketches a storage primitive: persist a
small per-bucket relation of HLL sketch BLOBS (Apache DataSketches HLL via
Spark's built-in ``hll_sketch_agg``), then answer any distinct-count
question over any bucket combination by UNIONING blobs
(``hll_union_agg``) — never rescanning the raw events. A year of events
rolls up to |buckets| kilobyte-sized rows; "distinct users in March" or
"per event_type across all time" are metadata-scale scans of the sketch
table. This is the classic hypertable/continuous-aggregate rollup
(TimescaleDB's continuous aggregates, Druid's datasketches columns),
Spark-first: the sketch table is an ordinary DataFrame/parquet relation
with binary columns and the merge is a built-in JVM aggregate with
map-side partial combine.

Correctness contract: an HLL sketch's REGISTER STATE is a deterministic,
order-independent function of the input SET (each item's hash raises
per-register maxima, a commutative-idempotent max-merge), so every
ESTIMATE is identical under ANY partitioning, and
``union(per-bucket sketches)`` estimates exactly what
``sketch(union of buckets)`` estimates. (The serialized BLOB is not the
comparable unit: DataSketches keeps an insertion-order-dependent coupon
list while sparse, so byte-compare estimates, not blobs — measured, and
the law tests compare accordingly.) The approximation is only
estimate-vs-truth, bounded by the standard HLL error ~1.04/sqrt(2^lg_k).
All three laws are pinned in ``tests/test_udaf.py``; the registered query
is rows-only at the driver gate (DuckDB's HLL internals differ, so no
cross-engine oracle exists by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sketch_table(
    df: DataFrame,
    bucket_cols: list[str | Column],
    value_col: str | Column,
    *,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch blob per bucket: ``bucket_cols... , n_rows, sk``.

    The relation a pipeline PERSISTS (parquet with a binary column) next
    to — or instead of re-scanning — its raw events. One hash aggregate
    over the events; per-bucket state is the 2^lg_k-register sketch, sent
    partially-combined from the map side like any other aggregate.
    """
    return df.groupBy(*bucket_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sk"),
    )


def sketch_ingest_stream(
    stream_df: DataFrame,
    bucket_cols: list[str | Column],
    value_col: str | Column,
    path: str,
    *,
    checkpoint_dir: str,
    lg_k: int = 12,
) -> list[dict]:
    """Maintain a persisted sketch table FROM A STREAM, incrementally:
    each micro-batch aggregates to per-bucket sketch rows and lands them
    as its own ``batch_id=<n>`` partition — append-only epochs, no
    read-modify-write. Returns the stream's progress reports.

    The HLL merge law makes this the whole maintenance story: readers
    answer any rollup with :func:`sketch_rollup` over the read-back, and
    grouping by bucket automatically unions each bucket's per-epoch blobs
    — union-of-epoch-sketches estimates exactly what one sketch of all
    the data estimates (pinned stream == batch in tests/test_udaf.py).
    ``run_stream``'s epoch writer makes replays idempotent, and an
    optional background compaction is just ``sketch_table``-shaped
    re-aggregation of old epochs — never a rescan of raw events.
    """
    from stupidb_spark.streaming.events import run_stream

    return run_stream(
        stream_df,
        path,
        checkpoint_dir=checkpoint_dir,
        per_batch=lambda b: sketch_table(b, bucket_cols, value_col, lg_k=lg_k),
    )


def sketch_rollup(
    sketches: DataFrame,
    keep_cols: list[str],
    *,
    sketch_col: str = "sk",
) -> DataFrame:
    """Re-aggregate a sketch table to coarser buckets WITHOUT touching the
    raw data: group by ``keep_cols`` (empty = one global row), union the
    blobs, estimate. Returns ``keep_cols..., n_rows, distinct_est``."""
    grouped = (
        sketches.groupBy(*keep_cols) if keep_cols else sketches.groupBy()
    )
    return grouped.agg(
        F.sum("n_rows").alias("n_rows"),
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(
            "distinct_est"
        ),
    )
