"""Structured Streaming surface — additive capability over the reference.

The reference has no streaming at all (SURVEY.md §2.8: no watermarks, no
event-time windows, no stateful ops). This package re-expresses the batch
event-time queries (`stupidb_spark/queryset/events.py`) as streaming
pipelines with identical window expressions, so batch-oracle correctness
transfers to the stream, and adds a custom stateful operator built on
``applyInPandasWithState`` (the Spark-native analogue of the reference's
``step/combine/finalize`` aggregate surface, `stupidb/aggregator.py:38-61`).
"""

from stupidb_spark.streaming.documents import (
    bpe_tokens_stream,
    dup_flagged_stream,
    lm_scored_stream,
    quality_gated_stream,
    stream_documents,
)
from stupidb_spark.streaming.embeddings import (
    knn_label_stream,
    label_stream_by_join,
    stream_embeddings,
)
from stupidb_spark.streaming.events import (
    attribution_stream,
    deduped_stream,
    read_stream_output,
    run_stream,
    sessionized_stream,
    sliding_stream,
    stream_events,
    tumbling_stream,
    user_running_totals,
)

__all__ = [
    "stream_events",
    "tumbling_stream",
    "sliding_stream",
    "sessionized_stream",
    "attribution_stream",
    "deduped_stream",
    "user_running_totals",
    "run_stream",
    "read_stream_output",
    "stream_documents",
    "lm_scored_stream",
    "dup_flagged_stream",
    "bpe_tokens_stream",
    "quality_gated_stream",
    "stream_embeddings",
    "knn_label_stream",
    "label_stream_by_join",
]
