"""Streaming document scoring — the LM quality filter as a live pipeline.

The model is trained in BATCH (``operators/lm.py::ngram_lm_train`` — at
scale: persisted as parquet tables and refreshed on a schedule); incoming
documents score against it with stream-static joins, the Structured
Streaming pattern for enriching a stream from reference tables. Identical
scoring expressions to the batch path (``ngram_lm_apply`` is
batch/stream-polymorphic), so the DuckDB-oracle-verified batch semantics
(`text_lm_perplexity`) are what the stream computes per micro-batch.

Scale notes: the file source becomes Kafka; the per-doc rollup is keyed by
(doc, lang) — attach a watermark on an ingest timestamp to bound its state
in a continuous deployment (the test path uses availableNow + complete
mode); the static model side is re-read per micro-batch, so a model
refresh lands without restarting the stream (swap the files behind the
same path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stupidb_spark.operators.lm import NgramLM, ngram_lm_apply
from stupidb_spark.sources.catalog import read_fixture


def stream_documents(
    spark: SparkSession,
    source_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of documents parquet files dropped into
    ``source_dir`` (the fixture ``documents`` schema, pinned)."""
    return read_fixture(
        spark,
        "documents",
        source_dir,
        stream=True,
        max_files_per_trigger=max_files_per_trigger,
    )


def lm_scored_stream(docs_stream: DataFrame, model: NgramLM) -> DataFrame:
    """Score a document stream under a batch-trained LM — stream-static
    joins against the model relations, per-doc rollup as a streaming
    aggregation. Columns match the batch ``ngram_lm_score`` output."""
    return ngram_lm_apply(
        docs_stream,
        model,
        id_col="doc_id",
        text_col="text",
        lang_col="lang",
    )


def dup_flagged_stream(docs_stream: DataFrame, index: DataFrame, **kw) -> DataFrame:
    """Ingest-time near-dup flagging: each streamed document is banded
    map-side and stream-static-joined against a batch
    :func:`~stupidb_spark.operators.dedup.minhash_band_index`. Emits
    distinct ``(probe_id, corpus_doc)`` candidate pairs — the "have we
    already got this?" check a crawl-ingest pipeline runs before paying
    for full processing. Stream == batch pinned in tests."""
    from stupidb_spark.operators.dedup import minhash_probe_candidates

    return minhash_probe_candidates(
        index, docs_stream, id_col="doc_id", text_col="text", **kw
    )


def bpe_tokens_stream(docs_stream: DataFrame, merges) -> DataFrame:
    """Tokenize a document stream under a batch-trained BPE rule list —
    the tokenizer is FROZEN model state (trained by
    :func:`~stupidb_spark.operators.bpe.bpe_train` on a corpus snapshot,
    persisted via ``bpe_merges_df``); encoding is the same map-only
    Arrow UDF as the batch path, so it attaches to a stream unchanged
    (no shuffle, no state — pure per-row transform, append mode).
    Stream == batch pinned in tests."""
    from stupidb_spark.operators.bpe import bpe_encode

    return bpe_encode(docs_stream, merges, id_col="doc_id", text_col="text")


def quality_gated_stream(
    docs_stream: DataFrame,
    *,
    split_fractions: dict[str, float] | None = None,
    split_expr=None,
) -> DataFrame:
    """Ingest-time quality gate + dataset routing: every streamed document
    is tagged with its Gopher-rule quality signals
    (``functions/text.py::gopher_signals`` — the batch semantics are
    DuckDB-oracled via ``text_gopher_rules``) and its leakage-safe
    train/val/test split (``operators/splits.py`` — group-cohesive on
    ``source``, so a near-dup pair from one site can never straddle the
    fence even when its two members arrive in different micro-batches:
    the split is a pure hash of the group, no state needed).

    Both tags are stateless per-row Column expressions — no shuffle, no
    watermark, append mode; at scale this IS the crawl-ingest filter in
    front of the corpus store. Stream == batch pinned in tests.

    ``split_expr`` overrides the split tag Column (default:
    ``split_column("source", fractions)``, xxhash64-based). The oracled
    gate query injects the portable LCG split here (the
    ``sample_split_leakproof`` construction) so DuckDB replays the whole
    stream output bit-identically; production keeps the default."""
    from stupidb_spark.functions.text import gopher_signals
    from stupidb_spark.operators.splits import split_column

    fr = split_fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    sig = gopher_signals("text")
    split = split_expr if split_expr is not None else split_column("source", fr)
    return docs_stream.select(
        "doc_id",
        "source",
        sig["passes_gopher"].alias("passes_gopher"),
        sig["n_words"].alias("n_words"),
        sig["n_stop"].alias("n_stop"),
        split.alias("split"),
    )
