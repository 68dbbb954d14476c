"""Streaming embedding classification — ingest-time kNN labeling.

The batch kNN join blocks both corpus-sized sides into (cell, sub,
qchunk) tasks via ``applyInPandas`` — a shape Structured Streaming cannot
run (grouped-map over a stream needs state semantics). The streaming
counterpart therefore flips the boundedness contract, exactly like
``brute_force_topk`` does for batch retrieval: the LABELED REFERENCE is
the bounded side (collected once, rides the UDF closure like the PQ
codebooks / BPE rank tables), and the unbounded stream is scored map-only
— zero shuffles, append mode, no state, so it attaches to any ingest
stream unchanged. For corpus-sized reference sets, run the batch
``knn_join`` + vote on a schedule instead and stream-static-join its
output.

Arithmetic is the shared quantized-grid construction and the vote rule is
identical to ``emb_knn_classify`` (count DESC, label ASC) — stream ==
batch-mirror pinned in ``tests/test_streaming.py``.

The boundedness contract is ENFORCED, not just documented:
:func:`knn_label_stream` errors when the reference exceeds
``max_reference_rows`` unless the caller passes ``unbounded_ok=True``
(the ``jaccard_pairs(uncapped_ok=...)`` escape-hatch pattern) — a
corpus-sized reference silently riding a UDF closure is the same
driver-side-collect failure the batch operators guard against. The
corpus-scale route is :func:`label_stream_by_join`: run the batch
``knn_join`` + vote on a schedule, persist its output, and stream-static
JOIN the stream to it — both sides stay distributed at any reference
size, and the per-batch join is stateless (append mode).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stupidb_spark.operators.similarity import _quant_norms, _quant_sims
from stupidb_spark.sources.catalog import read_fixture

# Bounded-model-state bar for the closure-riding reference: 64k labeled
# vectors (a few hundred MB at 64 dims) is comfortably "model state" like
# PQ codebooks or IVF centroids; a corpus is not. Callers with a genuinely
# bounded-but-larger reference pass a higher max_reference_rows (or
# unbounded_ok=True, accepting the driver-collect cost knowingly).
MAX_REFERENCE_ROWS = 65_536


def stream_embeddings(
    spark: SparkSession,
    source_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of embeddings parquet files dropped into
    ``source_dir`` (the fixture ``embeddings`` schema, pinned)."""
    return read_fixture(
        spark,
        "embeddings",
        source_dir,
        stream=True,
        max_files_per_trigger=max_files_per_trigger,
    )


def adaptive_spread(
    rows_per_batch: int,
    max_partitions: int,
    *,
    min_spread_rows: int = 512,
    min_rows_per_task: int = 40,
) -> int | None:
    """Size a per-micro-batch repartition to the batch's actual volume.

    Returns the partition count to pass as ``spread_partitions``, or
    ``None`` — skip the repartition entirely and keep the map-only
    zero-shuffle plan — when the batch is too small for a shuffle to pay
    for itself.

    Why both knobs (measured on the kNN-label gate, rounds 12-14):

    - below ``min_spread_rows`` the spread is a net LOSS: 133-row
      micro-batches at sf0.1 ran 1.47× slower WITH an unconditional
      32-way spread (round 13) than with none (round 12) — the per-batch
      shuffle plus 32 near-empty tasks cost more than single-core scoring
      of a tiny batch;
    - above it, ``min_rows_per_task`` floors the per-task chunk so the
      spread never degenerates into pure task overhead: 1,333-row batches
      at sf1 → 32 partitions ≈ 40 rows ≈ 300 ms of scoring per task
      (the 35.8 → 14.3 s round-13 win, reproduced exactly by these
      defaults), while a hypothetical 600-row batch spreads 15-way
      instead of paying 32 task launches for 19-row chunks.

    The decision is PLAN-TIME static from the expected per-trigger volume
    (a production ingest knows its file sizes; the gates read the staged
    fixture's count) — Structured Streaming cannot branch per batch
    inside a declarative transformation, and a foreachBatch count-probe
    would pay an extra scan of every batch instead.
    """
    if rows_per_batch < min_spread_rows:
        return None
    return max(2, min(max_partitions, rows_per_batch // min_rows_per_task))


def knn_label_stream(
    emb_stream: DataFrame,
    reference: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k_neighbors: int = 5,
    max_reference_rows: int = MAX_REFERENCE_ROWS,
    unbounded_ok: bool = False,
    spread_partitions: int | None = None,
) -> DataFrame:
    """Label every streamed vector with the majority label of its
    ``k_neighbors`` nearest reference vectors.

    Output columns: ``(id_col, pred_label, n_votes)``. Ties break to the
    higher vote count, then the smaller label; neighbor order inside the
    vote is (similarity DESC, reference id ASC) — the batch vote rule.

    The reference is COLLECTED to the driver and broadcast inside the UDF
    closure — model state, bounded by contract. A reference over
    ``max_reference_rows`` raises unless ``unbounded_ok=True``; at corpus
    scale use :func:`label_stream_by_join` instead.

    ``spread_partitions``: repartition each micro-batch to this many
    partitions BEFORE the scoring map — the streaming analog of
    ``spread_small_scan``. A file-source batch has one partition per
    (small) file, so an ingest that drops a few files per trigger
    serializes the whole quantized-scoring pass onto as many cores
    (measured at sf1, 3 × 1-file batches on 32 cores: 10 s → 2.1 s
    steady-state per batch from this knob alone). Default None keeps
    the map-only zero-shuffle plan — right for wide production ingest,
    where a batch already arrives in many partitions and a repartition
    would be a pure extra shuffle of the (unbounded) stream side.
    """
    n_ref = reference.count()
    if n_ref > max_reference_rows and not unbounded_ok:
        raise ValueError(
            f"knn_label_stream reference has {n_ref:,} rows "
            f"(> max_reference_rows={max_reference_rows:,}): collecting it "
            "into the scoring UDF closure is a driver-side collect of the "
            "corpus. Schedule the batch knn_join + vote and "
            "label_stream_by_join() its persisted output (both sides stay "
            "distributed), raise max_reference_rows for a genuinely bounded "
            "model, or pass unbounded_ok=True to accept the collect "
            "knowingly."
        )
    rows = reference.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.col(label_col).alias("_l"),
    ).collect()
    rows.sort(key=lambda r: r._id)
    r_ids = np.array([r._id for r in rows])
    R = np.stack([np.array(r._v, dtype=np.float64) for r in rows])
    # Sorted-unique label table + per-reference-row codes: the vote below
    # is fully vectorized over the Arrow batch instead of a per-row Python
    # loop (measured 29.2 s -> the scoring-dominated sf1 gate row; the
    # per-row np.lexsort over the whole reference was the cost).
    uniq_labels, ref_codes = np.unique([r._l for r in rows], return_inverse=True)
    k = min(k_neighbors, len(r_ids))
    label_type = dict(reference.dtypes)[label_col]

    @F.pandas_udf(f"pred_label {label_type}, n_votes int")
    def classify(v: pd.Series) -> pd.DataFrame:
        M = np.stack(v.to_numpy()).astype(np.float64)
        mnorms = _quant_norms(M)
        # Loud guard, matching the batch-side norm_guard contract: a
        # zero-norm (or non-finite) streamed vector would give NaN
        # similarities, an empty candidate set (NaN >= kth is False), and
        # a silent pred=uniq_labels[0]/n_votes=0 row. Refuse instead.
        bad = np.nonzero(~(np.isfinite(mnorms) & (mnorms > 0.0)))[0]
        if bad.size:
            raise ValueError(
                f"knn_label_stream: streamed vector at batch position "
                f"{int(bad[0])} has zero or non-finite norm "
                f"(norm={mnorms[bad[0]]!r}); cosine is undefined. Filter "
                f"zero-norm vectors upstream."
            )
        sims = _quant_sims(R, M, mnorms)  # (n_ref, batch)
        n_batch = M.shape[0]
        # O(n_ref) selection instead of an O(n_ref log n_ref) full sort
        # per query: argpartition pulls SOME top-k by similarity (ties cut
        # arbitrarily), then the exact (sim DESC, ref id ASC) order is
        # resolved only over the tiny candidate set sims >= kth value —
        # top-k plus its boundary ties. R's rows are sorted by reference
        # id, so np.nonzero yields ids ascending and a STABLE argsort of
        # -sims keeps the lower id first on equal sims: identical output
        # to the full per-column np.lexsort((r_ids, -sims[:, j])).
        part = np.argpartition(-sims, k - 1, axis=0)[:k]
        kth = np.take_along_axis(sims, part, axis=0).min(axis=0)  # (batch,)
        cand_mask = sims >= kth[None, :]
        counts = np.zeros((len(uniq_labels), n_batch), dtype=np.int64)
        for j in range(n_batch):
            cand = np.nonzero(cand_mask[:, j])[0]
            order = cand[np.argsort(-sims[cand, j], kind="stable")][:k]
            np.add.at(counts[:, j], ref_codes[order], 1)
        # majority vote, ties to the smaller label: argmax returns the
        # FIRST max and uniq_labels is sorted ascending.
        best = counts.argmax(axis=0)
        votes = counts[best, np.arange(n_batch)]
        return pd.DataFrame(
            {"pred_label": uniq_labels[best], "n_votes": votes.astype("int32")}
        )

    if spread_partitions is not None:
        emb_stream = emb_stream.repartition(spread_partitions)
    out = emb_stream.withColumn("__c", classify(F.col(vec_col)))
    return out.select(
        id_col,
        F.col("__c.pred_label").alias("pred_label"),
        F.col("__c.n_votes").alias("n_votes"),
    )


def label_stream_by_join(
    emb_stream: DataFrame,
    votes: DataFrame,
    *,
    id_col: str = "vec_id",
    votes_id_col: str = "query_id",
) -> DataFrame:
    """Corpus-scale streaming labels: stream-static JOIN the stream to a
    scheduled batch kNN vote relation — nothing is ever collected.

    ``votes`` is the persisted output of the batch pipeline (``knn_join``
    + the (count DESC, label ASC) vote, e.g. ``emb_knn_classify``'s
    ``(query_id, pred_label, n_votes, ...)``), typically re-materialized
    to parquet on a schedule and read back — the continuous-scoring
    pattern its module docstring names. Each micro-batch runs one
    stateless equi-join of the arriving ids against the static relation
    (append mode, no state), so both the stream and a billion-row
    reference scale like any batch join; vectors the scheduled batch has
    not scored yet simply don't emit until the next batch lands.

    Output columns match :func:`knn_label_stream`:
    ``(id_col, pred_label, n_votes)``.
    """
    static = votes.select(
        F.col(votes_id_col).alias(id_col), "pred_label", "n_votes"
    )
    return emb_stream.select(id_col).join(static, id_col)
