"""Structured Streaming tests: stream results must equal their batch twins
(whose semantics are DuckDB-oracle-verified in test_oracle_parity), and
custom stateful state must carry across micro-batches.

Staging: streaming file sources need a directory; fixture parquet is staged
under the repo-local scratch dir. Every stream runs through ``run_stream``
into a sink and checkpoint under pytest's ``tmp_path``.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import pytest

from stupidb_spark.queryset import QUERIES
from stupidb_spark.streaming import (
    deduped_stream,
    read_stream_output,
    run_stream,
    sessionized_stream,
    stream_events,
    tumbling_stream,
    user_running_totals,
)
from tests.conftest import SF_DIR, rowset, write_events_parquet

SCRATCH = Path("/root/repo/.scratch")


@pytest.fixture()
def staged_events():
    """Copy the events fixture into a fresh source dir (single file)."""
    d = SCRATCH / f"stream-{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run(spark, stream, tmp_path, *, output_mode="append"):
    """Run ``stream`` to a fresh sink under ``tmp_path``; return what it
    wrote (the final epoch in complete mode) without ``batch_id``."""
    out = tmp_path / f"out-{uuid.uuid4().hex[:8]}"
    run_stream(
        stream,
        str(out),
        checkpoint_dir=str(out) + "-ck",
        output_mode=output_mode,
    )
    return read_stream_output(spark, str(out), output_mode=output_mode).drop(
        "batch_id"
    )


def _assert_same(stream_df, batch_df):
    s_cols, b_cols = list(stream_df.columns), list(batch_df.columns)
    assert sorted(s_cols) == sorted(b_cols)
    left = rowset([tuple(r) for r in stream_df.collect()], s_cols)
    right = rowset([tuple(r) for r in batch_df.collect()], b_cols)
    assert left == right


def test_tumbling_stream_equals_batch(spark, staged_events, tmp_path):
    stream = tumbling_stream(stream_events(spark, str(staged_events)))
    result = _run(spark, stream, tmp_path, output_mode="complete")
    _assert_same(result, QUERIES["events_tumbling"](spark, SF_DIR))


def test_session_stream_equals_batch(spark, staged_events, tmp_path):
    stream = sessionized_stream(stream_events(spark, str(staged_events)))
    result = _run(spark, stream, tmp_path, output_mode="complete")
    _assert_same(result, QUERIES["events_session"](spark, SF_DIR))


def test_attribution_stream_equals_batch(spark, staged_events, tmp_path):
    """Stream-stream interval join (views ⋈ clicks within the horizon) must
    produce exactly the batch twin's pairs."""
    from stupidb_spark.streaming import attribution_stream

    stream = attribution_stream(stream_events(spark, str(staged_events)))
    result = _run(spark, stream, tmp_path)
    _assert_same(result, QUERIES["events_attribution"](spark, SF_DIR))


def test_deduped_stream_drops_cross_batch_duplicates(spark, staged_events, tmp_path):
    """Stage the fixture twice (two micro-batches of identical events —
    an at-least-once redelivery); the deduped stream must equal the batch
    rowset exactly once, which requires dedup state to span the batch
    boundary."""
    from pyspark.sql import functions as F

    from stupidb_spark.sources import load_table

    raw = load_table(spark, SF_DIR, "events")
    for f in staged_events.iterdir():
        f.unlink()
    # keep the replay small: 500 events, delivered twice
    sample = raw.filter(F.col("event_id") < 500).coalesce(1)
    sample.write.mode("append").parquet(str(staged_events / "b0"))
    sample.write.mode("append").parquet(str(staged_events / "b1"))
    stream = stream_events(spark, str(staged_events) + "/*", max_files_per_trigger=1)
    result = _run(spark, deduped_stream(stream), tmp_path)
    expected = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_id") < 500)
        .dropDuplicates(["event_id"])
    )
    _assert_same(result, expected)


def test_stateful_running_totals_across_batches(spark, staged_events, tmp_path):
    """Split the fixture into 2 files → 2 micro-batches; the stateful
    operator's final per-user totals must equal the global batch totals,
    which is only possible if state carried across the batch boundary."""
    from pyspark.sql import functions as F

    from stupidb_spark.functions import exact as X
    from stupidb_spark.sources import load_table

    batch = load_table(spark, SF_DIR, "events")
    # restage as two files split by event_id parity; the native timestamp[us]
    # ts round-trips through the staged parquet exactly
    raw = batch
    for f in staged_events.iterdir():
        f.unlink()
    raw.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(
        str(staged_events / "b0")
    )
    raw.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        str(staged_events / "b1")
    )
    # glob subdirs so each dir's file lands in its own micro-batch
    stream = stream_events(
        spark, str(staged_events) + "/*", max_files_per_trigger=1
    )
    out = str(tmp_path / "out")
    run_stream(
        user_running_totals(stream),
        out,
        checkpoint_dir=str(tmp_path / "ck"),
        output_mode="update",
    )
    result = read_stream_output(spark, out, output_mode="update")
    # update mode emits one row per user per touching micro-batch → keep
    # the latest epoch's row
    final = result.groupBy("user_id").agg(
        F.max_by("n_events", "batch_id").alias("n_events"),
        F.max_by("total_value", "batch_id").alias("total_value"),
    )
    expected = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        X.dsum("value", 4).alias("total_value"),
    )
    _assert_same(final, expected)


def test_idempotent_parquet_sink_survives_batch_replay(spark, staged_events, tmp_path):
    """The epoch writer keyed by batch_id must be replay-safe: delivering
    the same micro-batch twice (the at-least-once failure mode) leaves
    exactly one copy, and the streamed rowset equals the batch rowset."""
    from stupidb_spark.sources import load_table
    from stupidb_spark.streaming.events import write_epoch

    out = str(tmp_path / "out")
    stream = stream_events(spark, str(staged_events))
    run_stream(stream, out, checkpoint_dir=str(tmp_path / "ck"))

    batch = load_table(spark, SF_DIR, "events")
    assert spark.read.parquet(out).count() == batch.count()

    # the replay: batch 0 written again through the runner's own writer —
    # identical payload, identical batch id — must overwrite, not append
    write_epoch(batch, 0, out)
    written = read_stream_output(spark, out, output_mode="append")
    assert written.count() == batch.count()
    _assert_same(written.drop("batch_id"), batch)


def test_stream_events_refuses_empty_source_dir(spark, tmp_path):
    import pytest

    from stupidb_spark.streaming.events import stream_events

    with pytest.raises(FileNotFoundError, match="sniff"):
        stream_events(spark, str(tmp_path))


def test_stream_events_reads_nanos_files(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file streams through the same fallback as
    the batch read: raw nanos truncated to µs, equal to the batch rows."""
    from pyspark.sql import functions as F

    from stupidb_spark.sources import load_table

    batch = load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 300)
    src = tmp_path / "ingest"
    src.mkdir()
    write_events_parquet(batch, src / "part-000.parquet", nanos=True)
    _assert_same(_run(spark, stream_events(spark, str(src)), tmp_path), batch)



def test_lm_scored_stream_equals_batch(spark, tmp_path):
    """Stream-static joins: documents streamed in two micro-batches, scored
    against the batch-trained LM relations, must equal the batch scorer
    row-for-row (whose semantics are DuckDB-oracled via
    text_lm_perplexity)."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from stupidb_spark.operators.lm import ngram_lm_score, ngram_lm_train
    from stupidb_spark.sources import load_table
    from stupidb_spark.streaming import lm_scored_stream, stream_documents

    d = SCRATCH / f"stream-docs-{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    try:
        # stage the fixture as TWO files so scores assemble across
        # micro-batches (maxFilesPerTrigger=1)
        t = pq.read_table(f"{SF_DIR}/documents.parquet")
        n = t.num_rows
        pq.write_table(t.slice(0, n // 2), d / "part-000.parquet")
        pq.write_table(t.slice(n // 2), d / "part-001.parquet")

        docs = load_table(spark, SF_DIR, "documents")
        ref = docs.filter(F.col("doc_id") % 5 == 0)
        model = ngram_lm_train(
            ref, id_col="doc_id", text_col="text", lang_col="lang", k=0.5
        )
        stream = lm_scored_stream(
            stream_documents(spark, str(d), max_files_per_trigger=1), model
        )
        got = _run(spark, stream, tmp_path, output_mode="complete")
        want = ngram_lm_score(
            docs, ref, id_col="doc_id", text_col="text", lang_col="lang", k=0.5
        )
        _assert_same(got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dup_flagged_stream_equals_batch(spark, tmp_path):
    """Ingest-time dedup: documents streamed in two micro-batches, banded
    map-side and stream-static-joined against the batch MinHash band
    index, must emit exactly the batch probe's candidate pairs."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from stupidb_spark.operators.dedup import (
        minhash_band_index,
        minhash_probe_candidates,
    )
    from stupidb_spark.streaming import dup_flagged_stream, stream_documents

    d = SCRATCH / f"stream-ingest-{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    try:
        # stage the "incoming" docs (doc_id % 5 == 0) as TWO files so
        # candidates assemble across micro-batches
        import duckdb

        con = duckdb.connect()
        t = con.sql(
            f"SELECT * FROM '{SF_DIR}/documents.parquet' WHERE doc_id % 5 = 0"
        ).arrow()
        con.close()
        n = t.num_rows
        pq.write_table(t.slice(0, n // 2), d / "part-000.parquet")
        pq.write_table(t.slice(n // 2), d / "part-001.parquet")

        from stupidb_spark.sources import load_table

        docs = load_table(spark, SF_DIR, "documents")
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        idx = minhash_band_index(corpus, id_col="doc_id", text_col="text")
        stream = dup_flagged_stream(
            stream_documents(spark, str(d), max_files_per_trigger=1), idx
        )
        # dropDuplicates (not an aggregation) ⇒ append mode; dedup state
        # carries across the two micro-batches
        got = _run(spark, stream, tmp_path)
        want = minhash_probe_candidates(
            idx,
            docs.filter(F.col("doc_id") % 5 == 0),
            id_col="doc_id",
            text_col="text",
        )
        _assert_same(got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bpe_tokens_stream_equals_batch(spark, tmp_path):
    """Streaming tokenization under a frozen batch-trained BPE rule list:
    two micro-batches of documents must emit exactly the batch encoder's
    token streams (map-only, append mode, no state)."""
    import pyarrow.parquet as pq

    from stupidb_spark.operators.bpe import bpe_encode, bpe_train
    from stupidb_spark.sources import load_table
    from stupidb_spark.streaming import bpe_tokens_stream, stream_documents

    d = SCRATCH / f"stream-bpe-{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    try:
        t = pq.read_table(f"{SF_DIR}/documents.parquet")
        n = t.num_rows
        pq.write_table(t.slice(0, n // 2), d / "part-000.parquet")
        pq.write_table(t.slice(n // 2), d / "part-001.parquet")

        docs = load_table(spark, SF_DIR, "documents")
        merges = bpe_train(docs, n_merges=16, batch_size=8)
        stream = bpe_tokens_stream(
            stream_documents(spark, str(d), max_files_per_trigger=1), merges
        ).select("doc_id", "tokens")
        got = _run(spark, stream, tmp_path)
        want = bpe_encode(docs, merges).select("doc_id", "tokens")
        _assert_same(got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_knn_label_stream_matches_batch_mirror(spark, tmp_path):
    """Ingest-time kNN labeling: streamed vectors classified against a
    bounded labeled reference must reproduce the exact brute-force vote
    (the emb_knn_classify rule) per micro-batch."""
    import numpy as np
    import pyarrow.parquet as pq

    from collections import Counter

    from pyspark.sql import functions as F

    from stupidb_spark.sources import load_table
    from stupidb_spark.streaming import knn_label_stream, stream_embeddings
    from tests.mirrors import knn_join_reference

    d = SCRATCH / f"stream-knnlab-{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    try:
        import duckdb

        con = duckdb.connect()
        t = con.sql(
            f"SELECT * FROM '{SF_DIR}/embeddings.parquet' WHERE vec_id % 5 = 0"
        ).arrow()
        con.close()
        n = t.num_rows
        pq.write_table(t.slice(0, n // 2), d / "part-000.parquet")
        pq.write_table(t.slice(n // 2), d / "part-001.parquet")

        emb = load_table(spark, SF_DIR, "embeddings")
        reference = emb.filter(F.col("vec_id") % 5 != 0)
        stream = knn_label_stream(
            stream_embeddings(spark, str(d), max_files_per_trigger=1),
            reference,
            k_neighbors=5,
        )
        got_rows = _run(spark, stream, tmp_path)
        got = {r.vec_id: (r.pred_label, r.n_votes) for r in got_rows.collect()}

        rows = emb.orderBy("vec_id").collect()
        ids = np.array([r.vec_id for r in rows])
        V = np.stack([np.array(r.embedding) for r in rows])
        label_of = {r.vec_id: r.label for r in rows}
        m = ids % 5 != 0
        knn = knn_join_reference(
            ids[m], V[m], ids[~m], V[~m], k_neighbors=5, self_join=False
        )
        by_q: dict[int, list] = {}
        for q, _, nb, _ in knn:
            by_q.setdefault(q, []).append(label_of[nb])
        want = {
            q: min(Counter(ls).items(), key=lambda kv: (-kv[1], kv[0]))
            for q, ls in by_q.items()
        }
        assert got == {q: (l, c) for q, (l, c) in want.items()}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_quality_gated_stream_equals_batch(spark, tmp_path):
    """Ingest-time Gopher gate + split routing: documents streamed in two
    micro-batches must carry exactly the tags the batch queries compute
    (whose semantics are DuckDB-oracled via text_gopher_rules /
    sample_split_leakproof's operator twin) — stateless expressions, so
    stream == batch row-for-row."""
    import pyarrow.parquet as pq

    from stupidb_spark.functions.text import gopher_signals
    from stupidb_spark.operators.splits import split_column
    from stupidb_spark.sources import load_table
    from stupidb_spark.streaming import quality_gated_stream, stream_documents

    d = SCRATCH / f"stream-docs-{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    try:
        t = pq.read_table(f"{SF_DIR}/documents.parquet")
        n = t.num_rows
        pq.write_table(t.slice(0, n // 2), d / "part-000.parquet")
        pq.write_table(t.slice(n // 2), d / "part-001.parquet")

        stream = quality_gated_stream(
            stream_documents(spark, str(d), max_files_per_trigger=1)
        )
        got = _run(spark, stream, tmp_path)
        sig = gopher_signals("text")
        want = load_table(spark, SF_DIR, "documents").select(
            "doc_id",
            "source",
            sig["passes_gopher"].alias("passes_gopher"),
            sig["n_words"].alias("n_words"),
            sig["n_stop"].alias("n_stop"),
            split_column(
                "source", {"train": 0.8, "val": 0.1, "test": 0.1}
            ).alias("split"),
        )
        _assert_same(got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_gate_queries_run_multiple_microbatches(spark):
    """The registered streaming gates claim end-to-end multi-batch
    semantics (3 staged files, maxFilesPerTrigger=1). Pin it: the
    idempotent sink's batch_id partitioning must show >= 2 distinct
    micro-batches, and their union must equal the gate's returned rows."""
    import os

    from stupidb_spark.queryset import QUERIES
    from stupidb_spark.queryset.streamgate import _SCRATCH
    from tests.conftest import SF_DIR

    for name in ("stream_quality_gate", "stream_knn_label"):
        out_rows = QUERIES[name](spark, SF_DIR).count()
        out_dir = os.path.join(
            _SCRATCH, f"{name}-{os.path.basename(SF_DIR)}", "out"
        )
        raw = spark.read.parquet(out_dir)
        batches = [r.batch_id for r in raw.select("batch_id").distinct().collect()]
        assert len(batches) >= 2, (
            f"{name}: expected multiple micro-batches, got {batches}"
        )
        assert raw.count() == out_rows


def test_knn_label_stream_guards_corpus_sized_reference(spark):
    """The closure-riding reference is model state, bounded BY CONTRACT:
    a reference over max_reference_rows must raise loudly (naming the
    stream-static-join route) instead of silently collecting a corpus to
    the driver; unbounded_ok=True is the explicit opt-in."""
    from pyspark.sql import functions as F

    from stupidb_spark.sources import load_table
    from stupidb_spark.streaming import knn_label_stream

    emb = load_table(spark, SF_DIR, "embeddings")
    reference = emb.filter(F.col("vec_id") % 5 != 0)
    queries = emb.filter(F.col("vec_id") % 5 == 0).drop("label")

    with pytest.raises(ValueError, match="label_stream_by_join"):
        knn_label_stream(queries, reference, max_reference_rows=10)

    # explicit opt-in still works (scoring itself is unchanged; batch df
    # exercises the same plan the stream maps per micro-batch)
    labeled = knn_label_stream(
        queries, reference, max_reference_rows=10, unbounded_ok=True
    )
    assert labeled.count() == queries.count()


def test_knn_label_stream_rejects_zero_norm_query(spark):
    """A zero-norm streamed vector has undefined cosine; the vectorized
    vote must refuse loudly (matching batch-side norm_guard) instead of
    silently emitting pred=uniq_labels[0] with n_votes=0."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from stupidb_spark.sources import load_table
    from stupidb_spark.streaming import knn_label_stream

    emb = load_table(spark, SF_DIR, "embeddings")
    reference = emb.filter(F.col("vec_id") % 5 != 0).limit(200)
    dim = len(emb.select("embedding").first()[0])
    queries = spark.range(1).select(
        F.col("id").alias("vec_id"),
        F.array([F.lit(0.0)] * dim).alias("embedding"),
    )
    labeled = knn_label_stream(queries, reference)
    with pytest.raises(PythonException, match="zero or non-finite norm"):
        labeled.collect()


def test_label_stream_by_join_matches_batch(spark, tmp_path):
    """Corpus-scale labeling route: the stream-static join of a staged
    vector stream against the persisted batch kNN vote must emit exactly
    the batch join of the same two relations (stateless, append mode) —
    and therefore exactly the closure-form stream's labels, since both
    gates share one oracle."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from stupidb_spark.queryset.similarity import _knn_classify_pipeline
    from stupidb_spark.sources import load_table
    from stupidb_spark.streaming import label_stream_by_join, stream_embeddings

    d = SCRATCH / f"stream-knnjoin-{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    try:
        import duckdb

        con = duckdb.connect()
        t = con.sql(
            f"SELECT * FROM '{SF_DIR}/embeddings.parquet' WHERE vec_id % 5 = 0"
        ).arrow()
        con.close()
        n = t.num_rows
        pq.write_table(t.slice(0, n // 2), d / "part-000.parquet")
        pq.write_table(t.slice(n // 2), d / "part-001.parquet")

        votes = _knn_classify_pipeline(
            spark, SF_DIR, n_cells=4, n_probe=4
        ).select(
            "query_id",
            "pred_label",
            F.col("n_votes").cast("int").alias("n_votes"),
        )
        votes.persist()
        try:
            stream = label_stream_by_join(
                stream_embeddings(spark, str(d), max_files_per_trigger=1),
                votes,
            )
            got = _run(spark, stream, tmp_path)
            emb = load_table(spark, SF_DIR, "embeddings")
            want = label_stream_by_join(
                emb.filter(F.col("vec_id") % 5 == 0).drop("label"), votes
            )
            _assert_same(got, want)
            assert got.count() == emb.filter(F.col("vec_id") % 5 == 0).count()
        finally:
            votes.unpersist()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_watermark_finalizes_windows_and_drops_late_rows(spark):
    """Event-time watermark semantics, end-to-end across real micro-batches:
    an out-of-order row still inside the watermark is aggregated, a row
    older than the watermark is DROPPED, and append mode emits a window
    only once the watermark passes its end (open windows never reach the
    sink). Batch composition is controlled exactly — one staged file per
    micro-batch, mtimes ordered so the file source replays them in order.

    Two subtleties pinned here because they are easy to get wrong (both
    verified against the per-batch ``batchWatermarkMs`` in the checkpoint
    offset log while writing this test):
    - Spark keeps TWO watermarks per stateful operator (SPARK-24634): the
      LATE-EVENT filter in batch N lags one batch behind the EVICTION/
      emission watermark.
    - For windowed aggregation, "late" means the row's whole WINDOW is
      below the filter watermark (window.end <= wm), not its raw event
      time: a row whose window is still in (or could re-enter) state is
      accepted however old its timestamp, because append mode hasn't
      emitted that window yet.

    Timeline (1h tumbling windows, 1h watermark delay):
      batch 0: 10:05, 10:15, 11:30      -> watermark after b0: 10:30
      batch 1: 10:45 (out-of-order; window [10,11) still open -> KEPT),
               13:30                    -> watermark after b1: 12:30
      batch 2: 09:40 (window end 10:00 <= 10:30, the late-filter wm
               -> DROPPED), 13:45
               eviction wm is 12:30 -> [10,11) and [11,12) close and emit
    Expected sink: exactly {[10:00) -> 3 events, [11:00) -> 1 event}. The
    dropped 09:40 row is visible as the ABSENCE of a [09:00) window (it
    would otherwise emit with count 1 the moment the eviction watermark
    passed 10:00), and the open 13:xx window is never emitted."""
    import datetime as dt
    import os

    from stupidb_spark.sources.catalog import FIXTURE_SCHEMAS

    d = SCRATCH / f"stream-wm-{uuid.uuid4().hex[:8]}"
    ingest = d / "ingest"
    ingest.mkdir(parents=True)
    try:

        def stage(i: int, times: list[str]) -> None:
            rows = [
                (
                    100 * i + j,
                    dt.datetime(2026, 1, 15, int(t[:2]), int(t[3:])),
                    7,
                    "click",
                    1.0,
                    None,
                )
                for j, t in enumerate(times)
            ]
            df = spark.createDataFrame(rows, FIXTURE_SCHEMAS["events"])
            tmp = d / f"_tmp{i}"
            df.coalesce(1).write.parquet(str(tmp))
            part = next(tmp.glob("part-*.parquet"))
            dst = ingest / f"batch-{i}.parquet"
            part.rename(dst)
            shutil.rmtree(tmp)
            # File source orders new files by modification time: pin it.
            os.utime(dst, (1_700_000_000 + i * 1000, 1_700_000_000 + i * 1000))

        stage(0, ["10:05", "10:15", "11:30"])
        stage(1, ["10:45", "13:30"])
        stage(2, ["09:40", "13:45"])

        stream = tumbling_stream(
            stream_events(spark, str(ingest), max_files_per_trigger=1)
        )
        got = {
            (r["window_start"].strftime("%H:%M"), r["n_events"])
            for r in _run(spark, stream, d).collect()
        }
        # 10:45 kept (3, not 2); 09:40 dropped (no 09:00 row); open 13:xx
        # window never emitted.
        assert got == {("10:00", 3), ("11:00", 1)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_session_append_emits_at_exact_watermark_boundary(spark):
    """Pins the emission rule stream_events_session_append's oracle
    encodes: in append mode a session is emitted when the final
    event-time watermark passes its end INCLUSIVELY (end == watermark
    emits), and the trailing no-data micro-batch advances the watermark
    to max(ts) - delay even though no data batch follows.

    Construction: user 7's lone 10:00 event makes a session ending
    exactly 10:30; user 8's 11:30 event sets the final watermark to
    exactly 10:30 (1h delay). The 10:30 == 10:30 session must emit; user
    8's own open session must not."""
    import datetime as dt
    import glob
    import os

    from stupidb_spark.sources.catalog import FIXTURE_SCHEMAS

    d = SCRATCH / f"stream-sessb-{uuid.uuid4().hex[:8]}"
    ingest = d / "ingest"
    ingest.mkdir(parents=True)
    try:
        rows = [
            (1, dt.datetime(2026, 1, 15, 10, 0), 7, "click", 1.0, None),
            (2, dt.datetime(2026, 1, 15, 11, 30), 8, "click", 1.0, None),
        ]
        df = spark.createDataFrame(rows, FIXTURE_SCHEMAS["events"])
        tmp = d / "_tmp"
        df.coalesce(1).write.parquet(str(tmp))
        os.rename(
            glob.glob(str(tmp / "part-*.parquet"))[0],
            str(ingest / "batch-0.parquet"),
        )
        stream = stream_events(spark, str(ingest), max_files_per_trigger=1)
        got = sorted(
            (r.user_id, r.session_start, r.session_end)
            for r in _run(spark, sessionized_stream(stream), d).collect()
        )
        assert got == [
            (
                7,
                dt.datetime(2026, 1, 15, 10, 0),
                dt.datetime(2026, 1, 15, 10, 30),
            )
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_adaptive_spread_sizing():
    """Plan-time spread sizing: skip below the shuffle-pays-for-itself
    floor (the measured sf0.1 1.47x regression band), full fan-out at
    sf1 volume (the measured 35.8 -> 14.3 s win), proportional with a
    per-task floor in between, never exceeding the core count."""
    from stupidb_spark.streaming.embeddings import adaptive_spread

    assert adaptive_spread(133, 32) is None          # sf0.1 gate volume
    assert adaptive_spread(0, 32) is None
    assert adaptive_spread(511, 32) is None
    assert adaptive_spread(1333, 32) == 32           # sf1 gate volume
    assert adaptive_spread(600, 32) == 15            # proportional band
    assert adaptive_spread(520, 32) == 13
    assert adaptive_spread(10**9, 32) == 32          # capped at cores
    assert adaptive_spread(512, 4) == 4
    # floors are honest parameters, not magic
    assert adaptive_spread(100, 32, min_spread_rows=50) == 2


def test_size_state_partitions_sizing():
    """State-partition sizing follows micro-batch volume, not core count:
    one state store per shuffle partition per micro-batch is pure fixed
    cost on an under-filled partition (measured r14: 32 inherited vs 8
    sized = 6.7 vs 3.5 s on the append session gate at sf0.1, identical
    read-back hashes), while large staged volumes saturate at the cap."""
    from stupidb_spark.streaming.events import size_state_partitions

    # sf0.1 events gates: ~2.2 MB staged over 3 batches -> ~6 partitions
    assert size_state_partitions(2_217_236, 3, 32) == 6
    # sf0.001: a single 33 KB staging -> 1 partition (floor)
    assert size_state_partitions(33_164, 3, 32) == 1
    assert size_state_partitions(0, 3, 32) == 1
    # sf1 volume (~22 MB) saturates at the core-count cap
    assert size_state_partitions(22_000_000, 3, 32) == 32
    # the cap is the session's parallelism, honest parameter
    assert size_state_partitions(22_000_000, 3, 8) == 8
    # n_batches guards divide-by-zero
    assert size_state_partitions(1_000_000, 0, 32) == 8
    # target is a parameter, not magic
    assert size_state_partitions(1_000_000, 1, 32, target_batch_bytes=1 << 20) == 1


def test_stateful_gates_isolate_state_partition_pin(spark, monkeypatch):
    """The stateful gates pin state partitioning on the caller's session
    only across ``start()``: every micro-batch must run at the pinned
    width while the caller's session reads its own value throughout."""
    import stupidb_spark.queryset.streamgate as sg
    import stupidb_spark.streaming.events as sev

    key = "spark.sql.shuffle.partitions"
    sentinel = spark.conf.get(key)
    pin = int(sentinel) + 3
    seen = []
    real_write = sev.write_epoch

    def recording_write(batch_df, batch_id, path):
        seen.append((batch_df.sparkSession.conf.get(key), spark.conf.get(key)))
        real_write(batch_df, batch_id, path)

    monkeypatch.setattr(sev, "write_epoch", recording_write)
    monkeypatch.setattr(sg, "size_state_partitions", lambda *a, **k: pin)
    # complete-mode and ordered-append stateful routes, 3 staged files each
    QUERIES["stream_events_tumbling"](spark, SF_DIR).count()
    QUERIES["stream_events_session_append"](spark, SF_DIR).count()
    assert len(seen) >= 6
    assert set(seen) == {(str(pin), sentinel)}
    assert spark.conf.get(key) == sentinel


def test_stateful_streams_resume_from_checkpoint(spark, tmp_path):
    """Kill and restart: a stateful stream run on the first of three
    time-ordered files, then re-run on the same checkpoint and sink once
    the other two are staged, must write exactly what one uninterrupted
    run over all three writes — for a complete-mode window rollup and a
    watermarked append-mode sessionization."""
    import os

    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/events.parquet").sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    n = t.num_rows
    parts = [t.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3) for i in range(3)]

    def stage(root, i):
        (root / "ingest").mkdir(parents=True, exist_ok=True)
        dst = root / "ingest" / f"part-{i}.parquet"
        pq.write_table(parts[i], dst)
        # the file source replays new files in modification-time order
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    for build, mode in ((tumbling_stream, "complete"), (sessionized_stream, "append")):

        def run(root):
            stream = stream_events(spark, str(root / "ingest"), max_files_per_trigger=1)
            return run_stream(
                build(stream),
                str(root / "out"),
                checkpoint_dir=str(root / "ck"),
                output_mode=mode,
                state_partitions=2,
            )

        def read(root):
            back = read_stream_output(spark, str(root / "out"), output_mode=mode)
            return back.drop("batch_id")

        restarted = tmp_path / f"{mode}-restarted"
        stage(restarted, 0)
        progress = run(restarted)
        assert sum(p["numInputRows"] for p in progress) == parts[0].num_rows
        stage(restarted, 1)
        stage(restarted, 2)
        run(restarted)

        whole = tmp_path / f"{mode}-whole"
        for i in range(3):
            stage(whole, i)
        run(whole)
        assert read(whole).count() > 0
        _assert_same(read(restarted), read(whole))
