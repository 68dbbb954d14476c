"""Oracled STREAMING queries — the stream==batch==oracle end-to-end gates.

The events queries gate the batch twins of the streaming window operators;
these two go further: each registered callable RUNS a real Structured
Streaming job (file source staged into multiple files, one micro-batch per
file, ``availableNow`` trigger, idempotent ``foreachBatch`` parquet sink —
``streaming/events.py::run_stream``) and returns the
READ-BACK of what the stream wrote. Because the transforms are stateless
per-row Column/Arrow expressions, the set of rows the stream produces is
deterministic regardless of how the files batch, so the driver's DuckDB
hash comparison holds end-to-end: a green row proves the streaming source,
the per-batch plan, the exactly-once sink, AND the arithmetic all at once.

Scratch layout: one directory per (query, fixture), wiped at the START of
each invocation and left on disk afterwards — the returned DataFrame reads
the written parquet lazily, so cleanup must not race the driver's collect.
(Single-writer assumption: two processes running the SAME gate query on
the SAME fixture concurrently would race on this directory; the driver,
pytest, and the bench all run queries sequentially within a fixture.)

Streams run on the caller's session. That same sequential use is why the
stateful gates' state-partition pin, which ``run_stream`` holds on the
caller's session only across ``start()``, is never seen by another query.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stupidb_spark.functions import exact as X
from stupidb_spark.queryset import q
from stupidb_spark.queryset.sampling import _SA, _SC, _SM
from stupidb_spark.queryset.similarity import _sql_emb_norm_cte, _sql_qcos_pair
from stupidb_spark.queryset.text import _duck_score, _duck_words, _DUCK_WTOKS
from stupidb_spark.sources import load_table
from stupidb_spark.streaming.events import (
    dir_bytes,
    read_stream_output,
    run_stream,
    size_state_partitions,
)

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
    "stream_gate",
)

# Stage the fixture into this many files; with maxFilesPerTrigger=1 the
# stream runs one micro-batch per file, so the gate genuinely exercises
# multi-batch append semantics, not a single-batch degenerate run.
_N_INGEST_FILES = 3


def _stream_root(name: str, sf_dir: str) -> str:
    """Wipe and return the gate's scratch directory for this fixture."""
    root = os.path.join(
        _SCRATCH, f"{name}-{os.path.basename(os.path.normpath(sf_dir))}"
    )
    shutil.rmtree(root, ignore_errors=True)
    return root


def _run_and_read_back(
    spark: SparkSession,
    root: str,
    build,
    stream_reader,
    *,
    output_mode: str,
    stateful: bool,
) -> DataFrame:
    """Stream ``root/ingest`` (one micro-batch per staged file) through
    ``build`` into ``root/out`` and return the read-back without the
    sink's ``batch_id`` column.

    ``stateful`` sizes the state partitioning to the staged volume rather
    than inheriting the session's batch tuning or the core count: one
    state store per shuffle partition per micro-batch, so even the core
    count over-shards a sub-MB micro-batch (32 -> sized 8 took the
    tumbling gate 4.2 -> 2.5 s and the append session gate 6.7 -> 3.5 s,
    identical read-backs; see ``size_state_partitions``). Stateless
    streams pin nothing."""
    ingest = os.path.join(root, "ingest")
    out = os.path.join(root, "out")
    state_partitions = None
    if stateful:
        state_partitions = size_state_partitions(
            dir_bytes(ingest),
            _N_INGEST_FILES,
            spark.sparkContext.defaultParallelism,
        )
    run_stream(
        build(stream_reader(spark, ingest, max_files_per_trigger=1)),
        out,
        checkpoint_dir=os.path.join(root, "ck"),
        output_mode=output_mode,
        state_partitions=state_partitions,
    )
    return read_stream_output(spark, out, output_mode=output_mode).drop(
        "batch_id"
    )


def _run_staged_stream(
    name: str,
    sf_dir: str,
    staged: DataFrame,
    build,
    stream_reader,
    *,
    complete_final: bool = False,
) -> DataFrame:
    """Stage ``staged`` as ``_N_INGEST_FILES`` parquet files and return
    the read-back of ``build(stream)``.

    ``complete_final=True`` is the stateful-aggregation route: the stream
    runs in COMPLETE output mode and the read-back keeps only the final
    epoch — which, once ``availableNow`` drains the staged files, is the
    aggregation over all of them and therefore hash-comparable to the
    batch oracle (see ``run_stream``)."""
    root = _stream_root(name, sf_dir)
    staged.repartition(_N_INGEST_FILES).write.parquet(os.path.join(root, "ingest"))
    return _run_and_read_back(
        staged.sparkSession,
        root,
        build,
        stream_reader,
        output_mode="complete" if complete_final else "append",
        stateful=complete_final,
    )


def _run_staged_stream_ordered(
    name: str,
    sf_dir: str,
    staged: DataFrame,
    build,
    stream_reader,
    *,
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Stateful append-mode variant of :func:`_run_staged_stream` with
    TIME-ORDERED staging: rows are split into ``_N_INGEST_FILES``
    contiguous ranges of the total ``order_cols`` order, written as one
    file each with ascending mtimes so the file source replays them in
    time order. With ordered batches the late-row filter (which lags the
    eviction watermark by one batch, SPARK-24634) can never drop a row, so
    the append-mode emitted set is exactly the batch result restricted to
    watermark-finalized windows — the production eviction semantics the
    complete-mode gates deliberately bypass.

    Harness cost note: the split uses a global row_number (one-task sort
    of the fixture slice) — fine for a gate; production ingest is already
    time-ordered by arrival and never pays this.
    """
    import glob

    from pyspark.sql import Window

    root = _stream_root(name, sf_dir)
    ingest = os.path.join(root, "ingest")
    os.makedirs(ingest)
    n = staged.count()
    ranked = staged.withColumn(
        "__rn", F.row_number().over(Window.orderBy(*order_cols))
    )
    bounds = [
        (i * n + _N_INGEST_FILES - 1) // _N_INGEST_FILES
        for i in range(_N_INGEST_FILES + 1)
    ]
    # ONE write for all ranges, not one sort+write job per range (the
    # row_number above is a single-task global sort). Bucketing by the
    # exact bounds and hash-partitioning on the bucket id lands each range
    # in exactly one task, so partitionBy writes exactly one file per
    # range. Row order within a file is immaterial: a file is one
    # micro-batch, and watermark advance (max event time) and the
    # windowed aggregation are both order-insensitive within a batch.
    bounds_arr = F.array(*[F.lit(b) for b in bounds[1:-1]])
    bucketed = ranked.withColumn(
        # number of interior bounds strictly below __rn == range index
        "__b",
        F.size(F.filter(bounds_arr, lambda b: b < F.col("__rn"))),
    ).drop("__rn")
    tmp = os.path.join(root, "_tmp")
    bucketed.repartition(_N_INGEST_FILES, "__b").write.partitionBy(
        "__b"
    ).parquet(tmp)
    for i in range(_N_INGEST_FILES):
        files = glob.glob(os.path.join(tmp, f"__b={i}", "part-*.parquet"))
        assert len(files) == 1, f"range {i}: expected 1 file, got {files}"
        dst = os.path.join(ingest, f"batch-{i}.parquet")
        os.rename(files[0], dst)
        # FileStreamSource orders new files by modification time; pin it.
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return _run_and_read_back(
        staged.sparkSession,
        root,
        build,
        stream_reader,
        output_mode="append",
        stateful=True,
    )


@q(
    "stream_quality_gate",
    f"""
    -- Read-back of the ingest-time quality gate STREAM: Gopher quality
    -- signals + leakage-safe grouped split per streamed document. The
    -- transforms are stateless, so the stream's multi-batch output is
    -- set-equal to this one batch expression over the same documents.
    WITH m AS (
        SELECT doc_id, source,
               len({_DUCK_WTOKS}) AS n_words,
               CAST(list_sum(list_transform({_DUCK_WTOKS},
                    t -> length(t))) AS BIGINT) AS sum_wlen,
               len(list_filter({_DUCK_WTOKS},
                    t -> regexp_matches(lower(t), '[a-z]'))) AS n_alpha,
               len({_duck_words()}) AS n_aw,
               len(list_distinct({_duck_words()})) AS n_dw,
               {_duck_score('en')} AS n_stop,
               len(regexp_extract_all(text, '#'))
                 + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
        FROM documents
    )
    SELECT doc_id, source,
           (n_words >= 50 AND n_words <= 100000
            AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
            AND 5 * n_alpha >= 4 * n_words
            AND 10 * n_sym < n_words
            AND n_stop >= 2
            AND 5 * n_dw >= n_aw)                              AS passes_gopher,
           n_words, n_stop,
           CASE WHEN (CAST(substr(source, 4) AS BIGINT) * {_SA} + {_SC}) % {_SM} < 800 THEN 'train'
                WHEN (CAST(substr(source, 4) AS BIGINT) * {_SA} + {_SC}) % {_SM} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM m
    """,
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality_gated_stream end-to-end: documents staged as 3 parquet
    files → file-source stream (one micro-batch each) → Gopher signals +
    grouped split → idempotent parquet sink → read-back. Uses the portable
    LCG split (the ``sample_split_leakproof`` construction) so the oracle
    replays the split bit-identically; the xxhash64 default is pinned
    stream==batch in tests/test_streaming.py."""
    from stupidb_spark.streaming.documents import (
        quality_gated_stream,
        stream_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("long")
    h = F.pmod(src_num * _SA + _SC, F.lit(_SM))
    portable_split = (
        F.when(h < 800, F.lit("train"))
        .when(h < 900, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return _run_staged_stream(
        "stream_quality_gate",
        sf_dir,
        docs,
        lambda s: quality_gated_stream(s, split_expr=portable_split),
        stream_documents,
    )


# Shared by stream_knn_label (closure-reference form) and
# stream_knn_label_join (stream-static-join form): both must emit exactly
# the batch-exact 5-NN majority vote, whatever route the labels took.
_KNN_LABEL_ORACLE = f"""
    -- Read-back of the ingest-time kNN labeling STREAM: every streamed
    -- vector (vec_id % 5 = 0) labeled by majority vote of its 5 nearest
    -- labeled reference vectors (vec_id % 5 != 0) on the quantized-cosine
    -- grid — the emb_knn_classify_exact vote rule, replayed per micro-batch.
    WITH {_sql_emb_norm_cte()},
    scored AS (
        SELECT q.vec_id, b.label,
               {_sql_qcos_pair()} AS cosine_sim, b.vec_id AS bid
        FROM (SELECT * FROM e WHERE vec_id % 5 = 0) q
        JOIN (SELECT * FROM e WHERE vec_id % 5 != 0) b ON TRUE
    ),
    ranked AS (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine_sim DESC, bid) AS rk
        FROM scored
    ),
    votes AS (
        SELECT vec_id, label, CAST(count(*) AS INTEGER) AS n_votes
        FROM ranked WHERE rk <= 5 GROUP BY vec_id, label
    ),
    best AS (
        SELECT vec_id, label, n_votes,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY n_votes DESC, label) AS r
        FROM votes
    )
    SELECT vec_id, label AS pred_label, n_votes FROM best WHERE r = 1
    """


@q("stream_knn_label", _KNN_LABEL_ORACLE)
def stream_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_label_stream end-to-end: unlabeled vectors staged as 3 parquet
    files → file-source stream → map-only kNN vote against the collected
    labeled reference (model state rides the UDF closure — zero shuffles,
    append mode) → idempotent parquet sink → read-back. Same quantized-grid
    arithmetic and (count DESC, label ASC) vote as emb_knn_classify_exact,
    now proven through the streaming source and sink too."""
    from stupidb_spark.streaming.embeddings import (
        adaptive_spread,
        knn_label_stream,
        stream_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    reference = emb.filter(F.col("vec_id") % 5 != 0)
    queries = emb.filter(F.col("vec_id") % 5 == 0).drop("label")
    # spread_partitions: each staged file arrives as ONE partition, so
    # without it the whole quantized-scoring pass for a micro-batch runs
    # on one core (measured at sf1: 10 s -> 2.1 s per batch) — but an
    # UNCONDITIONAL spread cost 1.47x on sf0.1's 133-row batches (r13).
    # adaptive_spread sizes it to the staged per-trigger volume: skip at
    # fixture scale, full fan-out at sf1+ (the count is one parquet
    # metadata job over the tiny staged slice).
    spread = adaptive_spread(
        queries.count() // _N_INGEST_FILES,
        spark.sparkContext.defaultParallelism,
    )
    return _run_staged_stream(
        "stream_knn_label",
        sf_dir,
        queries,
        lambda s: knn_label_stream(
            s, reference, k_neighbors=5, spread_partitions=spread
        ),
        stream_embeddings,
    )


@q("stream_knn_label_join", _KNN_LABEL_ORACLE)
def stream_knn_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SCALE labeling route, end-to-end: the batch exact kNN
    vote (`emb_knn_classify_exact`'s distributed pipeline — nothing
    collected) is materialized to parquet as the "scheduled batch" output,
    then the staged vector stream is labeled by a stateless stream-static
    JOIN against the read-back (``label_stream_by_join``) → idempotent
    parquet sink → read-back. Same oracle as ``stream_knn_label``: both
    label routes must emit the identical exact 5-NN majority vote."""
    from stupidb_spark.queryset.similarity import _knn_classify_pipeline
    from stupidb_spark.streaming.embeddings import (
        label_stream_by_join,
        stream_embeddings,
    )

    # The "scheduled batch" leg: exact-config kNN vote, persisted. Lives
    # outside _run_staged_stream's root (which is wiped at stream start);
    # single-writer per (query, fixture), same contract as the stream root.
    votes_dir = os.path.join(
        _SCRATCH,
        "stream_knn_label_join-votes-"
        + os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(votes_dir, ignore_errors=True)
    _knn_classify_pipeline(spark, sf_dir, n_cells=4, n_probe=4).select(
        "query_id", "pred_label", F.col("n_votes").cast("int").alias("n_votes")
    ).write.parquet(votes_dir)
    votes = spark.read.parquet(votes_dir)

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0).drop("label")
    return _run_staged_stream(
        "stream_knn_label_join",
        sf_dir,
        queries,
        lambda s: label_stream_by_join(s, votes),
        stream_embeddings,
    )


@q(
    "stream_events_tumbling",
    f"""
    -- Read-back of the 1h tumbling-window aggregation STREAM's final
    -- COMPLETE-mode epoch: after availableNow drains the 3 staged files,
    -- the final epoch is the aggregation over every event, so it must
    -- equal the batch bucketing exactly (F.window aligns whole hours to
    -- date_trunc('hour')). Same expression as the events_tumbling oracle.
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)               AS n_events,
           {X.sql_dsum('value', 4)} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events family end-to-end, completing stream==batch==oracle
    alongside the quality-gate and kNN-label gates: events staged as 3
    parquet files → file-source stream (one micro-batch each, window
    state carried ACROSS batches) → 1h tumbling event-time aggregation
    (``tumbling_stream``, the watermarked production operator — complete
    mode retains rather than evicts its state) → per-epoch idempotent
    parquet sink → read-back of the final epoch. Exact decimal sums
    (X.dsum) make the hash comparison engine- and batching-independent;
    append-mode eviction semantics for the same operator are pinned in
    tests/test_streaming.py."""
    from stupidb_spark.streaming.events import stream_events, tumbling_stream

    events = load_table(spark, sf_dir, "events")
    return _run_staged_stream(
        "stream_events_tumbling",
        sf_dir,
        events,
        lambda s: tumbling_stream(s),
        stream_events,
        complete_final=True,
    )


@q(
    "stream_events_sliding",
    f"""
    -- Read-back of the SLIDING-window aggregation stream's final
    -- COMPLETE-mode epoch: identical bucketing to the events_sliding
    -- oracle (each event belongs to exactly two 1h/30min windows).
    SELECT time_bucket(INTERVAL 30 MINUTES, ts) - k.off * INTERVAL 30 MINUTES
               AS window_start,
           count(*)             AS n_events,
           {X.sql_dsum('value', 4)} AS total_value
    FROM events CROSS JOIN (VALUES (0), (1)) k(off)
    GROUP BY 1
    """,
)
def stream_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows end-to-end, same harness as the tumbling gate:
    3 staged files → one micro-batch each (overlapping-window state
    carried across batches) → complete-mode epoch sink → final-epoch
    read-back under the batch twin's DuckDB oracle."""
    from stupidb_spark.streaming.events import sliding_stream, stream_events

    events = load_table(spark, sf_dir, "events")
    return _run_staged_stream(
        "stream_events_sliding",
        sf_dir,
        events,
        lambda s: sliding_stream(s),
        stream_events,
        complete_final=True,
    )


@q(
    "stream_events_session",
    f"""
    -- Read-back of the SESSION-window aggregation stream's final
    -- COMPLETE-mode epoch: gap-merge state carries across micro-batches
    -- (sessions split across staged files must merge), so the final
    -- epoch must equal the batch gaps-and-islands sessionization —
    -- identical SQL to the events_session oracle.
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         <= INTERVAL 30 MINUTES
                    THEN 0 ELSE 1 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id,
           min(ts)                         AS session_start,
           max(ts) + INTERVAL 30 MINUTES   AS session_end,
           count(*)                        AS n_events,
           {X.sql_dsum('value', 4)} AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows end-to-end — the strongest of the events-family
    stream gates: unlike tumbling/sliding (fixed buckets), session
    windows MERGE state across micro-batches (an open session in batch 1
    must absorb batch 3's events within the gap), so the final complete
    epoch hash-matching the batch gaps-and-islands oracle proves the
    cross-batch merge, not just per-bucket accumulation.

    Scale contract: session cardinality grows with data (unlike the
    window×type rollups), so the complete-mode form is the GATE's
    correctness harness; production sessionization at corpus scale is
    the watermarked APPEND route (``sessionized_stream`` with its
    default watermark), whose eviction semantics are pinned in
    tests/test_streaming.py."""
    from stupidb_spark.streaming.events import sessionized_stream, stream_events

    events = load_table(spark, sf_dir, "events")
    return _run_staged_stream(
        "stream_events_session",
        sf_dir,
        events,
        # watermark=None: complete mode retains all session state, and the
        # session operator's late-row filter would otherwise drop events
        # from out-of-time-order micro-batches (see sessionized_stream).
        lambda s: sessionized_stream(s, watermark=None),
        stream_events,
        complete_final=True,
    )


@q(
    "stream_events_session_append",
    f"""
    -- Read-back of the PRODUCTION sessionization route: watermarked
    -- APPEND mode over time-ordered micro-batches. Append emits a
    -- session exactly once, when the event-time watermark passes its
    -- end; after availableNow drains the staged files the final no-data
    -- micro-batch advances the watermark to max(ts) - 1h (delay), so
    -- the emitted set is the batch gaps-and-islands sessionization
    -- restricted to FINALIZED sessions: session_end <= max(ts) - 1h.
    -- The boundary is INCLUSIVE (a session whose end equals the final
    -- watermark is emitted) — pinned end-to-end in
    -- tests/test_streaming.py::test_session_append_emits_at_exact_watermark_boundary.
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         <= INTERVAL 30 MINUTES
                    THEN 0 ELSE 1 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    ),
    sessions AS (
        SELECT user_id,
               min(ts)                         AS session_start,
               max(ts) + INTERVAL 30 MINUTES   AS session_end,
               count(*)                        AS n_events,
               {X.sql_dsum('value', 4)} AS total_value
        FROM numbered
        GROUP BY user_id, session_id
    )
    SELECT * FROM sessions
    WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_events_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked APPEND sessionization route end-to-end — the
    production path at corpus scale (state is EVICTED as the watermark
    passes each session, so memory is O(open sessions), unlike the
    complete-mode gate's retain-everything harness). Events staged as 3
    time-ordered files → one micro-batch each (open sessions merge
    across batch boundaries in state) → ``sessionized_stream`` with its
    default 1h watermark, append mode → idempotent parquet sink →
    read-back of every emitted epoch.

    With time-ordered staging the late-row filter never fires, so the
    emitted set is deterministic: exactly the sessions the final
    watermark (max event time − 1h, advanced by the trailing no-data
    micro-batch) finalized. The oracle replays the batch gaps-and-islands
    sessionization under that same restriction; sessions still open at
    the watermark are the ABSENCE the gate checks (they never reach the
    sink). Emission semantics pinned in tests/test_streaming.py, end-to-
    end here at fixture scale."""
    from stupidb_spark.streaming.events import sessionized_stream, stream_events

    events = load_table(spark, sf_dir, "events")
    return _run_staged_stream_ordered(
        "stream_events_session_append",
        sf_dir,
        events,
        lambda s: sessionized_stream(s),
        stream_events,
    )
