"""Training-data prep queries: chunking, benchmark contamination, PII
redaction, seeded corpus shuffle, vocabulary statistics.

Extension surface (SURVEY.md §7) — the operations between "raw crawl" and
"tokenizer input" that the reference has no analogue for. Everything here
is pure Column expressions over ``documents``; the only shuffles are the
aggregations that the semantics require.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from stupidb_spark.functions.text import (
    EMAIL_RE,
    IPV4_RE,
    pii_counts,
    redact_pii,
    words,
)
from stupidb_spark.operators.chunking import chunk_text
from stupidb_spark.operators.dedup import doc_shingles
from stupidb_spark.operators.ordering import seeded_positions
from stupidb_spark.queryset import q
from stupidb_spark.sources import load_table

CHUNK_SIZE, CHUNK_STRIDE = 200, 150
BENCH_MOD = 97  # doc_id % BENCH_MOD == 0 plays the "benchmark" holdout
TOPK_TERMS = 20

# 5-word-gram sets per document, mirrored exactly by operators/dedup.py::
# doc_shingles(k=5) (functions/text.py::word_ngrams windows on the Spark
# side).
_DUCK_GRAMS5 = """
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                              || w[i+3] || ' ' || w[i+4]
                              for i in range(1, len(w) - 3)]) AS s
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                 t -> t != '') AS w
              FROM documents)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@q(
    "chunk_documents",
    f"""
    WITH d AS (
        SELECT doc_id, text,
               CAST(floor(greatest(length(text) - 1, 0) / {CHUNK_STRIDE})
                    AS BIGINT) + 1 AS n_chunks
        FROM documents
    ),
    e AS (
        SELECT doc_id, text,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        FROM d
    )
    SELECT doc_id, chunk_id,
           chunk_id * {CHUNK_STRIDE} AS chunk_start,
           substr(text, CAST(chunk_id * {CHUNK_STRIDE} + 1 AS INTEGER),
                  {CHUNK_SIZE}) AS chunk_text,
           CAST(length(substr(text,
                              CAST(chunk_id * {CHUNK_STRIDE} + 1 AS INTEGER),
                              {CHUNK_SIZE})) AS BIGINT) AS chunk_len
    FROM e
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Overlapping fixed-size chunks (size 200, stride 150): a generator
    # inside the scan stage — zero shuffles at any corpus size.
    return chunk_text(
        _docs(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        size=CHUNK_SIZE,
        stride=CHUNK_STRIDE,
    )


@q(
    "contamination_ngram",
    f"""
    WITH sh AS ({_DUCK_GRAMS5}),
    bench AS (
        SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % {BENCH_MOD} = 0
    ),
    corpus AS (
        SELECT doc_id, s FROM sh
        WHERE doc_id % {BENCH_MOD} != 0 AND len(s) > 0
    ),
    cg AS (SELECT doc_id, unnest(s) AS gram FROM corpus),
    hits AS (
        SELECT cg.doc_id, count(*) AS n_hits
        FROM cg JOIN bench USING (gram) GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(len(c.s) AS BIGINT)  AS n_grams,
           coalesce(h.n_hits, 0)     AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM corpus c LEFT JOIN hits h USING (doc_id)
    """,
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: per corpus document, how many of its
    distinct 5-word-grams also appear in the benchmark holdout.

    The benchmark gram set is small by construction → broadcast to the
    corpus-gram join; the corpus side is the same exploded (doc, gram)
    stream the dedup operators use, so at 100 TB this is one map-side join
    plus one groupBy(doc) shuffle — never a doc×doc comparison.
    """
    docs = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench_grams = (
        doc_shingles(docs.filter(is_bench), id_col="doc_id", text_col="text", k=5)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus_grams = doc_shingles(
        docs.filter(~is_bench), id_col="doc_id", text_col="text", k=5
    )
    # single pass: broadcast-left-join the hit marker onto the gram stream,
    # then ONE groupBy(doc) computes both counts — the corpus shingle
    # pipeline appears exactly once in the plan and no doc-aligning shuffle
    # join exists at all
    per_doc = (
        corpus_grams.join(F.broadcast(bench_grams), "shingle", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits"),
        )
    )
    return per_doc.select(
        F.col("doc").alias("doc_id"),
        "n_grams",
        "n_hits",
        (F.col("n_hits") > 0).alias("contaminated"),
    )


# The fixture corpus is synthetic word-salad with no literal PII, so the
# query plants a deterministic contact string per row (both engines, same
# expression) and then redacts it — the regex path is genuinely exercised
# and the counts are verifiably nonzero.
_DUCK_SYNTH = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com "
    "from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' "
    "|| CAST(doc_id % 250 AS VARCHAR)"
)


@q(
    "pii_redact",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_SYNTH} AS text2 FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(text2, '{EMAIL_RE}'))  AS n_emails,
           len(regexp_extract_all(text2, '{IPV4_RE}'))   AS n_ips,
           regexp_replace(regexp_replace(text2, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{IPV4_RE}', '<IP>', 'g')      AS redacted
    FROM t
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Counts are taken pre-redaction; masking order (emails, then IPv4) is
    # part of the contract — see functions/text.py. Pure regexp_replace /
    # regexp_count expressions: codegen'd, zero-shuffle.
    text2 = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 250).cast("string"),
    )
    n_emails, n_ips = pii_counts(text2)
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        redact_pii(text2).alias("redacted"),
    )


@q(
    "shuffle_deterministic",
    """
    SELECT doc_id,
           CAST(row_number() OVER (
                ORDER BY md5('s1:' || CAST(doc_id AS VARCHAR)), doc_id)
                AS BIGINT) AS pos
    FROM documents
    """,
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Seeded global shuffle positions WITHOUT a global sort: md5-prefix
    # bucketing + per-bucket row_number + 256-row offset agg
    # (operators/ordering.py). The oracle is the naive single-partition
    # formulation — the point of the test is that the sort-free plan
    # reproduces it exactly.
    return seeded_positions(
        _docs(spark, sf_dir).select("doc_id"), id_col="doc_id", seed="s1"
    )


@q(
    "terms_topk",
    f"""
    WITH t AS (
        SELECT lang,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  w -> w != '')) AS term
        FROM documents
    ),
    c AS (SELECT lang, term, count(*) AS n FROM t GROUP BY 1, 2),
    r AS (
        SELECT lang, term, n,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, term)
                    AS BIGINT) AS rnk
        FROM c
    )
    SELECT lang, term, n, rnk FROM r WHERE rnk <= {TOPK_TERMS}
    """,
)
def terms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-language top-k vocabulary: explode → two-phase hash agg (map-side
    # partial combine collapses the token stream before the shuffle) →
    # TWO-PHASE exact rank. A single per-lang row_number window would sort
    # one language's ENTIRE vocabulary (billions of terms at 100 TB) in one
    # task; instead terms rank first within (lang, salt-of-term) buckets —
    # 16-way parallel — and only each bucket's top-k survive to the final
    # per-lang rank over ≤ 16·k rows. Exact by containment: a global top-k
    # term beats everything in its own bucket too, so it survives phase 1;
    # the phase-2 rank therefore equals the single-window rank. Tiebreak on
    # term keeps the cut deterministic.
    counts = (
        _docs(spark, sf_dir)
        .select("lang", F.explode(words(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    local_rk = F.row_number().over(
        W.partitionBy("lang", F.pmod(F.xxhash64("term"), F.lit(16))).orderBy(
            F.desc("n"), "term"
        )
    )
    survivors = counts.withColumn("__lrk", local_rk).filter(
        F.col("__lrk") <= TOPK_TERMS
    )
    rnk = F.row_number().over(W.partitionBy("lang").orderBy(F.desc("n"), "term"))
    return (
        survivors.withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= TOPK_TERMS)
        .select("lang", "term", "n", "rnk")
    )


@q(
    "prep_winsorize",
    """
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    cuts AS (
        SELECT event_type,
               min(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                        THEN value END) AS lo,
               min(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                        THEN value END) AS hi
        FROM ranked GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN e.value < c.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN e.value > c.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           CAST(sum(CAST(floor(least(greatest(e.value, c.lo), c.hi) * 10000
                               + 0.5) AS BIGINT)) AS BIGINT) AS total_clamped_e4
    FROM events e JOIN cuts c USING (event_type)
    GROUP BY e.event_type
    """,
)
def prep_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quantile winsorization — the outlier-clipping stage of a feature/
    # reward-signal pipeline. Cutoffs are percentile_disc-style ACTUAL data
    # values (row at rank ceil(q*n) under a deterministic tiebreak), so the
    # clamp bound is bit-identical across engines — interpolated percentiles
    # would route through engine-specific float paths. The 5-row cutoff
    # table broadcast-joins back onto the fact side: two shuffles total
    # (rank window + final agg) regardless of data size; the clamp itself
    # is a codegen'd least/greatest at scan speed.
    #
    # Scale note: the exact rank is a per-event_type total order — one
    # WindowExec task sorts one type's rows (spillable, but a straggler for
    # a dominant type at 100 TB). Exactness is the point of this oracled
    # form; a corpus-scale winsorize swaps the cutoff source to
    # F.approx_percentile (t-digest: mergeable KB state, no per-group
    # sort) and keeps the identical broadcast-clamp tail — the same
    # exact-vs-mergeable trade documented for the sketches in
    # queryset/udaf.py.
    events = load_table(spark, sf_dir, "events")
    w_rank = W.partitionBy("event_type").orderBy("value", "event_id")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    at = lambda q: F.min(  # noqa: E731
        F.when(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
            F.col("value"),
        )
    )
    cuts = ranked.groupBy("event_type").agg(
        at(0.05).alias("lo"), at(0.95).alias("hi")
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        events.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("value") < F.col("lo"), 1).otherwise(0)
            ).alias("n_clipped_low"),
            F.sum(
                F.when(F.col("value") > F.col("hi"), 1).otherwise(0)
            ).alias("n_clipped_high"),
            # Per-row floor to BIGINT *before* summing: long accumulation is
            # exact and partition-order-independent, unlike a double sum,
            # which past ~2^53 (a 100 TB reality) loses exactness and makes
            # the result depend on reduction order.
            F.sum(
                F.floor(clamped * 10000 + F.lit(0.5)).cast("long")
            ).alias("total_clamped_e4"),
        )
    )


@q("contamination_bloom")  # approximate (no SQL oracle): zero-false-negative
# contract vs contamination_ngram pinned in tests/test_prep.py
def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter twin of contamination_ngram (operators/bloom.py): MBs of
    bits instead of GBs of broadcast grams at benchmark-suite scale, never a
    false negative, fpp-bounded over-count."""
    from stupidb_spark.operators.bloom import bloom_contamination

    docs = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    return bloom_contamination(
        docs.filter(~is_bench), docs.filter(is_bench), fpp=1e-4
    )


@q("terms_heavy_hitters")  # approximate candidate pass (partition-dependent
# sketches) — no SQL oracle; containment + exact-count contracts pinned in
# tests/test_prep.py against the exact terms_topk
def terms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass SpaceSaving top-terms (operators/heavyhitters.py): per-
    partition candidate summaries then an exact broadcast-semi recount —
    the corpus-scale plan that never shuffles the full vocabulary."""
    from stupidb_spark.operators.heavyhitters import top_terms_approx

    toks = _docs(spark, sf_dir).select(
        "lang", F.explode(words(F.col("text"))).alias("term")
    )
    return top_terms_approx(
        toks, group_col="lang", term_col="term", k=TOPK_TERMS
    )


# Built from the operator's own edge list so the DuckDB oracle can never
# silently diverge from the Spark plan if the default buckets change.
from stupidb_spark.operators.packing import LENGTH_BUCKET_EDGES  # noqa: E402

_EDGES_SQL = " + ".join(
    f"(CASE WHEN n_tok > {e} THEN 1 ELSE 0 END)" for e in LENGTH_BUCKET_EDGES
)

BATCH_SIZE = 32
BATCH_SEED = "r5"


@q(
    "batch_shaping",
    f"""
    WITH d AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               t -> t != '')) AS n_tok
        FROM documents
    ),
    b AS (
        SELECT doc_id, n_tok,
               CAST({_EDGES_SQL} AS INTEGER) AS len_bucket,
               md5(concat('{BATCH_SEED}:', CAST(doc_id AS VARCHAR))) AS key
        FROM d
    ),
    p AS (
        SELECT len_bucket, n_tok,
               row_number() OVER (PARTITION BY len_bucket
                                  ORDER BY key, doc_id) AS pos
        FROM b
    )
    SELECT len_bucket,
           CAST(floor((pos - 1) / {BATCH_SIZE}) AS BIGINT) AS batch,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_tok) AS BIGINT) AS max_tok,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
    FROM p GROUP BY 1, 2
    """,
)
def batch_shaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Training-loader batch shaping: length-bucket documents (bounded
    # padding spread per batch), seeded within-bucket shuffle, fixed-size
    # consecutive batches, then a per-batch padding-cost report
    # (pad_waste = rows x max_len - sum_len: the tokens a padded collate
    # would burn). The oracle is the per-bucket global window; the Spark
    # plan is the order-preserving-salt two-phase form in
    # operators/packing.py::bucketed_batches — no mega-partition window.
    from stupidb_spark.functions.text import token_count
    from stupidb_spark.operators.packing import bucketed_batches

    docs = _docs(spark, sf_dir).select(
        "doc_id", token_count("text").alias("n_tok")
    )
    batches = bucketed_batches(
        docs,
        id_col="doc_id",
        token_col="n_tok",
        batch_size=BATCH_SIZE,
        seed=BATCH_SEED,
    )
    return batches.groupBy("len_bucket", "batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tok").alias("max_tok"),
        F.sum("n_tok").alias("sum_tok"),
        (
            F.count(F.lit(1)) * F.max("n_tok") - F.sum("n_tok")
        ).alias("pad_waste"),
    )
