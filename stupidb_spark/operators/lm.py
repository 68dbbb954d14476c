"""N-gram language-model document scoring — the CCNet/RefinedWeb-style
quality filter: score every document by its mean log-probability (and
perplexity) under an add-k-smoothed bigram model trained on a reference
slice of the corpus, per language.

Beyond-reference surface (the reference engine has no text pipeline at
all); public-recipe provenance: perplexity filtering of web corpora against
a clean-reference LM is the standard pretraining-data quality gate
(Wenzek et al., CCNet, LREC 2020).

Scale design (100 TB):
- Model state is RELATIONS, not a driver-side model: bigram counts
  C(lang, w1, w2), context counts C(lang, w1), and per-language vocabulary
  sizes V(lang) are ordinary aggregates with map-side partial combine —
  one shuffle each, mergeable, no collect. At corpus scale the count
  tables are VOCABULARY-sized (billions of bigrams), so the scoring joins
  are pinned via :func:`~stupidb_spark.operators.dedup.corpus_join_strategy`
  — never an estimate-driven broadcast (the text_rarity_score lesson).
  Only V(lang) — one row per language — rides a broadcast.
- Bigram extraction is MAP-ONLY (the
  :func:`~stupidb_spark.functions.text.word_ngrams` windows, exploded —
  zero shuffles, no per-doc WindowExec), keeping
  token multiplicity (an LM weights a repeated bigram per occurrence,
  unlike dedup's distinct shingles). The ``max_doc_bytes`` guard still
  applies at the source for predictable task sizes.
- Smoothing makes scoring total for modeled languages: an unseen bigram
  contributes ln(k / (C(w1)+k·V)) via the LEFT joins' null→0; documents of
  a language with NO reference data drop out at the inner V join
  (documented contract — no model, no score).

Cross-engine parity AND run-to-run determinism: ln is a libm call whose
last ulp may differ between the JVM and DuckDB, and a float mean varies
with partition order. Each bigram's logp is therefore floored once onto a
1e-6 grid (identical construction in the SQL oracle; ln's ≤1-ulp wobble is
~1e9× finer than the grid) and summed exactly as longs — the score is a
deterministic rational of the quantized values on both engines.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stupidb_spark.functions.text import word_ngrams, words
from stupidb_spark.operators.dedup import (
    DOC_BYTES_CAP,
    _doc_bytes_guard,
    corpus_join_strategy,
    spread_small_scan,
)
from stupidb_spark.operators.lineage import cut_lineage


def doc_ngrams(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int,
    lang_col: str | None = None,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> DataFrame:
    """Per-document n-grams WITH multiplicity as ``(doc[, lang], w1..wn)``
    rows — the non-distinct sibling of
    :func:`~stupidb_spark.operators.dedup.doc_shingles` (an LM weights a
    repeated n-gram once per occurrence; dedup wants set semantics).

    The :func:`~stupidb_spark.functions.text.word_ngrams` windows of the
    document's token array, exploded map-only — zero shuffles, versus
    shuffling and sorting every token row across the cluster. With no
    WindowExec, a mega-document is only a linear scan-task straggler, not a
    buffered-partition OOM; the byte guard still applies to keep task sizes
    predictable.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    keep = [F.col(id_col).alias("doc"), F.col(text_col)] + (
        [F.col(lang_col).alias("lang")] if lang_col else []
    )
    base = spread_small_scan(df.select(*keep))
    base = _doc_bytes_guard(base, text_col, max_doc_bytes, "doc_ngrams")
    extra = ["lang"] if lang_col else []
    toks = base.select("doc", *extra, words(F.col(text_col)).alias("__w"))
    return toks.select(
        "doc", *extra, F.explode(word_ngrams("__w", n)).alias("__ng")
    ).select(
        "doc",
        *extra,
        *[F.col("__ng")[str(j)].alias(f"w{j + 1}") for j in range(n)],
    )


@dataclass
class NgramLM:
    """A trained model, as relations: bigram counts ``(lang, w1, w2, c2)``,
    context counts ``(lang, w1, c1)``, per-language vocabulary sizes
    ``(lang, v)``, and the smoothing constant. Being relations, the model
    persists as ordinary tables (write/read parquet), merges by summing
    counts, and stream-static-joins against a document stream."""

    bigram_c: DataFrame
    context_c: DataFrame
    vocab: DataFrame
    k: float


def ngram_lm_train(
    ref: DataFrame,
    *,
    id_col: str,
    text_col: str,
    lang_col: str,
    k: float = 0.5,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> NgramLM:
    """Fit the per-language add-k bigram model on a reference corpus —
    three aggregates, no driver-side state."""
    ref_bg = doc_ngrams(
        ref,
        id_col=id_col,
        text_col=text_col,
        n=2,
        lang_col=lang_col,
        max_doc_bytes=max_doc_bytes,
    )
    bigram_c = ref_bg.groupBy("lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c2")
    )
    # Context counts and vocabulary derive from bigram_c, NOT from a second
    # and third pass over the exploded reference: C(w1) = Σ_w2 C(w1,w2)
    # exactly, and distinct tokens over bigram TYPES equal distinct tokens
    # over occurrences. One heavy aggregation feeds everything; the rollups
    # are vocabulary-sized follow-ups. The repeated bigram_c references DO
    # re-execute (per-consumer column pruning makes the exchanges
    # non-identical, so runtime exchange reuse does not fire), but an A/B
    # with an eager cut_lineage here measured SLOWER (1.61 → 1.97 s at
    # sf0.1): bigram extraction is cheap relative to trigrams, the
    # re-executions run as CONCURRENT broadcast-subquery jobs that overlap
    # on idle cores, and materialization serializes them behind one
    # synchronous write. Contrast backoff_lm_train, where the padded
    # trigram aggregation is heavy enough that the cut wins.
    context_c = bigram_c.groupBy("lang", "w1").agg(F.sum("c2").alias("c1"))
    # per-language vocabulary size — one row per language, the only
    # broadcast in the scoring plan
    vocab = (
        bigram_c.select("lang", F.col("w1").alias("w"))
        .unionByName(bigram_c.select("lang", F.col("w2").alias("w")))
        .groupBy("lang")
        .agg(F.count_distinct("w").alias("v"))
    )
    return NgramLM(bigram_c=bigram_c, context_c=context_c, vocab=vocab, k=k)


def ngram_lm_apply(
    docs: DataFrame,
    model: NgramLM,
    *,
    id_col: str,
    text_col: str,
    lang_col: str,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> DataFrame:
    """Score ``docs`` (batch OR streaming) under a trained model.

    Streaming ``docs`` compose natively: ``doc_ngrams`` is map-only, the
    model joins are stream-static joins, and the per-doc rollup is a
    streaming aggregation (run in ``complete``/``update`` mode, or attach a
    watermark on an ingest timestamp for bounded state). Join-strategy
    hints are applied only on the batch path — micro-batch planning picks
    its own strategy for stream-static joins.
    """
    k = model.k
    doc_bg = doc_ngrams(
        docs,
        id_col=id_col,
        text_col=text_col,
        n=2,
        lang_col=lang_col,
        max_doc_bytes=max_doc_bytes,
    )
    streaming = bool(docs.isStreaming)

    def pin(df: DataFrame) -> DataFrame:
        return df if streaming else df.hint(corpus_join_strategy())

    def score_frame(frame: DataFrame) -> DataFrame:
        # vocabulary-sized model relations join a (lang, w1, w2)-keyed
        # frame: both sides pinned (batch), never estimate-broadcast
        joined = pin(frame).join(pin(model.bigram_c), ["lang", "w1", "w2"], "left")
        joined = pin(joined).join(pin(model.context_c), ["lang", "w1"], "left")
        # INNER join on the per-language V table: a language with no
        # reference data has no model — its documents drop out here rather
        # than dividing by the k*0 denominator (ANSI division-by-zero).
        # Filter upstream if unmodeled-language docs need to be surfaced.
        joined = joined.join(F.broadcast(model.vocab), "lang")
        logp = F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(k))
            / (
                F.coalesce(F.col("c1"), F.lit(0))
                + F.lit(k) * F.coalesce(F.col("v"), F.lit(0))
            )
        )
        # Order-independent mean (the emb_label_centroids quantized-grid
        # trick): a plain F.avg over doubles varies with partition order
        # (float addition is non-associative), which would flake the
        # hash-stability sweep and the DuckDB comparison. Each logp is
        # floored once onto a 1e-6 grid (identical construction on the SQL
        # side; ln's ≤1-ulp cross-engine wobble is ~1e9× finer than the
        # grid) and summed EXACTLY as longs, so the mean is a deterministic
        # rational of the quantized values.
        q = F.floor(logp * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        return joined.select(*frame.columns, q.alias("q"))

    def rollup(j: DataFrame, n_expr, qsum_expr) -> DataFrame:
        return (
            j.groupBy("doc", "lang")
            .agg(n_expr.alias("n_bigrams"), qsum_expr.alias("__qsum"))
            .select(
                "doc",
                "lang",
                "n_bigrams",
                (
                    (F.col("__qsum").cast("double") / F.lit(1000000.0))
                    / F.col("n_bigrams")
                ).alias("avg_logp"),
            )
            .withColumn("ppl", F.exp(-F.col("avg_logp")))
        )

    if not streaming:
        # Batch plan (the backoff_lm_apply shape): score each DISTINCT
        # gram once at gram scale, carry q back to the occurrence stream
        # with ONE corpus-sized join, roll up per doc. (The former fold to
        # (doc, gram, n_occ) before the carry-back join paid a full
        # occurrence-scale shuffle on a nearly-unique key for almost no
        # row reduction — see backoff_lm_apply.) Per-occurrence Σ q equals
        # Σ q·n_occ exactly (long arithmetic) — scores unchanged.
        scored = score_frame(doc_bg.select("lang", "w1", "w2").distinct())
        j = pin(doc_bg).join(pin(scored), ["lang", "w1", "w2"])
        return rollup(j, F.count(F.lit(1)), F.sum("q"))

    # Streaming plan: per-occurrence scoring (chained stateful
    # aggregations are not expressible in a stream), one rollup.
    return rollup(score_frame(doc_bg), F.count(F.lit(1)), F.sum("q"))


def ngram_lm_score(
    docs: DataFrame,
    ref: DataFrame,
    *,
    id_col: str,
    text_col: str,
    lang_col: str,
    k: float = 0.5,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> DataFrame:
    """Train on ``ref`` and score ``docs`` in one call: ``avg_logp`` = mean
    over the document's bigrams of ln((C(w1,w2)+k) / (C(w1)+k·V)), ``ppl``
    = exp(−avg_logp), plus the bigram count. Lower perplexity ⇒ more
    reference-like text — threshold ``ppl`` to filter a crawl against a
    clean corpus (the CCNet recipe).

    Documents with fewer than two tokens have no bigrams, and documents
    whose language has no reference data have no model — both are OMITTED
    from the output (score undefined); count them upstream if the
    distinction matters.

    Returns: ``doc, lang, n_bigrams, avg_logp, ppl``.
    """
    model = ngram_lm_train(
        ref,
        id_col=id_col,
        text_col=text_col,
        lang_col=lang_col,
        k=k,
        max_doc_bytes=max_doc_bytes,
    )
    return ngram_lm_apply(
        docs,
        model,
        id_col=id_col,
        text_col=text_col,
        lang_col=lang_col,
        max_doc_bytes=max_doc_bytes,
    )


@dataclass
class StupidBackoffLM:
    """Stupid Backoff trigram model (Brants et al., EMNLP 2007 — the
    distributed-scale recipe: raw counts per order, NO normalization, a
    fixed backoff factor instead of discounting). State is four relations:
    trigram / bigram / unigram counts and per-language token totals — all
    mergeable by summing, all join-servable, exactly the representation the
    paper built for trillion-token corpora."""

    trigram_c: DataFrame
    bigram_c: DataFrame
    unigram_c: DataFrame
    totals: DataFrame
    alpha: float
    k0: float


def backoff_lm_train(
    ref: DataFrame,
    *,
    id_col: str,
    text_col: str,
    lang_col: str,
    alpha: float = 0.4,
    k0: float = 0.5,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> StupidBackoffLM:
    """All three per-order count tables from ONE corpus pass.

    Trigrams are extracted over the token array padded with two trailing
    NULLs, so entry i is ``(w_i, w_{i+1}|NULL, w_{i+2}|NULL)`` for every
    position i = 1..n — each token starts exactly one padded entry. One
    occurrence-scale aggregation counts the padded trigrams; the per-order
    tables then derive EXACTLY at gram scale:

    - trigram counts: padded entries with ``w3`` non-NULL (positions
      1..n−2) — the groups are already keyed (lang, w1, w2, w3);
    - bigram counts: entries with ``w2`` non-NULL (positions 1..n−1),
      summed over ``w3``;
    - unigram counts: all entries, summed over ``(w2, w3)``.

    ``words`` never emits NULL (or empty) tokens, so the pad cannot
    collide with a real token. Versus one extraction + aggregation per
    order, the corpus is tokenized/exploded/shuffled ONCE (the padded
    stream is n rows versus 3n−3 across the three per-order streams) and
    the derived rollups run at vocabulary scale.
    """
    keep = [
        F.col(id_col).alias("doc"),
        F.col(text_col),
        F.col(lang_col).alias("lang"),
    ]
    base = spread_small_scan(ref.select(*keep))
    base = _doc_bytes_guard(base, text_col, max_doc_bytes, "backoff_lm_train")
    pad = F.concat(
        words(F.col(text_col)),
        F.array(F.lit(None).cast("string"), F.lit(None).cast("string")),
    )
    toks = base.select("lang", pad.alias("__pad"))
    pg = toks.select(
        "lang", F.explode(word_ngrams("__pad", 3)).alias("__g")
    ).select(
        "lang",
        F.col("__g")["0"].alias("w1"),
        F.col("__g")["1"].alias("w2"),
        F.col("__g")["2"].alias("w3"),
    )
    c3p = pg.groupBy("lang", "w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c"))
    # Materialize the one heavy aggregation (see ngram_lm_train): the five
    # count-table references in the scoring plan would otherwise each
    # re-execute the corpus tokenize+explode+aggregate (measured: 4
    # executions, ~7-9 s task time apiece at sf0.1, per-consumer pruning
    # defeats exchange reuse). After the cut the derived per-order rollups
    # run at gram scale against the checkpointed blocks.
    if not ref.isStreaming:
        c3p = cut_lineage(c3p, eager=True)
    trigram_c = c3p.filter(F.col("w3").isNotNull()).select(
        "lang", "w1", "w2", "w3", F.col("c").alias("c3")
    )
    bigram_c = (
        c3p.filter(F.col("w2").isNotNull())
        .groupBy("lang", "w1", "w2")
        .agg(F.sum("c").alias("c2"))
    )
    unigram_c = c3p.groupBy("lang", "w1").agg(F.sum("c").alias("c1"))
    totals = unigram_c.groupBy("lang").agg(F.sum("c1").alias("n_tokens"))
    return StupidBackoffLM(
        trigram_c=trigram_c,
        bigram_c=bigram_c,
        unigram_c=unigram_c,
        totals=totals,
        alpha=alpha,
        k0=k0,
    )


def _backoff_scored_grams(frame: DataFrame, model, *, pin) -> DataFrame:
    """Attach the quantized Stupid Backoff score ``q`` to any relation
    carrying ``(lang, w1, w2, w3)`` (plus passthrough columns): the five
    count-table left joins, the broadcast totals join, and the 1e-6
    grid-quantized ln S — one arithmetic definition shared by the batch
    (distinct-gram) and streaming (per-occurrence) plans."""
    alpha, k0 = model.alpha, model.k0
    c2 = model.bigram_c
    c1 = model.unigram_c
    j = pin(frame).join(pin(model.trigram_c), ["lang", "w1", "w2", "w3"], "left")
    j = pin(j).join(pin(c2), ["lang", "w1", "w2"], "left")
    j = pin(j).join(
        pin(
            c2.select(
                "lang",
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("c2_23"),
            )
        ),
        ["lang", "w2", "w3"],
        "left",
    )
    j = pin(j).join(
        pin(c1.select("lang", F.col("w1").alias("w2"), F.col("c1").alias("c1_2"))),
        ["lang", "w2"],
        "left",
    )
    j = pin(j).join(
        pin(c1.select("lang", F.col("w1").alias("w3"), F.col("c1").alias("c1_3"))),
        ["lang", "w3"],
        "left",
    )
    j = j.join(F.broadcast(model.totals), "lang")
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c2"),
        )
        .when(
            F.col("c2_23").isNotNull(),
            F.lit(alpha) * (F.col("c2_23").cast("double") / F.col("c1_2")),
        )
        .otherwise(
            F.lit(alpha * alpha)
            * (
                (F.coalesce(F.col("c1_3"), F.lit(0)) + F.lit(k0))
                / F.col("n_tokens")
            )
        )
    )
    q = F.floor(F.log(s) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    keep = [c for c in frame.columns]
    return j.select(*keep, q.alias("q"))


def backoff_lm_apply(
    docs: DataFrame,
    model: StupidBackoffLM,
    *,
    id_col: str,
    text_col: str,
    lang_col: str,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> DataFrame:
    """Score documents under Stupid Backoff: per trigram,
    S = C3(w1w2w3)/C2(w1w2), backing off to α·C2(w2w3)/C1(w2), then to
    α²·(C1(w3)+k0)/N — the ``k0`` floor (our documented deviation from the
    pure recipe) keeps ln(S) finite for unseen words, the same add-k
    philosophy as the bigram model. Scores are NOT probabilities (Stupid
    Backoff never normalizes — its whole point); avg_logs is the mean ln S
    on the 1e-6 quantized grid (order-independent, engine-identical).

    Batch plan: the five count-table joins score each DISTINCT gram once
    (gram-scale relations on both sides, all pinned), and ONE corpus-sized
    join carries q back to the occurrence stream — corpus-sized shuffle
    joins are 1, not 5, and the per-doc rollup's map-side combine is the
    only other occurrence-scale reduction. Only the one-row-per-language
    totals table broadcasts; unmodeled languages drop out at the inner
    totals join. Docs with < 3 tokens have no trigrams and are omitted.

    Returns: ``doc, lang, n_trigrams, avg_logs``.
    """
    tg = doc_ngrams(
        docs,
        id_col=id_col,
        text_col=text_col,
        n=3,
        lang_col=lang_col,
        max_doc_bytes=max_doc_bytes,
    )
    streaming = bool(docs.isStreaming)

    def pin(df: DataFrame) -> DataFrame:
        return df if streaming else df.hint(corpus_join_strategy())

    if not streaming:
        # Batch plan: score each DISTINCT gram once (the five count-table
        # joins run at gram scale), then ONE corpus-sized join carries q
        # back to the occurrence stream and the per-doc rollup sums it.
        # The former intermediate fold to (doc, gram, n_occ) cost a full
        # occurrence-scale shuffle on a nearly-unique key (trigrams rarely
        # repeat within a document, so map-side combine removed almost
        # nothing) before the carry-back join reshuffled the same rows
        # again by gram; joining occurrences directly shuffles the corpus
        # ONCE, and the final (doc, lang) rollup is where map-side partial
        # aggregation actually collapses rows. Σ-per-occurrence q equals
        # Σ q·n_occ exactly (long arithmetic), so scores are unchanged.
        grams = tg.select("lang", "w1", "w2", "w3").distinct()
        scored = _backoff_scored_grams(grams, model, pin=pin)
        return (
            pin(tg)
            .join(pin(scored), ["lang", "w1", "w2", "w3"])
            .groupBy("doc", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_trigrams"),
                F.sum("q").alias("__qsum"),
            )
            .select(
                "doc",
                "lang",
                "n_trigrams",
                (
                    (F.col("__qsum").cast("double") / F.lit(1000000.0))
                    / F.col("n_trigrams")
                ).alias("avg_logs"),
            )
        )

    j = _backoff_scored_grams(tg, model, pin=pin)
    return (
        j.groupBy("doc", "lang")
        .agg(F.count(F.lit(1)).alias("n_trigrams"), F.sum("q").alias("__qsum"))
        .select(
            "doc",
            "lang",
            "n_trigrams",
            (
                (F.col("__qsum").cast("double") / F.lit(1000000.0))
                / F.col("n_trigrams")
            ).alias("avg_logs"),
        )
    )


def backoff_lm_score(
    docs: DataFrame,
    ref: DataFrame,
    *,
    id_col: str,
    text_col: str,
    lang_col: str,
    alpha: float = 0.4,
    k0: float = 0.5,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> DataFrame:
    """Train Stupid Backoff on ``ref`` and score ``docs`` in one call."""
    model = backoff_lm_train(
        ref,
        id_col=id_col,
        text_col=text_col,
        lang_col=lang_col,
        alpha=alpha,
        k0=k0,
        max_doc_bytes=max_doc_bytes,
    )
    return backoff_lm_apply(
        docs,
        model,
        id_col=id_col,
        text_col=text_col,
        lang_col=lang_col,
        max_doc_bytes=max_doc_bytes,
    )
