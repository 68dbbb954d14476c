"""Multinomial Naive Bayes text classifier as RELATIONS — the trainable
counterpart to the heuristic scorers in ``queryset/text.py`` (lang-id from
stopword hits, quality from ratios): train per-class word counts on a
labeled reference slice, then score every document under EVERY class and
argmax. The fastText-style "train a classifier, sweep the corpus" step of
an LLM data pipeline, with count tables instead of learned dense weights —
so the model persists as parquet, merges by summing counts, and joins like
any other relation (the ``NgramLM`` lifecycle, one level up the stack).

Scoring is exact and engine-identical via the quantized-ln grid
(``operators/lm.py`` construction): every per-word log-likelihood and the
log-prior are floored once onto a 1e-6 grid, and a document's class score
is an exact int64 sum of quantized values — order-independent, so the
argmax (ties broken by class name) is deterministic on any engine. The
DuckDB twin in ``queryset/text.py::text_nb_lang`` replays the identical
construction.

Scale shape: one corpus aggregation for training tf, one for scoring tf;
the per-(class, word) likelihood table is VOCABULARY-sized and rides
strategy-pinned joins (never estimate-broadcast — the 100x-probe rule);
the per-class prior/default table is |classes| rows and broadcasts by
construction. The class fan-out multiplies the tf relation by |classes|
(4 here) BEFORE its aggregation — linear, map-side, skew-free.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stupidb_spark.functions.text import words
from stupidb_spark.operators.dedup import corpus_join_strategy

_GRID = 1000000.0


def _q(col: F.Column) -> F.Column:
    """ln → 1e-6 grid → exact long (the lm.py construction)."""
    return F.floor(F.log(col) * F.lit(_GRID) + F.lit(0.5)).cast("long")


@dataclass
class NaiveBayesModel:
    """Trained model as relations: per-(class, word) quantized
    log-likelihoods ``(cls, w, qw)`` (vocabulary-sized) and the per-class
    table ``(cls, q_prior, q_def)`` (|classes| rows; ``q_def`` is the
    unseen-word likelihood ln(k / (ct + k·V)))."""

    word_q: DataFrame
    classes: DataFrame
    k: float


def nb_train(
    ref: DataFrame,
    *,
    id_col: str,
    text_col: str,
    cls_col: str,
    k: float = 0.5,
) -> NaiveBayesModel:
    """Fit add-k multinomial NB on a labeled reference corpus.

    The vocabulary-sized likelihood table stays a distributed relation;
    the |classes| scalars (token totals, doc counts, global vocabulary
    size) are harvested EAGERLY in two rollup jobs and the per-class
    table is rebuilt as a LOCAL relation — bounded model-state movement,
    the IVF-centroid class. The previous lazy ``nd ⋈ cc × v × n`` plan
    made ``classes.collect()`` a 10-job broadcast cascade (~0.5 s of
    text_nb_lang's 1.4 s at sf0.1, r15 profile); the same longs now
    arrive in 2 jobs and the quantized prior/default expressions still
    evaluate in SPARK over the local rows, so every grid value is
    bit-identical to the lazy plan (identical long inputs → identical
    double division → identical ``_q``)."""
    spark = ref.sparkSession
    toks = ref.select(
        F.col(id_col).alias("doc"),
        F.col(cls_col).alias("cls"),
        F.explode(words(F.col(text_col))).alias("w"),
    )
    wc = toks.groupBy("cls", "w").agg(F.count(F.lit(1)).alias("cw"))
    # one rollup over the (cls, w) counts yields every per-class token
    # total AND the global distinct-vocabulary size (grand-total row);
    # one rollup over the reference yields per-class and total doc counts
    stats = (
        wc.rollup("cls")
        .agg(
            F.sum("cw").alias("ct"),
            F.count_distinct("w").alias("v"),
            F.grouping("cls").alias("g"),
        )
        .collect()
    )
    counts = (
        ref.select(F.col(cls_col).alias("cls"))
        .rollup("cls")
        .agg(F.count(F.lit(1)).alias("nd"), F.grouping("cls").alias("g"))
        .collect()
    )
    v_global = next(int(r["v"]) for r in stats if r["g"] == 1)
    n_total = next(int(r["nd"]) for r in counts if r["g"] == 1)
    ct_by_cls = {r["cls"]: int(r["ct"]) for r in stats if r["g"] == 0}
    nd_by_cls = {r["cls"]: int(r["nd"]) for r in counts if r["g"] == 0}
    # non-NULL classes present in BOTH maps — the old nd ⋈ cc inner join's
    # semantics: a class whose documents have zero tokens contributes no
    # likelihoods, and a NULL label never equals itself so it forms no
    # class (its rows still count toward n_total and v_global)
    rows = [
        (c, nd_by_cls[c], ct_by_cls[c])
        for c in sorted(set(nd_by_cls) & set(ct_by_cls) - {None})
    ]
    cls_type = dict(ref.dtypes)[cls_col]
    local = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cls", "nd", "ct"]),
        schema=f"cls {cls_type}, nd bigint, ct bigint",
    )
    # per-class scalar table: prior + unseen-word default, both on the
    # grid — Spark expressions over the local rows (NOT Python math.log),
    # so the quantized values match the lazy-plan and oracle arithmetic
    classes = local.select(
        "cls",
        _q(F.col("nd").cast("double") / F.lit(n_total)).alias("q_prior"),
        _q(F.lit(k) / (F.col("ct") + F.lit(k) * F.lit(v_global))).alias(
            "q_def"
        ),
    )
    cc = wc.groupBy("cls").agg(F.sum("cw").alias("ct"))
    word_q = (
        wc.join(cc, "cls")
        .select(
            "cls",
            "w",
            _q(
                (F.col("cw") + F.lit(k))
                / (F.col("ct") + F.lit(k) * F.lit(v_global))
            ).alias("qw"),
        )
    )
    return NaiveBayesModel(word_q=word_q, classes=classes, k=k)


def nb_classify(
    docs: DataFrame,
    model: NaiveBayesModel,
    *,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Score every document under every class; return the argmax.

    Output: ``(doc, pred_cls, score_q, n_tokens)`` — ``score_q`` is the
    winning class's exact quantized log-score (prior + Σ count·loglik, an
    int64 of grid units). Ties break to the lexicographically first class;
    the per-doc argmax is a min_by HASH aggregate over the total order
    (-score, cls), never a per-doc sort window. Documents with zero
    tokens drop out (no evidence — same on the SQL side).
    """
    tf = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(words(F.col(text_col))).alias("w"),
        )
        .groupBy("doc", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # The class table is |classes| rows by contract (it broadcasts in the
    # original plan for the same reason) — collecting it is the bounded
    # model-side movement of the IVF-centroid class. Sorted so the column
    # order, and with it the tie-break, is deterministic.
    cls_rows = sorted(model.classes.collect(), key=lambda r: r["cls"])
    # Fold the vocabulary-sized likelihood table to ONE row per word with a
    # cls→qw MAP column (gram-scale aggregate on the model side), so the
    # corpus tf stream rides a single 1x-width join instead of being
    # fanned x|classes| through the shuffle. A map — not a pivot — because
    # class labels are user data: pivoted labels become column NAMES, and a
    # label holding a backtick (or shadowing 'doc'/'w'/'c') would break or
    # ambiguate the downstream references; map keys are plain values.
    wvec = model.word_q.groupBy("w").agg(
        F.map_from_entries(
            F.collect_list(F.struct("cls", "qw"))
        ).alias("__clsmap")
    )
    scored = tf.hint(corpus_join_strategy()).join(
        wvec.hint(corpus_join_strategy()), "w", "left"
    )
    # One per-doc aggregate computes every class total: prior + sum of
    # c * (per-word likelihood, falling back to the class's unseen-word
    # default) — exact int64 grid sums, identical regrouping of the
    # per-(doc, cls) totals the fan-out plan produced.
    totals = [
        (
            F.lit(int(r["q_prior"]))
            + F.sum(
                F.col("c")
                * F.coalesce(
                    F.col("__clsmap")[F.lit(r["cls"])],
                    F.lit(int(r["q_def"])),
                )
            )
        ).alias(f"__t{i}")
        for i, r in enumerate(cls_rows)
    ]
    per_doc = scored.groupBy("doc").agg(
        *totals, F.sum("c").alias("n_tokens")
    )
    # argmax with ties to the lexicographically first class: array_min over
    # (-total, cls) structs — pure Column work, no second shuffle
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    (-F.col(f"__t{i}")).alias("s"),
                    F.lit(r["cls"]).alias("c"),
                )
                for i, r in enumerate(cls_rows)
            ]
        )
    )
    return per_doc.select(
        "doc",
        best["c"].alias("pred_cls"),
        (-best["s"]).alias("score_q"),
        "n_tokens",
    )
