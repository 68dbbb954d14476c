"""BPE trainer/encoder differentials: the Spark implementation must
reproduce the pure-Python mirror EXACTLY — full merge sequence, counts,
token streams — at batch_size=1 (classic sequential BPE) and batched,
plus the replay invariant (encode == final training state) and the
registered queries' shapes on the fixture corpus."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from stupidb_spark.operators.bpe import (
    END_OF_WORD,
    _WORD_RE,
    _encode_word,
    bpe_encode,
    bpe_merges_df,
    bpe_train,
)
from tests.mirrors import bpe_train_reference

TEXTS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "a mat, a cat! The thematic catalog",
    "lower lowest lowering the low bar",
    "newer newest new news renewal",
    "she sells sea shells by the sea shore",
] * 3


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def test_sequential_matches_reference(spark, corpus):
    got = bpe_train(corpus, n_merges=16, batch_size=1)
    want, _ = bpe_train_reference(TEXTS, n_merges=16, batch_size=1)
    assert got == want
    assert len(got) == 16
    # ranks are dense and counts reflect selection-time frequencies
    assert [m.rank for m in got] == list(range(16))
    assert all(m.pair_count >= 2 for m in got)


def test_batched_matches_reference(spark, corpus):
    got = bpe_train(corpus, n_merges=16, batch_size=4)
    want, _ = bpe_train_reference(TEXTS, n_merges=16, batch_size=4)
    assert got == want


def test_batch_selection_is_symbol_disjoint():
    from stupidb_spark.operators.bpe import _select_batch

    # a batch may not share a symbol with an earlier rule, consume its
    # merged output ("ab"+"c" after "a"+"b"), or merge into an earlier
    # rule's element — the property that makes one fold pass equal
    # sequential application
    cands = [
        {"a": "a", "b": "b", "c": 10},   # chosen → merged "ab"
        {"a": "b", "b": "c", "c": 9},    # shares "b" → skipped
        {"a": "ab", "b": "c", "c": 8},   # consumes round-local "ab" → skipped
        {"a": "x", "b": "y", "c": 7},    # disjoint → chosen
        {"a": "q", "b": "r", "c": 1},    # under min_pair_count → stops scan
        {"a": "s", "b": "t", "c": 6},
    ]
    got = _select_batch(cands[:5], batch_size=4, min_pair_count=2)
    assert [(a, b) for a, b, _, _ in got] == [("a", "b"), ("x", "y")]
    # merged-name collision with a later element: ("c","d")→"cd" blocks ("cd","e")
    got2 = _select_batch(
        [
            {"a": "c", "b": "d", "c": 5},
            {"a": "cd", "b": "e", "c": 4},
            {"a": "e", "b": "f", "c": 3},
        ],
        batch_size=3,
        min_pair_count=2,
    )
    assert [(a, b) for a, b, _, _ in got2] == [("c", "d"), ("e", "f")]


def test_encode_replays_training_state(spark, corpus):
    merges = bpe_train(corpus, n_merges=16, batch_size=4)
    _, state = bpe_train_reference(TEXTS, n_merges=16, batch_size=4)
    ranks = {(m.left, m.right): m.rank for m in merges}
    cache: dict[str, list[str]] = {}
    for w, syms in state.items():
        assert _encode_word(w, ranks, cache) == syms, w


def test_encode_udf_matches_mirror(spark, corpus):
    merges = bpe_train(corpus, n_merges=12, batch_size=4)
    rows = (
        bpe_encode(corpus, merges)
        .orderBy("doc_id")
        .select("doc_id", "tokens")
        .collect()
    )
    ranks = {(m.left, m.right): m.rank for m in merges}
    cache: dict[str, list[str]] = {}
    for row in rows:
        want = [
            s
            for w in _WORD_RE.findall(TEXTS[row.doc_id].lower())
            for s in _encode_word(w, ranks, cache)
        ]
        assert row.tokens == want
    # every word ends in exactly one </w>-carrying token; lossless modulo
    # the word segmentation
    joined = "".join(rows[0].tokens).replace(END_OF_WORD, " ").strip()
    assert joined == " ".join(_WORD_RE.findall(TEXTS[0].lower()))


def test_min_pair_count_stops_early(spark):
    df = spark.createDataFrame(
        [(0, "ab ab cd")], "doc_id long, text string"
    )
    # pairs: (a,b)x2 with </w>: ('a','b')=2, ('b','</w>')=2, ('c','d')=1...
    merges = bpe_train(df, n_merges=50, batch_size=1, min_pair_count=2)
    want, _ = bpe_train_reference(["ab ab cd"], n_merges=50, batch_size=1)
    assert merges == want
    assert 0 < len(merges) < 50
    assert all(m.pair_count >= 2 for m in merges)


def test_merges_df_shape(spark, corpus):
    merges = bpe_train(corpus, n_merges=8, batch_size=8)
    df = bpe_merges_df(spark, merges)
    assert df.columns == ["rank", "left", "right", "merged", "pair_count"]
    rows = df.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(len(merges)))
    assert all(r["merged"] == r["left"] + r["right"] for r in rows)


def test_registered_queries_on_fixture(spark):
    from stupidb_spark.queryset import QUERIES
    from tests.conftest import SF_DIR

    merges = QUERIES["tok_bpe_merges"](spark, SF_DIR).collect()
    assert len(merges) > 0
    assert [r["rank"] for r in merges] == list(range(len(merges)))

    enc = QUERIES["tok_bpe_encode"](spark, SF_DIR)
    assert enc.columns == ["doc_id", "n_tokens", "n_token_types", "chars_per_token"]
    agg = enc.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_tokens").alias("mn"),
        F.sum(F.when(F.col("n_token_types") > F.col("n_tokens"), 1).otherwise(0)).alias("bad"),
    ).collect()[0]
    assert agg["n"] > 0 and agg["mn"] >= 0 and agg["bad"] == 0


def test_encode_is_map_only(spark, corpus):
    # the encoder must never shuffle: bounded model inside the UDF, scan-fused
    merges = bpe_train(corpus, n_merges=4, batch_size=4)
    plan = (
        bpe_encode(corpus, merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_merges_roundtrip_through_parquet(spark, corpus, tmp_path):
    from stupidb_spark.operators.bpe import load_bpe_merges, save_bpe_merges

    merges = bpe_train(corpus, n_merges=10, batch_size=4)
    p = str(tmp_path / "bpe_model")
    save_bpe_merges(spark, merges, p)
    loaded = load_bpe_merges(spark, p)
    assert loaded == merges
    # the loaded model encodes identically
    a = bpe_encode(corpus, merges).orderBy("doc_id").collect()
    b = bpe_encode(corpus, loaded).orderBy("doc_id").collect()
    assert [r.tokens for r in a] == [r.tokens for r in b]


# Skewed corpus: one dominant word carrying most of the weighted count plus
# a long tail of distinct rare words. Early rounds merge inside the hot
# word (recount branch); once it is fully merged, every batch is tail-rare
# (batch_occ * 8 < total_wcnt), provably driving the DELTA maintenance
# branch — the path the round-9 suite never entered (every fixture batch
# satisfied the recount predicate).
SKEWED_TEXTS = ["zazb " * 400] + [
    f"q{chr(97 + i % 26)}{chr(97 + (i * 7) % 26)}{chr(97 + (i * 13) % 26)}x"
    for i in range(120)
]


def test_delta_branch_matches_reference(spark):
    """The delta pair-count maintenance path must be exercised AND
    value-identical to the full-recount mirror (ADVICE r9: the fixture
    corpora never entered it)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(SKEWED_TEXTS)], "doc_id long, text string"
    )
    stats: dict = {}
    got = bpe_train(df, n_merges=24, batch_size=2, min_pair_count=2, stats=stats)
    assert stats["delta_rounds"] >= 3, (
        f"skewed corpus failed to drive the delta branch: {stats}"
    )
    assert stats["recount_rounds"] >= 1, (
        f"hot head should recount at least once: {stats}"
    )
    want, _ = bpe_train_reference(SKEWED_TEXTS, n_merges=24, batch_size=2)
    assert [
        (m.rank, m.left, m.right, m.merged, m.pair_count) for m in got
    ] == [(m.rank, m.left, m.right, m.merged, m.pair_count) for m in want]


def test_adaptive_batch_matches_reference_and_cuts_rounds(spark):
    """adaptive_batch=True must (a) reproduce the mirror's merge sequence
    exactly — the policy is deterministic and shared — and (b) reach the
    same merge count in at least 2x fewer rounds than the fixed batch size
    once tail batches stop conflicting."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(SKEWED_TEXTS)], "doc_id long, text string"
    )
    fixed_stats: dict = {}
    bpe_train(df, n_merges=48, batch_size=2, min_pair_count=2, stats=fixed_stats)

    ad_stats: dict = {}
    got = bpe_train(
        df,
        n_merges=48,
        batch_size=2,
        adaptive_batch=True,
        min_pair_count=2,
        stats=ad_stats,
    )
    want, _ = bpe_train_reference(
        SKEWED_TEXTS, n_merges=48, batch_size=2, adaptive_batch=True
    )
    assert [
        (m.rank, m.left, m.right, m.merged, m.pair_count) for m in got
    ] == [(m.rank, m.left, m.right, m.merged, m.pair_count) for m in want]
    assert len(got) == 48
    assert ad_stats["rounds"] * 2 <= fixed_stats["rounds"], (
        f"adaptive {ad_stats['rounds']} rounds vs fixed "
        f"{fixed_stats['rounds']} — growth never engaged: "
        f"{ad_stats['batch_sizes']}"
    )
    # growth is monotone-capped and halves under starvation — the cap walk
    # must stay within [batch_size, max_batch_size]
    assert max(ad_stats["batch_sizes"]) > 2
