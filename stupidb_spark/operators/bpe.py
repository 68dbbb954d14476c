"""Distributed BPE tokenizer training and encoding (Sennrich et al., ACL
2016, "Neural Machine Translation of Rare Words with Subword Units") — the
tokenizer-construction step of a pretraining-data pipeline, expressed so the
corpus is touched exactly once.

Beyond-reference surface (the reference engine has no text pipeline at
all; SURVEY.md §7). The repo's other text operators *consume* a tokenizer
(`token_count` is the "BPE-ish proxy used for budget math"); this module
*builds* one from the corpus itself.

Scale design (100 TB):

- **One corpus pass, ever.** Training state is the word-count relation
  ``(word, cnt, syms)`` — an ordinary hash aggregate with map-side partial
  combine. Every merge round thereafter runs on this VOCABULARY-sized
  relation (~10M–1B rows at web scale, corpus-size-independent), never the
  corpus. This is the textbook reduction: BPE statistics are a pure
  function of word counts.
- **One job per round, bounded driver state, decaying per-round work.**
  A round = a ``TakeOrdered`` top-K collect over the maintained pair-count
  state (K = ``16·batch_size`` rows — model-sized, like the IVF centroid
  and PQ codebook collects). Pair counts are maintained ADAPTIVELY: hot
  batches (early rounds, most of the vocabulary rewritten) trigger a full
  vocabulary-wide recount, while tail batches — where large-``n_merges``
  training spends almost all its rounds — fold in only the rewritten
  words' pair deltas, O(touched words + pair vocabulary) instead of
  O(Σ symbols). The switch is deterministic driver arithmetic on the
  batch's own exact counts (see ``_DELTA_FRACTION``); the counts
  themselves are identical either way. The merge rules (``n_merges``
  rows) are the only driver-resident model.
- **Batched rounds.** ``batch_size`` symbol-disjoint merges apply per
  round, cutting round count (and its fixed per-job driver latency)
  ``batch``-fold. Disjointness makes the batch's rules independent: no
  rule consumes another's symbols or its merged output, so one
  left-to-right fold pass applies all of them with sequential semantics.
  The deviation from classic sequential BPE is bounded and standard for
  distributed trainers: pairs *created* by a round's merges cannot be
  selected until the next round. ``batch_size=1`` IS classic BPE
  (differentially pinned in ``tests/test_bpe.py``).
- **Merge application is JVM-side.** The per-round rewrite is an
  ``F.aggregate`` fold over the symbol array — codegen'd Column work, no
  Python in the loop. Per-round plan growth is cut with the lazy
  ``localCheckpoint`` idiom of ``operators/components.py`` (the next
  round's collect materializes it); on a real cluster set a reliable
  checkpoint dir so executor loss doesn't cascade recomputation.
- **Encoding is map-only.** ``bpe_encode`` ships the rank table (bounded:
  ``n_merges`` entries) inside an Arrow-vectorized ``pandas_udf`` with a
  per-batch word cache — zero shuffles, the multimodal/PQ "bounded model,
  unbounded data" shape.

Determinism: pair selection orders by ``(count DESC, left ASC, right
ASC)`` — a total order — and every downstream step is a deterministic
function of the selected rules, so the merge sequence is reproducible
run-to-run, partitioning-independent, and exactly replicated by the pure
Python mirror (``tests/mirrors.py::bpe_train_reference``) the tests compare
against.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stupidb_spark.functions.text import words
from stupidb_spark.operators.lineage import cut_lineage
from stupidb_spark.operators.dedup import (
    DOC_BYTES_CAP,
    _doc_bytes_guard,
    spread_small_scan,
)

#: End-of-word marker appended as a trailing symbol before training, so the
#: tokenizer distinguishes word-final subwords ("est</w>" in "smallest")
#: from word-internal ones ("est" in "restless") — Sennrich's construction.
END_OF_WORD = "</w>"

# Separator for (left, right) lookup keys. Symbol strings are built from
# letters and END_OF_WORD only, so a control char can never occur inside a
# symbol; without it the key "ab"+"c" would collide with "a"+"bc".
_SEP = "\x1f"

# Candidate rows collected per round, per requested batch slot: the driver
# scans at most ``candidates_per_batch × batch_size`` pairs (in selection
# order) to fill a batch. Part of the algorithm spec — the reference mirror
# applies the identical cutoff so a pathological all-conflicting prefix
# degrades both implementations identically. Symbol conflicts among the
# top pairs are the norm, not the exception — adjacent hot pairs share
# symbols — and a starved pool collapses the effective batch far below
# ``batch_size``, multiplying the round count the batch exists to cut.
# Measured on the Zipf 200k-word corpus at batch 32 (SCALE.md round 10):
# pool 16/slot filled 19.7/32 (13 rounds), 32/slot 21.3 (12), 64/slot
# 25.6 (10); 32 is the knee once adaptive growth also widens the pool by
# growing the cap itself. The collect stays model-sized (≤ 32·cap rows).
_CANDIDATES_PER_BATCH = 32

_WORD_RE = re.compile(r"[a-z]+")

# Delta-vs-recount switch (see bpe_train): a round maintains pair counts by
# DELTA iff its batch's summed pair_count (an upper bound on the weighted
# words it can touch — every occurrence lives in some word) is under 1/8 of
# the total weighted word count. Above that, the batch rewrites so much of
# the vocabulary that the delta (touched words aggregated twice + the state
# fold) costs more than one full recount. Pure driver arithmetic on
# already-collected exact counts; affects cost only, never the counts.
_DELTA_FRACTION = 8


@dataclass(frozen=True)
class BpeMerge:
    """One learned merge rule: at ``rank``, ``left``+``right`` → ``merged``
    (string concatenation), selected when the pair occurred ``pair_count``
    times across the (weighted) vocabulary."""

    rank: int
    left: str
    right: str
    merged: str
    pair_count: int


def _word_counts(
    df: DataFrame, *, id_col: str, text_col: str, max_doc_bytes: int | None
) -> DataFrame:
    """The single corpus pass: ``(w, cnt, syms)`` — one hash aggregate."""
    guarded = _doc_bytes_guard(
        spread_small_scan(df.select(F.col(id_col).alias("doc"), text_col)),
        text_col,
        max_doc_bytes,
        "bpe_train",
    )
    return (
        guarded.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w",
            "cnt",
            F.expr(
                "concat(filter(split(w, ''), s -> s != ''),"
                f" array('{END_OF_WORD}'))"
            ).alias("syms"),
        )
    )


def _select_batch(
    top_rows, *, batch_size: int, min_pair_count: int
) -> list[tuple[str, str, str, int]]:
    """Greedy symbol-disjoint batch from candidate rows already in
    ``(count DESC, left, right)`` order. A pair conflicts when it shares a
    symbol with an already-chosen rule OR touches a chosen rule's merged
    string (so one fold pass can never chain same-round rules)."""
    chosen: list[tuple[str, str, str, int]] = []
    used: set[str] = set()
    for row in top_rows:
        if len(chosen) >= batch_size or row["c"] < min_pair_count:
            break
        merged = row["a"] + row["b"]
        if row["a"] in used or row["b"] in used or merged in used:
            continue
        chosen.append((row["a"], row["b"], merged, int(row["c"])))
        used.update((row["a"], row["b"], merged))
    return chosen


def _next_batch_cap(
    cap: int,
    selected: int,
    request: int,
    adaptive: bool,
    floor: int,
    ceiling: int,
) -> int:
    """Deterministic adaptive-batch policy, shared verbatim by the Spark
    trainer and the pure-Python mirror: a round filled to ≥7/8 of its cap
    doubles it (tail pairs stopped conflicting — requiring a PERFECT fill
    was measured never to fire on a Zipf corpus, where fill hovers at
    ~28/32), a round starved under half its cap halves it (hot pairs share
    symbols), bounded to [``floor``, ``ceiling``]. Depends only on the
    selected batch itself, so both implementations walk identical cap
    sequences."""
    if not adaptive:
        return cap
    if selected * 8 >= request * 7 and cap < ceiling:
        return min(cap * 2, ceiling)
    if selected * 2 < request:
        return max(floor, cap // 2)
    return cap


def _apply_batch_expr(syms: Column, rules: dict[str, str]) -> Column:
    """Left-to-right single-pass application of a symbol-disjoint rule set:
    fold each symbol onto an accumulator, replacing the tail pair whenever
    ``acc[-1] + SEP + s`` hits the rule map. Pure Column work — stays in
    the JVM."""
    mapping = F.create_map(
        *[F.lit(x) for k, m in sorted(rules.items()) for x in (k, m)]
    )

    def step(acc: Column, s: Column) -> Column:
        # Total under ANSI mode: an empty accumulator yields the key
        # "<SEP>s", which no rule can match (rule lefts are non-empty), and
        # try_element_at never throws on a missing key.
        last = F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(""))
        hit = F.try_element_at(mapping, F.concat(last, F.lit(_SEP), s))
        return F.when(
            hit.isNotNull(),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(hit)),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(
        syms, F.expr("cast(array() as array<string>)"), step
    )


def bpe_train(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 64,
    batch_size: int = 1,
    adaptive_batch: bool = False,
    max_batch_size: int = 256,
    min_pair_count: int = 2,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
    stats: dict | None = None,
) -> list[BpeMerge]:
    """Learn up to ``n_merges`` BPE merge rules from the corpus.

    Returns the ranked rule list (driver-side — the model is bounded by
    construction, like IVF centroids). Stops early when no remaining pair
    reaches ``min_pair_count``. ``batch_size=1`` is classic sequential
    BPE; larger batches trade the bounded deviation documented in the
    module docstring for ``batch``-fold fewer rounds.

    ``adaptive_batch=True`` additionally GROWS the per-round batch cap
    (doubling up to ``max_batch_size``) whenever a round's batch filled to
    ≥7/8 of its cap, and halves it (never below ``batch_size``) when symbol
    conflicts starved the round under half its cap. Early hot rounds —
    where top pairs share symbols and big simultaneous batches both starve
    and deviate most — stay near ``batch_size``; tail rounds, where a
    large-``n_merges`` run spends nearly all its time and top pairs are
    naturally disjoint, converge to ``max_batch_size``, amortizing the
    ~0.7 s/round driver latency floor (SCALE.md round-9) across up to
    ``max_batch_size`` merges. The policy is deterministic driver
    arithmetic on the selected batch itself, replicated exactly by
    ``tests/mirrors.py::bpe_train_reference`` — merge-sequence differentials
    hold at any (batch_size, adaptive) setting.

    Default DECISION (round 11, measured): ``adaptive_batch`` stays
    ``False`` because the library default ``batch_size=1`` is classic
    sequential BPE, and adaptive growth would silently abandon that exact
    semantics (the cap doubles away from 1). For deep tokenizer builds —
    where batching is already chosen — set it: measured on the committed
    probe harness (``scripts/bpe_scale_probe.py``, seeded Zipf corpora),
    adaptive batch 32→256 learns 8192 merges in 80 rounds (vs ≥273
    fixed-32) and a full 32768-merge train completes in 1062 rounds /
    ~9 min wall — on the flatter 4× corpus a 32k vocabulary needs, the
    deep tail is conflict-bound and adaptive degrades gracefully toward
    fixed-batch behavior rather than below it (SCALE.md round 11).

    ``stats`` (optional dict) is filled with round accounting:
    ``rounds`` / ``delta_rounds`` / ``recount_rounds`` / ``batch_sizes``.
    """
    if stats is None:
        stats = {}
    stats.update(rounds=0, delta_rounds=0, recount_rounds=0, batch_sizes=[])
    if n_merges < 1:
        return []
    vocab = _word_counts(
        df, id_col=id_col, text_col=text_col, max_doc_bytes=max_doc_bytes
    )

    def pairs_of(rel: DataFrame, syms_col: str, sign: int) -> DataFrame:
        return (
            rel.where(F.size(syms_col) >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        f"transform(sequence(0, size({syms_col}) - 2),"
                        f" i -> struct({syms_col}[i] AS a,"
                        f" {syms_col}[i + 1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg((F.lit(sign) * F.sum("cnt")).alias("c"))
        )

    # ADAPTIVE pair-count maintenance. Two ways to produce next round's
    # (a, b, c) state, identical values by construction (exact integer
    # sums — the pure-Python mirror keeps recomputing in full and the
    # differential tests pin equality):
    #
    # - FULL recount: one vocabulary-wide pair aggregate, O(Σ symbols).
    # - DELTA fold: only the words the batch actually rewrote contribute
    #   (new-syms pairs minus old-syms pairs) into the running state —
    #   O(touched words + pair vocabulary).
    #
    # Neither dominates: a hot-pair merge (early rounds) rewrites most of
    # the vocabulary, and a delta then aggregates the touched words TWICE
    # (old + new) plus the state fold — measured ~30% slower than the
    # recount on a 200k-word corpus; a rare-pair merge (late rounds — the
    # long tail that large n_merges spends its time in) touches almost
    # nothing, and the recount re-aggregates everything anyway. The switch
    # is deterministic from already-collected driver state: every
    # occurrence of a batch pair lives in some word, so Σ batch pair_count
    # bounds the touched (weighted) word count, and delta is chosen iff it
    # is under total weighted words / _DELTA_FRACTION. The denominator is
    # invariant across merges (merging never changes word counts) — ONE
    # bounded agg before round 1, which also materializes the vocab
    # checkpoint the first round's pair aggregate then reads.
    vocab = cut_lineage(vocab, eager=False)
    total_wcnt = vocab.agg(F.sum("cnt")).first()[0] or 0
    pair_counts = cut_lineage(pairs_of(vocab, "syms", +1), eager=False)

    merges: list[BpeMerge] = []
    cap = batch_size
    while len(merges) < n_merges:
        collect_k = max(16, _CANDIDATES_PER_BATCH * cap)
        # TakeOrdered top-K — the round's ONE scan action; it also
        # materializes the previous round's lazy checkpoints.
        top = pair_counts.orderBy(F.desc("c"), F.asc("a"), F.asc("b")).take(
            collect_k
        )
        request = min(cap, n_merges - len(merges))
        batch = _select_batch(
            top,
            batch_size=request,
            min_pair_count=min_pair_count,
        )
        if not batch:
            break
        for a, b, merged, c in batch:
            merges.append(BpeMerge(len(merges), a, b, merged, c))
        cap = _next_batch_cap(
            cap, len(batch), request, adaptive_batch, batch_size, max_batch_size
        )
        stats["rounds"] += 1
        stats["batch_sizes"].append(len(batch))
        rules = {a + _SEP + b: m for a, b, m, _ in batch}
        batch_occ = sum(c for _, _, _, c in batch)
        if batch_occ * _DELTA_FRACTION >= total_wcnt:
            # hot batch — recount is cheaper than a near-total delta
            stats["recount_rounds"] += 1
            vocab = cut_lineage(
                vocab.select(
                    "w",
                    "cnt",
                    _apply_batch_expr(F.col("syms"), rules).alias("syms"),
                ),
                eager=False,
            )
            pair_counts = cut_lineage(pairs_of(vocab, "syms", +1), eager=False)
            continue
        # tail batch — one fold pass computes the rewritten symbols; the
        # delta and the next round's vocab both read it, so cut it once.
        stats["delta_rounds"] += 1
        stepped = cut_lineage(
            vocab.select(
                "w",
                "cnt",
                "syms",
                _apply_batch_expr(F.col("syms"), rules).alias("new_syms"),
            ),
            eager=False,
        )
        touched = stepped.where(F.col("syms") != F.col("new_syms"))
        delta = pairs_of(touched, "new_syms", +1).unionByName(
            pairs_of(touched, "syms", -1)
        )
        pair_counts = cut_lineage(
            pair_counts.unionByName(delta)
            .groupBy("a", "b")
            .agg(F.sum("c").alias("c"))
            .where(F.col("c") > 0),
            eager=False,
        )
        vocab = stepped.select("w", "cnt", F.col("new_syms").alias("syms"))
    return merges


def bpe_merges_df(spark: SparkSession, merges: list[BpeMerge]) -> DataFrame:
    """The rule list as a relation ``(rank, left, right, merged,
    pair_count)`` — the durable form a pipeline persists next to its data."""
    return spark.createDataFrame(
        [(m.rank, m.left, m.right, m.merged, m.pair_count) for m in merges],
        "rank int, left string, right string, merged string, pair_count bigint",
    )


def _encode_word(
    word: str, ranks: dict[tuple[str, str], int], cache: dict[str, list[str]]
) -> list[str]:
    """Rank-order encode of one word: repeatedly merge every left-to-right
    non-overlapping occurrence of the lowest-ranked pair present. Replays
    training exactly (batch rules are symbol-disjoint, so per-round
    simultaneous == rank-sequential; pairs created at rank r only feed
    rules ranked > r) — pinned by the replay test."""
    got = cache.get(word)
    if got is not None:
        return got
    syms = list(word) + [END_OF_WORD]
    while len(syms) >= 2:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    cache[word] = syms
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[BpeMerge],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize ``text_col`` under a trained rule list: one row per input
    row, ``out_col`` an ``array<string>`` of subword tokens (word-final
    tokens carry the ``</w>`` marker).

    Map-only: the rank table (``n_merges`` entries, bounded model state)
    rides inside an Arrow-vectorized ``pandas_udf`` with a per-batch word
    cache — natural-language batches repeat most words, so the merge loop
    runs once per *distinct* word per batch. Zero shuffles; scan-fused.
    """
    ranks = {(m.left, m.right): m.rank for m in merges}

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        return texts.map(
            lambda t: [
                s
                for w in _WORD_RE.findall((t or "").lower())
                for s in _encode_word(w, ranks, cache)
            ]
        )

    return df.withColumn(out_col, enc(F.col(text_col)))


def save_bpe_merges(
    spark: SparkSession, merges: list[BpeMerge], path: str
) -> None:
    """Persist a trained rule list as parquet — the durable model form
    (the `save_ivf_index` lifecycle): a tokenizer is trained once per
    corpus snapshot and then shared by every encoding job, including the
    streaming twin's frozen rule table."""
    bpe_merges_df(spark, merges).coalesce(1).write.mode("overwrite").parquet(
        path
    )


def load_bpe_merges(spark: SparkSession, path: str) -> list[BpeMerge]:
    """Load a :func:`save_bpe_merges` table back into the rank-ordered
    rule list :func:`bpe_encode` consumes."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [
        BpeMerge(int(r["rank"]), r["left"], r["right"], r["merged"], int(r["pair_count"]))
        for r in rows
    ]
