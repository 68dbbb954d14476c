"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Beyond-reference surface (SURVEY.md §7) — the reference has no dedup at all.
Everything is expression-level (no Python UDFs): shingling, hashing and
signatures are Catalyst folds over arrays; only the candidate-pair stage
shuffles, and it shuffles *buckets*, never the O(n²) pair space.

Scale design:
- Exact dedup = hash groupBy on the fingerprint → one shuffle keyed evenly.
- MinHash LSH: signature is a per-doc hash aggregate; candidate generation
  explodes to n_bands rows per doc and self-joins per (band, band_hash)
  bucket — at 100 TB the join key space is wide, buckets are small, and AQE
  handles the occasional hot bucket. Verification joins one shingle set per
  document onto the candidates only.
- SimHash: 64-bit signature per row (narrow fold), banded the same way.
- Embedding near-dup: blocked (label/LSH bucket) pairwise cosine so the
  cross product never materializes globally.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stupidb_spark.functions.text import ngram_text, word_ngrams, words

#: Default per-document byte cap for the per-document paths.
#: ``doc_shingles`` shuffles each document's shingle rows to ONE task (its
#: doc-keyed dedup), and the downstream per-doc ``n_sh`` window count and
#: ``collect_set`` shingle sets hold one document's rows in that task, so
#: one pathological 100 MB crawl document becomes a multi-GB straggler/OOM
#: task regardless of corpus size. 8 MiB of text is ~1.5M tokens ≈ ~100 MB
#: of (doc, shingle) rows — loud-fail territory, well before executor-OOM
#: territory. Same philosophy as
#: ``functions.navigation.DYNAMIC_PARTITION_ROW_CAP``: fail the job with
#: the offending document named instead of silently melting an executor.
DOC_BYTES_CAP = 8 << 20


class ScaleWarning(UserWarning):
    """A query shape that is correct but unaffordable at corpus scale."""


def corpus_join_strategy() -> str:
    """Join hint pinned onto CORPUS-sized join sides (exploded shingle/band
    relations, vocabulary df tables) — relations that must never ride an
    estimate-driven broadcast (the 100× probe watched Catalyst under-count
    a 26M-row post-explode relation and plan a fatal BroadcastHashJoin).

    Default ``shuffle_hash``: shuffled on the join key like sort-merge, but
    no sort of the inverted index. The trade, measured by the small-heap
    rehearsal (SCALE.md): the per-partition hash BUILD is the one
    non-spillable step — partitions oversized relative to per-task
    execution memory fail with "not enough memory to build hash map"
    (observed at 32 concurrent tasks × 8 partitions of a 30× corpus on a
    2 GiB heap), where sort-merge would have spilled and finished. Size
    ``spark.sql.shuffle.partitions`` so build partitions fit (the SCALE.md
    sizing rule), or set ``SPARK_GRAFT_CORPUS_JOIN=merge`` to pin the
    fully-spillable sort-merge strategy fleet-wide when the memory ceiling,
    not the sort, is the binding constraint. Both strategies forbid the
    broadcast — that pin is not negotiable.
    """
    import os

    v = os.environ.get("SPARK_GRAFT_CORPUS_JOIN", "shuffle_hash")
    if v not in ("shuffle_hash", "merge"):
        raise ValueError(
            f"SPARK_GRAFT_CORPUS_JOIN must be 'shuffle_hash' or 'merge', got {v!r}"
        )
    return v


def _doc_bytes_guard(
    df: DataFrame, text_col: str, cap: int | None, what: str
) -> DataFrame:
    """Fail loudly when any document in ``df`` exceeds ``cap`` text bytes.

    ``octet_length`` is O(1) per row (UTF8String carries its byte count), so
    the guard costs nothing and runs BEFORE the explode — the navigation
    module's ``assert_true`` pattern applied at the document source. Expects
    the id column to already be named ``doc``. ``cap=None`` waives the guard
    (caller owns the memory math). Callers with a legitimate long tail
    should pre-split with :func:`stupidb_spark.operators.chunking.chunk_text`
    or truncate with ``F.substring`` before shingling.
    """
    if cap is None:
        return df
    nb = F.octet_length(F.col(text_col))
    # A NULL text has no tokens (it shingles to nothing), so it passes:
    # ``NULL <= cap`` alone is NULL, which assert_true treats as a failure.
    ok = F.assert_true(
        nb.isNull() | (nb <= F.lit(cap)),
        F.concat(
            F.lit(f"{what}: document "),
            F.col("doc").cast("string"),
            F.lit(" holds "),
            nb.cast("string"),
            F.lit(
                f" bytes of text, over the max_doc_bytes cap of {cap}; its"
                " shingle rows would all land in ONE per-document task."
                " Pre-chunk with chunk_text / truncate the text, or"
                " raise max_doc_bytes explicitly to own the memory math"
            ),
        ),
    )
    # assert_true returns NULL when the predicate holds, so the guard is a
    # no-op wrapper around the text column (same pattern as
    # functions/navigation.py::_partition_guard). All other columns pass
    # through untouched.
    others = [c for c in df.columns if c != text_col]
    return df.select(
        *others, F.when(ok.isNull(), F.col(text_col)).alias(text_col)
    )


def word_shingles(w: Column, k: int = 3) -> Column:
    """Distinct k-word shingles over a **materialized** words-array column:
    the :func:`~stupidb_spark.functions.text.word_ngrams` windows, each
    joined with spaces, deduplicated. Pass a materialized column (e.g. via
    ``withColumn("_w", words(text))``), not an inline ``words(text)``
    expression, which would re-run the regex split for every slice.
    """
    return F.array_distinct(
        F.transform(word_ngrams(w, k), lambda g: ngram_text(g, k))
    )


def exact_dedup(
    df: DataFrame, key: Column, id_col: str, *, keep: str = "min"
) -> DataFrame:
    """Exact duplicate grouping on ``key``: one output row per distinct key
    with the kept representative id and the duplicate count.

    The canonical hash-groupBy dedup: one shuffle on the (fingerprint) key.

    >>> out = exact_dedup(dup_docs, F.lower(F.col("txt")), "id", keep="min")
    >>> sorted((r.keeper_id, r.n_copies) for r in out.collect())
    [(1, 2), (3, 1)]
    """
    keep_expr = F.min(F.col(id_col)) if keep == "min" else F.max(F.col(id_col))
    # No spread here: md5+normalize is cheap enough that an extra
    # repartition costs more than it parallelizes (measured 2×); the groupBy
    # shuffle is the only exchange.
    return (
        df.select(key.alias("__dedup_key"), id_col)
        .groupBy("__dedup_key")
        .agg(keep_expr.alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def doc_shingles(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct k-word shingles as exploded ``(doc, shingle)`` rows: the
    union of the shingles of every row carrying that ``doc`` id (a
    shingle never spans two rows).

    ``carry_cols`` rides doc-level columns through the explode (e.g. a
    target flag): a few bytes per gram row in the doc-keyed shuffle, where
    re-attaching them afterwards would cost a full gram-scale corpus join
    (measured on text_dsir_weights, r14). The columns MUST be functionally
    dependent on ``id_col`` — the final per-(doc, shingle) distinct keeps
    an arbitrary row's values, which is only deterministic when every
    duplicate carries the same value.

    Windows come map-side from
    :func:`~stupidb_spark.functions.text.word_ngrams` inside the scan task.
    The one shuffle is the doc-keyed ``repartition`` under the distinct:
    hash-partitioning on ``doc`` alone also satisfies every downstream
    per-document consumer (the pair counts' ``n_sh`` window, the MinHash
    signature aggregate, the shingle sets), so they reuse it instead of
    each shuffling again. That shuffle lands one document's shingle rows in
    one task, so a single mega-document is a straggler/OOM hazard no amount
    of parallelism fixes. ``max_doc_bytes`` (default :data:`DOC_BYTES_CAP`)
    guards that edge loudly: any document over the cap fails the job with
    its id and size in the message. Pass ``None`` to waive; pre-chunk
    genuinely long documents with
    :func:`~stupidb_spark.operators.chunking.chunk_text`.
    """
    carry = list(carry_cols)
    base = spread_small_scan(
        df.select(F.col(id_col).alias("doc"), F.col(text_col), *carry)
    )
    base = _doc_bytes_guard(base, text_col, max_doc_bytes, "doc_shingles")
    toks = base.select("doc", *carry, words(F.col(text_col)).alias("w"))
    grams = toks.select("doc", *carry, F.explode(word_ngrams("w", k)).alias("g"))
    return (
        grams.select("doc", *carry, ngram_text(F.col("g"), k).alias("shingle"))
        .repartition("doc")
        .dropDuplicates(["doc", "shingle"])
    )


def jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
    uncapped_ok: bool = False,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs (i < j, jaccard ≥ threshold).

    Inverted-index plan: distinct (doc, shingle) rows, self-join per shingle
    bucket (so only docs sharing ≥1 shingle ever meet — never the full n²),
    count common shingles per pair, then jaccard = common / (|A|+|B|-common).

    **Skew guard** (``max_doc_freq``): the per-shingle self-join is O(df²)
    in a shingle's document frequency — one boilerplate shingle in 1% of a
    10⁹-doc corpus would generate 10¹⁴ candidate pairs. With
    ``max_doc_freq`` set, shingles whose document frequency exceeds the cap
    are dropped from BOTH the inverted index and the per-doc shingle counts
    (standard stop-shingle / prefix-filtering practice), so the result is
    the exact Jaccard over the *informative*-shingle universe. Recall
    contract: a pair similar only through capped (ultra-common) shingles is
    missed — by design, since such overlap is boilerplate, not duplication;
    pairs sharing any sub-cap shingle are still found with exact (capped-
    universe) scores. Default None = uncapped classical Jaccard, the
    oracled form — which now WARNS at runtime (:class:`ScaleWarning`)
    unless ``uncapped_ok=True``, because the uncapped envelope is
    unaffordable at corpus scale; set a cap (or use MinHash-LSH, the
    default scale path).

    Measured scaling (10× rehearsal, SCALE.md): candidate volume is
    Σ_shingle df·(df−1)/2 — a property of the DATA, not the plan. On a
    vocabulary-saturated corpus (fixture docs draw from ~30 words, so df
    grows linearly with corpus size) candidates grew 101× for 10× docs
    (1.27M → 128M) while runtime grew ~12×; prefix filtering (Bayardo et
    al., WWW'07) was measured and only cut candidates 2.3× here because
    even rare-ordered prefixes collide on a saturated vocabulary, and
    dictionary-encoding the join key measured flat (the join OUTPUT, not
    key hashing, is the cost). Exact all-pairs Jaccard is inherently
    Ω(candidates); when that budget is unaffordable, ``max_doc_freq``
    bounds it exactly-over-a-capped-universe, and MinHash-LSH (measured
    4.9× at the same 10×) is the sub-quadratic scale path.

    Returns columns: id_a, id_b, jaccard.
    """
    joined = _pair_overlap_counts(
        df,
        id_col=id_col,
        text_col=text_col,
        k=k,
        max_doc_freq=max_doc_freq,
        max_doc_bytes=max_doc_bytes,
        uncapped_ok=uncapped_ok,
        what="jaccard_pairs",
        # Exact size-ratio pruning (Arasu/Bayardo length filter):
        # jaccard(A,B) ≥ t forces |A∩B| ≥ t/(1+t)·(|A|+|B|), and since
        # |A∩B| ≤ min(|A|,|B|) that implies min ≥ t·max — so candidate
        # rows failing the ratio check can never reach the threshold and
        # are dropped INSIDE the self-join, before the pair aggregation
        # ever sees them. Measured at sf1 (50k docs, saturated vocab):
        # 114.6M → 86.2M aggregated pairs, candidate stage 25.5 s →
        # 19.6 s. Unlike prefix filtering (measured 2.3× candidate cut
        # but flat runtime here — SCALE.md), this costs two longs already
        # riding the rows and zero extra passes.
        size_ratio_floor=threshold,
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return joined.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
    uncapped_ok: bool = False,
) -> DataFrame:
    """Exact n-gram-CONTAINMENT near-duplicate pairs (i < j,
    ``n_common / min(|A|, |B|)`` ≥ threshold).

    The asymmetric companion to :func:`jaccard_pairs` (Broder's resemblance
    vs containment distinction): a short document pasted verbatim inside a
    much longer one has containment 1.0 but Jaccard ≈ |A|/|B| → 0, so
    resemblance-based dedup structurally misses subset/superset duplication
    — the dominant mode in crawl corpora (boilerplate wrappers, quoted
    articles, aggregator pages). Emitted score is the max-directional
    containment (smaller set in the larger); both directions share it.

    Same inverted-index plan, skew guard (``max_doc_freq`` caps stop-
    shingle df — scores become exact containment over the informative-
    shingle universe), mega-document guard, corpus-join pinning, and
    :class:`ScaleWarning` envelope as :func:`jaccard_pairs` — the two
    differ only in the final score projection over the identical
    (n_common, n_a, n_b) pair counts.

    Returns columns: id_a, id_b, containment.
    """
    joined = _pair_overlap_counts(
        df,
        id_col=id_col,
        text_col=text_col,
        k=k,
        max_doc_freq=max_doc_freq,
        max_doc_bytes=max_doc_bytes,
        uncapped_ok=uncapped_ok,
        what="containment_pairs",
    )
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    return joined.select(
        "id_a", "id_b", cont.alias("containment")
    ).filter(F.col("containment") >= threshold)


def _pair_overlap_counts(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int,
    max_doc_freq: int | None,
    max_doc_bytes: int | None,
    uncapped_ok: bool,
    what: str,
    size_ratio_floor: float | None = None,
) -> DataFrame:
    """Shared candidate stage of :func:`jaccard_pairs` /
    :func:`containment_pairs`: exact per-pair shingle-overlap counts
    ``(id_a, id_b, n_common, n_a, n_b)`` for every i < j pair sharing at
    least one (sub-cap) shingle. All set-overlap scores (Jaccard,
    containment, Dice, ...) are projections over these three counts.

    ``size_ratio_floor``: drop candidate rows whose set sizes satisfy
    ``min(n_a, n_b) < floor · max(n_a, n_b)`` inside the self-join. Only
    valid when the CALLER's downstream score filter provably rejects every
    such pair (Jaccard ≥ t ⇒ min ≥ t·max — see :func:`jaccard_pairs`);
    containment has no such bound (a tiny doc fully inside a huge one is
    exactly the pair it must keep), so :func:`containment_pairs` passes
    None."""
    from pyspark.sql.window import Window as W

    if max_doc_freq is None and not uncapped_ok:
        # The scale envelope, enforced at runtime: a caller at corpus scale
        # should get a loud warning, not a melting job. Opt in with
        # uncapped_ok=True (exact scores on a corpus known to be small /
        # vocabulary-sparse).
        warnings.warn(
            f"{what}(max_doc_freq=None) is exact all-pairs set overlap —"
            " candidate volume is Σ_shingle df·(df−1)/2, which is"
            " unaffordable on a large or boilerplate-heavy corpus. Set"
            " max_doc_freq (exact scores over the informative-shingle"
            " universe), use minhash_lsh_pairs / dedup_components_lsh (the"
            " sub-quadratic scale paths), or pass uncapped_ok=True to"
            " acknowledge the envelope.",
            ScaleWarning,
            stacklevel=3,
        )
    from stupidb_spark.operators.lineage import cut_lineage

    ex = doc_shingles(
        df, id_col=id_col, text_col=text_col, k=k, max_doc_bytes=max_doc_bytes
    )
    if max_doc_freq is not None:
        # The shingle relation feeds BOTH the df-count aggregate and the
        # cap join probe; without a cut the tokenize+explode pass ran once
        # per consumer (and a third time per self-join side below — r14
        # profile: three full corpus passes). The lazy localCheckpoint (the
        # df-count job materializes it) serves the probe from local blocks.
        ex = cut_lineage(ex, eager=False)
        # streaming aggregate + join back, NOT a count-over-shingle window:
        # WindowExec would buffer a hot shingle's entire partition in one
        # task before the filter drops it, while the groupBy map-side
        # combines the hot key down to one row and the join's shuffle is
        # AQE-skew-splittable. The kept-shingle side is VOCABULARY-sized
        # (most shingles of a real corpus are rare, so the cap keeps most
        # of the vocabulary) — shuffle_hash, never broadcast.
        keep = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("shingle")
        )
        ex = ex.hint(corpus_join_strategy()).join(keep.hint(corpus_join_strategy()), "shingle")
    # Per-doc (capped-universe) shingle counts ride each exploded row as a
    # whole-partition window count — partition = one document, bounded by
    # document length, no orderBy ⇒ no sort; uncapped, it reuses
    # doc_shingles' doc-keyed exchange — and flow through the pair groupBy
    # as min(). This removes the separate n_sh relation and its two
    # corpus-keyed join-backs entirely. The 100x probe (SCALE.md) showed why
    # that matters: Catalyst's post-explode/post-aggregate size estimates
    # sat under the auto-broadcast threshold at 500k docs and statically
    # planned BroadcastHashJoins of corpus-sized relations (26M exploded
    # rows) for every join in this subtree — fatal at scale, invisible at
    # sf0.1 where the broadcasts genuinely fit. The surviving self-join is
    # shuffle_hash-pinned: shuffled on the shingle key like SMJ (AQE skew
    # split still applies), but no sort of the inverted index and no
    # estimate-driven broadcast of either side.
    #
    # exv is deliberately NOT lineage-cut even though it is both sides of
    # the self-join: the sides' exchanges materialize as CONCURRENT AQE
    # jobs, so the duplicate window pass overlaps on idle cores, while a
    # checkpoint serializes a materialization barrier before either side
    # starts — measured r14 (uncapped dedup_ngram_jaccard, interleaved):
    # 1.47 s stock vs 2.00 s with the cut. Same verdict as the LM bigram
    # table (operators/lm.py): cuts pay only for expensive subtrees.
    exv = ex.withColumn("n_sh", F.count(F.lit(1)).over(W.partitionBy("doc")))
    a = exv.alias("a").hint(corpus_join_strategy())
    b = exv.alias("b").hint(corpus_join_strategy())
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc") < F.col("b.doc")
    )
    if size_ratio_floor is not None:
        cond = cond & (
            F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            >= F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
            * F.lit(float(size_ratio_floor))
        )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min(F.col("a.n_sh")).alias("n_a"),
            F.min(F.col("b.n_sh")).alias("n_b"),
        )
    )


# Scan bytes per task for the vectorized scorers' spread (the
# ``bytes_per_task`` of ``spread_small_scan``): light per-byte compute, so
# kilobyte partitions at core-count width would be pure fixed cost.
SPREAD_BYTES_PER_TASK = 256 * 1024


def spread_small_scan(
    df: DataFrame,
    min_partitions: int | None = None,
    *,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """Re-spread a small scan across the cluster before compute-heavy
    per-row work.

    A small parquet file arrives as one partition, which would serialize the
    expensive shingle/signature expressions onto a single core. At 100 TB the
    scan already yields thousands of partitions and this is a no-op; the
    repartition only fires when the source files are small.

    Smallness is decided from the source file sizes (driver-side metadata,
    no job) — the previous ``df.rdd.getNumPartitions()`` probe forced a
    DataFrame→RDD conversion per call, gratuitous analyzer work in a hot
    service path. Non-file sources (in-memory test frames) count as small.

    ``bytes_per_task`` makes the spread WIDTH volume-derived instead of
    core-count-pinned: ``clamp(total_bytes / bytes_per_task, 2, cores)``
    — the ``size_state_partitions``/``adaptive_spread`` pattern (guide §2:
    derive partitioning from input size). Right for passes whose per-byte
    compute is LIGHT (a vectorized matmul over the scan): every 32-wide
    read stage costs ~0.5-0.8 s of pure task/scheduling overhead on tiny
    partitions (r15 measurement: a trivial 32-task shuffle-read job is
    0.6-0.8 s wall while the probe UDF's numpy is ~40 ms), so kilobyte
    partitions at core-count width are pure fixed cost. Leave None for
    regex/shingle passes whose per-byte CPU is heavy — bytes are the
    wrong cost proxy there (the round-14 size-first-AQE rejection), and
    their 32-wide stages do ~300 ms of REAL work per task at sf0.1.
    Non-file sources fall back to the full target (size unknown).

    The width is computed from on-disk parquet bytes — compressed and
    dictionary/run-length deduplicated — not from the decoded vector
    volume the tasks will hold, so a well-compressed scan gets a narrower
    spread than its in-memory size would suggest.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    import os as _os
    import urllib.parse as _up

    total = 0
    for f in files:
        if not f.startswith("file:"):
            return df  # remote storage: the scan is already wide at scale
        try:
            total += _os.path.getsize(_up.unquote(_up.urlparse(f).path))
        except OSError:
            return df  # listed file not stat-able: assume big, leave as-is
    split = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if total < target * split:
        if bytes_per_task is not None and files:
            target = max(2, min(target, -(-total // bytes_per_task)))
        return df.repartition(target)
    return df


def _parse_bytes(conf_value: str) -> int:
    """Parse a Spark byte-size conf ("1048576", "128m", "1g", ...)."""
    v = conf_value.strip().lower().removesuffix("b")
    for suffix, mult in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
        if v.endswith(suffix):
            return int(float(v[:-1]) * mult)
    return int(v)


def minhash_signature(shingles: Column, n_hashes: int = 32) -> Column:
    """MinHash signature: per permutation i, min over shingles of
    xxhash64(i, shingle). Deterministic, JVM-side, no UDF.

    Single fold over the shingle array (acc = running elementwise min),
    instead of materializing one transformed array per permutation."""
    init = F.array_repeat(F.lit(2**63 - 1).cast("long"), n_hashes)
    return F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(F.lit(i), s) for i in range(n_hashes)]),
            lambda a, h: F.least(a, h),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified with exact Jaccard.

    Filter through the band index, then verify only the candidates, each on
    compact per-document data (the index-filter / candidate-verify shape of
    distributed similarity joins): the :func:`minhash_band_index`
    construction (32-hash signature → 8 bands of 4) feeds a bucket
    self-join whose distinct ``(id_a, id_b)`` pairs are the candidates;
    each candidate then meets ONE row per document — its distinct shingle
    strings — and scores ``|A∩B| / (|A|+|B|-|A∩B|)`` with
    ``array_intersect``. Strings, not shingle hashes, so the score is exact
    by construction. With r=4, b=8 the S-curve crosses ~(1/8)^(1/4) ≈
    0.59, a good match for a 0.5 verification threshold.

    Every join side — bands, candidates, shingle sets — is corpus- or
    output-sized, so each is pinned to :func:`corpus_join_strategy`:
    Catalyst's post-explode/post-aggregate estimates sat under the
    auto-broadcast threshold at 500k docs and planned fatal
    BroadcastHashJoins (the 100× probe, SCALE.md).

    Returns: id_a, id_b, jaccard (exact, post-verification).
    """
    # Derived once; both the bands and the shingle sets read it. NOT
    # checkpointed: AQE exchange reuse shares the per-doc shuffle between
    # its consumers at run time (an eager localCheckpoint here measured
    # ~2× the warm query).
    ex = doc_shingles(
        df, id_col=id_col, text_col=text_col, k=k, max_doc_bytes=max_doc_bytes
    )
    bands = _minhash_bands(ex, n_hashes, n_bands)
    a = bands.alias("a").hint(corpus_join_strategy())
    b = bands.alias("b").hint(corpus_join_strategy())
    candidates = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .hint(corpus_join_strategy())
    )
    # ex rows are distinct (doc, shingle) by doc_shingles' contract, so the
    # set's size is the document's shingle count.
    sets = (
        ex.groupBy("doc")
        .agg(F.collect_set("shingle").alias("sh"))
        .hint(corpus_join_strategy())
    )
    joined = candidates.join(
        sets.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sets.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common / (F.size("sh_a") + F.size("sh_b") - n_common)
    return joined.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _band_buckets(sig: list[Column], n_bands: int) -> Column:
    """LSH band buckets of a MinHash signature, exploded one row per band:
    ``xxhash64(b, band b's rows)`` over ``n_bands`` slices of
    ``len(sig) // n_bands`` rows. The one bucket formula, shared by the
    batch index (signature columns) and the streaming probe (array
    elements)."""
    r = len(sig) // n_bands
    return F.explode(
        F.array(
            *[F.xxhash64(F.lit(b), *sig[b * r : (b + 1) * r]) for b in range(n_bands)]
        )
    )


def _minhash_bands(ex: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """``(doc, bucket)`` band rows from exploded distinct ``(doc, shingle)``
    rows: the per-permutation ``min(xxhash64(i, shingle))`` signature as a
    hash aggregate (map-side partials, whole-stage codegen), then
    :func:`_band_buckets`. Bit-identical to the array-fold
    :func:`minhash_signature` the probe uses."""
    sig = ex.groupBy("doc").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    h = [F.col(f"h{i}") for i in range(n_hashes)]
    return sig.select("doc", _band_buckets(h, n_bands).alias("bucket"))


def simhash64(c: Column) -> Column:
    """64-bit SimHash of a text column as a pure Catalyst fold.

    Each token votes ±1 per bit of its xxhash64; the fingerprint sets bit b
    when the vote sum is positive. No explode, no shuffle — computed inline
    per row.
    """
    toks = words(c)
    zero64 = F.array_repeat(F.lit(0).cast("long"), 64)

    def token_bits(t: Column) -> Column:
        # ±1 vote per bit of the token's xxhash64; bit positions are Python
        # ints so every shift is a literal (shiftright requires literal bits).
        h = F.xxhash64(t)
        return F.array(
            *[
                F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(-1).cast("long"))
                for b in range(64)
            ]
        )

    bit_votes = F.aggregate(
        toks, zero64, lambda acc, t: F.zip_with(acc, token_bits(t), lambda x, y: x + y)
    )
    # Reassemble: set bit b when votes[b] > 0. Bit 63 is the sign bit of a
    # signed long (1 << 63 overflows), hence the negative literal.
    fp = F.lit(0).cast("long")
    for b in range(64):
        bit_val = F.lit(-(2**63) if b == 63 else (1 << b)).cast("long")
        fp = fp.bitwiseOR(
            F.when(F.element_at(bit_votes, b + 1) > 0, bit_val).otherwise(
                F.lit(0).cast("long")
            )
        )
    return fp


def simhash_fingerprints(
    df: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """64-bit SimHash per document as (doc, fp) — the distributed form.

    Token hashes stay JVM-side (``xxhash64`` mapped over the token array in
    codegen — bit-identical to :func:`simhash64`'s fold), then ONE scalar
    pandas UDF folds the ±1 bit votes per document in vectorized numpy.
    Zero shuffles: each document's fingerprint derives from its own row.
    This replaces an explode → 64-column SUM aggregation → join-back
    pipeline whose enormous generated method was at the mercy of JIT
    compilation (measured 3-24s for the same input depending on C2 warmth);
    the numpy fold is ~constant. A doc with no alphabetic tokens folds the
    empty array to 0, matching :func:`simhash64`.
    """
    token_hashes = F.transform(words(F.col(text_col)), lambda t: F.xxhash64(t))

    # no type hints: pep-563 string hints (from __future__ annotations) are
    # rejected by pandas_udf's signature inspection; returnType is explicit
    def fold(hs):
        out = np.zeros(len(hs), dtype=np.int64)
        shifts = np.arange(64, dtype=np.int64)
        for i, arr in enumerate(hs):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.int64)
            # arithmetic >> matches Spark's shiftright; bit b of each hash
            ones = ((h[:, None] >> shifts) & 1).sum(axis=0)
            fp_bits = (2 * ones) > len(h)  # vote sum > 0
            val = int(
                np.bitwise_or.reduce(
                    (fp_bits[:63] << shifts[:63]).astype(np.int64), initial=0
                )
            )
            if fp_bits[63]:
                val |= -(2**63)  # sign bit of the signed long
            out[i] = val
        return pd.Series(out)

    fp = F.pandas_udf(fold, "long")(token_hashes)
    # coalesce-to-0 never fires (the fold always yields a long; empty docs
    # fold to 0 already) but marks the column non-nullable, so the band
    # join's inferred isnotnull(chunk) constraint folds away statically.
    # Without it that filter pushes below spread_small_scan's repartition
    # and Catalyst evaluates the pandas UDF TWICE per join side (observed
    # in the sf1 plan: two ArrowEvalPython nodes per branch — the
    # fingerprint fold, the query's dominant per-row cost, ran 4x).
    return spread_small_scan(
        df.select(F.col(id_col).alias("doc"), F.col(text_col))
    ).select("doc", F.coalesce(fp, F.lit(0)).alias("fp"))


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    n_bands: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: fingerprint, band the 64 bits, self-join
    per band bucket, verify with exact popcount(xor).

    Recall contract: with ``n_bands >= max_hamming + 1`` (the default),
    pigeonhole guarantees any pair within ``max_hamming`` leaves at least one
    band untouched → every true pair collides in some bucket → the verified
    output is EXACTLY the set of pairs with hamming ≤ ``max_hamming``, for
    any adversarial spread of bit flips. Passing a smaller ``n_bands`` trades
    that guarantee for fewer/larger bands (cheaper candidate generation).

    Documents with zero alphabetic tokens fingerprint as 0 (matching
    :func:`simhash64`'s empty fold) and therefore pair with each other —
    they are NOT silently dropped; corpora with many empty documents should
    route them through :func:`exact_dedup` first to avoid an n² clique of
    trivial matches.

    Returns: id_a, id_b, hamming.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    base_w, extra = divmod(64, n_bands)
    widths = [base_w + 1 if b < extra else base_w for b in range(n_bands)]
    starts = [sum(widths[:b]) for b in range(n_bands)]
    # NOT checkpointed: exchange reuse shares the fingerprint computation
    # between both band self-join sides (an eager localCheckpoint measured
    # worse cold and a wash warm)
    fp = simhash_fingerprints(df, id_col=id_col, text_col=text_col)
    bands = fp.select(
        "doc",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("fp"), starts[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "fp", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))

    # Corpus-sized band relation on both sides — never broadcast (see
    # minhash_lsh_pairs: static estimates under-count exploded relations).
    a = bands.alias("a").hint(corpus_join_strategy())
    b = bands.alias("b").hint(corpus_join_strategy())
    xor = F.col("fp_a").bitwiseXOR(F.col("fp_b"))
    hamming = F.bit_count(xor)
    # A true pair collides in EVERY band its flips miss (a hamming-2 pair
    # agrees on >= n_bands-2 bands), so the band join re-derives each pair
    # many times. Emitting a pair only from its FIRST clean band — decidable
    # per joined row from fp_a^fp_b alone — makes the join output exactly-once
    # per pair, replacing a pair-dedup shuffle with a codegen'd filter.
    first_clean = F.lit(None).cast("int")
    for bb in reversed(range(n_bands)):
        chunk_clean = (
            F.shiftright(xor, starts[bb]).bitwiseAND(F.lit((1 << widths[bb]) - 1))
            == 0
        )
        first_clean = F.when(chunk_clean, F.lit(bb)).otherwise(first_clean)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
            F.col("a.band").alias("band"),
        )
        .withColumn("hamming", hamming)
        .filter((F.col("hamming") <= max_hamming) & (F.col("band") == first_clean))
        .select("id_a", "id_b", "hamming")
    )


def simhash_radius_stats(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    radii: tuple[int, ...] = (0, 1, 2, 3, 4, 6, 8, 12, 16),
    n_sample: int = 4096,
) -> DataFrame:
    """Fingerprint-density report: estimated OUTPUT pair count per candidate
    ``max_hamming`` radius, so callers pick the radius from their corpus
    instead of discovering it the expensive way (the 30× rehearsal measured
    radius-8 on a homogeneous corpus emitting 85M true pairs — 46× runtime
    — while radius 3 was in line with MinHash-LSH; SCALE.md).

    Method, bounded by construction: a deterministic uniform sample of
    ``n_sample`` fingerprints (smallest ``xxhash64(doc)`` — content-blind,
    so unbiased w.r.t. id assignment) is collected to the driver (longs
    only), the sample's full pairwise hamming histogram is computed with
    vectorized popcount, and each radius's sample pair FRACTION is scaled
    to the corpus's ``N·(N−1)/2``. One count job + one TakeOrdered collect;
    the n_sample² popcounts are driver numpy, ~17M byte-ops at the default.

    Estimator contract: unbiased for the corpus-wide pair density with
    sampling error ~1/sqrt(sample pairs at that radius) — tight for the
    radii that matter (the dangerous, dense ones); radii with ZERO sample
    pairs report est_pairs 0 and are fine by definition. ``simhash_pairs``
    output additionally never exceeds the radius-r estimate's universe
    since verification is exact.

    Returns a DataFrame (max_hamming, sample_pairs, est_pairs,
    pairs_per_doc) sorted by radius; ``pairs_per_doc`` = est_pairs / N is
    the "how many rows per input row will this emit" number to sanity-check
    against the downstream budget.
    """
    fp = simhash_fingerprints(df, id_col=id_col, text_col=text_col)
    n_total = fp.count()
    sample = (
        fp.select("doc", "fp")
        .orderBy(F.xxhash64(F.col("doc")), F.col("doc"))
        .limit(n_sample)
        .collect()
    )
    vals = np.array([r.fp for r in sample], dtype=np.int64).view(np.uint64)
    m = len(vals)
    pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    max_r = max(radii)
    # cumulative pair counts per hamming distance over the sample
    hist = np.zeros(65, dtype=np.int64)
    block = 256
    for s in range(0, m, block):
        chunk = vals[s : s + block]
        xor = chunk[:, None] ^ vals[None, :]
        d = pop8[xor.view(np.uint8).reshape(len(chunk), m, 8)].sum(
            axis=2, dtype=np.int16
        )
        # count each unordered pair once: global index i < j only
        idx = np.arange(s, s + len(chunk))
        mask = idx[:, None] < np.arange(m)[None, :]
        np.add.at(hist, d[mask].astype(np.int64), 1)
    cum = np.cumsum(hist)
    sample_pairs_total = m * (m - 1) // 2
    corpus_pairs_total = n_total * (n_total - 1) / 2
    rows = []
    for r in sorted(set(radii)):
        sp = int(cum[min(r, 64)])
        frac = sp / sample_pairs_total if sample_pairs_total else 0.0
        est = frac * corpus_pairs_total
        rows.append(
            (
                int(r),
                sp,
                float(est),
                float(est / n_total) if n_total else 0.0,
            )
        )
    return df.sparkSession.createDataFrame(
        rows,
        "max_hamming int, sample_pairs long, est_pairs double, "
        "pairs_per_doc double",
    )


def minhash_band_index(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> DataFrame:
    """``(doc, bucket)`` MinHash band index over a document corpus: the
    candidate filter of :func:`minhash_lsh_pairs` and the STATIC side of
    ingest-time dedup (:func:`minhash_probe_candidates`).

    Built the scale way: exploded shingle rows (:func:`doc_shingles`) →
    hash-agg signature → n_bands rows per doc. Persist it
    partitioned/bucketed by ``bucket`` at scale so every ingest batch
    probes without reshuffling the corpus.
    """
    ex = doc_shingles(
        df, id_col=id_col, text_col=text_col, k=k, max_doc_bytes=max_doc_bytes
    )
    return _minhash_bands(ex, n_hashes, n_bands)


def minhash_probe_candidates(
    index: DataFrame,
    probe: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
    max_doc_bytes: int | None = DOC_BYTES_CAP,
) -> DataFrame:
    """Near-duplicate CANDIDATES of ``probe`` documents against a
    :func:`minhash_band_index` — the dedup-at-ingest primitive: "is this
    incoming document a near-dup of anything already in the corpus?".

    The probe side is deliberately MAP-ONLY until the join — array-side
    shingles (:func:`word_shingles`), the :func:`minhash_signature` fold,
    and band buckets as a single projected explode, with no window and no
    pre-join aggregation — so the SAME function runs unchanged on a
    ``readStream`` DataFrame as a stream-static join
    (:func:`stupidb_spark.streaming.documents.dup_flagged_stream`). The
    array folds run once per probe document, and the probe batch is
    ingest-sized; the corpus side stays on the exploded-rows hash-aggregate
    path inside the index.

    A probe document with identical text to an indexed document collides
    in EVERY band (same distinct-shingle set → same signature → same
    bucket hashes — pinned by test), so exact re-ingests are always
    caught; near-dups follow the usual LSH S-curve. Returns distinct
    ``(probe_id, corpus_doc)``, self-matches excluded.
    """
    base = probe.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__text")
    )
    base = _doc_bytes_guard(
        base, "__text", max_doc_bytes, "minhash_probe_candidates"
    )
    base = (
        base.withColumn("__w", words(F.col("__text")))
        .withColumn("__sh", word_shingles(F.col("__w"), k))
        .where(F.size("__sh") >= 1)
        .withColumn("__sig", minhash_signature(F.col("__sh"), n_hashes))
    )
    sig = [F.element_at("__sig", i + 1) for i in range(n_hashes)]
    probed = base.select(
        F.col("doc").alias("probe_id"), _band_buckets(sig, n_bands).alias("bucket")
    )
    # Stream-static (or batch) bucket join: the index is corpus-sized —
    # strategy-pinned, never estimate-broadcast.
    return (
        probed.join(index.hint(corpus_join_strategy()), "bucket")
        .where(F.col("doc") != F.col("probe_id"))
        .select("probe_id", F.col("doc").alias("corpus_doc"))
        .dropDuplicates(["probe_id", "corpus_doc"])
    )
