"""Similarity search over embedding columns (array<float>).

Beyond-reference surface (SURVEY.md §7). Two paths here, three more in
``operators/ivf.py`` and ``operators/pq.py``:

- :func:`brute_force_topk` — exact cosine top-k over every base vector.
  This is the correctness baseline and already the right plan when
  |queries| is small (the common batch-retrieval shape).
- :func:`lsh_topk` — multi-table random-hyperplane LSH: a query scores only
  the vectors that share one of its sign-buckets. Hyperplanes are
  deterministic (seeded), data-independent literals — no fitting step.

All five ANN operators share one scoring core. The query matrix is
collected (:func:`collect_query_matrix`) and embedded in one
``mapInPandas`` scan, :func:`_score_topk`, which is the only per-batch
top-k loop of the family: each operator supplies only a per-batch
``(sims, mask)`` — its similarity arithmetic and its candidate rule — and
the scan keeps each query's batch-local top-k and merges the partials in
:func:`rank_topk`. The base is read through :func:`base_scan` and any
quantizer trains on :func:`collect_train_matrix`; both skip NULL vectors,
the query side's rule.

Pair scoring is a vectorized numpy pass over QUANTIZED dot products:
each elementwise product is snapped to a fixed 2^-40 integer grid and summed
in int64 — exact, therefore ORDER-INDEPENDENT, therefore free to vectorize
(numpy's pairwise/SIMD summation and DuckDB's sequential fold produce the
same integer). The interpreted Catalyst HOF fold this replaces was measured
~10× slower in bulk; it survives as :func:`cosine` for expression-level
one-offs (e.g. bucketing literals).
"""

from __future__ import annotations

import random
from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stupidb_spark.operators.dedup import SPREAD_BYTES_PER_TASK, spread_small_scan

# 2^40 quantization grid for dot products. TWO envelopes apply:
#   * int64 paths (_qdot, embedding_near_dup_pairs): carry
#     dim · max|aᵢ·bᵢ| · 2^40 in int64 — for 64-dim unit-norm embeddings
#     that is ~2e13, 5 orders below overflow; headroom up to |aᵢ·bᵢ| ≈ 1e5.
#   * _quant_sims: sums the floored per-products in float64, exact only
#     while every partial sum stays ≤ 2^53, i.e.
#     dim · max|aᵢ·bᵢ| · 2^40 ≤ 2^53  ⇔  max|aᵢ·bᵢ| ≤ 8192/dim
#     (≈128 at 64 dims) — much tighter than the int64 headroom. Unit-norm
#     embeddings (|aᵢ·bᵢ| ≤ 1) are comfortably inside both.
# Dividing by a power of two is exact in IEEE double, so requantized
# values are identical on every engine.
QUANT_SCALE = float(1 << 40)


def _fsum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (double accumulation).

    Left-to-right Catalyst fold — interpreted, fine for one-off expressions
    (LSH plane projections against literal arrays); use :func:`pair_cosine`
    for bulk pair scoring.

    >>> vecs.select(dot(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    11.0
    """
    return _fsum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm(a: Column) -> Column:
    return F.sqrt(_fsum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine(a: Column, b: Column) -> Column:
    """Expression-level cosine; see :func:`dot` for when to prefer this.

    >>> round(vecs.select(cosine(F.col("a"), F.col("a")).alias("c"))
    ...           .collect()[0].c, 9)
    1.0
    """
    return dot(a, b) / (norm(a) * norm(b))


def _qdot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Exact int64 sum of per-element products quantized to the 2^-40 grid."""
    return (
        np.floor(A * B * QUANT_SCALE + 0.5).astype(np.int64).sum(axis=1)
    )


def pair_cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, one vectorized numpy
    pass per Arrow batch — the bulk-scoring fast path.

    Quantized-dot construction (each step an identical deterministic op on
    any engine): per-element product in double → floor(p·2^40 + 0.5) →
    exact int64 sum (order-independent) → exact /2^40 → sqrt/divide, single
    correctly-rounded IEEE ops. The DuckDB twin is :func:`sql_pair_cosine`.
    """

    def fn(av: pd.Series, bv: pd.Series) -> pd.Series:
        A = np.stack(av.to_numpy()).astype(np.float64)
        B = np.stack(bv.to_numpy()).astype(np.float64)
        d = _qdot(A, B).astype(np.float64) / QUANT_SCALE
        return pd.Series(d / (_quant_norms(A) * _quant_norms(B)))

    return F.pandas_udf(fn, "double")(a, b)


def sql_qdot(x: str, y: str) -> str:
    """DuckDB text form of the quantized dot product (list comprehension
    fold; list elements are 1-based)."""
    s = f"{QUANT_SCALE:.1f}"
    return (
        f"CAST(list_sum([CAST(floor(({x})[i] * ({y})[i] * {s} + 0.5) AS BIGINT)"
        f" for i in range(1, len({x}) + 1)]) AS BIGINT)"
    )


def sql_pair_cosine(x: str, y: str) -> str:
    """DuckDB twin of :func:`pair_cosine` — bit-identical by construction."""
    s = f"{QUANT_SCALE:.1f}"
    d = f"(CAST({sql_qdot(x, y)} AS DOUBLE) / {s})"
    nx = f"sqrt(CAST({sql_qdot(x, x)} AS DOUBLE) / {s})"
    ny = f"sqrt(CAST({sql_qdot(y, y)} AS DOUBLE) / {s})"
    return f"({d} / ({nx} * {ny}))"


def collect_query_matrix(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side (ids, matrix) of a SMALL query set — the batch-retrieval
    contract: the query side of an ANN lookup is the broadcastable side, and
    collecting it is the same data movement as broadcasting it. Sorted by id
    for determinism. A query with a NULL id or a NULL vector has no key to
    match on, so it matches nothing and its row is skipped; with no rows
    left ``ids`` is empty and the caller returns an empty result
    (:func:`no_neighbors`)."""
    rows = (
        queries.filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .collect()
    )
    rows.sort(key=lambda r: r._id)
    ids = np.array([r._id for r in rows])
    Q = np.array([r._v for r in rows], dtype=np.float64)
    return ids, Q


def collect_train_matrix(
    df: DataFrame, id_col: str, vec_col: str, n_train: int
) -> np.ndarray:
    """Driver-side training sample of an ANN quantizer: the vectors of the
    ``n_train`` lowest ids, id-sorted — one bounded TakeOrdered collect, so
    training cost is independent of table size. A row with a NULL id or a
    NULL vector matches nothing (the :func:`collect_query_matrix` rule), so
    it is not sampled."""
    rows = (
        df.filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .limit(n_train)
        .collect()
    )
    if not rows:
        raise ValueError(f"no non-NULL {vec_col} vector to train on")
    return np.array([r._v for r in rows], dtype=np.float64)


def base_scan(base: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The base side of an ANN operator as (neighbor_id, b_vec) rows. A row
    with a NULL id or a NULL vector matches nothing (the
    :func:`collect_query_matrix` rule), so it is dropped.

    The scan is spread because a small base file arrives as one partition
    and would put the whole scoring loop on one core; at scale the scan is
    already wide. The width is volume-derived (``SPREAD_BYTES_PER_TASK``):
    the per-batch numpy is light per byte, so core-count width on a
    kilobyte-scale scan only multiplies fixed task overhead."""
    return spread_small_scan(
        base.filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("b_vec")
        ),
        bytes_per_task=SPREAD_BYTES_PER_TASK,
    )


def rank_topk(partials: DataFrame, score_col: str, k: int) -> DataFrame:
    """Merge per-batch candidates into the k best per query, ranked by
    (score desc, neighbor_id) for a deterministic total order. Any row in a
    query's global top-k is in its batch's top-k, so the merge is exact."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id")
    )
    return (
        partials.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", score_col, "rk")
    )


def _topk_schema(df: DataFrame, id_col: str, score_col: str) -> str:
    id_type = dict(df.dtypes)[id_col]
    return f"query_id {id_type}, neighbor_id {id_type}, {score_col} double"


def no_neighbors(df: DataFrame, id_col: str, score_col: str, k: int) -> DataFrame:
    """The result of a search with no (non-NULL) query vectors: empty, with
    the same schema a non-empty search returns, and no scan of the base."""
    schema = _topk_schema(df, id_col, score_col)
    return rank_topk(df.sparkSession.createDataFrame([], schema), score_col, k)


def _score_topk(
    rows: DataFrame,
    q_ids: np.ndarray,
    k: int,
    score_col: str,
    batch_scores: Callable[[pd.DataFrame], tuple[np.ndarray, np.ndarray | None]],
) -> DataFrame:
    """The ANN family's one top-k scan: ``rows`` (``neighbor_id`` plus what
    ``batch_scores`` reads) is scanned once with the queries embedded.

    Per Arrow batch, ``batch_scores(pdf)`` returns ``(sims, mask)``: the
    (batch, nq) scores and the (batch, nq) candidate mask, or None when
    every row is a candidate (scores outside the mask are never read). A
    query never matches its own id. Each query keeps its batch-local top-k
    by (score desc, id asc), so the merge exchange carries only
    ``partitions × nq × k`` id+score rows and no vector rides a join or a
    shuffle; :func:`rank_topk` merges the partials exactly."""

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["neighbor_id"].to_numpy()
            sims, mask = batch_scores(pdf)
            frames = []
            for j, qid in enumerate(q_ids):
                keep = ids != qid
                if mask is not None:
                    keep &= mask[:, j]
                cid, csim = ids[keep], sims[keep, j]
                # lexsort keys are last-key-primary
                order = np.lexsort((cid, -csim))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": cid[order],
                            score_col: csim[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    out_schema = _topk_schema(rows, "neighbor_id", score_col)
    return rank_topk(rows.mapInPandas(score, out_schema), score_col, k)


def _quant_norms(M: np.ndarray) -> np.ndarray:
    """Row norms on the quantized grid (the norms :func:`_quant_sims` uses)."""
    return np.sqrt(_qdot(M, M).astype(np.float64) / QUANT_SCALE)


def _batch_vectors(pdf: pd.DataFrame) -> np.ndarray:
    return np.stack(pdf["b_vec"].to_numpy()).astype(np.float64)


def _quant_sims(B: np.ndarray, Q: np.ndarray, qnorms: np.ndarray) -> np.ndarray:
    """(batch, nq) quantized cosine of every batch vector vs every query.

    The per-product floor needs the elementwise product tensor, so queries
    are chunked to bound it at ~2M doubles — deliberately CACHE-sized, not
    RAM-sized: a 16 MB tensor keeps every elementwise pass L3-resident,
    and raising the budget to 32M doubles (256 MB tensors) measured 2.5×
    SLOWER end-to-end on the sf1 stream-labeling gate (70–88 s vs 28 s)
    because each of the ~5 full-tensor passes round-trips DRAM. The
    floored per-products are integers with |value| ≤ 2^40 and 64-dim sums
    ≤ 2^46 — exactly representable in float64 — so summing in float64 is
    bit-identical to the int64 construction the SQL oracles mirror while
    skipping two full-tensor dtype conversions (pinned in
    tests/test_similarity.py)."""
    bnorms = _quant_norms(B)
    out = np.empty((len(B), len(Q)))
    chunk = max(1, int(2_000_000 / (len(B) * B.shape[1] + 1)) or 1)
    for s in range(0, len(Q), chunk):
        Qc = Q[s : s + chunk]  # (c, dim)
        prod = B[:, None, :] * Qc[None, :, :]  # (batch, c, dim)
        d = np.floor(prod * QUANT_SCALE + 0.5).sum(axis=2) / QUANT_SCALE
        out[:, s : s + chunk] = d / (bnorms[:, None] * qnorms[None, s : s + chunk])
    return out


def brute_force_topk(
    base: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Scale shape: the base table is scanned ONCE by :func:`_score_topk`
    with no join and no array shuffle; every base vector is a candidate.

    Returns: query_id, neighbor_id, cosine_sim — k rows per query, ranked by
    (sim desc, neighbor_id) for a deterministic total order.
    """
    q_ids, Q = collect_query_matrix(queries, id_col, vec_col)
    if not len(q_ids):
        return no_neighbors(base, id_col, "cosine_sim", k)
    qnorms = _quant_norms(Q)
    return _score_topk(
        base_scan(base, id_col, vec_col),
        q_ids,
        k,
        "cosine_sim",
        lambda pdf: (_quant_sims(_batch_vectors(pdf), Q, qnorms), None),
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (data-independent)."""
    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bucket id of a vector under the given hyperplanes (0..2^n-1)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(vec, p) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(bit)
    return bucket


def lsh_topk(
    base: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: standard multi-table random-hyperplane LSH.

    Each of ``n_tables`` hash tables buckets every vector by the signs of
    ``n_planes`` projections; a query is scored only against vectors sharing
    a bucket in ≥1 table. Recall for a neighbor at angle θ is
    1 − (1 − (1 − θ/π)^n_planes)^n_tables — at cosine 0.5 with 4×8 ≈ 0.83,
    versus 0.2 for a single table (measured 0.12 on the fixture).

    Scale shape: the :func:`_score_topk` scan of :func:`brute_force_topk`,
    with the shared-bucket candidate mask. Each Arrow batch computes its
    vectors' per-table buckets with one matmul and compares them against
    the (driver-precomputed) query bucket matrix. The base is scanned once;
    no candidate join, no dedup shuffle. (An earlier bucket-equi-join
    formulation shipped a vector array per candidate and ran a dedup +
    join + window pipeline — measured ~2.5× slower at sf0.1.)
    """
    q_ids, Q = collect_query_matrix(queries, id_col, vec_col)
    if not len(q_ids):
        return no_neighbors(base, id_col, "cosine_sim", k)
    qnorms = _quant_norms(Q)

    planes_rows = []
    for t in range(n_tables):
        planes_rows.extend(hyperplanes(dim, n_planes, seed + 1000 * t))
    P = np.array(planes_rows, dtype=np.float64)  # (n_tables*n_planes, dim)
    bit_weights = np.tile(1 << np.arange(n_planes, dtype=np.int64), n_tables)

    def buckets_of(M: np.ndarray) -> np.ndarray:
        signs = (M @ P.T) >= 0.0
        return (signs * bit_weights).reshape(len(M), n_tables, n_planes).sum(axis=2)

    q_buckets = buckets_of(Q)  # (nq, n_tables)

    def sims_in_shared_buckets(pdf: pd.DataFrame):
        B = _batch_vectors(pdf)
        # candidate iff the pair shares a bucket in >= 1 table
        shared = (buckets_of(B)[:, None, :] == q_buckets[None, :, :]).any(axis=2)
        return _quant_sims(B, Q, qnorms), shared

    return _score_topk(
        base_scan(base, id_col, vec_col), q_ids, k, "cosine_sim", sims_in_shared_buckets
    )


def norm_guard(df: DataFrame, what: str) -> DataFrame:
    """Fail loudly on a zero-norm vector (columns must already be named
    ``id``/``vec``; all other columns pass through). Cosine against the
    zero vector is undefined — a NaN similarity silently drops pairs at
    the threshold and ranks nondeterministically in top-k merges. The
    mega-document-guard philosophy: a loud error naming the offending id
    beats silently wrong similarities; callers with legitimate zero
    vectors (empty documents embedded as 0) filter them upstream."""
    nonzero = F.exists(F.col("vec"), lambda x: x != F.lit(0.0))
    ok = F.assert_true(
        nonzero,
        F.concat(
            F.lit(f"{what}: vector "),
            F.col("id").cast("string"),
            F.lit(
                " has zero norm; cosine is undefined. Filter zero-norm"
                " vectors upstream (e.g. sift(norm(vec) > 0))"
            ),
        ),
    )
    # assert_true returns NULL when the predicate holds — the repo's guard
    # idiom (dedup._doc_bytes_guard): a no-op wrapper on the vec column
    others = [c for c in df.columns if c != "vec"]
    return df.select(*others, F.when(ok.isNull(), F.col("vec")).alias("vec"))


def salted_block_tasks(
    work: DataFrame, *, max_block: int, counts_from: DataFrame | None = None
) -> DataFrame:
    """Split oversized blocks into bounded sub-block-pair tasks.

    ``work`` has columns (block, id, vec). A block of b rows gets
    s = ⌈b / max_block⌉ hash sub-blocks; each row is replicated to the s
    task keys (block, min(sub, o), max(sub, o)) for o in 0..s-1 — all
    distinct — so every within-block id pair appears under EXACTLY one
    task key and no task holds more than ~2·(b/s) rows. Blocks at or
    under ``max_block`` keep s = 1 and pass through untouched as task
    (block, 0, 0).

    Returns columns: block, __ka, __kb, id, vec, __sub.
    """
    counts = (counts_from if counts_from is not None else work).groupBy(
        "block"
    ).agg(F.count(F.lit(1)).alias("__n"))
    # Null-safe join — DELIBERATELY different from the fuzzy blocked join
    # (operators/skew.py, plain `==`): there, a NULL block key means "no
    # block ⇒ never a candidate" and NULL rows must NOT pair, matching the
    # DuckDB oracles. Here NULL is a real scored group: groupBy keeps a
    # NULL-block group, but an equi-join on `block` would silently drop
    # those rows — the pre-salting groupBy(block).applyInPandas plan
    # scored the NULL group, so callers passing a nullable block_col must
    # not lose pairs here. eqNullSafe preserves that contract.
    counts = counts.withColumnRenamed("block", "__cblock")
    keyed = (
        work.join(
            F.broadcast(counts),
            F.col("block").eqNullSafe(F.col("__cblock")),
        )
        .drop("__cblock")
        .withColumn(
            "__s", F.ceil(F.col("__n") / F.lit(max_block)).cast("int")
        )
        .withColumn(
            "__sub", F.pmod(F.xxhash64(F.col("id")), F.col("__s")).cast("int")
        )
    )
    task = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.col("__s") - F.lit(1)),
            lambda o: F.struct(
                F.least(F.col("__sub"), o).alias("ka"),
                F.greatest(F.col("__sub"), o).alias("kb"),
            ),
        )
    )
    return keyed.select(
        "block", "id", "vec", "__sub", task.alias("__t")
    ).select(
        "block",
        F.col("__t.ka").alias("__ka"),
        F.col("__t.kb").alias("__kb"),
        "id",
        "vec",
        "__sub",
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.9,
    max_block: int = 2048,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Pairs are generated inside blocks (an existing category column, or an
    LSH bucket when ``block_col`` is None) so the global cross product never
    materializes. Scoring is block-local ``applyInPandas``: each block's
    vectors cross Arrow ONCE and all its pairs are scored as chunked numpy
    tensor ops — a pair self-join would instead ship two arrays per pair
    through the shuffle (measured ~8× slower at 5k vectors).

    **Oversized blocks are salted**: a block of b > ``max_block`` vectors
    is hash-split into s = ⌈b / max_block⌉ sub-blocks, and each of the
    s·(s+1)/2 sub-block combinations becomes its own task (a vector is
    replicated to the s tasks it participates in). Every within-block pair
    lands in exactly one task — (i, j) goes to task (min(subᵢ, subⱼ),
    max(subᵢ, subⱼ)) — so results are identical to the unsalted plan, but
    no single task ever does more than ~max_block² comparison work: one
    giant label/bucket no longer serializes onto one core. Shuffles:
    block-count agg + the task shuffle, both ids+vecs only.

    Returns: id_a, id_b (id_a < id_b), cosine_sim.
    """
    if block_col is not None:
        raw = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.col(block_col).alias("block"),
        )
    else:
        planes = hyperplanes(64, 4)
        raw = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ).withColumn("block", lsh_bucket(F.col("vec"), planes))
    raw = norm_guard(raw, "embedding_near_dup_pairs")
    # volume-derived width (see ivf_index): this spread only feeds the
    # task-key exchange's map side; the pair scoring parallelism comes
    # from the salted (block, sub) exchange itself
    work = spread_small_scan(raw, bytes_per_task=SPREAD_BYTES_PER_TASK)

    id_type = dict(work.dtypes)["id"]
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine_sim double"
    # block sizes come from the UNspread scan: the counts subtree then
    # prunes to the block column only and adds no repartition exchange
    tasks = salted_block_tasks(work, max_block=max_block, counts_from=raw)

    def empty() -> pd.DataFrame:
        return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}).astype(
            {"cosine_sim": "float64"}
        )

    def finish(out_a: list, out_b: list, out_s: list) -> pd.DataFrame:
        if not out_a:
            return empty()
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    def within(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty()
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)[order]
        norms = _quant_norms(V)
        out_a, out_b, out_s = [], [], []
        # chunk rows so the (chunk, n, dim) product tensor stays ~2M doubles
        chunk = max(1, 2_000_000 // (n * V.shape[1]))
        for s in range(0, n - 1, chunk):
            e = min(s + chunk, n - 1)
            prod = V[s:e, None, :] * V[None, :, :]  # (c, n, dim)
            d = (
                np.floor(prod * QUANT_SCALE + 0.5).astype(np.int64).sum(axis=2)
            ).astype(np.float64) / QUANT_SCALE
            sims = d / (norms[s:e, None] * norms[None, :])
            for i in range(s, e):
                row = sims[i - s, i + 1 :]
                hit = np.nonzero(row >= threshold)[0] + i + 1
                if len(hit):
                    out_a.append(np.full(len(hit), ids[i]))
                    out_b.append(ids[hit])
                    out_s.append(row[hit - i - 1])
        return finish(out_a, out_b, out_s)

    def cross(A: pd.DataFrame, B: pd.DataFrame) -> pd.DataFrame:
        if not len(A) or not len(B):
            return empty()
        ids_a = A["id"].to_numpy()
        ids_b = B["id"].to_numpy()
        VA = np.stack(A["vec"].to_numpy()).astype(np.float64)
        VB = np.stack(B["vec"].to_numpy()).astype(np.float64)
        na, nb = _quant_norms(VA), _quant_norms(VB)
        out_a, out_b, out_s = [], [], []
        chunk = max(1, 2_000_000 // (len(B) * VA.shape[1]))
        for s in range(0, len(A), chunk):
            e = min(s + chunk, len(A))
            prod = VA[s:e, None, :] * VB[None, :, :]  # (c, |B|, dim)
            d = (
                np.floor(prod * QUANT_SCALE + 0.5).astype(np.int64).sum(axis=2)
            ).astype(np.float64) / QUANT_SCALE
            sims = d / (na[s:e, None] * nb[None, :])
            ii, jj = np.nonzero(sims >= threshold)
            if len(ii):
                xa, xb = ids_a[ii + s], ids_b[jj]
                out_a.append(np.minimum(xa, xb))
                out_b.append(np.maximum(xa, xb))
                out_s.append(sims[ii, jj])
        return finish(out_a, out_b, out_s)

    def per_task(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ka, kb = int(key[1]), int(key[2])
        if ka == kb:
            return within(pdf)
        sub = pdf["__sub"].to_numpy()
        return cross(pdf[sub == ka], pdf[sub == kb])

    return tasks.groupBy("block", "__ka", "__kb").applyInPandas(
        per_task, out_schema
    )
