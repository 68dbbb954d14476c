"""Product quantization (PQ) for embedding columns — the memory-compression
scale path of the ANN family (next to brute force, multi-table LSH, and
IVF-Flat in ``operators/similarity.py`` / ``operators/ivf.py``).

A 64-dim float32 embedding is 256 bytes; its PQ code with ``m=16``
subspaces of 256 centroids is 16 bytes at rest (one uint8 per subspace) — a
16× compression that turns a 100 TB embedding corpus into a ~6 TB code
table that fits hot storage and scans at memory bandwidth. (Defaults tuned
on the fixture: m=16, k=256 measures recall@10 ≈ 0.86 vs exact brute force;
m=8/k=256 trades recall 0.78 for 32×.)
The classic trade (Jégou et al., "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011): split each vector into ``m`` subvectors, k-means
each subspace independently into ``k`` centroids, store per-subspace
centroid ids; queries score codes with an asymmetric distance computation
(ADC) — one (m × k) lookup table of exact query-to-centroid dot products per
query, then a code's score is ``m`` table lookups, no float vector needed.

Same lifecycle split as IVF (train / encode / score), same driver-side
discipline:

- :func:`pq_train` fits codebooks on a bounded deterministic sample (the
  ``n_train`` lowest-id vectors) — model size is m·k·(dim/m) floats,
  independent of table size.
- :func:`pq_encode` is one map-only pass producing (id, code) — the only
  thing that ever needs to be stored or scanned again.
- :func:`pq_topk` embeds the query matrix AND the codebooks in a
  ``mapInPandas`` scorer over the CODE table (the brute-force/IVF mask-scorer
  shape): per Arrow batch, scores are one numpy gather+sum over the ADC
  tables, batch-local top-k, ids-only merge exchange.

Approximation contract: PQ scores are approximate (each subvector snaps to
its nearest centroid); recall@k against exact brute force is pinned in
``tests/test_similarity.py``. Exactness is NOT claimed — no DuckDB oracle,
mirroring ``ann_topk_lsh``/``ann_topk_ivf``.

Determinism: sample = lowest ids, seeds = first k sample rows per subspace,
fixed iteration count — same inputs, same codebooks, same codes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stupidb_spark.operators.similarity import (
    SPREAD_BYTES_PER_TASK,
    collect_query_matrix,
    no_neighbors,
    rank_topk,
    spread_small_scan,
)


def pq_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    k: int = 256,
    iters: int = 8,
    n_train: int = 2048,
) -> np.ndarray:
    """Fit per-subspace codebooks: (m, k, dim/m) centroid tensor.

    Lloyd's k-means runs independently per subspace on the ``n_train``
    lowest-id vectors, vectorized in numpy on the driver (the quantizer
    needs a distribution sketch, not the data set — identical reasoning to
    ``ivf_train``).
    """
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .limit(n_train)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"pq_train needs at least k={k} training vectors; the table "
            f"(capped at n_train={n_train}) yielded {len(rows)} — lower k "
            "or train on more data"
        )
    X = np.stack([np.array(r._v, dtype=np.float64) for r in rows])
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, k, dsub))
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        cents = Xs[:k].copy()
        x_sq = (Xs**2).sum(axis=1)
        for _ in range(iters):
            # argmin of ||x-c||^2 = x² - 2x·c + c²; x² is rank-constant, the
            # cross term is one matmul — no (n, k, dsub) tensor
            d2 = x_sq[:, None] - 2.0 * (Xs @ cents.T) + (cents**2).sum(axis=1)[None, :]
            assign = np.argmin(d2, axis=1)
            sums = np.zeros((k, dsub))
            np.add.at(sums, assign, Xs)
            counts = np.bincount(assign, minlength=k)
            nz = counts > 0
            cents[nz] = sums[nz] / counts[nz, None]
        books[s] = cents
    return books


def pq_encode(
    base: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its per-subspace nearest-centroid ids — one
    map-only pass, output (neighbor_id, code array<int>). At scale THIS is
    the stored index table (16× smaller than the vectors at rest); write it
    partitioned/bucketed like any fact."""
    m, k, dsub = codebooks.shape
    id_type = dict(base.dtypes)[id_col]

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            codes = np.empty((len(M), m), dtype=np.int32)
            for s in range(m):
                Xs = M[:, s * dsub : (s + 1) * dsub]
                # x² is row-constant, so argmin needs only -2x·c + c²
                d2 = (codebooks[s] ** 2).sum(axis=1)[None, :] - 2.0 * (
                    Xs @ codebooks[s].T
                )
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {"neighbor_id": pdf["_id"].to_numpy(), "code": list(codes)}
            )

    return spread_small_scan(
        base.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        bytes_per_task=SPREAD_BYTES_PER_TASK,
    ).mapInPandas(encode, f"neighbor_id {id_type}, code array<int>")


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """ADC top-k over a PQ code table: approximate cosine ranking without
    ever touching a base vector.

    Per query the driver precomputes an (m, k) table of dot products between
    the query subvector and every centroid, normalized by the query norm and
    the CODE's reconstructed norm; each Arrow batch of codes then scores as
    ``m`` numpy gathers + a sum — no joins, ids-only merge exchange.

    Returns: query_id, neighbor_id, pq_score, rk (≤ k rows per query).
    """
    m, kc, dsub = codebooks.shape
    id_type = dict(codes.dtypes)["neighbor_id"]
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, pq_score double"
    q_ids, Q = collect_query_matrix(queries, id_col, vec_col)
    if not len(q_ids):
        return no_neighbors(codes, out_schema, "pq_score", k)
    qnorms = np.linalg.norm(Q, axis=1)
    qnorms[qnorms == 0] = 1.0
    # luts[j, s, c] = <query_j subspace s, centroid c>
    luts = np.einsum(
        "qsd,scd->qsc", Q.reshape(len(Q), m, dsub), codebooks
    )
    # reconstructed-norm contribution per (s, c): ||centroid||^2
    cent_sq = (codebooks**2).sum(axis=2)  # (m, kc)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["code"].to_numpy()).astype(np.int64)  # (batch, m)
            ids = pdf["neighbor_id"].to_numpy()
            sub_idx = np.arange(m)
            # reconstructed norm of each code (exact over centroids)
            rec_sq = cent_sq[sub_idx[None, :], C].sum(axis=1)
            rec_norm = np.sqrt(rec_sq)
            rec_norm[rec_norm == 0] = 1.0
            frames = []
            for j, qid in enumerate(q_ids):
                dots = luts[j][sub_idx[None, :], C].sum(axis=1)
                sims = dots / (rec_norm * qnorms[j])
                mask = ids != qid
                cid, csim = ids[mask], sims[mask]
                order = np.lexsort((cid, -csim))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": cid[order],
                            "pq_score": csim[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    partials = codes.mapInPandas(score, out_schema)
    return rank_topk(partials, "pq_score", k)


def pq_search(
    base: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 16,
    n_centroids: int = 256,
) -> DataFrame:
    """One-shot train + encode + ADC top-k (the composed form; a deployment
    trains/encodes once and calls :func:`pq_topk` per query batch)."""
    books = pq_train(base, id_col=id_col, vec_col=vec_col, m=m, k=n_centroids)
    codes = pq_encode(base, books, id_col=id_col, vec_col=vec_col)
    return pq_topk(codes, books, queries, id_col=id_col, vec_col=vec_col, k=k)


# ---------------------------------------------------------------------------
# IVF-PQ: the composed 100 TB layout — IVF cell pruning over PQ code scoring.
# The stored table is (id, cell, code): 1 int + m uint8 per vector; a query
# scans only its probed cells' partitions and never touches a float vector.
# ---------------------------------------------------------------------------


def ivfpq_build(
    base: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 16,
    k_codes: int = 256,
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """Train both quantizers (coarse cells + PQ codebooks, each on a bounded
    driver-side sample) and produce the (id, cell, code) table in ONE
    map-only pass — cell assignment and subspace encoding share the same
    Arrow batch. Returns (cell_centroids, codebooks, table)."""
    from stupidb_spark.operators.ivf import ivf_train

    centroids = ivf_train(base, id_col=id_col, vec_col=vec_col, k=n_cells)
    books = pq_train(base, id_col=id_col, vec_col=vec_col, m=m, k=k_codes)
    table = ivfpq_encode(base, centroids, books, id_col=id_col, vec_col=vec_col)
    return centroids, books, table


def ivfpq_encode(
    vectors: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode ``vectors`` against FROZEN quantizers: one map-only pass where
    cell assignment and subspace encoding share the same Arrow batch,
    yielding (neighbor_id, cell, code). Used by :func:`ivfpq_build` for the
    initial table and by :func:`ivfpq_append` for deltas."""
    mm, kk, dsub = books.shape
    Cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    id_type = dict(vectors.dtypes)[id_col]

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            cells = np.argmax(Mn @ Cn.T, axis=1).astype(np.int32)
            codes = np.empty((len(M), mm), dtype=np.int32)
            for s in range(mm):
                Xs = M[:, s * dsub : (s + 1) * dsub]
                d2 = (books[s] ** 2).sum(axis=1)[None, :] - 2.0 * (Xs @ books[s].T)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["_id"].to_numpy(),
                    "cell": cells,
                    "code": list(codes),
                }
            )

    return spread_small_scan(
        vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        bytes_per_task=SPREAD_BYTES_PER_TASK,
    ).mapInPandas(enc, f"neighbor_id {id_type}, cell int, code array<int>")


def ivfpq_append(
    index: tuple[np.ndarray, np.ndarray, DataFrame],
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """Append to an IVF-PQ index without retraining either quantizer: the
    delta is encoded with the frozen cells + codebooks (one map-only pass
    over the new vectors only) and unioned with the existing code table.

    Same drift/rebalance contract as :func:`~stupidb_spark.operators.ivf
    .ivf_append`, with one extra term: PQ quantization error also grows if
    the delta's per-subspace distribution drifts from the training sample,
    which shows up as recall decay (never wrong ids being ranked above
    exactly-scored ones — ADC scores just get noisier). Retrain when
    appended volume rivals the trained corpus or monitored recall drops.
    """
    centroids, books, table = index
    delta = ivfpq_encode(
        new_vectors, centroids, books, id_col=id_col, vec_col=vec_col
    )
    return (centroids, books, table.unionByName(delta))


def ivfpq_topk(
    base: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 6,
    m: int = 16,
    k_codes: int = 256,
) -> DataFrame:
    """IVF-PQ top-k: statically prune to the query set's probed cells, then
    ADC-score codes with the per-query cell-membership mask — the IVF probe
    shape with PQ lookup tables instead of float dot products. Recall
    compounds both approximations; pinned in tests."""
    from stupidb_spark.operators.ivf import _probe_cells

    id_type = dict(base.dtypes)[id_col]
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, pq_score double"
    q_ids, Q = collect_query_matrix(queries, id_col, vec_col)
    if not len(q_ids):
        return no_neighbors(base, out_schema, "pq_score", k)
    centroids, books, table = ivfpq_build(
        base,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        m=m,
        k_codes=k_codes,
    )
    mm, kk, dsub = books.shape
    cells = _probe_cells(Q, centroids, n_probe)
    probe_mask = np.zeros((len(q_ids), len(centroids)), dtype=bool)
    for j, row in enumerate(cells):
        probe_mask[j, row] = True
    qnorms = np.linalg.norm(Q, axis=1)
    qnorms[qnorms == 0] = 1.0
    luts = np.einsum("qsd,scd->qsc", Q.reshape(len(Q), mm, dsub), books)
    cent_sq = (books**2).sum(axis=2)

    def score(batches):
        sub_idx = np.arange(mm)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["code"].to_numpy()).astype(np.int64)
            ids = pdf["neighbor_id"].to_numpy()
            cell_v = pdf["cell"].to_numpy()
            rec_norm = np.sqrt(cent_sq[sub_idx[None, :], C].sum(axis=1))
            rec_norm[rec_norm == 0] = 1.0
            frames = []
            for j, qid in enumerate(q_ids):
                mask = probe_mask[j, cell_v] & (ids != qid)
                if not mask.any():
                    continue
                dots = luts[j][sub_idx[None, :], C[mask]].sum(axis=1)
                sims = dots / (rec_norm[mask] * qnorms[j])
                cid = ids[mask]
                order = np.lexsort((cid, -sims))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": cid[order],
                            "pq_score": sims[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    probed = sorted({int(c) for row in cells for c in row})
    partials = table.filter(F.col("cell").isin(probed)).mapInPandas(
        score, out_schema
    )
    return rank_topk(partials, "pq_score", k)
