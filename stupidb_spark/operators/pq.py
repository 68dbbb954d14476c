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
  ``n_train`` lowest-id vectors, ``similarity.py::collect_train_matrix``) —
  model size is m·k·(dim/m) floats, independent of table size.
- :func:`pq_encode` is one map-only pass producing (id, code) — the only
  thing that ever needs to be stored or scanned again. :func:`_pq_codes` is
  the one encoder; :func:`ivfpq_encode` uses it too.
- :func:`pq_topk` is the ANN family's one top-k scan
  (``similarity.py::_score_topk``) over the CODE table, with ADC scores:
  per Arrow batch, one numpy gather+sum over the lookup tables
  (:func:`_adc_tables`, :func:`_adc_sims`, shared with :func:`ivfpq_topk`).

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

from stupidb_spark.operators.ivf import (
    IVF_ITERS,
    IVF_TRAIN_ROWS,
    _cosine_lloyd,
    _nearest_cells,
    _probe_mask,
)
from stupidb_spark.operators.similarity import (
    _batch_vectors,
    _score_topk,
    base_scan,
    collect_query_matrix,
    collect_train_matrix,
    no_neighbors,
)

# pq_train's sample size and Lloyd iterations; ivfpq_build trains its
# codebooks with the same
PQ_TRAIN_ROWS, PQ_ITERS = 2048, 8


def _pq_codebooks(X: np.ndarray, m: int, k: int, iters: int) -> np.ndarray:
    """Per-subspace L2 Lloyd's k-means on the training sample ``X``: seeds
    are the first ``k`` rows, the update is the members' mean."""
    if len(X) < k:
        raise ValueError(
            f"pq_train needs at least k={k} training vectors; the sample "
            f"yielded {len(X)} — lower k or train on more data"
        )
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


def pq_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    k: int = 256,
    iters: int = PQ_ITERS,
    n_train: int = PQ_TRAIN_ROWS,
) -> np.ndarray:
    """Fit per-subspace codebooks: (m, k, dim/m) centroid tensor.

    Lloyd's k-means runs independently per subspace on the ``n_train``
    lowest-id vectors, vectorized in numpy on the driver (the quantizer
    needs a distribution sketch, not the data set — identical reasoning to
    ``ivf_train``).
    """
    X = collect_train_matrix(df, id_col, vec_col, n_train)
    return _pq_codebooks(X, m, k, iters)


def _pq_codes(M: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(rows, m) int32 PQ codes of the vectors ``M``: per subspace, the id
    of the nearest codebook centroid."""
    m, _, dsub = books.shape
    codes = np.empty((len(M), m), dtype=np.int32)
    for s in range(m):
        Xs = M[:, s * dsub : (s + 1) * dsub]
        # x² is row-constant, so argmin needs only -2x·c + c²
        d2 = (books[s] ** 2).sum(axis=1)[None, :] - 2.0 * (Xs @ books[s].T)
        codes[:, s] = np.argmin(d2, axis=1)
    return codes


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
    partitioned/bucketed like any fact. A NULL vector is not encoded."""
    id_type = dict(base.dtypes)[id_col]

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = _pq_codes(_batch_vectors(pdf), codebooks)
            yield pd.DataFrame(
                {"neighbor_id": pdf["neighbor_id"].to_numpy(), "code": list(codes)}
            )

    return base_scan(base, id_col, vec_col).mapInPandas(
        encode, f"neighbor_id {id_type}, code array<int>"
    )


def _adc_tables(
    Q: np.ndarray, books: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-query ADC lookup tables ``luts[j, s, c]`` = <query j's subspace s,
    centroid c>, the per-(subspace, centroid) ``||centroid||²`` that sums to
    a code's reconstructed squared norm, and the query norms."""
    m, _, dsub = books.shape
    qnorms = np.linalg.norm(Q, axis=1)
    qnorms[qnorms == 0] = 1.0
    luts = np.einsum("qsd,scd->qsc", Q.reshape(len(Q), m, dsub), books)
    return luts, (books**2).sum(axis=2), qnorms


def _adc_sims(
    pdf: pd.DataFrame, tables: tuple, mask: np.ndarray | None = None
) -> np.ndarray:
    """(batch, nq) ADC scores of the batch's codes: per query, ``m`` table
    gathers and a sum over the query norm times the code's reconstructed
    norm. With a (batch, nq) ``mask`` only masked entries are computed."""
    luts, cent_sq, qnorms = tables
    C = np.stack(pdf["code"].to_numpy()).astype(np.int64)  # (batch, m)
    sub_idx = np.arange(C.shape[1])
    rec_norm = np.sqrt(cent_sq[sub_idx[None, :], C].sum(axis=1))
    rec_norm[rec_norm == 0] = 1.0
    # column-major, and integer rows under a mask: each query's scores are
    # one contiguous column, and the mask is scanned once per query, so the
    # masked IVF-PQ batch costs no more than scoring only its candidates
    sims = np.empty((len(C), len(luts)), order="F")
    for j in range(len(luts)):
        rows = slice(None) if mask is None else np.flatnonzero(mask[:, j])
        dots = luts[j][sub_idx[None, :], C[rows]].sum(axis=1)
        sims[rows, j] = dots / (rec_norm[rows] * qnorms[j])
    return sims


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
    the query subvector and every centroid (:func:`_adc_tables`), normalized
    by the query norm and the CODE's reconstructed norm; the shared top-k
    scan (``similarity.py::_score_topk``) then scores each Arrow batch of
    codes as ``m`` numpy gathers + a sum — no joins, ids-only merge
    exchange.

    Returns: query_id, neighbor_id, pq_score, rk (≤ k rows per query).
    """
    q_ids, Q = collect_query_matrix(queries, id_col, vec_col)
    if not len(q_ids):
        return no_neighbors(codes, "neighbor_id", "pq_score", k)
    tables = _adc_tables(Q, codebooks)
    return _score_topk(
        codes, q_ids, k, "pq_score", lambda pdf: (_adc_sims(pdf, tables), None)
    )


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
    """Train both quantizers (coarse cells + PQ codebooks) from ONE bounded
    driver-side sample and produce the (id, cell, code) table in ONE
    map-only pass — cell assignment and subspace encoding share the same
    Arrow batch. Returns (cell_centroids, codebooks, table), equal to
    ``ivf_train`` and :func:`pq_train` at their defaults: both samples are
    lowest-id prefixes, so the larger one holds the smaller."""
    X = collect_train_matrix(base, id_col, vec_col, max(IVF_TRAIN_ROWS, PQ_TRAIN_ROWS))
    cells = X[:IVF_TRAIN_ROWS]
    centroids = _cosine_lloyd(cells, np.arange(min(n_cells, len(cells))), IVF_ITERS)
    books = _pq_codebooks(X[:PQ_TRAIN_ROWS], m, k_codes, PQ_ITERS)
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
    initial table and by :func:`ivfpq_append` for deltas. A NULL vector is
    not encoded."""
    id_type = dict(vectors.dtypes)[id_col]

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = _batch_vectors(pdf)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cell": _nearest_cells(M, centroids)[:, 0],
                    "code": list(_pq_codes(M, books)),
                }
            )

    return base_scan(vectors, id_col, vec_col).mapInPandas(enc, f"neighbor_id {id_type}, cell int, code array<int>")


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
    ADC-score codes with the per-query cell-membership mask — the shared
    top-k scan (``similarity.py::_score_topk``) with the IVF probe mask
    (``ivf.py::_probe_mask``) and the PQ lookup tables instead of float dot
    products. Recall compounds both approximations; pinned in tests."""
    q_ids, Q = collect_query_matrix(queries, id_col, vec_col)
    if not len(q_ids):
        return no_neighbors(base, id_col, "pq_score", k)
    centroids, books, table = ivfpq_build(
        base,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        m=m,
        k_codes=k_codes,
    )
    probe_mask, probed = _probe_mask(Q, centroids, n_probe)
    tables = _adc_tables(Q, books)

    def adc_in_probed_cells(pdf: pd.DataFrame):
        mask = probe_mask[:, pdf["cell"].to_numpy()].T
        return _adc_sims(pdf, tables, mask), mask

    return _score_topk(
        table.filter(F.col("cell").isin(probed)),
        q_ids,
        k,
        "pq_score",
        adc_in_probed_cells,
    )
