"""Driver-side mirrors of distributed operators: the independent oracles
the differential tests compare against. Each keeps its own arithmetic
(the same quantized grids and tie rules as the operator, written out
again), so a change to an operator's shared kernel cannot move its oracle
with it. Only tests import this module.
"""

from __future__ import annotations

import re

import numpy as np

from stupidb_spark.functions.text import _ROLLING_MOD
from stupidb_spark.operators.bpe import (
    _CANDIDATES_PER_BATCH,
    _WORD_RE,
    END_OF_WORD,
    BpeMerge,
    _next_batch_cap,
    _select_batch,
)
from stupidb_spark.operators.ivf import REFINE_SCALE, _normalize
from stupidb_spark.operators.projection import _PCA_S1, _PCA_S2, PCAModel
from stupidb_spark.operators.similarity import QUANT_SCALE, _qdot, _quant_sims


def ivf_refine_reference(
    V: np.ndarray, centroids: np.ndarray, *, iters: int = 1, quant: bool = False
) -> np.ndarray:
    """Numpy mirror of ``ivf.py::ivf_refine`` with the identical
    quantized-sum arithmetic. ``quant=True`` mirrors ``assign="quantized"``
    (its own per-centroid grid loop); False mirrors ``assign="float"``.
    """
    C = centroids.astype(np.float64).copy()
    X = V.astype(np.float64)
    for _ in range(iters):
        if quant:
            nm = np.sqrt(_qdot(X, X).astype(np.float64) / QUANT_SCALE)
            cn = np.sqrt(
                np.array(
                    [
                        _qdot(C[j][None, :], C[j][None, :]).astype(np.float64)[0]
                        for j in range(len(C))
                    ]
                )
                / QUANT_SCALE
            )
            sims = np.empty((len(X), len(C)))
            for j in range(len(C)):
                d = (
                    _qdot(X, np.broadcast_to(C[j], X.shape)).astype(np.float64)
                    / QUANT_SCALE
                )
                sims[:, j] = d / (nm * cn[j])
            assign = np.argmax(sims, axis=1)
        else:
            assign = np.argmax(_normalize(X) @ _normalize(C).T, axis=1)
        Q = np.floor(X * REFINE_SCALE + 0.5).astype(np.int64)
        for c in range(len(C)):
            members = Q[assign == c]
            if len(members):
                C[c] = members.sum(axis=0, dtype=np.int64) / len(members) / REFINE_SCALE
    return C


def knn_join_reference(
    base_ids: np.ndarray,
    base_vecs: np.ndarray,
    query_ids: np.ndarray,
    query_vecs: np.ndarray,
    *,
    k_neighbors: int,
    self_join: bool,
) -> list[tuple]:
    """Exact brute-force mirror of ``knn.py::knn_join`` with the identical
    quantized arithmetic and (sim DESC, id ASC) tie-break — the ground
    truth for the exactness (n_probe = n_cells) and recall tests.

    Returns sorted ``(query_id, rank, neighbor_id, sim)`` tuples.
    """
    B = base_vecs.astype(np.float64)
    Q = query_vecs.astype(np.float64)
    qnorms = np.sqrt(_qdot(Q, Q).astype(np.float64) / QUANT_SCALE)
    sims = _quant_sims(B, Q, qnorms)  # (nB, nQ)
    out = []
    for j in range(len(query_ids)):
        col = sims[:, j]
        mask = (
            base_ids != query_ids[j]
            if self_join
            else np.ones(len(base_ids), bool)
        )
        ids_j = base_ids[mask]
        col_j = col[mask]
        order = np.lexsort((ids_j, -col_j))[:k_neighbors]
        for r, o in enumerate(order):
            out.append(
                (query_ids[j].item(), r + 1, ids_j[o].item(), float(col_j[o]))
            )
    return sorted(out)


def semantic_dedup_reference(
    ids: np.ndarray,
    vecs: np.ndarray,
    centroids: np.ndarray,
    *,
    threshold: float,
) -> dict[int, tuple[int, bool]]:
    """Numpy oracle for ``semantic.py::semantic_dedup`` (float
    assignment) — same quantized-cosine arithmetic, brute-force within-cell
    pairs, union-find components, identical keep rule.

    Returns ``{id: (component, keep)}``.
    """
    def qdot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        return np.floor(A * B * QUANT_SCALE + 0.5).astype(np.int64).sum(axis=1)

    def qcos(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        d = qdot(A, B).astype(np.float64) / QUANT_SCALE
        na = np.sqrt(qdot(A, A).astype(np.float64) / QUANT_SCALE)
        nb = np.sqrt(qdot(B, B).astype(np.float64) / QUANT_SCALE)
        return d / (na * nb)

    X = vecs.astype(np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Cn = centroids.astype(np.float64)
    cn = np.linalg.norm(Cn, axis=1, keepdims=True)
    cn[cn == 0] = 1.0
    assign = np.argmax((X / norms) @ (Cn / cn).T, axis=1)

    parent = {int(i): int(i) for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id root to mirror connected_components' label contract
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    for c in np.unique(assign):
        m = np.where(assign == c)[0]
        for ii in range(len(m)):
            a = m[ii]
            if len(m) > ii + 1:
                sims = qcos(
                    np.repeat(X[a][None, :], len(m) - ii - 1, axis=0),
                    X[m[ii + 1 :]],
                )
                for jj, s in zip(m[ii + 1 :], sims):
                    if s >= threshold:
                        union(int(ids[a]), int(ids[jj]))

    csim = qcos(X, centroids.astype(np.float64)[assign])
    comp_of = {int(i): find(int(i)) for i in ids}
    # keep = argmin (centroid_sim, id) per component
    best: dict[int, tuple[float, int]] = {}
    for idx, i in enumerate(ids):
        key = comp_of[int(i)]
        cand = (float(csim[idx]), int(i))
        if key not in best or cand < best[key]:
            best[key] = cand
    return {
        int(i): (comp_of[int(i)], best[comp_of[int(i)]][1] == int(i))
        for i in ids
    }


def pca_reference(
    X: np.ndarray, model: PCAModel
) -> np.ndarray:
    """Numpy twin of ``projection.py::pca_project`` (same float64 ops in
    the same order)."""
    return (X.astype(np.float64) - model.mean) @ model.components.T


def pca_train_full_reference(X: np.ndarray, *, k: int = 8) -> PCAModel:
    """Numpy mirror of ``projection.py::pca_train_full`` with the
    identical integer-grid moments and float64 fold."""
    M = X.astype(np.float64)
    n, d = M.shape
    U = np.floor(M * _PCA_S1 + 0.5).astype(np.int64)
    S = U.sum(axis=0, dtype=np.int64)
    iu, ju = np.triu_indices(d)
    P = np.zeros(len(iu), dtype=np.int64)
    for r in range(n):
        P += np.floor(M[r][iu] * M[r][ju] * _PCA_S2 + 0.5).astype(np.int64)
    mean = S.astype(np.float64) / _PCA_S1 / n
    cov = np.zeros((d, d))
    for idx in range(len(iu)):
        i, j = int(iu[idx]), int(ju[idx])
        c = (
            int(P[idx]) / _PCA_S2
            - (int(S[i]) / _PCA_S1) * (int(S[j]) / _PCA_S1) / n
        ) / (n - 1)
        cov[i, j] = cov[j, i] = c
    w, V = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comp = V[:, order].T.copy()
    for i in range(comp.shape[0]):
        jmax = int(np.argmax(np.abs(comp[i])))
        if comp[i, jmax] < 0:
            comp[i] = -comp[i]
    return PCAModel(mean=mean, components=comp, explained_var=w[order].copy())


def rolling_hash_py(text: str) -> int:
    """Pure-Python twin of ``functions/text.py::fingerprint_rolling``."""
    norm = re.sub(r"\s+", " ", text.lower()).strip()
    acc = 0
    for ch in norm:
        acc = (acc * 31 + ord(ch)) % _ROLLING_MOD
    return acc


def bpe_train_reference(
    texts: list[str],
    *,
    n_merges: int = 64,
    batch_size: int = 1,
    adaptive_batch: bool = False,
    max_batch_size: int = 256,
    min_pair_count: int = 2,
) -> tuple[list[BpeMerge], dict[str, list[str]]]:
    """Pure-Python mirror of ``bpe.py::bpe_train``: identical tokenization,
    counting, ``(count DESC, left, right)`` selection order, candidate
    cutoff, disjoint-batch rule, adaptive-cap policy, and left-to-right
    fold application. Returns ``(merges, final word→symbols state)``."""
    counts: dict[str, int] = {}
    for t in texts:
        for w in _WORD_RE.findall((t or "").lower()):
            counts[w] = counts.get(w, 0) + 1
    state = {w: list(w) + [END_OF_WORD] for w in counts}

    merges: list[BpeMerge] = []
    cap = batch_size
    while len(merges) < n_merges:
        collect_k = max(16, _CANDIDATES_PER_BATCH * cap)
        pair_counts: dict[tuple[str, str], int] = {}
        for w, syms in state.items():
            c = counts[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        top = sorted(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[:collect_k]
        request = min(cap, n_merges - len(merges))
        batch = _select_batch(
            [{"a": a, "b": b, "c": c} for (a, b), c in top],
            batch_size=request,
            min_pair_count=min_pair_count,
        )
        if not batch:
            break
        cap = _next_batch_cap(
            cap, len(batch), request, adaptive_batch, batch_size, max_batch_size
        )
        for a, b, merged, c in batch:
            merges.append(BpeMerge(len(merges), a, b, merged, c))
        rules = {(a, b): m for a, b, m, _ in batch}
        for w, syms in state.items():
            acc: list[str] = []
            for s in syms:
                m = rules.get((acc[-1], s)) if acc else None
                if m is not None:
                    acc[-1] = m
                else:
                    acc.append(s)
            state[w] = acc
    return merges, state
