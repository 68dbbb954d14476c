"""Dimensionality reduction for embedding columns: sample-trained PCA with
a map-only distributed transform — the standard pre-step before ANN
indexing at corpus scale (project 768-d encoder outputs to 64-128-d, then
IVF/PQ the projected vectors; index memory and distance math shrink by the
same factor while recall stays near-flat).

Training follows the ivf_train contract (`operators/ivf.py:78`): the
principal axes are a distribution sketch, not the data set, so the driver
fits them on the ``n_train`` lowest-id vectors — one bounded TakeOrdered
collect, O(n_train · dim) driver memory — and everything downstream is a
broadcast of the (k × dim) component matrix into a vectorized Arrow
transform. No shuffle anywhere: the output partitioning is the input's.

Determinism: the sample is id-ordered (not a random split), the SVD runs
in float64 on the driver, and each component's sign is canonicalized
(largest-|loading| coordinate forced positive), so the projection matrix —
and therefore every projected vector — is reproducible run-to-run and
matches the numpy reference in tests bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PCAModel:
    """Fitted projection: ``mean`` (dim,), ``components`` (k, dim) rows =
    principal axes (descending explained variance), ``explained_var`` (k,)
    the corresponding singular-value variances."""

    mean: np.ndarray
    components: np.ndarray
    explained_var: np.ndarray


def pca_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_train: int = 4096,
) -> PCAModel:
    """Fit ``k`` principal axes on the ``n_train`` lowest-id vectors."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .limit(n_train)
        .collect()
    )
    X = np.stack([np.array(r._v, dtype=np.float64) for r in rows])
    mean = X.mean(axis=0)
    Xc = X - mean
    # full_matrices=False: Vt is (min(n, dim), dim); rows are the axes
    _, s, Vt = np.linalg.svd(Xc, full_matrices=False)
    comp = Vt[:k]
    # sign canonicalization: numpy's SVD sign is arbitrary per component —
    # force the largest-|loading| coordinate positive so retrains on the
    # same sample reproduce the identical matrix
    for i in range(comp.shape[0]):
        j = int(np.argmax(np.abs(comp[i])))
        if comp[i, j] < 0:
            comp[i] = -comp[i]
    var = (s[:k] ** 2) / max(len(X) - 1, 1)
    return PCAModel(mean=mean, components=comp, explained_var=var)


def pca_project(
    df: DataFrame,
    model: PCAModel,
    *,
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Append ``out_col`` = components · (vec − mean) — one vectorized
    numpy matmul per Arrow batch, no shuffle, output partitioning = input
    partitioning. The model rides the closure as a (k × dim) broadcast-by-
    construction constant (same class as the PQ codebooks, SCALE.md
    "bounded by contract")."""
    mean = model.mean.copy()
    comp_t = model.components.T.copy()  # (dim, k)

    @F.pandas_udf("array<double>")
    def fn(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        P = (M - mean) @ comp_t
        return pd.Series(list(P))

    return df.withColumn(out_col, fn(F.col(vec_col)))


def save_pca_model(spark, model: PCAModel, path: str) -> None:
    """Persist the fitted projection as a parquet model table — the
    durable form that outlives the session (the ``save_ivf_index`` /
    ``save_bpe_merges`` model lifecycle: train on a corpus snapshot,
    persist, and every downstream projection job — batch or streaming —
    loads the identical matrix). Doubles round-trip parquet exactly, so a
    loaded model projects bit-identically to the in-session one (pinned).

    Rows: ``kind`` = 'mean' (idx 0) or 'comp' (idx = component rank);
    ``vals`` the (dim,) vector; ``var`` the component's explained
    variance (0.0 on the mean row).
    """
    rows = [("mean", 0, [float(x) for x in model.mean], 0.0)] + [
        (
            "comp",
            i,
            [float(x) for x in model.components[i]],
            float(model.explained_var[i]),
        )
        for i in range(len(model.components))
    ]
    spark.createDataFrame(
        rows, "kind string, idx int, vals array<double>, var double"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pca_model(spark, path: str) -> PCAModel:
    """Load a :func:`save_pca_model` table."""
    rows = spark.read.parquet(path).collect()
    mean = next(
        np.array(r.vals, dtype=np.float64) for r in rows if r.kind == "mean"
    )
    comps = sorted((r for r in rows if r.kind == "comp"), key=lambda r: r.idx)
    return PCAModel(
        mean=mean,
        components=np.stack(
            [np.array(r.vals, dtype=np.float64) for r in comps]
        ),
        explained_var=np.array([r.var for r in comps], dtype=np.float64),
    )


# fixed-point grids for the exact full-corpus moments — the same decimal
# grid family as functions/exact.py (scale 6 components, scale 12 products)
_PCA_S1 = 1e6
_PCA_S2 = 1e12


def pca_train_full(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 8,
) -> PCAModel:
    """Full-corpus exact PCA — the :func:`pca_train` analog of
    ``ivf_refine``: instead of sketching the distribution from an
    ``n_train`` sample (which inherits whatever bias the corpus ordering
    has — crawls arrive site-by-site), the principal axes come from the
    EXACT corpus covariance.

    Scale shape (matrix-free — no d² row blow-up): each Arrow batch
    computes its integer Gram contribution in one numpy pass — component
    sums on the 1e6 fixed-point grid and pairwise product sums on the
    1e12 grid, int64-exact per batch — and emits d + d(d+1)/2 + 1 partial
    rows. Spark sums the partials as DECIMAL(38,0) (exact at any corpus
    size), the driver folds the d×d moment matrix (exact Python ints →
    one float64 op sequence), and ``numpy.linalg.eigh`` runs on the
    resulting covariance. Shuffle volume: tasks × (d(d+1)/2 + d + 1)
    rows; driver state: one d×d matrix. Integer sums are
    order-independent, so the fitted model is bit-identical across
    partitionings and reruns (mirror-pinned). The same moments, grouped
    instead of batched, are the oracled ``emb_cov_matrix`` relation.
    """
    import pandas as pd

    def gram(batches):
        for pdf in batches:
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            U = np.floor(M * _PCA_S1 + 0.5).astype(np.int64)  # (n, d)
            d = M.shape[1]
            iu, ju = np.triu_indices(d)
            # per-row product grid floor(x_i*x_j*S2 + 0.5), summed int64
            P = np.zeros(len(iu), dtype=np.int64)
            for r in range(M.shape[0]):
                prod = np.floor(
                    M[r][iu] * M[r][ju] * _PCA_S2 + 0.5
                ).astype(np.int64)
                P += prod
            S = U.sum(axis=0, dtype=np.int64)
            out = {
                "i": np.concatenate(([-1], np.arange(d), iu)),
                "j": np.concatenate(([-1], np.full(d, -1), ju)),
                "v": np.concatenate(([M.shape[0]], S, P)),
            }
            yield pd.DataFrame(out)

    parts = df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
    totals = (
        parts.mapInPandas(gram, "i int, j int, v long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("v"))
        .collect()
    )
    n = None
    S: dict[int, int] = {}
    P: dict[tuple[int, int], int] = {}
    for r in totals:
        v = int(r["v"])
        if r["i"] == -1:
            n = v
        elif r["j"] == -1:
            S[r["i"]] = v
        else:
            P[(r["i"], r["j"])] = v
    d = len(S)
    mean = np.array([S[i] for i in range(d)], dtype=np.float64) / _PCA_S1 / n
    cov = np.zeros((d, d))
    for (i, j), p in P.items():
        c = (p / _PCA_S2 - (S[i] / _PCA_S1) * (S[j] / _PCA_S1) / n) / (n - 1)
        cov[i, j] = cov[j, i] = c
    w, V = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:k]
    comp = V[:, order].T.copy()
    for i in range(comp.shape[0]):
        jmax = int(np.argmax(np.abs(comp[i])))
        if comp[i, jmax] < 0:
            comp[i] = -comp[i]
    return PCAModel(
        mean=mean, components=comp, explained_var=w[order].copy()
    )
