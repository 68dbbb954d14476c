"""Corpus-scale Lloyd refinement (operators/ivf.py::ivf_refine): exact
differential vs the numpy mirror, quality improvement on clustered data,
empty-cell retention, and the oracled stats relation's laws."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stupidb_spark.operators.ivf import (
    REFINE_SCALE,
    ivf_refine,
)
from stupidb_spark.queryset import QUERIES
from tests.conftest import SF_DIR
from tests.mirrors import ivf_refine_reference, knn_join_reference


def _clustered(n_per=50, k=3, dim=8, seed=7):
    rng = np.random.RandomState(seed)
    centers = rng.randn(k, dim) * 3
    X = np.concatenate(
        [centers[j] + 0.3 * rng.randn(n_per, dim) for j in range(k)]
    )
    return X


@pytest.fixture(scope="module")
def clustered_df(spark):
    X = _clustered()
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        X,
    )


def test_refine_matches_numpy_mirror_bitwise(clustered_df):
    df, X = clustered_df
    start = X[:3].copy()  # arbitrary (bad) seeds
    got = ivf_refine(df, start, iters=2)
    want = ivf_refine_reference(X, start, iters=2)
    assert np.array_equal(got, want)  # exact: integer sums, identical IEEE


def test_refine_quantized_assignment_matches_mirror(clustered_df):
    df, X = clustered_df
    start = X[:3].copy()
    got = ivf_refine(df, start, iters=1, assign="quantized")
    want = ivf_refine_reference(X, start, iters=1, quant=True)
    assert np.array_equal(got, want)


def test_refine_improves_quantization_error(clustered_df):
    df, X = clustered_df
    start = X[:3].copy()

    def err(C):
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        return -np.max(Xn @ Cn.T, axis=1).mean()  # mean cosine distance

    refined = ivf_refine(df, start, iters=3)
    assert err(refined) < err(start)


def test_empty_cell_keeps_previous_centroid(spark):
    # two far clusters, three centroids: one centroid never wins a vector
    rows = [(i, [10.0, 0.0]) for i in range(5)] + [
        (i, [0.0, 10.0]) for i in range(5, 10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    start = np.array([[10.0, 0.0], [0.0, 10.0], [-50.0, -50.0]])
    out = ivf_refine(df, start, iters=1)
    assert np.array_equal(out[2], start[2])  # untouched
    assert np.allclose(out[0], [10.0, 0.0], atol=1e-5)


def test_registered_refine_stats_fold_to_valid_centroids(spark):
    # the oracled relation is the distributed half of ivf_refine: n sums to
    # the corpus size, and sum_q/n/S reproduces the centroid column exactly
    out = QUERIES["emb_kmeans_refine"](spark, SF_DIR).collect()
    n_vecs = {r["cell"]: r["n"] for r in out if r["dim"] == 0}
    total = sum(n_vecs.values())
    from stupidb_spark.sources import load_table

    assert total == load_table(spark, SF_DIR, "embeddings").count()
    for r in out:
        assert r["centroid"] == float(r["sum_q"]) / r["n"] / REFINE_SCALE


def test_refine_improves_probe_recall_on_biased_sample(spark):
    # the 100 TB failure mode ivf_refine exists for: ivf_train's bounded
    # sample (lowest-id rows) lands on a cluster-ordered corpus and the
    # sample covers only the first few clusters — probe recall suffers at
    # tight pruning. One corpus-scale Lloyd pass repairs the centroids.
    import numpy as np

    from stupidb_spark.operators.ivf import ivf_index, ivf_probe, ivf_train

    rng = np.random.RandomState(11)
    k_clusters, per, dim = 40, 50, 32
    centers = rng.randn(k_clusters, dim) * 4
    X = np.concatenate(
        [centers[j] + 0.5 * rng.randn(per, dim) for j in range(k_clusters)]
    )
    ids = np.arange(len(X))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in ids],
        "vec_id long, embedding array<double>",
    ).cache()
    want = {
        (q, n)
        for (q, _, n, _) in knn_join_reference(
            ids, X, ids, X, k_neighbors=5, self_join=True
        )
        if q < 400
    }

    def recall(C):
        out = ivf_probe(ivf_index(df, C), C, df.limit(400), k=6, n_probe=2)
        got = {
            (r.query_id, r.neighbor_id)
            for r in out.collect()
            if r.query_id != r.neighbor_id
        }
        return len(got & want) / len(want)

    start = ivf_train(df, k=16, iters=3, n_train=100)  # 2-cluster sample
    before = recall(start)
    after = recall(ivf_refine(df, start, iters=1))
    assert before < 0.95  # the biased sample measurably hurts (0.911 seeded)
    assert after >= 0.99  # one corpus pass repairs it (1.000 seeded)
    df.unpersist()


def test_refine_assignment_udf_below_the_explode(spark):
    # the assignment UDF must evaluate once per VECTOR: in a single select
    # Catalyst plans the Generate below the UDF, re-running the matmul
    # once per exploded dim (64x). Pin the two-step shape: ArrowEvalPython
    # strictly below the posexplode Generate.
    plan = (
        QUERIES["emb_kmeans_refine"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.split("\n")
    gen = next(i for i, l in enumerate(lines) if "Generate posexplode" in l)
    udf = next(i for i, l in enumerate(lines) if "ArrowEvalPython" in l)
    assert udf > gen, "assignment UDF must sit below the explode"


def test_knn_join_refine_iters_reaches_full_recall(spark):
    """The auto-refine hook on the registered operator: knn_join with a
    biased bounded sample (cluster-ordered corpus, n_train=100 covers ~2
    of 40 clusters) loses recall at tight pruning; refine_iters=N — N
    corpus-scale Lloyd passes inside the same operator call — repairs it
    (seeded: 0.969 → 0.992 → 0.9998). Default refine_iters=0 keeps the
    old plan exactly."""
    import numpy as np

    from stupidb_spark.operators.knn import knn_join

    rng = np.random.RandomState(11)
    k_clusters, per, dim = 40, 50, 32
    centers = rng.randn(k_clusters, dim) * 4
    X = np.concatenate(
        [centers[j] + 0.5 * rng.randn(per, dim) for j in range(k_clusters)]
    )
    ids = np.arange(len(X))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in ids],
        "vec_id long, embedding array<double>",
    ).cache()
    want = {
        (q, n)
        for (q, _, n, _) in knn_join_reference(
            ids, X, ids, X, k_neighbors=5, self_join=True
        )
    }

    def recall(**kw):
        got = {
            (r.query_id, r.neighbor_id)
            for r in knn_join(
                df, k_neighbors=5, n_cells=16, n_probe=2, n_train=100, **kw
            ).collect()
        }
        return len(got & want) / len(want)

    # seeded values: 0.9693 baseline, 0.9919 one pass, 0.9998 two passes
    assert recall() < 0.98, "biased sample should measurably hurt"
    assert recall(refine_iters=1) >= 0.99
    assert recall(refine_iters=2) >= 0.999
    df.unpersist()
