"""PCA projection differential: the distributed Arrow transform must equal
the driver-side numpy twin bit-for-bit, and the fitted axes must behave
like principal axes (orthonormal, variance-ordered, sign-canonical)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stupidb_spark.operators.projection import (
    pca_project,
    pca_train,
)
from stupidb_spark.sources import load_table
from tests.conftest import SF_DIR
from tests.mirrors import pca_reference, pca_train_full_reference


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def _X(emb_df):
    rows = emb_df.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    return ids, X


def test_projection_matches_numpy_bitwise(spark, emb):
    model = pca_train(emb, k=8)
    got = {
        r.vec_id: np.array(r.projected)
        for r in pca_project(emb, model).select("vec_id", "projected").collect()
    }
    ids, X = _X(emb)
    want = pca_reference(X, model)
    for i, vid in enumerate(ids):
        assert got[vid].shape == (8,)
        # same float64 ops in the same order ⇒ bit-identical
        assert all(
            a.hex() == b.hex() for a, b in zip(got[vid], want[i])
        ), vid


def test_axes_are_orthonormal_and_variance_ordered(spark, emb):
    model = pca_train(emb, k=8)
    C = model.components
    G = C @ C.T
    assert np.allclose(G, np.eye(len(C)), atol=1e-9)
    v = model.explained_var
    assert all(v[i] >= v[i + 1] - 1e-12 for i in range(len(v) - 1))
    # sign canonicalization: largest-|loading| coordinate positive
    for row in C:
        assert row[int(np.argmax(np.abs(row)))] > 0


def test_projection_captures_more_variance_than_random_axes(spark, emb):
    ids, X = _X(emb)
    model = pca_train(emb, k=4)
    proj_var = pca_reference(X, model).var(axis=0).sum()
    rng = np.random.default_rng(0)
    Q, _ = np.linalg.qr(rng.standard_normal((X.shape[1], 4)))
    rand_var = ((X - X.mean(0)) @ Q).var(axis=0).sum()
    assert proj_var > rand_var


def test_train_is_deterministic(spark, emb):
    a = pca_train(emb, k=6)
    b = pca_train(emb, k=6)
    assert np.array_equal(a.components, b.components)
    assert np.array_equal(a.mean, b.mean)


def test_pca_model_roundtrips_through_parquet(spark, tmp_path):
    # the durable-model lifecycle: a persisted+reloaded model must project
    # bit-identically to the in-session one
    import numpy as np

    from stupidb_spark.operators.projection import (
        load_pca_model,
        pca_project,
        pca_train,
        save_pca_model,
    )

    rng = np.random.RandomState(3)
    X = rng.randn(200, 16)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    model = pca_train(df, k=4, n_train=128)
    save_pca_model(spark, model, str(tmp_path / "pca_model"))
    loaded = load_pca_model(spark, str(tmp_path / "pca_model"))
    assert np.array_equal(model.mean, loaded.mean)
    assert np.array_equal(model.components, loaded.components)
    assert np.array_equal(model.explained_var, loaded.explained_var)
    a = sorted(
        (r.vec_id, tuple(r.projected))
        for r in pca_project(df, model).collect()
    )
    b = sorted(
        (r.vec_id, tuple(r.projected))
        for r in pca_project(df, loaded).collect()
    )
    assert a == b


def test_pca_train_full_matches_mirror_bitwise(spark):
    # the distributed exact-Gram fit must equal the numpy mirror exactly:
    # integer moments are order-independent, the float64 fold and eigh run
    # on identical inputs
    import numpy as np

    from stupidb_spark.operators.projection import pca_train_full

    rng = np.random.RandomState(5)
    X = rng.randn(300, 12) * 2
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    ).repartition(7)
    got = pca_train_full(df, k=4)
    want = pca_train_full_reference(X, k=4)
    assert np.array_equal(got.mean, want.mean)
    assert np.array_equal(got.components, want.components)
    assert np.array_equal(got.explained_var, want.explained_var)


def test_pca_train_full_beats_biased_sample(spark):
    # cluster-ordered corpus (ingest order = cluster order): pca_train's
    # lowest-id sample sees a few clusters; the full-corpus fit captures
    # the true variance structure. Compare reconstruction error of the
    # top-k projection over the WHOLE corpus.
    import numpy as np

    from stupidb_spark.operators.projection import pca_train, pca_train_full

    rng = np.random.RandomState(13)
    centers = rng.randn(20, 16) * 5
    X = np.concatenate(
        [centers[j] + 0.4 * rng.randn(80, 16) for j in range(20)]
    )
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )

    def recon_err(model):
        P = pca_reference(X, model)  # (n, k)
        back = P @ model.components + model.mean
        return float(((X - back) ** 2).mean())

    sample = pca_train(df, k=4, n_train=160)  # ~2 of 20 clusters
    full = pca_train_full(df, k=4)
    assert recon_err(full) < recon_err(sample)
