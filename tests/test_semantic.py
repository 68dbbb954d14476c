"""SemDeDup differential: the distributed pipeline (quantizer cells →
salted within-cell pairs → connected components → keep-one hash agg) must
EXACTLY equal the driver-side numpy oracle that re-derives assignment,
grouping, and the keep rule with identical quantized arithmetic."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stupidb_spark.operators.ivf import ivf_train
from stupidb_spark.operators.semantic import semantic_dedup
from stupidb_spark.sources import load_table
from tests.conftest import SF_DIR
from tests.mirrors import semantic_dedup_reference


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def _numpy_side(emb_df):
    rows = emb_df.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    vecs = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    return ids, vecs


@pytest.mark.parametrize("threshold", [0.4, 0.6])
def test_semantic_dedup_matches_numpy_oracle(spark, emb, threshold):
    out = semantic_dedup(
        emb, k=16, threshold=threshold, max_block=1024
    ).collect()
    ids, vecs = _numpy_side(emb)
    centroids = ivf_train(emb, k=16)
    expect = semantic_dedup_reference(
        ids, vecs, centroids, threshold=threshold
    )
    assert len(out) == len(ids)
    got = {r.vec_id: (r.component, r.keep) for r in out}
    assert got == expect


def test_semantic_dedup_keeps_exactly_one_per_component(spark, emb):
    out = semantic_dedup(emb, k=16, threshold=0.4, max_block=1024)
    per_comp = out.groupBy("component").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep")
    )
    assert per_comp.where(F.col("n_keep") != 1).count() == 0


def test_semantic_dedup_singletons_keep_themselves(spark, emb):
    out = semantic_dedup(emb, k=16, threshold=0.99, max_block=1024)
    # At an unreachable threshold every vector is its own component and
    # every row is kept.
    assert out.where(~F.col("keep")).count() == 0
    assert (
        out.where(F.col("component") != F.col("vec_id")).count() == 0
    )


def test_semantic_dedup_deterministic(spark, emb):
    a = sorted(map(tuple, semantic_dedup(emb, k=16, threshold=0.4).collect()))
    b = sorted(map(tuple, semantic_dedup(emb, k=16, threshold=0.4).collect()))
    assert a == b


@pytest.mark.parametrize("assign", ["float", "quantized"])
def test_semantic_dedup_drops_null_vector_rows(spark, emb, assign):
    """Both assignment modes build the index the ``ivf_index`` way, so a
    row whose vector is NULL matches nothing in either: adding one leaves
    the result unchanged."""
    base = emb.select("vec_id", "embedding")
    centroids = ivf_train(base, k=16)
    null_row = spark.createDataFrame([(99_999, None)], base.schema)

    def run(df):
        out = semantic_dedup(
            df, centroids=centroids, assign=assign, threshold=0.6, max_block=1024
        )
        return sorted(map(tuple, out.collect()))

    assert run(base.unionByName(null_row)) == run(base)
