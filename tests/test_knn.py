"""kNN join differentials: exact equality to the brute-force mirror at
full probe coverage (the correctness pin — the recall knob prunes
coverage, never what gets scored), a recall floor at the registered
pruning level, salting invariance, and the two-table mode."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from stupidb_spark.operators.knn import knn_join
from stupidb_spark.sources import load_table
from tests.conftest import SF_DIR
from tests.mirrors import knn_join_reference


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def ground(emb):
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.stack([np.array(r.embedding) for r in rows])
    return ids, V


def _tuples(df):
    return sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim) for r in df.collect()
    )


def test_full_probe_is_exact_brute_force(emb, ground):
    ids, V = ground
    got = _tuples(knn_join(emb, k_neighbors=5, n_cells=8, n_probe=8))
    want = knn_join_reference(ids, V, ids, V, k_neighbors=5, self_join=True)
    assert got == want
    assert len(got) == 5 * len(ids)


def test_salting_does_not_change_results(emb):
    # tiny max_block forces every cell through the sub-block split; the
    # split may only bound task sizes, never alter candidates or ranks
    a = _tuples(knn_join(emb, k_neighbors=5, n_cells=8, n_probe=8))
    b = _tuples(
        knn_join(emb, k_neighbors=5, n_cells=8, n_probe=8, max_block=20)
    )
    assert a == b


def test_recall_floor_at_registered_pruning(emb, ground):
    # the registered query's setting (8 cells, 4 probes = 2x pruning);
    # 0.76 measured on the quasi-random fixture — floor with headroom
    ids, V = ground
    want = {
        (q, n)
        for (q, _, n, _) in knn_join_reference(
            ids, V, ids, V, k_neighbors=5, self_join=True
        )
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in knn_join(emb, k_neighbors=5, n_cells=8, n_probe=4).collect()
    }
    assert len(got & want) / len(want) >= 0.65


def test_two_table_mode_exact(emb, ground):
    ids, V = ground
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    qrows = queries.orderBy("vec_id").collect()
    q_ids = np.array([r.vec_id for r in qrows])
    Q = np.stack([np.array(r.embedding) for r in qrows])
    got = _tuples(
        knn_join(emb, queries, k_neighbors=3, n_cells=8, n_probe=8)
    )
    # two-table mode keeps self matches (the query table is not the base)
    want = knn_join_reference(
        ids, V, q_ids, Q, k_neighbors=3, self_join=False
    )
    assert got == want
    # each query's own vector is its rank-1 neighbor at sim 1.0
    by_q = {(q, r): (n, s) for (q, r, n, s) in got}
    for qid in q_ids:
        n, s = by_q[(int(qid), 1)]
        assert n == int(qid) and s == pytest.approx(1.0, abs=1e-9)


def test_two_table_mode_chunked_blocking_exact(emb, ground):
    # tiny max_block forces BOTH 2D-blocking axes (__s base sub-splits and
    # __qc query chunks) through the single-aggregation count derivation
    # (base count at pos 0 only, query count per probed cell) in the
    # two-table form — the side-tagged branch. Blocking may only bound
    # task sizes, never alter candidates, ranks, or sims.
    ids, V = ground
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    qrows = queries.orderBy("vec_id").collect()
    q_ids = np.array([r.vec_id for r in qrows])
    Q = np.stack([np.array(r.embedding) for r in qrows])
    got = _tuples(
        knn_join(
            emb, queries, k_neighbors=3, n_cells=8, n_probe=8, max_block=20
        )
    )
    want = knn_join_reference(
        ids, V, q_ids, Q, k_neighbors=3, self_join=False
    )
    assert got == want


def test_registered_query_shape(spark):
    from stupidb_spark.queryset import QUERIES

    out = QUERIES["ann_knn_join"](spark, SF_DIR)
    assert out.columns == ["query_id", "rank", "neighbor_id", "cosine_sim"]
    rows = out.collect()
    assert len(rows) > 0
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
        assert r.neighbor_id != r.query_id  # self-join excludes self
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_knn_classify_vote_matches_reference(spark, emb, ground):
    # full-probe kNN + majority vote (ties: count desc, label asc) must
    # equal the driver-side mirror exactly
    from collections import Counter

    from stupidb_spark.operators.dedup import corpus_join_strategy

    ids, V = ground
    base = emb.filter(F.col("vec_id") % 5 != 0)
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    knn = knn_join(
        base, queries, k_neighbors=5, n_cells=8, n_probe=8
    )
    labeled = knn.hint(corpus_join_strategy()).join(
        base.select(F.col("vec_id").alias("neighbor_id"), "label").hint(
            corpus_join_strategy()
        ),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    best = votes.groupBy("query_id").agg(
        F.min_by(
            F.col("label"),
            F.struct((-F.col("n")).alias("v"), F.col("label").alias("l")),
        ).alias("pred")
    )
    got = {r.query_id: r.pred for r in best.collect()}

    label_of = {r.vec_id: r.label for r in emb.collect()}
    b_mask = ids % 5 != 0
    want_knn = knn_join_reference(
        ids[b_mask], V[b_mask], ids[~b_mask], V[~b_mask],
        k_neighbors=5, self_join=False,
    )
    by_q: dict[int, list[str]] = {}
    for q, _, n, _ in want_knn:
        by_q.setdefault(q, []).append(label_of[n])
    want = {
        q: min(Counter(ls).items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for q, ls in by_q.items()
    }
    assert got == want


def test_registered_knn_classify_shape(spark):
    from stupidb_spark.queryset import QUERIES

    out = QUERIES["emb_knn_classify"](spark, SF_DIR)
    assert out.columns == ["query_id", "pred_label", "n_votes", "k_used"]
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert 1 <= r.n_votes <= r.k_used <= 5


def test_derive_n_cells_rule():
    from stupidb_spark.operators.knn import derive_n_cells

    # ceil(n / occupancy), floored at 1, capped at the Lloyd sample size
    assert derive_n_cells(0) == 1
    assert derive_n_cells(1) == 1
    assert derive_n_cells(250) == 1
    assert derive_n_cells(251) == 2
    assert derive_n_cells(2_000) == 8  # the sf0.1 fixture regime
    assert derive_n_cells(200_000) == 800  # SCALE.md's measured 100× point
    assert derive_n_cells(10_000_000) == 4096  # clamped to n_train
    assert derive_n_cells(10_000_000, n_train=65536) == 40000
    assert derive_n_cells(2_000, target_occupancy=500) == 4


def test_auto_sized_join_is_linear_rule_and_correct(emb, ground):
    # default n_cells derives from the base count; at the test fixture the
    # derived count is small enough that n_probe=8 covers every cell, so
    # the auto-sized join must equal exact brute force
    from stupidb_spark.operators.knn import derive_n_cells

    ids, V = ground
    derived = derive_n_cells(len(ids))
    assert derived == -(-len(ids) // 250)
    got = _tuples(knn_join(emb, k_neighbors=5, n_probe=max(8, derived)))
    want = knn_join_reference(ids, V, ids, V, k_neighbors=5, self_join=True)
    assert got == want


def test_zero_norm_query_fails_loudly(spark, emb):
    import pyspark.errors

    bad = emb.unionByName(
        spark.createDataFrame(
            [(99999, [0.0] * 64, "x")], "vec_id long, embedding array<double>, label string"
        ).select(
            "vec_id", F.col("embedding").cast(dict(emb.dtypes)["embedding"]), "label"
        )
    )
    with pytest.raises(Exception) as ei:
        knn_join(bad, k_neighbors=3, n_cells=8, n_probe=2).collect()
    assert "zero norm" in str(ei.value)


def test_recall_on_clustered_manifold(spark):
    # the registered pruning's 0.76 recall is the QUASI-RANDOM fixture's
    # curse-of-dimensionality worst case (SCALE.md); on data with cluster
    # structure — what real embedding manifolds have — the same 2x-pruned
    # configuration is lossless. Seeded, deterministic.
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
    )
    want = {
        (q, n)
        for (q, _, n, _) in knn_join_reference(
            ids, X, ids, X, k_neighbors=5, self_join=True
        )
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in knn_join(df, k_neighbors=5, n_cells=8, n_probe=4).collect()
    }
    assert len(got & want) / len(want) >= 0.95  # 1.000 seeded


@pytest.mark.parametrize("assign", ["float", "quantized"])
def test_nearest_cells_ties_go_to_the_lower_cell(assign):
    """The one cell assignment breaks a centroid tie toward the lower cell,
    for the single nearest cell and for a probe list alike."""
    from stupidb_spark.operators.ivf import _nearest_cells

    M = np.array([[0.1, 1.0], [0.0, 2.0], [1.0, 0.2]])
    # cells 1 and 2 are the same centroid, and so are cells 0 and 3
    C = np.array([[1.0, 0.0], [0.0, 1.0], [0.0, 1.0], [1.0, 0.0]])
    assert _nearest_cells(M, C, assign=assign).tolist() == [[1], [1], [0]]
    assert _nearest_cells(M, C, 2, assign=assign).tolist() == [
        [1, 2],
        [1, 2],
        [0, 3],
    ]


def test_leading_probe_cell_is_the_ivf_index_cell(emb, ground):
    """With one probe a row's neighbors are exactly its brute-force
    neighbors inside its ``ivf_index`` cell, so the kNN join's leading
    probe cell (where a base row lives and what a query probes) is the
    cell ``ivf_index`` assigns."""
    from stupidb_spark.operators.ivf import ivf_index, ivf_train

    ids, V = ground
    base = emb.select("vec_id", "embedding")
    indexed = ivf_index(base, ivf_train(base, k=8)).collect()
    cell_of = {r.neighbor_id: r.cell for r in indexed}
    cells = np.array([cell_of[i] for i in ids])
    want = sorted(
        row
        for c in np.unique(cells)
        for row in knn_join_reference(
            ids[cells == c],
            V[cells == c],
            ids[cells == c],
            V[cells == c],
            k_neighbors=5,
            self_join=True,
        )
    )
    got = _tuples(knn_join(emb, k_neighbors=5, n_cells=8, n_probe=1))
    assert got == want
