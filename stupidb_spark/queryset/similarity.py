"""Similarity-search queries over ``embeddings``.

Brute-force cosine top-k has a full DuckDB oracle: scoring uses the
quantized-dot construction (operators/similarity.py:pair_cosine — exact
integer sums, so Spark's vectorized numpy path and DuckDB's list fold are
bit-identical). The LSH variant is approximate — rows-only check, with
recall asserted against brute force in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stupidb_spark.functions import exact as X
from stupidb_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    sql_pair_cosine,
)
from stupidb_spark.queryset import q
from stupidb_spark.sources import load_table


@q(
    "ann_topk_bruteforce",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               {sql_pair_cosine('q.v', 'e.v')} AS cosine_sim
        FROM q JOIN e ON e.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, {X.sql_dround('cosine_sim')} AS cosine_sim, rk
    FROM ranked WHERE rk <= 10
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact top-10 cosine neighbors for 5 query vectors: broadcast the query
    # side, scan the base once, per-query window top-k.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=10)
    return out.select(
        "query_id", "neighbor_id", X.dround("cosine_sim").alias("cosine_sim"), "rk"
    )


@q("ann_topk_lsh")  # approximate — no SQL oracle; recall tested vs brute force
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale path: random-hyperplane sign-bucketing; queries probe only their
    # own bucket, turning scan-per-query into bucket-local scoring.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=10, dim=64, n_planes=4
    )
    return out.select(
        "query_id", "neighbor_id", X.dround("cosine_sim").alias("cosine_sim"), "rk"
    )


@q("ann_topk_ivf")  # approximate + iterative (k-means) — no SQL oracle;
# recall vs brute force pinned in tests/test_similarity.py
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF-Flat: a sample-trained quantizer, one map-only cell assignment,
    # then a probe that scores only the query set's nearest cells.
    from stupidb_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=10)
    return out.select(
        "query_id", "neighbor_id", X.dround("cosine_sim").alias("cosine_sim"), "rk"
    )


@q("ann_topk_pq")  # approximate (quantized codes) — no SQL oracle; recall
# vs brute force pinned in tests/test_similarity.py
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Product-quantization ADC ranking: 8-byte codes instead of 256-byte
    # vectors — the compression path for corpus-scale embedding search
    # (operators/pq.py). Train/encode are the amortized steps; the scored
    # scan touches only the code table.
    from stupidb_spark.operators.pq import pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = pq_search(emb, queries, id_col="vec_id", vec_col="embedding", k=10)
    return out.select(
        "query_id", "neighbor_id", X.dround("pq_score").alias("pq_score"), "rk"
    )


@q("ann_topk_ivfpq")  # approximate (pruning x quantization) — no SQL oracle;
# recall vs brute force pinned in tests/test_similarity.py
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The composed 100 TB layout: IVF cell pruning over a PQ code table —
    # a probe scans only its cells' partitions and scores 16-byte codes,
    # never a float vector (operators/pq.py::ivfpq_topk).
    from stupidb_spark.operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivfpq_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=10)
    return out.select(
        "query_id", "neighbor_id", X.dround("pq_score").alias("pq_score"), "rk"
    )


@q(
    "emb_label_centroids",
    """
    -- per-label prototype vector in long form (label, dim position, mean).
    -- Elementwise mean via the quantized-int64 grid: the sum is an exact
    -- integer (order-independent under any partitioning), the two closing
    -- divisions are single correctly-rounded IEEE ops — bit-identical to
    -- the Spark plan. Fixture dim is 64.
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    x AS (
        SELECT label, i - 1 AS pos, v[i] AS val
        FROM e CROSS JOIN generate_series(1, 64) AS t(i)
    )
    SELECT label, pos,
           (CAST(sum(CAST(floor(val * 1099511627776.0 + 0.5) AS BIGINT))
                 AS DOUBLE) / 1099511627776.0) / count(*) AS centroid,
           count(*) AS n_vectors
    FROM x GROUP BY label, pos
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mean pooling / class prototypes: the representation-side twin of a
    # groupBy average. posexplode turns the array into (label, pos, val)
    # rows so the aggregation is an ordinary two-key hash agg with map-side
    # partials — one shuffle of (label, dim) cells, no vector ever rides a
    # join. Long-form output (not re-assembled arrays) keeps downstream
    # joins/pivots free to choose their own layout.
    from stupidb_spark.operators.similarity import QUANT_SCALE

    emb = load_table(spark, sf_dir, "embeddings")
    q40 = F.floor(F.col("val").cast("double") * QUANT_SCALE + F.lit(0.5)).cast("long")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum(q40).alias("s"), F.count(F.lit(1)).alias("n_vectors"))
        .select(
            "label",
            "pos",
            ((F.col("s").cast("double") / F.lit(QUANT_SCALE)) / F.col("n_vectors")).alias(
                "centroid"
            ),
            "n_vectors",
        )
    )


@q("ann_ivf_rebalance_stats")  # maintenance loop — no SQL oracle (k-means);
# split mechanics / recall / durable pruning pinned in tests/test_similarity.py
def ann_ivf_rebalance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full append -> skew-signal -> hot-cell-split loop as a registered
    # query: a deterministic drifted batch (a heterogeneous cloud around one
    # existing vector, built DISTRIBUTEDLY from spark.range — no driver-side
    # row synthesis) is appended to a frozen-quantizer index, and the
    # post-rebalance per-cell population is reported — the monitor table an
    # operator watches. Cold cells keep their ids (stable output), split
    # cells shrink, new sub-cell ids appear at the end.
    from dataclasses import replace

    from stupidb_spark.operators.ivf import (
        build_ivf_index,
        ivf_append,
        ivf_cell_stats,
        ivf_rebalance,
    )
    from stupidb_spark.operators.lineage import cut_lineage

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    idx = build_ivf_index(emb)
    k = len(idx.centroids)
    seed = emb.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    seed_lit = F.array(*[F.lit(float(x)) for x in seed])
    jitter = F.transform(
        F.sequence(F.lit(0), F.lit(len(seed) - 1)),
        lambda d: F.element_at(seed_lit, d + 1)
        * (1.0 + 0.08 * (((F.col("id") * 31 + d * 7) % 13) - 6)),
    )
    skew = spark.range(6 * n // k).select(
        (F.col("id") + F.lit(n)).alias("vec_id"),
        jitter.cast("array<float>").alias("embedding"),
    )
    appended = ivf_append(idx, skew)
    # ivf_rebalance reads the appended index in several jobs (cell counts,
    # one sample per hot cell, the reassignment): cut it once so the base
    # assignment and the skew batch are computed once, not per job.
    appended = replace(appended, indexed=cut_lineage(appended.indexed, eager=False))
    res = ivf_rebalance(appended, max_ratio=3.0, target_ratio=2.0)
    return ivf_cell_stats(res.index.indexed).select("cell", "n")


@q("emb_pca_project")  # model fit is an SVD — no SQL oracle; the Arrow
# transform is pinned bit-identical to the numpy reference in
# tests/test_projection.py, and the axes obey PCA laws there
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sample-trained PCA → map-only projection (operators/projection.py):
    # the dimensionality-reduction pre-step an ANN pipeline runs before
    # IVF/PQ at corpus scale. Zero shuffles; the model is a (k × dim)
    # bounded broadcast like the PQ codebooks. Output rounded to 9 dp for
    # the stability hash (the underlying per-row dot products are already
    # batch-composition-independent).
    from stupidb_spark.operators.projection import pca_project, pca_train

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_train(emb, k=8)
    out = pca_project(emb, model)
    return out.select(
        "vec_id",
        "label",
        F.transform(F.col("projected"), lambda x: F.round(x, 9)).alias(
            "projected"
        ),
    )


@q("ann_knn_join")  # approximate + iterative (k-means cells) — no SQL
# oracle; exactness at full probe coverage, recall floor, and salting
# invariance pinned in tests/test_knn.py
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-scale kNN self-join (operators/knn.py): every vector's 5
    # nearest others, IVF-blocked with multi-probe — both sides
    # corpus-sized, nothing unbounded at the driver, no task above
    # max_block base rows. n_cells is the operator's occupancy-constant
    # auto-sizing (the measured-linear rule, SCALE.md "kNN sizing rule"):
    # sf0.1's 2,000 vectors derive the same 8 cells the old fixed fixture
    # used, so the bench series is continuous — but the registered form
    # now scales linearly instead of quadratically. n_probe=4 multi-probe
    # (0.76 measured recall at 8 cells on the quasi-random worst-case
    # fixture); n_probe>=n_cells is exact.
    from stupidb_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_join(
        emb, id_col="vec_id", vec_col="embedding",
        k_neighbors=5, n_probe=4,
    )
    return out.select(
        "query_id", "rank", "neighbor_id",
        X.dround("cosine_sim").alias("cosine_sim"),
    )


def _knn_classify_pipeline(
    spark: SparkSession, sf_dir: str, **knn_kwargs
) -> DataFrame:
    # kNN classification — the knn_join composed into a label propagator:
    # unlabeled-slice vectors (vec_id % 5 == 0) take the majority label of
    # their k=5 nearest labeled vectors (ties: higher vote count first,
    # then lexicographically first label). The label rides the kNN
    # pipeline itself (knn_join base_carry — every scoring task already
    # holds the neighbor row): the former id-keyed join-back of the
    # (k × queries) candidate relation against the labeled base cost two
    # exchanges + a shuffled hash join (r15 profile) to fetch a value the
    # task had in hand. The vote aggregates reuse the top-k merge's
    # query_id hash partitioning (a subset of the (query_id, label)
    # clustering), so no label-attach exchange remains at all.
    from stupidb_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    knn = knn_join(
        base, queries, id_col="vec_id", vec_col="embedding",
        k_neighbors=5, base_carry="label", **knn_kwargs,
    )
    votes = knn.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    best = votes.groupBy("query_id").agg(
        F.min_by(
            F.struct(
                F.col("label").alias("pred_label"),
                F.col("n_votes").alias("n_votes"),
            ),
            F.struct((-F.col("n_votes")).alias("v"), F.col("label").alias("l")),
        ).alias("b"),
        F.sum("n_votes").alias("k_used"),
    )
    return best.select(
        "query_id",
        F.col("b.pred_label").alias("pred_label"),
        F.col("b.n_votes").alias("n_votes"),
        "k_used",
    )


@q("emb_knn_classify")  # approximate (IVF-blocked kNN); the vote rule is
# differentially pinned vs the brute-force mirror in tests/test_knn.py and
# the exact configuration is DuckDB-oracled as emb_knn_classify_exact
def emb_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # occupancy-constant auto-sized cells (linear rule) — sf0.1's labeled
    # base derives ~7 cells, matching the old fixed-8 fixture's regime.
    return _knn_classify_pipeline(spark, sf_dir, n_probe=4)


def _sql_emb_norm_cte() -> str:
    """Embeddings with the per-vector quantized norm precomputed — the
    same sqrt(qdot(v,v)/S) every pair recomputes in
    :func:`sql_pair_cosine`; hoisting it is bit-identical (identical qdot
    input, and IEEE multiplication is exact-commutative) and cuts the
    oracle's list folds 3×."""
    from stupidb_spark.operators.similarity import QUANT_SCALE, sql_qdot

    s = f"{QUANT_SCALE:.1f}"
    return f"""
    e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt(CAST({sql_qdot("embedding::DOUBLE[]", "embedding::DOUBLE[]")}
                    AS DOUBLE) / {s}) AS nrm
        FROM embeddings
    )"""


def _sql_qcos_pair() -> str:
    """Pair cosine over the ``e`` CTE: exact quantized dot / hoisted
    norms."""
    from stupidb_spark.operators.similarity import QUANT_SCALE, sql_qdot

    s = f"{QUANT_SCALE:.1f}"
    return (
        f"(CAST({sql_qdot('q.v', 'b.v')} AS DOUBLE) / {s})"
        f" / (q.nrm * b.nrm)"
    )


def _sql_knn_topk_branched(
    query_pred: str | None,
    base_pred: str | None,
    *,
    n_branches: int = 32,
    dim: int = 64,
) -> str:
    """Brute-force exact-kNN oracle SQL that stays tractable at any
    fixture scale — the round-14 rewrite that took the FULL n² lane's sf1
    oracle from >900 s (watchdog kill) to ~50 s, closing the last
    flagship sf1 skip. Three measured ingredients, each verified
    bit-identical to the plain formulation:

    1. UNROLLED arithmetic: the quantized dot is emitted as ``dim`` flat
       ``floor(q.cI * b.cI * S + 0.5)`` scalar terms over per-row hoisted
       component columns instead of a per-pair list-comprehension fold —
       DuckDB evaluates flat scalar expressions vectorized, the list
       lambda machinery interpreted (measured 1.7× on the per-pair cost
       alone). Bit-identity holds because the fixture embeddings are
       float32: each 24-bit × 24-bit product is exact in double, and the
       ×2^40 scale shifts only the exponent.
    2. BRANCHED parallelism: DuckDB 1.0 parallelizes a cross product
       over ~122k-row morsels of the streamed side, and a 20k-row
       embeddings table is ONE morsel — the naive oracle ground 4e8
       pairs on a single core. Splitting the query side into
       ``n_branches`` disjoint hash slices, each its own
       cross-product + per-query window branch of one UNION ALL, gives
       the scheduler independent pipelines (measured 3.8× at 4 branches,
       ~11× at 32 — wall 50.4 s for the full sf1 n²). Any partition of
       the query set is result-identical: each query's whole neighbor
       set lives in exactly one branch, so the per-branch window ranks
       are the global ranks.
    3. Per-ROW hoisting (not per-pair): component extraction and the
       norm sqrt run once per vector in the ``e`` CTE; the dimension
       guard fails loudly via ``error()`` instead of silently yielding
       NULL components if the fixture ever changes width.
    """
    from stupidb_spark.operators.similarity import QUANT_SCALE

    s = f"{QUANT_SCALE:.1f}"
    cols = ", ".join(f"v[{i}] AS c{i}" for i in range(1, dim + 1))
    qdot_self = " + ".join(
        f"CAST(floor(c{i} * c{i} * {s} + 0.5) AS BIGINT)"
        for i in range(1, dim + 1)
    )
    qdot_pair = " + ".join(
        f"CAST(floor(q.c{i} * b.c{i} * {s} + 0.5) AS BIGINT)"
        for i in range(1, dim + 1)
    )
    qp = f" AND ({query_pred})" if query_pred else ""
    bp = f"WHERE {base_pred}" if base_pred else ""
    branches = " UNION ALL ".join(
        f"""
    SELECT query_id, neighbor_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, neighbor_id)
               AS "rank"
    FROM (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               (CAST(({qdot_pair}) AS DOUBLE) / {s}) / (q.nrm * b.nrm)
                   AS cosine_sim
        FROM (SELECT * FROM e
              WHERE hash(vec_id) % {n_branches} = {i}{qp}) q
        JOIN (SELECT * FROM e {bp}) b ON b.vec_id != q.vec_id
    ) QUALIFY "rank" <= 5"""
        for i in range(n_branches)
    )
    return f"""
    WITH raw AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    e AS (
        SELECT vec_id, {cols},
               CASE WHEN len(v) <> {dim}
                    THEN CAST(error('embedding dim <> {dim}') AS DOUBLE)
                    ELSE sqrt(CAST(({qdot_self}) AS DOUBLE) / {s})
               END AS nrm
        FROM raw
    )
    SELECT query_id, "rank", neighbor_id,
           {X.sql_dround('cosine_sim')} AS cosine_sim
    FROM ({branches})
    """


@q("ann_knn_join_exact", _sql_knn_topk_branched(None, None))
def ann_knn_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The kNN join's EXACT configuration under the full DuckDB oracle:
    # n_probe = n_cells means every query scores every base row, so the
    # distributed 2D-blocked plan (same shuffles, same bounded tasks as
    # the approximate form) must reproduce brute-force kNN bit-for-bit —
    # quantized-dot cosine, (sim DESC, id ASC) tie-break, top-5 ranks.
    # This is the hard-signal twin of ann_knn_join's rows-only row: the
    # recall knob degrades coverage, never the arithmetic this gate pins.
    from stupidb_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_join(
        emb, id_col="vec_id", vec_col="embedding",
        k_neighbors=5, n_cells=4, n_probe=4,
    )
    return out.select(
        "query_id", "rank", "neighbor_id",
        X.dround("cosine_sim").alias("cosine_sim"),
    )


@q(
    "emb_knn_classify_exact",
    f"""
    WITH {_sql_emb_norm_cte()},
    scored AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, b.label,
               {_sql_qcos_pair()} AS cosine_sim
        FROM (SELECT * FROM e WHERE vec_id % 5 = 0) q
        JOIN (SELECT * FROM e WHERE vec_id % 5 != 0) b ON TRUE
    ),
    ranked AS (
        SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM scored
    ),
    votes AS (
        SELECT query_id, label, count(*) AS n_votes
        FROM ranked WHERE rk <= 5 GROUP BY query_id, label
    ),
    best AS (
        SELECT query_id, label, n_votes,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, label) AS r,
               CAST(sum(n_votes) OVER (PARTITION BY query_id) AS BIGINT)
                   AS k_used
        FROM votes
    )
    SELECT query_id, label AS pred_label, n_votes, k_used
    FROM best WHERE r = 1
    """,
)
def emb_knn_classify_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The classifier's exact configuration (full probe coverage) under the
    # DuckDB oracle: distributed exact 5-NN per unlabeled vector, then the
    # identical majority-vote/tie-break rule replayed as window SQL.
    return _knn_classify_pipeline(spark, sf_dir, n_cells=4, n_probe=4)


@q(
    "ann_knn_join_sampled",
    _sql_knn_topk_branched("vec_id % 20 = 0", "vec_id % 20 != 0"),
)
def ann_knn_join_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ann_knn_join_exact's sampled twin (round-12 verdict item 2): the
    # identical exact-mode distributed plan (n_probe = n_cells — every
    # query scores every base row), but kNN OF A SAMPLED QUERY SUBSET
    # (vec_id % 20) against the rest of the corpus. Historically this was
    # the only sf1-tractable hash lane (the full lane's 4e8-pair oracle
    # blew the 300 s watchdog); since the round-14 branched-unrolled
    # oracle rewrite (_sql_knn_topk_branched) BOTH lanes are sf1-green —
    # this one stays as the cheap claim-scoped twin and the disjoint
    # query/base split mirrors emb_knn_classify_exact.
    from stupidb_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_join(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter(F.col("vec_id") % 20 == 0),
        id_col="vec_id", vec_col="embedding",
        k_neighbors=5, n_cells=4, n_probe=4,
    )
    return out.select(
        "query_id", "rank", "neighbor_id",
        X.dround("cosine_sim").alias("cosine_sim"),
    )


# --- emb_kmeans_refine: corpus-scale Lloyd refinement, fully oracled -------
# A LITERAL starting quantizer (multiples of 0.25 — exactly representable,
# so the Python floats and the SQL text denote identical doubles), shared
# verbatim between the Spark query and the DuckDB oracle. k=4 over the
# 64-dim fixture embeddings; assignment on the quantized-cosine grid.
_KM_DIM = 64
_KM_CENTROIDS = [
    [((i * 11 + j * 17 + 3) % 9 - 4) * 0.25 for i in range(_KM_DIM)]
    for j in range(4)
]


def _km_refine_sql() -> str:
    from stupidb_spark.operators.ivf import REFINE_SCALE
    from stupidb_spark.operators.similarity import QUANT_SCALE, sql_qdot

    s = f"{QUANT_SCALE:.1f}"
    sq = f"{REFINE_SCALE:.1f}"
    cents = "\n        UNION ALL ".join(
        f"SELECT {j} AS cell, [{', '.join(repr(x) for x in row)}]::DOUBLE[] AS c"
        for j, row in enumerate(_KM_CENTROIDS)
    )
    return f"""
    WITH cents AS ({cents}),
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(CAST({sql_qdot("embedding::DOUBLE[]",
                                   "embedding::DOUBLE[]")} AS DOUBLE)
                    / {s}) AS nrm
        FROM embeddings
    ),
    cn AS (
        SELECT cell, c,
               sqrt(CAST({sql_qdot("c", "c")} AS DOUBLE) / {s}) AS cnrm
        FROM cents
    ),
    sims AS (
        SELECT e.vec_id, cn.cell,
               (CAST({sql_qdot("e.v", "cn.c")} AS DOUBLE) / {s})
                   / (e.nrm * cn.cnrm) AS sim
        FROM e CROSS JOIN cn
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cell) AS rn
            FROM sims
        ) WHERE rn = 1
    ),
    comp AS (
        SELECT a.cell, d.dim,
               CAST(floor(e.v[d.dim + 1] * {sq} + 0.5) AS BIGINT) AS qc
        FROM assign a JOIN e USING (vec_id)
        CROSS JOIN (SELECT unnest(generate_series(0, {_KM_DIM - 1})) AS dim) d
    )
    SELECT cell, dim,
           count(*) AS n,
           CAST(sum(qc) AS BIGINT) AS sum_q,
           CAST(CAST(sum(qc) AS BIGINT) AS DOUBLE) / count(*) / {sq}
               AS centroid
    FROM comp GROUP BY cell, dim
    """


@q("emb_kmeans_refine", _km_refine_sql())
def emb_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus-scale Lloyd refinement pass from the literal grid
    quantizer, as the distributed stats relation the driver folds into new
    centroids: per-(cell, dim) member count, exact quantized component sum,
    and the refined centroid value.

    The relation is ``ivf_refine``'s own pass (``operators/ivf.py::
    _refine_stats``) with the quantized-grid assignment, so ties break to
    the lowest cell exactly like the SQL's ORDER BY sim DESC, cell. The
    assignment is map-only and selected before the dims explode; the
    (cell, dim) aggregate combines map-side, so the shuffle carries at most
    tasks × k × dim partial rows and the output is the k×dim model. Sums
    are longs on the REFINE_SCALE grid — order-independent, so the
    relation is hash-stable under any partitioning."""
    import numpy as np

    from stupidb_spark.operators.ivf import REFINE_SCALE, _refine_stats

    emb = load_table(spark, sf_dir, "embeddings")
    stats = _refine_stats(
        emb, np.array(_KM_CENTROIDS), "embedding", assign="quantized"
    )
    return stats.select(
        "cell",
        F.col("dim").cast("long").alias("dim"),
        "n",
        "sum_q",
        (F.col("sum_q").cast("double") / F.col("n") / F.lit(REFINE_SCALE)).alias(
            "centroid"
        ),
    )


@q(
    "emb_cov_matrix",
    f"""
    -- Exact corpus covariance of the embedding components: the second-
    -- moment statistics a full-corpus PCA trains on (operators/
    -- projection.py::pca_train_full). Every moment rides the shared
    -- exact fixed-point machinery (functions/exact.py: integer sums,
    -- split second moments), so the 64x64 triangle is bit-identical
    -- across engines and partitionings.
    WITH c AS (
        SELECT i.i AS i, j.j AS j, v[i.i + 1] AS x, v[j.j + 1] AS y
        FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings)
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
        WHERE j.j >= i.i
    )
    SELECT i, j, count(*) AS n,
           {X.sql_dcovar('x', 'y', 6)} AS cov
    FROM c GROUP BY i, j
    """,
)
def emb_cov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding components, on
    the exact-moment grid — the distributed statistics under a
    full-corpus PCA (``pca_train_full``), as a hash-stable relation.

    Scale shape: the (i, j) pair explode costs d(d+1)/2 rows per vector
    (2080 for 64 dims) and then hash-aggregates with map-side combine, so
    the shuffle carries at most tasks × 2080 partial rows; moments use
    ``functions/exact.py``'s split-sum construction, whose ~5e11-rows-per-
    group envelope holds far past this corpus. For the matrix-free 100 TB
    path (no d² row blow-up) use ``pca_train_full``'s batched Gram
    operator — same grid, identical moments."""
    v = F.col("embedding").cast("array<double>")
    a = (
        load_table(spark, sf_dir, "embeddings")
        .select(v.alias("v"))
        .select(F.posexplode("v").alias("i", "x"), F.col("v"))
    )
    b = a.select(
        F.col("i").cast("long").alias("i"),
        "x",
        F.posexplode("v").alias("j", "y"),
    ).filter(F.col("j") >= F.col("i"))
    return (
        b.select("i", F.col("j").cast("long").alias("j"), "x", "y")
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            X.dcovar_samp("x", "y", 6).alias("cov"),
        )
    )


def _coreset_sql() -> str:
    from stupidb_spark.operators.coreset import sql_kcenter_coreset

    return sql_kcenter_coreset(16)


@q("emb_coreset_kcenter", _coreset_sql())
def emb_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (k=16) over the embeddings table — the
    diversity-subset selection pass (farthest-point sampling; Sener &
    Savarese's coreset construction) a curation pipeline runs when it
    wants COVERAGE of embedding space rather than redundancy. Exact:
    per-term-quantized squared L2 (2^-40 grid, BIGINT sums) makes every
    greedy argmax engine- and partition-order-independent, and the DuckDB
    oracle replays the identical chain as a generated non-recursive CTE
    ladder. Scale shape: k corpus scans, each reduced by TakeOrdered(1),
    centers riding the plan as a bounded literal array — no shuffle, no
    iterative DataFrame state (operators/coreset.py docstring)."""
    from stupidb_spark.operators.coreset import kcenter_coreset

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, 16)
