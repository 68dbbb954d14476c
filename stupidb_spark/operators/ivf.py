"""IVF (inverted-file) approximate nearest-neighbor search.

The second scale path for similarity search next to multi-table LSH
(operators/similarity.py): a k-means coarse quantizer partitions the vector
space into ``n_centroids`` cells; each base vector is indexed under its
nearest centroid, and a query scores only the ``n_probe`` nearest cells —
scan-per-query becomes cell-local scoring, the classic IVF-Flat layout.

Train / index / probe are SEPARATE steps (the FAISS lifecycle), because at
100 TB an index must be built once and probed many times — never rebuilt
inside a query:

- :func:`ivf_train` fits the quantizer on a bounded deterministic SAMPLE of
  the base table collected to the driver, with Lloyd iterations running as
  vectorized numpy on that sample (k·dim model floats). Training on a sample
  is the standard IVF recipe — the quantizer only needs the coarse shape of
  the distribution, and it turns ~7 Spark jobs per Lloyd iteration into one
  bounded collect.
- :func:`ivf_index` is one map-only pass assigning every base vector to its
  cell (vectorized matmul per Arrow batch). At scale the result is written
  partitioned by cell (:func:`save_ivf_index`) so probes are pruned scans.
- :func:`ivf_probe` scores each query against only its ``n_probe``
  nearest cells' vectors — no k-means, no full scan. It is the shared ANN
  top-k scan (``operators/similarity.py::_score_topk``) with the
  probe-cell candidate mask (:func:`_probe_mask`).

:func:`ivf_topk` composes the three for one-shot use: every call trains and
indexes from its inputs, so a result never outlives the data it was built
from. Reuse across calls goes through the durable index table
(:func:`save_ivf_index` / :func:`load_ivf_index`).

One cell assignment serves the whole embedding family:
:func:`_nearest_cells` gives each vector its ``n`` most cosine-similar
centroids, ties to the lowest cell, in float64 or on the quantized grid.
Lloyd, indexing, probing, rebalancing, refinement, the kNN join's probe,
IVF-PQ encoding and SemDeDup all call it (the Arrow form is
:func:`_assign_udf`), so a vector lands in the same cell whichever
operator asks. ``tests/test_one_stream_runner.py::test_one_cell_assignment``
pins it.

Deterministic: the training sample is the ``n_train`` lowest-id vectors
(``similarity.py::collect_train_matrix``), seeds are the first ``k`` of
those, iteration count is fixed — same inputs, same index. The one cosine
Lloyd (:func:`_cosine_lloyd`) also fits the sub-centroids of a rebalance,
and :func:`_refine_stats` is the one corpus Lloyd pass of
:func:`ivf_refine` and the ``emb_kmeans_refine`` query.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stupidb_spark.operators.similarity import (
    QUANT_SCALE,
    _batch_vectors,
    _qdot,
    _quant_norms,
    _quant_sims,
    _score_topk,
    base_scan,
    collect_query_matrix,
    collect_train_matrix,
    no_neighbors,
    spread_small_scan,
)

# ivf_train's sample size and Lloyd iterations; ivfpq_build trains its
# cells with the same
IVF_TRAIN_ROWS, IVF_ITERS = 4096, 3


def _normalize(M: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return M / norms


def _nearest_cells(
    M: np.ndarray, centroids: np.ndarray, n: int = 1, *, assign: str = "float"
) -> np.ndarray:
    """The family's one cell assignment: the (rows, n) ids of each row's
    ``n`` most cosine-similar centroids, nearest first, ties to the lowest
    cell (``argmax``'s first max; a stable sort when ``n > 1``).

    ``assign="float"`` compares the normalized rows with the normalized
    centroids in one float64 matmul (fastest). ``assign="quantized"`` puts
    each (row, centroid) cosine on the quantized-dot grid, the exact
    ``sql_pair_cosine`` construction: a float matmul depends on summation
    order, so near-ties can flip across engines, while the grid makes the
    assignment, and everything downstream of it, DuckDB-replayable."""
    C = np.asarray(centroids, dtype=np.float64)
    if assign == "float":
        # the float64 copy stays a temporary: binding it to a name measured
        # 2.4 vs 2.0 ms on a 2000×64 batch at 64 cells (the matmul output
        # can no longer reuse its memory)
        sims = _normalize(M.astype(np.float64)) @ _normalize(C).T
    elif assign == "quantized":
        # a per-centroid loop, not _quant_sims: on a 2000×64 batch against
        # 64 centroids _quant_sims measured 60 ms, this loop 31 ms (4-core x86)
        M = M.astype(np.float64)
        nm, cn = _quant_norms(M), _quant_norms(C)
        sims = np.empty((len(M), len(C)))
        for j in range(len(C)):
            d = (
                _qdot(M, np.broadcast_to(C[j], M.shape)).astype(np.float64)
                / QUANT_SCALE
            )
            sims[:, j] = d / (nm * cn[j])
    else:
        raise ValueError(f"assign must be 'float' or 'quantized', not {assign!r}")
    if n == 1:
        return np.argmax(sims, axis=1).astype(np.int32)[:, None]
    return np.argsort(-sims, axis=1, kind="stable")[:, :n].astype(np.int32)


def _assign_udf(centroids: np.ndarray, *, assign: str = "float"):
    """Arrow UDF: each vector's nearest cell (:func:`_nearest_cells`)."""
    C = np.array(centroids, dtype=np.float64)

    def fn(v: pd.Series) -> pd.Series:
        if v.isna().any():
            # Loud by contract: the coalesce(assign, 0) at the call sites
            # exists only for plan shape (non-nullable `cell` suppresses an
            # inferred isnotnull filter that would double-run this UDF). It
            # must never become a silent null→cell-0 router, so reject null
            # vectors here, mirroring the zero-norm contract.
            raise ValueError(
                "null embedding passed to cell assignment; filter null "
                "vectors at ingest (cosine cell assignment is undefined)"
            )
        cells = _nearest_cells(np.stack(v.to_numpy()), C, assign=assign)
        return pd.Series(cells[:, 0])

    return F.pandas_udf(fn, "int")


def _probe_mask(
    Q: np.ndarray, centroids: np.ndarray, n_probe: int
) -> tuple[np.ndarray, list[int]]:
    """The (nq, n_centroids) mask "query j probes one of its ``n_probe``
    nearest cells c", and the sorted cells any query probes. Both probes
    filter on that cell set STATICALLY, so a cell-partitioned index scans
    only probed partitions (partition pruning at plan time, not dynamic
    pruning at run time)."""
    mask = np.zeros((len(Q), len(centroids)), dtype=bool)
    np.put_along_axis(mask, _nearest_cells(Q, centroids, n_probe), True, axis=1)
    return mask, np.flatnonzero(mask.any(axis=0)).tolist()


def _cosine_lloyd(X: np.ndarray, seeds: np.ndarray, iters: int) -> np.ndarray:
    """Deterministic Lloyd's k-means on a driver-side sample: the rows
    ``X[seeds]`` seed the centroids, assignment is by cosine, the update is
    the members' mean, the iteration count is fixed, and a cell with no
    members keeps its centroid."""
    centroids = X[seeds]
    for _ in range(iters):
        assign = _nearest_cells(X, centroids)[:, 0]
        for c in range(len(centroids)):
            members = X[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = IVF_ITERS,
    n_train: int = IVF_TRAIN_ROWS,
) -> np.ndarray:
    """Fit the coarse quantizer: deterministic Lloyd's k-means on the
    ``n_train`` lowest-id vectors (one bounded TakeOrdered collect — the
    only data that ever reaches the driver), iterations vectorized in numpy.

    The sample bound is what makes this a 100 TB operation: quantizer
    quality needs a distribution sketch, not the data set, so training cost
    is O(n_train · k · dim · iters) on the driver regardless of table size.
    """
    X = collect_train_matrix(df, id_col, vec_col, n_train)
    return _cosine_lloyd(X, np.arange(min(k, len(X))), iters)


# component-quantization scale for exact distributed centroid sums: fine
# enough that refined centroids sit within 1e-6 of the float means, coarse
# enough that petabyte-scale cell sums stay far below 2^63 (and below 2^53
# for the exact long→double cast at any cell size under ~8e9 rows)
REFINE_SCALE = float(1 << 20)


def _refine_stats(
    df: DataFrame, centroids: np.ndarray, vec_col: str, assign: str
) -> DataFrame:
    """One corpus Lloyd pass as a relation: per (cell, dim), the member
    count ``n`` and the exact long sum ``sum_q`` of the members'
    components on the ``REFINE_SCALE`` grid."""
    qv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(REFINE_SCALE) + F.lit(0.5)).cast("long"),
    )
    # two-step select: assignment FIRST, explode second — in a single
    # select Catalyst plans the Generate below the UDF and the assignment
    # would re-evaluate once per exploded dim (observed: ArrowEvalPython
    # above posexplode = dim× redundant matmuls)
    assigned = spread_small_scan(df.select(F.col(vec_col))).select(
        F.coalesce(_assign_udf(centroids, assign=assign)(vec_col), F.lit(0)).alias(
            "cell"
        ),
        qv.alias("__qv"),
    )
    return (
        assigned.select("cell", F.posexplode("__qv").alias("dim", "q"))
        .groupBy("cell", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("sum_q"))
    )


def ivf_refine(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
    assign: str = "float",
) -> np.ndarray:
    """Full-corpus Lloyd refinement of a (sample-trained) quantizer.

    :func:`ivf_train` fits centroids on an ``n_train`` sample — a
    distribution sketch, which is what makes training driver-cheap at
    100 TB. But sample-only cell boundaries can misplace mass the sample
    never saw; the classic fix is corpus-scale Lloyd passes: assign every
    vector to its nearest centroid (the map-only assignment UDF), reduce
    per-(cell, dim) component sums, recompute the k×dim centroid matrix
    driver-side, repeat. Each iteration is one corpus pass, the stats
    relation :func:`_refine_stats` (also the oracled ``emb_kmeans_refine``
    query):

    - **Assignment is map-only** (centroid matrix rides the closure, the
      PQ-codebook movement class).
    - **The reduce is pre-aggregated map-side**: dims are exploded and
      hash-aggregated on (cell, dim), so each task emits at most k×dim
      partial rows — the shuffle carries tasks × k × dim longs, never the
      corpus.
    - **Driver state is model-sized**: the collect is k×dim (sum, count)
      rows per iteration.
    - **Sums are exact**: components are quantized to the
      ``REFINE_SCALE`` grid (floor(x·S + 0.5), the shared dround idiom)
      and summed as longs — order-independent under any partitioning, so
      refined centroids are bit-identical across reruns, engines, and the
      numpy mirror (``tests/mirrors.py::ivf_refine_reference``). New
      centroid = sum/n/S in IEEE doubles. Cells with no members keep their
      previous centroid (standard Lloyd).

    ``assign`` is :func:`_nearest_cells`' mode: ``"float"`` (fastest) or
    ``"quantized"`` (engine-portable, DuckDB-replayable; the oracled
    ``emb_kmeans_refine`` query uses it).
    """
    C = centroids.astype(np.float64).copy()
    for _ in range(iters):
        for r in _refine_stats(df, C, vec_col, assign).collect():
            C[r["cell"], r["dim"]] = (
                float(r["sum_q"]) / float(r["n"]) / REFINE_SCALE
            )
    return C


def ivf_index(
    base: DataFrame,
    centroids: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every base vector to its nearest cell — one map-only pass
    (columns: neighbor_id, b_vec, cell). At scale, write this partitioned or
    bucketed by ``cell`` so probes scan only probed cells. A NULL vector
    is not indexed (:func:`~stupidb_spark.operators.similarity.base_scan`)."""
    return _index_cells(base, centroids, id_col, vec_col, "float")


def _index_cells(
    base: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str, assign: str
) -> DataFrame:
    """:func:`ivf_index` in either :func:`_nearest_cells` mode (SemDeDup's
    exact mode assigns on the quantized grid)."""
    # coalesce-to-0 never fires (argmax always yields an int) but marks
    # `cell` non-nullable, so downstream joins on it don't infer an
    # isnotnull(cell) filter — which would push below the scan spread and
    # make Catalyst evaluate the assignment UDF TWICE per subtree (see
    # simhash_fingerprints for the observed plan shape). For the same
    # reason the UDF is marked nondeterministic: a filter on `cell` (the
    # probe's static cell set, a rebalance's hot cells) must not be pushed
    # through it, or Catalyst re-runs the assignment below the spread, in
    # the single-task scan stage (measured at sf0.1 on 4 cores:
    # ann_topk_ivf 1.50 s with the second pass, 1.32-1.35 s without).
    return base_scan(base, id_col, vec_col).withColumn(
        "cell",
        F.coalesce(
            _assign_udf(centroids, assign=assign).asNondeterministic()("b_vec"),
            F.lit(0),
        ),
    )


def ivf_probe(
    indexed: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 6,
) -> DataFrame:
    """Probe a prebuilt index: each query scores only the index rows of its
    ``n_probe`` nearest cells (computed driver-side on the collected query
    matrix — queries are the small, broadcastable side). The scorer is the
    shared top-k scan (``similarity.py::_score_topk``) of
    :func:`~stupidb_spark.operators.similarity.brute_force_topk`, with the
    per-query cell-membership mask (:func:`_probe_mask`) instead of a
    probe-pair join. No training, no full scan.

    Returns: query_id, neighbor_id, cosine_sim, rk (≤ k rows per query).
    """
    # ONE collect: the same (ids, matrix) drives cell selection and the
    # scorer — the query side never touches Spark again.
    q_ids, Q = collect_query_matrix(queries, id_col, vec_col)
    if not len(q_ids):
        return no_neighbors(indexed, "neighbor_id", "cosine_sim", k)
    probe_mask, probed = _probe_mask(Q, centroids, n_probe)
    qnorms = _quant_norms(Q)

    def sims_in_probed_cells(pdf: pd.DataFrame):
        sims = _quant_sims(_batch_vectors(pdf), Q, qnorms)
        return sims, probe_mask[:, pdf["cell"].to_numpy()].T

    return _score_topk(
        indexed.filter(F.col("cell").isin(probed)),
        q_ids,
        k,
        "cosine_sim",
        sims_in_probed_cells,
    )


@dataclass
class IvfIndex:
    """A trained coarse quantizer and the (neighbor_id, b_vec, cell)
    assignment of the indexed vectors."""

    centroids: np.ndarray
    indexed: DataFrame


def save_ivf_index(idx: IvfIndex, path: str) -> None:
    """Persist an index as a table: the cell assignment partitioned by
    ``cell`` (so :func:`ivf_probe`'s static cell filter prunes to probed
    partitions at scan time) plus the centroid matrix as model metadata.

    This is the durable form of :func:`build_ivf_index`: the index
    outlives the session and is shared by every probing job.
    """
    idx.indexed.write.partitionBy("cell").mode("overwrite").parquet(
        f"{path}/cells"
    )
    spark = idx.indexed.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(idx.centroids)]
    spark.createDataFrame(rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def load_ivf_index(spark, path: str) -> IvfIndex:
    """Load a :func:`save_ivf_index` table; probes against it scan only the
    probed cell partitions."""
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    centroids = np.stack([np.array(r.centroid, dtype=np.float64) for r in cent_rows])
    indexed = spark.read.parquet(f"{path}/cells")
    return IvfIndex(centroids=centroids, indexed=indexed)


def check_ivf_index(spark, path: str) -> dict:
    """Integrity probe for a saved index — the repair tool for the
    non-transactional window in :func:`rebalance_ivf_index`.

    Two invariants, each one bounded aggregate over (id, cell) ints:

    - no neighbor_id appears in more than one cell (violated by a crash
      between the rebalance's data commit and its stale-parent delete);
    - every data cell id has a centroid row (violated by a crash between
      the data commit and the centroid write — orphan sub-cells a probe
      would silently never scan).

    Returns ``{"duplicate_ids": n, "stale_cells": [...], "orphan_cells":
    [...]}``; all-clear is ``(0, [], [])``. ``stale_cells`` names the cells
    holding duplicated ids — for a crashed split that is the parent dir to
    delete (the moved copies are the ones nearest their centroid).
    """
    indexed = spark.read.parquet(f"{path}/cells").select("neighbor_id", "cell")
    cent_cells = {
        r.cell for r in spark.read.parquet(f"{path}/centroids").select("cell").collect()
    }
    dup = (
        indexed.groupBy("neighbor_id")
        .agg(F.collect_set("cell").alias("cells"))
        .filter(F.size("cells") > 1)
        .agg(
            F.count(F.lit(1)).alias("n_ids"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("cells")))
            ).alias("cells"),
        )
        .collect()[0]
    )
    data_cells = {r.cell for r in indexed.select("cell").distinct().collect()}
    return {
        "duplicate_ids": int(dup.n_ids),
        "stale_cells": [int(c) for c in (dup.cells or [])],
        "orphan_cells": sorted(int(c) for c in data_cells - cent_cells),
    }


def ivf_append(
    idx: IvfIndex,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Append new vectors to an existing index WITHOUT retraining: assign
    them to the frozen coarse quantizer's cells (one map-only pass over the
    new vectors only) and union with the existing assignment.

    Drift / rebalance contract: the quantizer stays frozen, so appended
    vectors are binned by the distribution the index was TRAINED on. That is
    exactly what a growing corpus wants (index cost proportional to the
    delta, probes unchanged) as long as the new data resembles the old; if
    the distribution drifts, cells skew and recall decays gracefully — never
    wrongly, since probes still score true cosines, just over less-balanced
    cells. Monitor with :func:`ivf_cell_stats`; retrain (full
    :func:`build_ivf_index`) when the max/mean cell ratio exceeds ~8x or the
    appended volume exceeds the originally-indexed volume.
    """
    assigned = ivf_index(new_vectors, idx.centroids, id_col=id_col, vec_col=vec_col)
    return IvfIndex(
        centroids=idx.centroids,
        indexed=idx.indexed.unionByName(assigned),
    )


def append_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Durable form of :func:`ivf_append`: assign new vectors with the
    SAVED centroids and append them to the cell-partitioned index table.

    Writes land inside the existing ``cell=N`` partition directories
    (``mode("append")`` with the same ``partitionBy``), so
    :func:`ivf_probe`'s static cell filter prunes exactly as before — the
    probed-partition contract survives appends. Cost is one map-only pass
    over the delta; the existing index is never read or rewritten. Same
    drift/rebalance contract as :func:`ivf_append`.
    """
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    centroids = np.stack(
        [np.array(r.centroid, dtype=np.float64) for r in cent_rows]
    )
    assigned = ivf_index(new_vectors, centroids, id_col=id_col, vec_col=vec_col)
    # Align the delta to the STORED vector type (e.g. array<float> index,
    # array<double> delta): parquet partitions mixing element types fail at
    # read time with PARQUET_COLUMN_DATA_TYPE_MISMATCH — schema drift on an
    # append must not poison the index.
    stored = dict(spark.read.parquet(f"{path}/cells").dtypes)["b_vec"]
    assigned = assigned.withColumn("b_vec", F.col("b_vec").cast(stored))
    assigned.write.partitionBy("cell").mode("append").parquet(f"{path}/cells")


def ivf_cell_stats(indexed: DataFrame) -> DataFrame:
    """Per-cell population (cell, n) — the rebalance signal for appended
    indexes. One hash aggregate over (cell) ints; never touches vectors."""
    return indexed.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))


@dataclass
class RebalanceResult:
    """Outcome of :func:`ivf_rebalance`: the (possibly unchanged) index and
    the split map ``{parent_cell: [new_cell_ids...]}`` (empty = no cell was
    hot; the first id of every family is the parent's own, reused)."""

    index: IvfIndex
    split: dict[int, list[int]]


def _cell_sample(
    indexed: DataFrame, cell: int, n_train: int
) -> tuple[np.ndarray, np.ndarray]:
    """Bounded Lloyd sample for one cell: ``n_train`` members drawn EVENLY
    across the cell's id range (deterministic hash order, id tie-break),
    returned id-sorted as ``(ids, X)``.

    Lowest-id sampling would be wrong here: rebalance exists because
    appends piled into the cell, and appended rows carry the HIGHEST ids —
    a cell with ≥ n_train pre-append members would contribute a sample with
    zero pile members, the fitted sub-centroids would never see the hot
    region, and the split would fail to reduce skew. Hash-ordered
    draw gives every id segment (tenured and appended alike)
    representation proportional to its population."""
    rows = (
        indexed.filter(F.col("cell") == cell)
        .orderBy(F.xxhash64("neighbor_id"), "neighbor_id")
        .limit(n_train)
        .collect()
    )
    # id-sort so the rebalance's evenly-spaced seeds span the id range —
    # tenured lows and appended highs both get seeds in proportion
    rows.sort(key=lambda r: r.neighbor_id)
    ids = np.array([r.neighbor_id for r in rows])
    return ids, np.stack([np.array(r.b_vec, dtype=np.float64) for r in rows])


def ivf_rebalance(
    idx: IvfIndex,
    *,
    max_ratio: float = 8.0,
    target_ratio: float = 2.0,
    n_train: int = 4096,
    iters: int = 3,
    max_split: int = 8,
) -> RebalanceResult:
    """Split hot cells of a drifted/appended index — the action answering
    :func:`ivf_cell_stats`'s signal (the ~8× max/mean trigger documented on
    :func:`ivf_append`), closing the append loop without a full retrain.

    Mechanics, all bounded:

    - ONE k-row collect of per-cell counts finds cells whose population
      exceeds ``max_ratio`` × mean (mean over ALL quantizer cells, so empty
      cells count — drift that hollows out cells raises the pressure on the
      hot ones, as it should).
    - Per hot cell, a local deterministic Lloyd (the :func:`ivf_train`
      recipe) on ``n_train`` members drawn evenly across the cell's id
      range (:func:`_cell_sample` — so an appended high-id pile is
      represented even when the cell had ≥ n_train tenured rows) fits
      ``ceil(pop / (target_ratio × mean))`` ≤ ``max_split`` sub-centroids —
      a bounded driver-side sample per hot cell, exactly like training.
    - Cell ids are STABLE: the first sub-centroid takes the parent's row in
      the centroid matrix, the rest append at the end. Cold cells keep
      their ids, are never reassigned and never rewritten, so a durable
      index rewrites only hot partitions and partition pruning is
      unchanged.
    - Only hot-cell rows are reassigned (one map-only pass over those cells,
      each vector restricted to its parent's sub-centroid family) — cost is
      O(hot rows), not O(index).

    Probes against the result score the same true cosines over finer
    cells. Probe-budget contract: keep ``n_probe / n_centroids`` roughly
    constant across a rebalance (e.g. ``ceil(n_probe * k_new / k_old)``) —
    splitting shrinks each cell's coverage, so a FIXED n_probe scans a
    smaller fraction of the space and recall decays with every split
    (measured: 0.96 → 0.88 on the fixture with n_probe frozen at 6 while
    16 → 19 cells; restored at the scaled budget). With the scaled budget
    the probe's work is unchanged — the same fraction of a now
    better-balanced index — which is the whole point of the split.
    """
    k_old = len(idx.centroids)
    counts = {r.cell: r.n for r in ivf_cell_stats(idx.indexed).collect()}
    total = sum(counts.values())
    if not total:
        return RebalanceResult(idx, {})
    mean = total / k_old
    hot = sorted(c for c, n in counts.items() if n > max_ratio * mean)
    if not hot:
        return RebalanceResult(idx, {})

    centroids = [c.copy() for c in idx.centroids]
    split: dict[int, list[int]] = {}
    families: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for c in hot:
        n_sub = int(min(max_split, max(2, np.ceil(counts[c] / (target_ratio * mean)))))
        _, X = _cell_sample(idx.indexed, c, n_train)
        n_sub = min(n_sub, len(X))
        # POPULATION-PROPORTIONAL seeds (evenly spaced over the id-sorted
        # sample), not ivf_train's first k: rebalance exists because one
        # region of the cell piled up, and first-k seeds all land among the
        # longest-tenured (lowest-id) members, leaving the pile — typically
        # the newest, highest-id rows — to collapse into one sub-centroid
        # and defeat the split.
        seeds = np.linspace(0, len(X) - 1, n_sub).astype(int)
        sub = _cosine_lloyd(X, seeds, iters)
        ids = [c] + list(range(len(centroids), len(centroids) + n_sub - 1))
        centroids[c] = sub[0]
        centroids.extend(sub[1:])
        split[c] = ids
        families[c] = (np.array(ids, dtype=np.int32), sub)

    def reassign(v: pd.Series, cell: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy())
        cells = cell.to_numpy()
        out = np.empty(len(cells), dtype=np.int32)
        for parent, (ids, C) in families.items():
            m = cells == parent
            if m.any():
                out[m] = ids[_nearest_cells(M[m], C)[:, 0]]
        return pd.Series(out)

    reassign_udf = F.pandas_udf(reassign, "int")
    hot_rows = idx.indexed.filter(F.col("cell").isin(hot)).select(
        "neighbor_id",
        "b_vec",
        reassign_udf("b_vec", "cell").alias("cell"),
    )
    cold_rows = idx.indexed.filter(~F.col("cell").isin(hot))
    new_idx = IvfIndex(
        centroids=np.stack(centroids),
        indexed=cold_rows.unionByName(hot_rows),
    )
    return RebalanceResult(new_idx, split)


def rebalance_ivf_index(spark, path: str, **kwargs) -> dict[int, list[int]]:
    """Durable form of :func:`ivf_rebalance`: split the saved index's hot
    cells in place and return the split map (empty = nothing was hot, no
    write happened).

    Only the AFFECTED partitions are rewritten (dynamic partition
    overwrite: the hot parents plus the appended sub-cells); cold ``cell=N``
    directories are untouched, so the probe-side PartitionFilters contract
    survives the rebalance exactly as it survives appends. One edge needs
    explicit cleanup: a hot parent whose rows ALL moved to new sub-cells
    has no rows in the written data, so dynamic overwrite never touches its
    ``cell=N`` directory and the stale files would double-count those
    neighbors on probe — detected with one bounded aggregate before
    writing, and the emptied parent directories are deleted (Hadoop
    FileSystem, so it works on any cluster store) after the write commits.
    The delete is a separate action after the commit, so a crash between
    the two can leave a stale parent dir whose rows duplicate the moved
    sub-cell copies. That window is NOT self-healing: a later rebalance
    only deletes parents *it* empties, so a no-longer-hot stale parent
    keeps its duplicates until repaired. After any crash mid-rebalance,
    run :func:`check_ivf_index` — it detects duplicated neighbor_ids with
    one aggregate and names the offending cells; deleting those ``cell=N``
    directories (the copy NOT nearest its centroid is the stale one, which
    for a split is always the parent) restores the invariant. This is the
    same non-transactional contract every bare-parquet layout has.
    """
    idx = load_ivf_index(spark, path)
    res = ivf_rebalance(idx, **kwargs)
    if not res.split:
        return {}
    new = res.index
    affected = sorted(
        {c for ids in res.split.values() for c in ids} | set(res.split)
    )
    changed = new.indexed.filter(F.col("cell").isin(affected))
    # A changed ROW set that leaves a parent partition empty can't be
    # expressed as a dynamic partition overwrite — check first (k-row agg).
    changed_counts = {
        r.cell: r.n for r in ivf_cell_stats(changed).collect()
    }
    parents_emptied = [c for c in res.split if not changed_counts.get(c)]
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        changed.write.partitionBy("cell").mode("overwrite").parquet(
            f"{path}/cells"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    if parents_emptied:
        # Dynamic overwrite replaces only the partitions PRESENT in the
        # written data; an emptied parent has none, so its stale directory
        # must be deleted explicitly or the reloaded index would return
        # those neighbors twice on probe.
        hconf = spark._jsc.hadoopConfiguration()
        jpath = spark._jvm.org.apache.hadoop.fs.Path
        for c in parents_emptied:
            p = jpath(f"{path}/cells/cell={c}")
            p.getFileSystem(hconf).delete(p, True)
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(new.centroids)]
    spark.createDataFrame(
        rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return res.split


def build_ivf_index(
    base: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 3,
) -> IvfIndex:
    """Train the coarse quantizer on a bounded sample and assign every base
    vector to its cell (lazy: the assignment runs in the caller's jobs)."""
    centroids = ivf_train(
        base, id_col=id_col, vec_col=vec_col, k=n_centroids, iters=iters
    )
    indexed = ivf_index(base, centroids, id_col=id_col, vec_col=vec_col)
    return IvfIndex(centroids=centroids, indexed=indexed)


def ivf_topk(
    base: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 6,
    iters: int = 3,
) -> DataFrame:
    """IVF-Flat top-k = build + probe."""
    idx = build_ivf_index(
        base,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        iters=iters,
    )
    return ivf_probe(
        idx.indexed,
        idx.centroids,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        n_probe=n_probe,
    )
