"""Distributed k-nearest-neighbor join over embedding columns — for EVERY
query vector, its k most-cosine-similar base vectors. The primitive behind
kNN classification, diversity/novelty sampling, and retrieval-style data
curation sweeps, sitting between :func:`~stupidb_spark.operators.similarity.
brute_force_topk` (bounded query set, collected to the driver) and
:func:`~stupidb_spark.operators.similarity.embedding_near_dup_pairs`
(threshold semantics, no per-row k) — here BOTH sides are corpus-sized and
nothing unbounded ever reaches the driver.

Beyond-reference surface (SURVEY.md §7: the reference has no embedding
operators). Blocking is the IVF recipe: a sample-trained k-means quantizer
gives every row its ``n_probe`` nearest cells in one map-only Arrow pass
(the family's one kernel, ``ivf.py::_nearest_cells``; the centroid matrix
is a bounded closure constant, the PQ-codebook movement class). A base row
lives in the first of them, the cell ``ivf_index`` assigns; a query probes
all of them; scoring happens inside (cell, sub-block) tasks.

Scale design (100 TB):
- **One corpus shuffle per side.** Base rows shuffle once onto
  (cell, sub, qchunk) task keys; query rows replicate to ``n_probe × s``
  of them — the only other shuffles are the n_cells-row count tables and
  the final candidate aggregate.
- **No task ever exceeds ~max_block rows on EITHER side.** Oversized
  cells are hash-split like `salted_block_tasks` on the base axis, and
  per-cell probed-query counts chunk the query axis symmetrically — a
  hot semantic cluster OR a skewed query distribution degrades to
  parallel bounded tasks, never one mega-task (the WindowExec
  mega-partition rule applied to ANN on both dimensions).
- **Bounded final state.** Each task emits at most k candidates per query,
  so the per-query top-k aggregate holds ≤ k·Σ(probed-cell salt factors)
  structs — bounded by construction, unlike aggregating raw candidates.
- **Exact-by-construction arithmetic.** Similarities use the quantized-dot
  grid (`similarity.QUANT_SCALE`), ties break on neighbor id, so results
  are deterministic under any partitioning, and with ``n_probe = n_cells``
  the join is EXACT brute-force kNN (pinned by the differential test —
  the recall knob degrades coverage, never correctness of what it scores).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stupidb_spark.operators.dedup import (
    SPREAD_BYTES_PER_TASK,
    spread_small_scan,
)
from stupidb_spark.operators.lineage import cut_lineage
from stupidb_spark.operators.ivf import _nearest_cells, ivf_refine, ivf_train
from stupidb_spark.operators.similarity import (
    _quant_norms,
    _quant_sims,
    norm_guard,
)


def derive_n_cells(
    n_base: int, *, target_occupancy: int = 250, n_train: int = 4096
) -> int:
    """Occupancy-constant cell count: ``ceil(n / target_occupancy)``,
    clamped to [1, n_train] (Lloyd seeds one centroid per sample row).
    The measured-linear sizing rule (SCALE.md "kNN sizing rule") that
    :func:`knn_join` applies when ``n_cells`` is not passed."""
    return int(min(max(1, -(-n_base // target_occupancy)), n_train))


def knn_join(
    base: DataFrame,
    queries: DataFrame | None = None,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_neighbors: int = 5,
    n_cells: int | None = None,
    n_probe: int = 2,
    iters: int = 3,
    n_train: int = 4096,
    max_block: int = 2048,
    target_occupancy: int = 250,
    refine_iters: int = 0,
    base_carry: str | None = None,
) -> DataFrame:
    """For each query row, its ``k_neighbors`` nearest base rows by
    quantized cosine. ``queries=None`` is the self-join (each vector's
    neighbors among the OTHERS — self pairs excluded).

    Returns ``(query_id, rank, neighbor_id, cosine_sim)`` with ``rank``
    1-based by (similarity DESC, neighbor_id ASC). Queries whose probed
    cells hold no base rows are omitted (no candidates — raise ``n_probe``
    for total coverage; ``n_probe = n_cells`` is exact brute force).

    ``base_carry``: name of ONE base column to ride the pipeline and come
    back on each output row (``..., cosine_sim, <base_carry>``) — the
    classifier's label attach without a corpus-sized join-back: the old
    ``knn → join(base, neighbor_id)`` re-shuffled the k×queries candidate
    relation AND the base table (2 exchanges + a shuffled hash join per
    r15 profile) to fetch a value every scoring task already held. The
    carried value adds a few bytes per base row to the one existing task
    shuffle and a third struct field to the top-k merge; the merge order
    is untouched because (−sim, neighbor) is already a total order per
    query (each (query, base) pair scores in exactly one task, so
    neighbor ids are unique per query). Default None keeps the
    four-column output and plan byte-identical to round 14.

    Sizing (100 TB): within-cell comparison volume is
    Θ(N²·n_probe/n_cells), so a FIXED cell count is quadratic by
    construction. The default (``n_cells=None``) therefore derives the
    cell count from one cheap base ``count()``:
    ``n_cells = ceil(n / target_occupancy)`` — constant cell occupancy,
    which makes total work Θ(N·n_probe·occupancy), linear in N (measured
    linear at the 100× fixture, SCALE.md "kNN sizing rule"). The derived
    count is clamped to ``n_train`` so the Lloyd sample can seed every
    centroid; at corpora where ``n/target_occupancy`` exceeds that, raise
    ``n_train`` alongside. Passing ``n_cells`` explicitly overrides the
    rule (small fixtures, recall experiments) and is the caller's
    assertion that the fixed count is safe at their scale.

    ``refine_iters=N`` runs N corpus-scale Lloyd passes
    (:func:`~stupidb_spark.operators.ivf.ivf_refine`) after the sample
    training — the repair for ingest-order sample bias (a cluster-ordered
    corpus measured 0.911 → 1.000 recall with ONE pass, SCALE.md round 9).
    Cost: one extra corpus map + a k×dim-bounded shuffle per pass.
    Default 0 keeps the registered queries' plans and bench continuity.
    """
    self_join = queries is None
    if n_cells is None:
        n_cells = derive_n_cells(
            base.count(), target_occupancy=target_occupancy, n_train=n_train
        )
    centroids = ivf_train(
        base, id_col=id_col, vec_col=vec_col, k=n_cells, iters=iters,
        n_train=n_train,
    )
    if refine_iters > 0:
        centroids = ivf_refine(
            base, centroids, id_col=id_col, vec_col=vec_col,
            iters=refine_iters,
        )

    @F.pandas_udf("array<int>")
    def probe(v: pd.Series) -> pd.Series:
        top = _nearest_cells(np.stack(v.to_numpy()), centroids, n_probe)
        return pd.Series(top.tolist())

    # ONE corpus Arrow pass for BOTH sides: a row's leading probe cell is
    # its base cell, the cell ivf_index assigns (both are the one kernel,
    # ivf.py::_nearest_cells). The lazy localCheckpoint (the first
    # consumer's job materializes it) serves all four downstream consumers
    # from local blocks, so the corpus is scanned and assigned once. In the
    # self-join every row is both sides; otherwise a side tag rides the
    # unioned relation and the sides are filters over the one checkpoint
    # (union promotes the id type).
    carry_type = dict(base.dtypes)[base_carry] if base_carry else None
    carry_b = (
        [F.col(base_carry).alias("__carry")] if base_carry else []
    )
    carry_q = (
        # query rows never supply the carried value; a typed NULL keeps the
        # union schema aligned
        [F.lit(None).cast(carry_type).alias("__carry")] if base_carry else []
    )
    if self_join:
        tagged = base.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            *carry_b,
        )
    else:
        tagged = base.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            F.lit(True).alias("__is_b"),
            *carry_b,
        ).unionByName(
            queries.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("vec"),
                F.lit(False).alias("__is_b"),
                *carry_q,
            )
        )
    # Volume-derived spread width (guide §2): the probe pass is a trivial
    # vectorized matmul per row, so spreading a kilobyte-scale scan to the
    # full core count just multiplies fixed task overhead (r15: the 32-wide
    # probe stage cost ~0.86 s wall for ~40 ms of numpy at sf0.1). 256 KiB
    # per task keeps the stage narrow at fixture scale and widens toward
    # the core cap as the corpus grows; at 100 TB the scan is already wide
    # and the spread is a no-op either way.
    probed_all = cut_lineage(
        spread_small_scan(
            norm_guard(tagged, "knn_join"), bytes_per_task=SPREAD_BYTES_PER_TASK
        ).withColumn("__cells", probe(F.col("vec"))),
        eager=False,
    )
    bsrc = probed_all if self_join else probed_all.filter(F.col("__is_b"))
    qsrc = probed_all if self_join else probed_all.filter(~F.col("__is_b"))
    # One shared never-fires fallback for the base side (probe always
    # yields n_probe >= 1 cells): an empty/null __cells array falls back to
    # cell 0 in BOTH the row assignment and the count derivation below, so
    # the two can never diverge (the r14 form counted from a plain
    # posexplode — an empty array would have assigned the row cell 0 here
    # yet contributed no count, silently dropping it at the task join).
    # The coalesce-to-0 additionally marks `cell` non-nullable — the
    # ivf_index trick that stops downstream joins inferring an
    # isnotnull(cell) filter that would re-run the UDF per subtree.
    cells_nz = F.when(F.size("__cells") > 0, F.col("__cells")).otherwise(
        F.array(F.lit(0))
    )
    carry_ref = ["__carry"] if base_carry else []
    b = bsrc.select(
        "id",
        "vec",
        F.coalesce(F.element_at(cells_nz, 1), F.lit(0)).alias("cell"),
        *carry_ref,
    )
    qprobed = qsrc.select(
        "id", "vec", F.explode("__cells").alias("cell"), *carry_ref
    )

    # n_cells rows — the bounded salt table (broadcast by construction).
    # The QUERY side of a task must be bounded too: a skewed query
    # distribution (every query probing one hot cell) would otherwise pile
    # the whole query set into that cell's tasks. Per-cell probed-query
    # counts set a chunk factor, giving symmetric 2D blocking: task
    # (cell, sub, qc) holds ≤ max_block base rows AND ≤ max_block query
    # rows by construction; each (query, base) pair lands in exactly one
    # task — (cell, sub(base), qc(query)).
    #
    # BOTH per-cell counts come from ONE aggregation over the probed
    # checkpoint: a base row's cell is __cells[0] (count it at pos 0 only)
    # and a query row probes every __cells entry — posexplode carries only
    # (pos, cell[, __is_b]) ints, never the vectors. The previous separate
    # cell_counts/qcnt aggregates scanned the corpus-sized checkpoint twice
    # as two serialized broadcast-build jobs (r14 profile: 2 × ~440 ms wall
    # at sf0.1, one redundant corpus pass at scale).
    # posexplode over the SAME fallback expression as `b` (cells_nz): a
    # base row's cell is its entry at pos 0, so the count and the
    # assignment agree by construction even in the never-fires empty case.
    # The query side stays on the raw __cells — qprobed explodes the raw
    # array too, so an empty-cells query row consistently contributes
    # neither probes nor counts.
    if self_join:
        cexp = probed_all.select(
            "__cells", F.posexplode(cells_nz).alias("pos", "cell")
        )
        is_b_row, is_q_row = F.col("pos") == 0, F.size("__cells") > 0
    else:
        cexp = probed_all.select(
            "__is_b", "__cells", F.posexplode(cells_nz).alias("pos", "cell")
        )
        is_b_row = F.col("__is_b") & (F.col("pos") == 0)
        is_q_row = ~F.col("__is_b") & (F.size("__cells") > 0)
    cell_tasks = (
        cexp.groupBy("cell")
        .agg(
            F.count(F.when(is_b_row, 1)).alias("__n"),
            F.count(F.when(is_q_row, 1)).alias("__qn"),
        )
        # cells with no base rows never had a cell_counts row before: a
        # probed-empty cell still contributes nothing (q joins inner below)
        .filter(F.col("__n") > 0)
        .select(
            "cell",
            F.ceil(F.col("__n") / F.lit(max_block)).cast("int").alias("__s"),
            F.greatest(
                F.ceil(F.col("__qn") / F.lit(max_block)).cast("int"), F.lit(1)
            ).alias("__qc"),
        )
    )

    b = b.join(F.broadcast(cell_tasks), "cell").select(
        "cell",
        F.pmod(F.xxhash64("id"), F.col("__s")).cast("int").alias("sub"),
        F.explode(F.sequence(F.lit(0), F.col("__qc") - F.lit(1))).alias("qc"),
        "id",
        "vec",
        F.lit(True).alias("is_base"),
        *carry_ref,
    )

    q = (
        # a probed cell with no base rows contributes nothing: inner join
        # on the bounded task table drops it
        qprobed.join(F.broadcast(cell_tasks), "cell")
        .select(
            "cell",
            F.explode(F.sequence(F.lit(0), F.col("__s") - F.lit(1))).alias("sub"),
            F.pmod(F.xxhash64("id"), F.col("__qc")).cast("int").alias("qc"),
            "id",
            "vec",
            F.lit(False).alias("is_base"),
            *carry_ref,
        )
    )

    # Task-input id type comes from the UNIONED relation, not the base
    # side: union promotes (e.g. int base ids vs long query ids → long),
    # and typing the applyInPandas output from the base side alone would
    # silently cast wider query ids back down. One promoted type for both
    # output id columns is lossless — neighbor ids always fit in it.
    tasks_input = b.unionByName(q)
    id_type = dict(tasks_input.dtypes)["id"]
    cand_schema = f"query {id_type}, neighbor {id_type}, sim double"
    if base_carry:
        cand_schema += f", carry {carry_type}"
    k = k_neighbors
    with_carry = bool(base_carry)

    def empty_cand() -> pd.DataFrame:
        cols = {"query": [], "neighbor": [], "sim": []}
        if with_carry:
            cols["carry"] = []
        return pd.DataFrame(cols).astype({"sim": "float64"})

    def task(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        Bp = pdf[pdf["is_base"]]
        Qp = pdf[~pdf["is_base"]]
        if len(Bp) == 0 or len(Qp) == 0:
            return empty_cand()
        Bm = np.stack(Bp["vec"].to_numpy()).astype(np.float64)
        Qm = np.stack(Qp["vec"].to_numpy()).astype(np.float64)
        b_ids = Bp["id"].to_numpy()
        q_ids = Qp["id"].to_numpy()
        b_carry = Bp["__carry"].to_numpy() if with_carry else None
        sims = _quant_sims(Bm, Qm, _quant_norms(Qm))  # (nB, nQ)
        out_q, out_n, out_s, out_c = [], [], [], []
        for j in range(len(q_ids)):
            col = sims[:, j]
            mask = b_ids != q_ids[j] if self_join else np.ones(len(b_ids), bool)
            ids_j = b_ids[mask]
            col_j = col[mask]
            if len(ids_j) == 0:
                continue
            # local top-k by (sim DESC, id ASC): lexsort's last key is
            # primary
            order = np.lexsort((ids_j, -col_j))[:k]
            out_q.append(np.repeat(q_ids[j], len(order)))
            out_n.append(ids_j[order])
            out_s.append(col_j[order])
            if with_carry:
                out_c.append(b_carry[mask][order])
        if not out_q:
            return empty_cand()
        cols = {
            "query": np.concatenate(out_q),
            "neighbor": np.concatenate(out_n),
            "sim": np.concatenate(out_s),
        }
        if with_carry:
            cols["carry"] = np.concatenate(out_c)
        return pd.DataFrame(cols)

    cand = tasks_input.groupBy("cell", "sub", "qc").applyInPandas(
        task, cand_schema
    )

    # Per-query merge of the ≤ k-per-task candidates: sort_array over
    # (-sim, neighbor[, carry]) structs — negation is exact in IEEE
    # doubles, so the recovered sim is bit-identical to the task's
    # quantized value. The carried field rides as the LAST struct field:
    # (s, n) is already a total order per query (neighbor ids unique — each
    # (query, base) pair scores in exactly one task), so sort_array's
    # lexicographic comparison never reaches it and the order is identical
    # with or without it.
    struct_fields = [
        (-F.col("sim")).alias("s"),
        F.col("neighbor").alias("n"),
    ]
    if base_carry:
        struct_fields.append(F.col("carry").alias("c"))
    top = (
        cand.groupBy("query")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct(*struct_fields))),
                1,
                k,
            ).alias("top")
        )
    )
    out_cols = [
        "query_id",
        (F.col("__pos") + 1).alias("rank"),
        F.col("__t.n").alias("neighbor_id"),
        (-F.col("__t.s")).alias("cosine_sim"),
    ]
    if base_carry:
        out_cols.append(F.col("__t.c").alias(base_carry))
    return top.select(
        F.col("query").alias("query_id"),
        F.posexplode("top").alias("__pos", "__t"),
    ).select(*out_cols)
