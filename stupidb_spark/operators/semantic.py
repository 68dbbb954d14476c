"""SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication"):
cluster embeddings with a sample-trained k-means quantizer, resolve
within-cluster cosine near-duplicate GROUPS (not just pairs), and keep
exactly one member per group — the one with the LOWEST cosine to its
cluster centroid, the paper's keep-the-outlier rule (the retained example
adds the most diversity to the surviving corpus).

Beyond-reference extension surface (SURVEY.md §7); the reference engine
has no embedding operators at all. This is a pure composition of pieces
that are each already scale-adjudicated in SCALE.md — no new shuffle
shape is introduced:

    ivf_train                 bounded driver-side sample (O(n_train·dim))
    ivf_index                 map-only cell assignment (Arrow batches)
    embedding_near_dup_pairs  salted block-local scoring; one oversized
                              cell can never serialize onto one task
    connected_components      checkpointed min-label propagation
    keep-one                  min_by over one component-keyed window

Both assignment modes build the index the ``ivf_index`` way (the shared
base scan, then the family's one nearest-centroid kernel,
``ivf.py::_nearest_cells``), so a NULL vector is dropped in either mode;
``assign="quantized"`` only moves the cosines onto the quantized grid.

At 100 TB the within-cell pair step is the budget: cells from a k-means
quantizer are balanced by construction (unlike raw category labels), and
the salting cap bounds every task at ~max_block² comparisons regardless
of how skewed a semantic cluster gets.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stupidb_spark.operators.dedup import corpus_join_strategy
from stupidb_spark.operators.lineage import cut_lineage
from stupidb_spark.operators.ivf import _index_cells, ivf_refine, ivf_train
from stupidb_spark.operators.components import connected_components
from stupidb_spark.operators.similarity import (
    embedding_near_dup_pairs,
    pair_cosine,
)


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    threshold: float = 0.9,
    iters: int = 3,
    n_train: int = 4096,
    max_block: int = 2048,
    centroids: np.ndarray | None = None,
    assign: str = "float",
    refine_iters: int = 0,
) -> DataFrame:
    """One row per input vector: ``(id, cell, component, centroid_sim,
    keep)``.

    ``component`` is the semantic duplicate group (min reachable id over
    the within-cell cosine≥threshold graph; singletons keep their own id);
    ``keep`` marks the group survivor — lowest ``centroid_sim``, then
    lowest id, so the output is fully deterministic given the (seeded,
    sample-trained) quantizer.

    Every step is deterministic: the quantizer trains on the ``n_train``
    lowest-id vectors, cell assignment is argmax cosine in float64, and
    ``centroid_sim`` uses the quantized-dot construction
    (`similarity.pair_cosine`), so the keep decision is reproducible
    run-to-run AND replicable by the numpy differential in
    ``tests/test_semantic.py``.

    Exact mode: pass ``centroids`` to skip training (e.g. a persisted or
    literal quantizer) and ``assign="quantized"`` to put the cell
    assignment itself on the quantized-cosine grid — then EVERY step
    (assignment, pairs, centroid_sim, components, keep) is an identical
    deterministic op on any engine, which is what makes the
    ``dedup_semantic_exact`` DuckDB oracle possible.

    ``refine_iters=N`` runs N corpus-scale Lloyd passes
    (:func:`~stupidb_spark.operators.ivf.ivf_refine`) after the sample
    training — the ingest-order sample-bias repair (SCALE.md round 9).
    Better cell boundaries mean fewer true near-dup pairs straddling a
    cell fence, the blocked form's one recall hazard. Only applies when
    the quantizer is trained here (``centroids=None``); default 0 for
    plan/bench continuity.
    """
    spark = df.sparkSession
    if centroids is None:
        centroids = ivf_train(
            df, id_col=id_col, vec_col=vec_col, k=k, iters=iters,
            n_train=n_train,
        )
        if refine_iters > 0:
            centroids = ivf_refine(
                df, centroids, id_col=id_col, vec_col=vec_col,
                iters=refine_iters,
            )
    # (neighbor_id, b_vec, cell) — map-only assignment pass. THREE subtrees
    # consume it (centroid scoring, the within-cell pair scorer, the
    # component node universe); without a cut each one re-reads the source
    # and re-runs the Arrow assignment UDF. The lazy localCheckpoint (the
    # components.py idiom — the first consumer's job materializes it)
    # trades those two redundant corpus passes for one executor-local
    # write + local re-reads; a durable SemDeDup pipeline materializes
    # this same relation as its index (ivf_index's parquet form). Measured
    # ~10% end-to-end at sf0.1; at corpus scale it is two saved full-scan
    # decode+UDF passes. On a real cluster set SPARK_GRAFT_CHECKPOINT_DIR
    # (operators/lineage.py) to make this cut a reliable checkpoint.
    indexed = cut_lineage(
        _index_cells(df, centroids, id_col, vec_col, assign), eager=False
    )

    # Model side: k×dim doubles — broadcast by construction (bounded like
    # the PQ codebooks), never estimate-driven.
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in centroids[i]]) for i in range(len(centroids))],
        "cell int, __centroid array<double>",
    )
    scored = indexed.join(F.broadcast(cent_df), "cell").select(
        F.col("neighbor_id").alias("node"),
        "cell",
        pair_cosine(F.col("b_vec"), F.col("__centroid")).alias("centroid_sim"),
    )

    pairs = embedding_near_dup_pairs(
        indexed.select(
            F.col("neighbor_id").alias(id_col),
            F.col("b_vec").alias(vec_col),
            "cell",
        ),
        id_col=id_col,
        vec_col=vec_col,
        block_col="cell",
        threshold=threshold,
        max_block=max_block,
    )
    comp = connected_components(
        pairs.select("id_a", "id_b"),
        src="id_a",
        dst="id_b",
        nodes=indexed.select(F.col("neighbor_id").alias("node")),
    )

    # Corpus-sized id-keyed joins from here down — strategy-pinned like
    # every other corpus join (the broadcast ban of the 100× probe).
    labeled = comp.hint(corpus_join_strategy()).join(
        scored.hint(corpus_join_strategy()), "node"
    )
    # Group survivor via min_by over the total order (centroid_sim, node),
    # evaluated as a whole-partition WINDOW over one component exchange.
    # The previous groupBy + self-join form executed ``labeled`` — and the
    # pair_cosine scoring pass inside ``scored`` — TWICE (once under the
    # aggregate, once as the join probe; the checkpoint cut stops at
    # ``indexed``, so each execution re-ran the scoring UDF and re-shuffled
    # the corpus: r14 profile showed two ~10-15 s task-time scoring jobs
    # per run at sf0.1). The window computes the identical ``keep`` bit
    # with ONE execution of ``labeled`` and ONE exchange (guide §2.4: two
    # operations keyed the same way share one exchange). Per-partition
    # state is bounded: a partition holds whole components (dedup groups,
    # bounded by cell size), and min_by keeps one accumulator, not the
    # group's rows.
    from pyspark.sql import Window

    keep_id = F.min_by(
        F.col("node"),
        F.struct(F.col("centroid_sim").alias("s"), F.col("node").alias("n")),
    ).over(Window.partitionBy("component"))
    return labeled.select(
        F.col("node").alias(id_col),
        "cell",
        "component",
        "centroid_sim",
        (F.col("node") == keep_id).alias("keep"),
    )
