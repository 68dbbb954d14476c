"""Physical-plan regression tests: the properties that matter at 100 TB,
pinned at sf0.001 — losing any of these wouldn't change results, only make
the plan catastrophically slower at scale, which is why they're tested."""

from __future__ import annotations

from stupidb_spark.plans import (
    exchange_count,
    formatted_plan,
    has_node,
    pushed_filters,
    read_schema_fields,
)
from stupidb_spark.queryset import QUERIES
from tests.conftest import SF_DIR


def test_tpch_q1_pushdown_and_pruning(spark):
    df = QUERIES["tpch_q1"](spark, SF_DIR)
    # shipdate filter reaches the parquet scan
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # scan reads only the 7 referenced columns, not all 11
    (scan,) = read_schema_fields(df)
    assert set(scan) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }
    # partial + final hash aggregation (map-side combine before the shuffle)
    assert formatted_plan(df).count("HashAggregate") >= 2


def test_star_join_broadcasts_dims(spark):
    df = QUERIES["join_inner_star"](spark, SF_DIR)
    assert has_node(df, "BroadcastHashJoin")
    assert not has_node(df, "SortMergeJoin")


def test_semi_join_is_hash_semi(spark):
    df = QUERIES["join_semi_exists"](spark, SF_DIR)
    assert "LeftSemi" in formatted_plan(df)


def test_topk_fuses_to_take_ordered(spark):
    df = QUERIES["sort_topk"](spark, SF_DIR)
    # order_by >> limit must NOT be a global sort: per-partition top-k + merge
    assert has_node(df, "TakeOrderedAndProject")
    assert not has_node(df, "Exchange rangepartitioning")


def test_compound_filter_pushes_down(spark):
    df = QUERIES["filter_compound"](spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("l_quantity" in f for f in pushed)
    assert any("l_discount" in f for f in pushed)


def test_fact_fact_join_prunes_both_scans(spark):
    df = QUERIES["join_fact_fact"](spark, SF_DIR)
    scans = read_schema_fields(df)
    assert len(scans) == 2
    # neither fact scan reads its full column set
    for fields in scans:
        assert len(fields) <= 4


def test_asof_join_is_join_free(spark):
    # union-merge as-of: one shuffle+sort window pass, NO join operator at
    # all — the property that avoids the O(n·m) range-pair explosion
    df = QUERIES["asof_join_orders"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, node


def test_minhash_never_plans_cartesian(spark):
    df = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shingling_plans_have_no_window(spark):
    # shingles come map-side from word_ngrams and the doc-keyed dedup
    # exchange; no per-document WindowExec sorts a document's token rows
    import re

    for name in (
        "dedup_minhash_lsh",
        "contamination_ngram",
        "contamination_bloom",
        "dedup_ingest_candidates",
    ):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert not re.search(r"\(\d+\) Window\b", plan), name


def test_minhash_verification_never_broadcasts(spark):
    # The 100x probe (SCALE.md) caught Catalyst auto-broadcasting the
    # corpus-sized exploded (doc, shingle) relation in the exact-Jaccard
    # verification joins: the post-explode size estimate sat under the
    # 64 MB threshold while the real hashed relation exceeded 256 MB at
    # 500k docs. The joins are shuffle_hash-pinned; no BroadcastHashJoin
    # may appear ANYWHERE in this plan at any scale (every join side here
    # is corpus- or output-sized).
    df = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_jaccard_never_broadcasts(spark):
    # Same failure shape as the minhash verification subtree (see above):
    # at factor 100 the static plan broadcast the inverted-index self-join
    # build side and both count join-backs. Every join side in this plan
    # is corpus-, vocabulary-, or output-sized — none may ever broadcast.
    # dedup_containment shares the candidate stage (_pair_overlap_counts)
    # with the jaccard queries — the pin must survive the shared-helper
    # refactor and the different final projection.
    for name in ("dedup_ngram_jaccard", "dedup_jaccard_capped", "dedup_containment"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" not in plan, name
        assert "ShuffledHashJoin" in plan, name


def test_vocab_joins_never_broadcast(spark):
    # The document-frequency tables of text_rarity_score and
    # text_tfidf_topterm are VOCABULARY-sized (billions of terms at
    # 100 TB), yet Catalyst's post-explode aggregate estimate kept them
    # under the auto-broadcast threshold at the factor-100 fixture and
    # statically planned their broadcast. shuffle_hash pins the scale-safe
    # strategy; the only broadcasts left in these plans are the 1-row
    # corpus-count scalars.
    for name in ("text_rarity_score", "text_tfidf_topterm"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "ShuffledHashJoin" in plan, name
        import re

        for m in re.finditer(
            r"\(\d+\) BroadcastHashJoin[^\n]*\n(?:[^\n]*\n){0,3}", plan
        ):
            # any surviving BHJ must be the 1-row scalar (no join keys)
            assert "Left keys [0]" in m.group(0) or "Join condition: None" in m.group(0), (
                name,
                m.group(0),
            )


def test_lm_scoring_joins_never_broadcast_count_tables(spark):
    # The LM scorers' count tables (bigram/trigram/context counts) are
    # VOCABULARY-sized — billions of n-grams at 100 TB — and after the
    # distinct-gram restructure they join gram-scale relations whose
    # Catalyst estimates are even smaller (the jaccard failure shape).
    # Every count join must stay shuffle-pinned; the only broadcasts
    # allowed are the per-language bounded tables (totals / V — one row
    # per language, keyed [lang] alone).
    import re

    for name in ("text_lm_perplexity", "text_lm_backoff"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "ShuffledHashJoin" in plan, name
        for m in re.finditer(
            r"\(\d+\) BroadcastHashJoin[^\n]*\n(?:[^\n]*\n){0,3}", plan
        ):
            block = m.group(0)
            keys = re.search(r"Left keys \[(\d+)\]", block)
            assert keys is not None and keys.group(1) == "1", (name, block)


def test_range_join_is_broadcast_nested_loop(spark):
    # the general operator (data-driven / overlapping intervals): broadcast-
    # NLJ of the tiny ranges side is the intended strategy (zero shuffle of
    # the fact side), and an overlapping row lands in BOTH buckets
    from pyspark.sql import functions as F

    from stupidb_spark.operators.asof import range_join
    from stupidb_spark.sources import load_table

    ranges = spark.createDataFrame(
        [("a", 0.0, 60.0), ("b", 40.0, 100.0)],  # overlap on [40, 60)
        "bucket_name string, lo double, hi double",
    )
    ev = load_table(spark, SF_DIR, "events")
    joined = range_join(
        ev, ranges, value=F.col("value"), lo=F.col("lo"), hi=F.col("hi")
    )
    assert has_node(joined, "BroadcastNestedLoopJoin")
    both = (
        joined.groupBy("event_id")
        .count()
        .filter(F.col("count") == 2)
        .count()
    )
    overlap_rows = ev.filter((F.col("value") >= 40.0) & (F.col("value") < 60.0)).count()
    assert both == overlap_rows > 0


def test_static_banding_has_no_join(spark):
    # the degenerate case (static non-overlapping buckets) must compile to a
    # CASE column — zero join operators, and the groupBy is the only exchange
    df = QUERIES["range_join_buckets"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert exchange_count(df) <= 1


# --------------------------------------------------------------------------
# exchange-count pins: a regression that adds a shuffle to these pipelines
# wouldn't change results, only multiply cost at scale — so the counts are
# pinned here and any increase must be a conscious decision.
# --------------------------------------------------------------------------

EXCHANGE_BUDGETS = {
    # fingerprint groupBy: the one shuffle
    "dedup_exact": 1,
    # spread + votes groupBy + fp backfill join + band self-join (2 sides) +
    # pair dedup
    "dedup_simhash": 7,
    # each of the four doc_shingles references (both band sides, both
    # shingle-set sides) statically counts its spread + doc-keyed shingle
    # dedup (8; AQE reuses some at run time) + the bucket self-join sides
    # (2) + candidate dedup + the candidate side of the id_a and id_b joins
    "dedup_minhash_lsh": 13,
    # spread + block-count agg (salting metadata) + salted task shuffle
    "dedup_embedding_cosine": 3,
    # spread + partial-topk merge window
    "ann_topk_bruteforce": 2,
    # spread + the one union-merge window shuffle, no join
    "asof_join_orders": 2,
    # salted two-phase agg: exactly two shuffles
    "agg_salted_skew": 2,
    # prep pipeline: fingerprint-dedup shuffle + language rollup, nothing else
    "pipeline_prep": 2,
    # packing two-phase cumsum: bucket totals agg + tiny offset window +
    # per-bucket cumsum window + final pack rollup
    "pack_sequences": 4,
    # sampling decision fuses into the scan; only the rate rollup shuffles
    "sample_stratified": 1,
    # epoch fan-out is a generator in the scan stage: NO shuffle at all
    "mixture_epochs": 0,
    # chunk fan-out is likewise a scan-stage generator: NO shuffle
    "chunk_documents": 0,
    # PII counting + masking are codegen'd regex expressions: NO shuffle
    "pii_redact": 0,
    # doc-keyed gram dedup (bench + corpus sides) + the single combined
    # groupBy; bench grams broadcast, no doc-aligning join
    "contamination_ngram": 5,
    # bucket offsets agg + tiny offset window + per-bucket rank window
    # (the broadcast join back adds no exchange)
    "shuffle_deterministic": 3,
    # two-phase term count + salted local rank + final per-lang rank over
    # the <= 16k survivors (the extra exchange buys 16-way parallelism over
    # the vocabulary instead of one task sorting a whole language)
    "terms_topk": 3,
    # static CASE banding: the groupBy is the ONLY exchange (no join)
    "range_join_buckets": 1,
    # spread + ids-only partial-topk merge (mask scorer — no candidate join)
    "ann_topk_lsh": 2,
    # (doc, word) counts then per-doc rollup
    "text_repetition": 2,
    # tf + df + word-keyed join (both sides) + per-doc min_by agg + 1-row
    # N agg (top-1 is a hash aggregate, not a per-doc sort window)
    "text_tfidf_topterm": 7,
    # ONE user_id exchange serves both window passes and the rollup
    "events_sessionize_window": 1,
    # three outer joins (broadcast sides) + the union: left/full shuffle once
    "join_outer_trio": 2,
    # Expand + two-phase distinct agg
    "agg_distinct_sets": 2,
    # pivot hash agg + unpivot Expand over the tiny wide relation
    "agg_pivot_unpivot": 2,
    # JSON extraction fuses into the scan; user_id window is the one shuffle
    "events_props_running": 1,
    # spread + ids-only ADC partial-topk merge
    "ann_topk_pq": 2,
    "ann_topk_ivfpq": 2,
    # posexplode fuses into the scan; the (label, dim) agg is the one shuffle
    "emb_label_centroids": 1,
    # the custkey window is the only exchange; frame list stays in-operator
    "win_moving_median": 1,
    # fingerprint agg + winner join-back rollup
    "dedup_keep_best": 2,
    # ticket explode fuses into the scan; per-doc min agg is the one
    # exchange (top-k fuses to TakeOrderedAndProject)
    "sample_weighted": 1,
    # union-merge as-of: one shuffle + the carry window, both directions
    "asof_join_forward": 2,
    # window-min over one derived-partsupp pass + fused top-100
    "tpch_q2": 2,
    # all six dims broadcast; lineitem⋈orders is the only fact-fact shuffle
    "tpch_q8": 1,
    # derived partsupp agg + per-part agg + 1-row total (broadcast back)
    "tpch_q11": 4,
    # partsupp agg + anti (broadcast side) + distinct supplier count
    "tpch_q16": 3,
    # partsupp agg + shipped agg + pair join + supplier semi
    "tpch_q20": 4,
    # lineitem⋈orders + semi + anti all share ONE orderkey partitioning
    "tpch_q21": 1,
    # shingle spread + gram-hash agg (bench side is driver bits) + doc agg
    "contamination_bloom": 3,
    # token spread + candidate broadcast-semi + exact recount agg
    "terms_heavy_hitters": 3,
    # (bucket, salt) counts agg + tiny offset window + per-(bucket, salt)
    # rank window + final per-batch rollup; offsets ride a broadcast join
    "batch_shaping": 4,
    # distinct (doc, term) + term-df agg + term-keyed join re-exchange
    # (both sides — the vocab join is shuffle_hash-pinned, never broadcast)
    # + 1-row corpus count (broadcast back) + per-doc rollup
    "text_rarity_score": 6,
    # static plan replicates the shingle+cap-join subtree per consumer
    # (keep agg + both self-join sides; n_sh now rides the exploded rows
    # as a per-doc window count, eliminating its consumer) — AQE collapses
    # the copies at runtime (pinned below in
    # test_jaccard_capped_runtime_reuse: ≤6 real hash exchanges, the rest
    # ReusedExchange)
    "dedup_jaccard_capped": 17,
}


def test_exchange_budgets(spark):
    over = {}
    for name, budget in EXCHANGE_BUDGETS.items():
        n = exchange_count(QUERIES[name](spark, SF_DIR))
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"exchange budget exceeded (got, budget): {over}"


def test_pack_cumsum_two_phase_no_global_sort(spark):
    # the corpus-side running sum must be a per-bucket window (hash
    # partitioned on the range bucket), never a SinglePartition sort of the
    # whole corpus; the only SinglePartition step allowed is the <=64-row
    # bucket-offset window inside the broadcast (metadata) subtree
    df = QUERIES["pack_sequences"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "hashpartitioning(__bucket" in plan
    assert plan.count("SinglePartition") <= 1
    assert "BroadcastExchange" in plan  # offsets ride a broadcast join


def test_tpch_q17_single_fact_shuffle(spark):
    # the decorrelated Q17 must not shuffle lineitem twice: broadcast part
    # filter first, ONE partkey shuffle for the window
    df = QUERIES["tpch_q17"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert exchange_count(df) <= 2  # partkey window + single-row final agg


def test_tpch_q18_aggregates_before_join(spark):
    # lineitem collapses to per-order rows BEFORE joining orders: the
    # HashAggregate must sit below the join, and the top-100 must fuse
    plan = formatted_plan(QUERIES["tpch_q18"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q4_semi_join_no_dedup(spark):
    # EXISTS must decorrelate to LeftSemi — no inner-join + distinct shape
    df = QUERIES["tpch_q4"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    # the only aggregate is the final priority rollup (partial+final pair);
    # a dedup-based plan would add a third distinct-aggregate node
    import re

    agg_nodes = set(re.findall(r"\((\d+)\) HashAggregate", plan))
    assert len(agg_nodes) <= 2, agg_nodes


def test_tpch_q19_prefilters_dim_and_broadcasts(spark):
    df = QUERIES["tpch_q19"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the brand/size prefix of the disjunction reaches the part scan
    assert any("p_brand" in f for f in pushed_filters(df))


def test_pivot_is_single_pass(spark):
    # pinned pivot values compile to conditional aggs in ONE scan+agg —
    # no distinct-value discovery job, no second scan
    import re

    plan = formatted_plan(QUERIES["agg_pivot_priority"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_unpivot_is_single_scan_expand(spark):
    import re

    plan = formatted_plan(QUERIES["agg_unpivot_measures"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan


def test_null_safe_join_is_hashable(spark):
    # eqNullSafe must stay a hash-join key — a planner that demotes it to a
    # nested loop would be quadratic at scale
    plan = formatted_plan(QUERIES["join_null_safe"](spark, SF_DIR))
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_broadcast_scalar_and_anti(spark):
    df = QUERIES["tpch_q22"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the 1-row cutoff is broadcast (nested-loop over a single row), the
    # NOT EXISTS is a LeftAnti, and nothing plans a cartesian product
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q10_fuses_topk_and_broadcasts_dims(spark):
    # returned-item reporting: the LIMIT 20 must fuse to
    # TakeOrderedAndProject (no global sort) and customer/nation ride
    # broadcast joins
    df = QUERIES["tpch_q10"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_tpch_q8_broadcasts_all_dims_single_fact_shuffle(spark):
    # every dim (filtered part, supplier, customer, both nation roles,
    # region) must broadcast; lineitem⋈orders is the only fact-fact join
    df = QUERIES["tpch_q8"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 6
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_tpch_q21_decorrelates_both_subqueries(spark):
    # EXISTS → hash LeftSemi, NOT EXISTS → hash LeftAnti, top-10 fused —
    # the per-row correlated form would be O(n·m)
    df = QUERIES["tpch_q21"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q2_window_min_and_fused_topk(spark):
    # the correlated min-cost subquery must be a window over the joined
    # relation (one partsupp pass), with the top-100 fused
    df = QUERIES["tpch_q2"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q20_decorrelates_nested_in(spark):
    # part-name IN → broadcast LeftSemi; supplier IN surplus → LeftSemi;
    # the per-pair threshold is an equi-join, never a correlated subquery
    plan = formatted_plan(QUERIES["tpch_q20"](spark, SF_DIR))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q13_left_join_keeps_zero_order_customers(spark):
    # the distribution must include a c_count=0 bucket — the null-keeping
    # left join is the point of the query shape
    from pyspark.sql import functions as F

    df = QUERIES["tpch_q13"](spark, SF_DIR)
    zero = df.filter(F.col("c_count") == 0).collect()
    assert len(zero) <= 1  # at most one bucket row
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan or "BroadcastHashJoin" in plan


def test_batch_shaping_salted_window_no_mega_partition(spark):
    # the per-row rank window must partition on (len_bucket, __salt) —
    # ~256 sub-partitions per length bucket — never on len_bucket alone
    # (a dozen buckets = a dozen mega-partitions at corpus scale). The
    # len_bucket-only partitioning exists ONLY in the metadata-scale
    # offsets subtree, which must ride a broadcast join, and no step may
    # funnel the corpus through a SinglePartition.
    import re

    df = QUERIES["batch_shaping"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert re.search(r"hashpartitioning\(len_bucket#\d+, __salt#", plan), (
        "rank window lost its salt — len_bucket-only partitioning would "
        "mega-partition at corpus scale"
    )
    assert "BroadcastExchange" in plan  # offsets are broadcast metadata
    assert "SinglePartition" not in plan


def test_rarity_vocabulary_join_is_shuffle_pinned(spark):
    # the df (document-frequency) relation is the FULL vocabulary —
    # billions of terms at 100 TB. This test originally asserted the term
    # join carries NO hint so the planner decides by size; the 100x probe
    # (SCALE.md) disproved that philosophy — the post-explode aggregate
    # size estimate is precisely what's wrong (it kept the vocabulary
    # under the broadcast threshold at 500k docs), so "size-based" meant
    # "broadcast a vocabulary that doesn't fit". The join is now
    # shuffle_hash-pinned (see test_vocab_joins_never_broadcast); only the
    # 1-row corpus count rides a broadcast.
    df = QUERIES["text_rarity_score"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row N cross join


def test_tpch_q11_reuses_partsupp_exchange_at_runtime(spark):
    # q11 references the derived partsupp->nation subtree twice (per-part
    # values and the 1-row total). The static plan shows both subtrees; AQE
    # stage reuse must collapse the second lineitem groupBy exchange into a
    # ReusedExchange at runtime, or the full lineitem scan+partial-agg runs
    # twice — silent 2x fact-table cost a Spark upgrade could reintroduce.
    # sf0.001 empties out under AQE (EmptyRelation short-circuit), so pin on
    # sf0.01 where execution is non-degenerate.
    from stupidb_spark.plans import executed_final_plan

    df = QUERIES["tpch_q11"](spark, "/root/testdata/sf0.01")
    final = executed_final_plan(df)
    assert "ReusedExchange" in final
    # exactly one real lineitem-keyed exchange; the duplicate is a reuse
    import re

    real = re.findall(r"\+- Exchange hashpartitioning\(l_partkey", final)
    reused = re.findall(
        r"ReusedExchange \[[^\]]*\], Exchange hashpartitioning\(l_partkey",
        final,
    )
    assert len(real) == 1, final
    assert len(reused) == 1, final


def test_jaccard_capped_runtime_reuse(spark):
    # The capped shingle index (shingle scan + df agg + cap join + per-doc
    # window) feeds BOTH self-join sides; the static plan replicates the
    # subtree per consumer (budget above). At runtime AQE must collapse
    # the two copies into one Exchange + ReusedExchange — the capped
    # subtree must execute ONCE, or the cap costs 2x the scan+shingle
    # work it exists to save. (The df agg's own branch re-scans by design:
    # its partial-agg exchange carries different rows, see
    # operators/dedup.py. Before the 100x broadcast fix the pin was
    # reused>=3 over four consumers; the window restructure removed two
    # consumers outright, which is strictly less work, not less reuse.)
    # sf0.01 keeps execution non-degenerate under AQE.
    import re

    from stupidb_spark.plans import executed_final_plan

    df = QUERIES["dedup_jaccard_capped"](spark, "/root/testdata/sf0.01")
    final = executed_final_plan(df)
    real = len(re.findall(r"\+- Exchange hashpartitioning", final))
    reused = len(re.findall(r"ReusedExchange", final))
    assert reused >= 1, final
    assert real <= 7, final


def test_corpus_join_strategy_merge_override(spark, monkeypatch):
    """Memory-ceiling rehearsal finding (SCALE.md): shuffle_hash's
    per-partition hash BUILD is the one non-spillable step — oversized
    partitions on a tight heap die with 'not enough memory to build hash
    map' where sort-merge spills and finishes. SPARK_GRAFT_CORPUS_JOIN=merge
    pins the spillable strategy on every corpus-sized join; the broadcast
    ban holds in both modes and results are identical."""
    import re

    from stupidb_spark.operators.dedup import corpus_join_strategy

    base = sorted(
        map(tuple, QUERIES["dedup_ngram_jaccard"](spark, SF_DIR).collect())
    )
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_JOIN", "merge")
    assert corpus_join_strategy() == "merge"
    plan = formatted_plan(QUERIES["dedup_minhash_lsh"](spark, SF_DIR))
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    plan = formatted_plan(QUERIES["text_tfidf_topterm"](spark, SF_DIR))
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" not in plan
    for m in re.finditer(r"\(\d+\) BroadcastHashJoin[^\n]*\n(?:[^\n]*\n){0,3}", plan):
        assert "Left keys [0]" in m.group(0) or "Join condition: None" in m.group(0)
    merged = sorted(
        map(tuple, QUERIES["dedup_ngram_jaccard"](spark, SF_DIR).collect())
    )
    assert merged == base
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_JOIN", "nope")
    import pytest

    with pytest.raises(ValueError, match="SPARK_GRAFT_CORPUS_JOIN"):
        corpus_join_strategy()


def test_semantic_dedup_broadcasts_only_bounded_sides(spark):
    # dedup_semantic's corpus-sized id-keyed joins (labels↔scores,
    # labels↔group-survivors) are strategy-pinned like every other corpus
    # join; the ONLY broadcasts allowed in the plan are bounded-by-
    # construction model/metadata sides, each explicitly F.broadcast by
    # contract, never estimate-driven:
    #   - Inner cell-keyed: the k×dim centroid table / salted_block_tasks'
    #     per-block count table (≤ k rows);
    #   - LeftOuter: connected_components' driver-path label map
    #     (≤ 2·DRIVER_MAX_EDGE_ROWS rows — it just fit on the driver),
    #     joined under the corpus-sized distinct-node relation. The plan
    #     repeats the labels subtree per consumer branch, so the count is
    #     bounded per-kind, not globally.
    import re

    plan = formatted_plan(QUERIES["dedup_semantic"](spark, SF_DIR))
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    blocks = re.findall(
        r"\(\d+\) BroadcastHashJoin[^\n]*\n(?:[^\n]*\n){0,4}", plan
    )
    for block in blocks:
        assert "Join type: LeftOuter" in block or re.search(
            r"Left keys \[1\]: \[cell#", block
        ), block
    n_leftouter = sum("LeftOuter" in b for b in blocks)
    n_cell = len(blocks) - n_leftouter
    assert n_cell <= 2 and n_leftouter <= 2, plan


def test_dup_spans_never_broadcasts_corpus_sides(spark):
    # text_dup_spans' ngram-df hit join and the doc-keyed rollup join are
    # both corpus-sized post-explode (the Catalyst estimate-undercount
    # shape of the 100x probe) — strategy-pinned, never broadcast.
    plan = formatted_plan(QUERIES["text_dup_spans"](spark, SF_DIR))
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_no_python_udf_runs_twice_for_inferred_null_filters(spark):
    # A join key derived from a pandas-UDF column makes Catalyst infer
    # isnotnull(key); pushed below a repartition, that filter re-evaluates
    # the UDF — the sf1 simhash plan ran its fingerprint fold twice per
    # join side (4x per query) until the UDF outputs were marked
    # non-nullable via a never-firing coalesce (simhash_fingerprints,
    # ivf_index). Pin the pattern's absence inventory-wide on the heavy
    # Python-UDF queries.
    import re

    for name in (
        "dedup_simhash",
        "ann_knn_join",
        "emb_knn_classify",
        "ann_knn_join_exact",
        "dedup_semantic",
    ):
        plan = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Filter isnotnull\(pythonUDF", plan), name
