"""Physical-plan regression tests for the scale-critical properties.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives a 100× scale-up — dims broadcast instead of
shuffled, predicates and projections reaching the parquet scan,
map-side partial aggregation, top-k without a global sort, dedup
shuffles carrying digests rather than documents. A regression here
means a silent 10-100× cost cliff on a real cluster even though every
value-check still passes.
"""

from __future__ import annotations

import pytest

from open_crime_etl_pipeline_spark.queries.registry import all_specs


def _plan(spark, sf_dir, name: str) -> str:
    df = all_specs()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(spark, sf_dir, name: str) -> str:
    """Execute first, then read the AQE-final plan — for shapes where the
    right physical strategy is a RUNTIME choice (AQE broadcast conversion)
    rather than a mandated hint. A forced F.broadcast on a scale-
    proportional side would OOM at 100 TB; these tests assert AQE makes
    the small-SF choice without the hint."""
    df = all_specs()[name].fn(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "star_join_broadcast_dims")
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region builds
    assert "SortMergeJoin" not in plan  # a dim falling back = full shuffle of the fact


def test_range_predicate_reaches_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "range_predicate_between")
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed, not post-scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: a 3-column projection must not read all 16 lineitem cols
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string,l_shipdate:timestamp>" in plan


def test_agg_is_partial_then_final_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert plan.count("Exchange hashpartitioning") == 1  # one shuffle total


def test_global_topk_avoids_total_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "global_topk_orders")
    assert "TakeOrderedAndProject" in plan  # per-partition heap + merge
    assert "Exchange" not in plan  # a global Sort would shuffle everything


def test_single_row_totals_are_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "source_mixture_weights")
    assert "Broadcast" in plan  # 1-row totals never justify a shuffled join
    assert "SortMergeJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """A hive-partitioned fact joined to a filtered dim on the
    partition column must plan a dynamicpruning expression in
    PartitionFilters — at scale this skips whole partition directories
    based on the dim filter's runtime result, instead of scanning the
    full fact and filtering after the join."""
    from pyspark.sql import functions as F

    from open_crime_etl_pipeline_spark.io.readers import load_table

    fact_path = str(tmp_path / "fact")
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("prio", F.split("o_orderpriority", "-")[0])
        .write.partitionBy("prio")
        .parquet(fact_path)
    )
    dim = spark.createDataFrame(
        [("1", "urgent"), ("2", "high"), ("3", "medium")], "prio string, label string"
    )
    joined = spark.read.parquet(fact_path).join(
        dim.filter(F.col("label") == "urgent"), "prio"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    assert "PartitionFilters" in plan
    assert joined.count() > 0


def test_exact_dedup_shuffles_digests_not_text(spark, sf_dir):
    plan = _plan(spark, sf_dir, "exact_dedup_documents")
    # the group-by exchange is keyed on the two xxhash64 digests; the
    # document text itself never crosses the wire
    assert "hashpartitioning(__h1" in plan
    assert "SortMergeJoin" not in plan  # min-id winners broadcast back


def test_correlated_subquery_decorrelates_to_broadcasts(spark, sf_dir):
    """Q17 shape: brand_keys and the per-part average are scale-
    proportional (part grows with SF) so the query carries NO forced
    broadcast hint — at small SF, AQE must still convert both joins to
    broadcast at runtime, and lineitem (the 100 TB side) is never the
    build side or part of a cartesian product."""
    plan = _final_plan(spark, sf_dir, "correlated_avg_quantity_filter")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # the scalable fallback (shuffled equi-join on l_partkey) is legal at
    # huge SF, but at test SF AQE should have picked broadcast:
    assert "isFinalPlan=true" in plan


def test_exists_rewrites_to_semi_join_on_equi_key(spark, sf_dir):
    """Q4 shape: EXISTS must become a LeftSemi keyed on l_orderkey — the
    non-equi shipdate conjunct rides along as a join condition, never a
    post-join filter over an exploded product."""
    plan = _plan(spark, sf_dir, "exists_late_shipment_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_duplicate_ngram_fraction_shuffles_hashes_not_text(spark, sf_dir):
    """The postings shuffle carries 8-byte shingle hashes + ids; the
    document text must never appear past the scan projection."""
    plan = _plan(spark, sf_dir, "duplicate_ngram_fraction")
    assert "xxhash64" in plan
    assert "partial_count" in plan  # dfreq combines map-side


def test_promo_share_single_pass_broadcast(spark, sf_dir):
    """Q14 shape: part is scale-proportional so there is NO forced
    broadcast hint — AQE must still broadcast it at test SF; the
    conditional and total sums come from ONE aggregation over lineitem
    (no second scan/shuffle pair)."""
    plan = _final_plan(spark, sf_dir, "promo_revenue_share")
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert "isFinalPlan=true" in plan


def test_nested_agg_second_level_is_orders_sized(spark, sf_dir):
    """Two-level aggregation: both levels partial-aggregate before their
    exchange — the re-aggregation input is per-order rows, never lines."""
    plan = _plan(spark, sf_dir, "nested_agg_avg_order_value")
    assert plan.count("partial_sum") >= 1
    assert "partial_count" in plan


def test_covariance_gram_single_exchange_no_row_shuffle(spark, sf_dir):
    """The Gram reduce must shuffle only the d²-row partials (one
    Exchange for the groupBy(i,j)), never anything row-proportional:
    no Sort/Window/row-level join may appear before the aggregation."""
    plan = _plan(spark, sf_dir, "embedding_covariance_gram")
    import re

    # exactly one hashpartitioning exchange (i, j) + possibly AQE reads
    assert len(re.findall(r"Exchange hashpartitioning\(i", plan)) == 1
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_triangle_count_reuses_cached_oriented_edges(spark, sf_dir):
    """The oriented edge list must be built once and reused by all
    three wedge-join branches — rebuilding it per branch triples the
    6-way edge-build join at scale. r12: the materialization is a pin
    (localCheckpoint -> LogicalRDD scan), no longer .cache() — the
    columnar cache build was measured bimodal (OPTIMIZATION_r12.md) —
    so the receipt is >= 3 ExistingRDD scans and ZERO re-derivations
    of the orientation join in the plan."""
    from open_crime_etl_pipeline_spark.operators.graph import _triangle_count_lazy
    from open_crime_etl_pipeline_spark.queries.graph import _copurchase_edges

    out, caches = _triangle_count_lazy(_copurchase_edges(spark, sf_dir))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for c in caches:
        c.unpersist()
    assert plan.count("Scan ExistingRDD") >= 3
    # the orientation build (degree-join over the parquet edges) must
    # NOT appear: it ran once inside the pin, before this plan — only
    # the wedge-closing joins over the pinned RDD remain
    assert "InMemoryTableScan" not in plan and "Scan parquet" not in plan


def test_scene_change_window_partitions_by_media_id(spark, sf_dir):
    """The LAG window must partition by media_id (high cardinality) —
    a global or low-cardinality window serializes every frame row
    through a handful of tasks at scale."""
    plan = _plan(spark, sf_dir, "video_scene_change_cuts")
    assert "partitionBy=[media_id" in plan.replace(" ", "").replace("#", "#") or \
        "hashpartitioning(media_id" in plan


def test_q3_topk_avoids_global_sort_and_pushes_dates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "shipping_priority_top10")
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no Sort+Exchange
    assert "PushedFilters" in plan and "l_shipdate" in plan


def _fmt_plan(spark, sf_dir, name: str) -> str:
    """Formatted explain (full, untruncated PushedFilters lists —
    executedPlan().toString() abbreviates long expression lists)."""
    df = all_specs()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q6_zero_joins_all_predicates_pushed(spark, sf_dir):
    plan = _fmt_plan(spark, sf_dir, "forecast_revenue_q6")
    assert "Join" not in plan
    # all three range predicates reach the parquet scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan


def test_q19_or_groups_factored_to_both_scans(spark, sf_dir):
    """Q19's OR-of-conjunction-groups mixes columns from both join
    sides; Catalyst must factor the single-side disjunctions DOWN to
    each scan (part gets brand/size, lineitem gets quantity) instead of
    evaluating the whole OR post-join over an unfiltered join."""
    plan = _fmt_plan(spark, sf_dir, "disjunctive_predicate_revenue_q19")
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    import re
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("p_brand" in p and "Or(" in p for p in pushed), pushed
    assert any("l_quantity" in p and "Or(" in p for p in pushed), pushed


def test_q21_decorrelated_no_self_join_explosion(spark, sf_dir):
    """The EXISTS/NOT-EXISTS pair must run as per-order distinct-count
    aggregation, not correlated lineitem self-joins."""
    plan = _plan(spark, sf_dir, "waiting_orders_suppliers_q21")
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    # the distinct-count aggregate over (orderkey, suppkey) is present
    assert plan.count("HashAggregate") >= 2


def test_connected_components_edges_materialized_once(spark, sf_dir):
    """The undirected edge list must sit behind a checkpoint barrier:
    without it the upstream co-purchase join executes 4x (both adjacency
    unions + both vertex projections). The plan therefore scans
    LogicalRDD/checkpoint nodes, not four lineitem joins."""
    plan = _fmt_plan(spark, sf_dir, "connected_components_copurchase")
    # lineitem appears nowhere in the final iteration plan: all rounds
    # read the materialized adjacency (InMemoryRelation / checkpoint RDD)
    assert "lineitem" not in plan
    assert "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark, sf_dir):
    """Runtime bloom-filter join injection (the shuffle-join analog of
    DPP): when a selective dim filter feeds a shuffle join, Spark can
    build a bloom filter from the dim side at runtime and apply it as
    a might_contain predicate on the fact scan — at 100 TB this prunes
    fact rows BEFORE the shuffle. The size gates are tuned for real
    clusters (application side > 10 GB by default), so the test zeroes
    the scan-size threshold to pin that the mechanism engages in this
    engine's session configuration; production runs keep the default
    gates and get the filter exactly when the fact is big enough to
    care."""
    from pyspark.sql import functions as F

    from open_crime_etl_pipeline_spark.io.readers import load_table

    before = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan
        assert j.collect()[0]["count"] > 0
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bm25_scan_side_tf_and_heap_topk(spark, sf_dir):
    """r12 contract: the 3-term query's tf/idf machinery is scan-side
    conditional counts + constant-folded idf literals — NO token
    explode, NO (doc, term) shuffle, NO idf/dl joins survive in the
    plan (OPTIMIZATION_r12.md). The global top-10 must remain a
    per-partition heap merge, not a full sort."""
    plan = _plan(spark, sf_dir, "bm25_retrieval_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan  # the old per-token explode
    assert "Join" not in plan  # idf/dl joins folded into the scan pass


def test_symspell_blocking_never_goes_all_pairs(spark, sf_dir):
    """The deletion-neighborhood join must stay an equi-join on the
    variant string — a nested-loop or cartesian fallback means the
    blocking scheme silently degenerated to all-pairs levenshtein."""
    plan = _plan(spark, sf_dir, "blocked_fuzzy_join_symspell")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cdc_and_line_dedup_stay_jvm_side(spark, sf_dir):
    """The rolling-hash boundary scan and the segment explode are pure
    Catalyst HOFs; a BatchEvalPython appearing here means a Python UDF
    crept into the per-token hot path (10-100x slower at scale)."""
    for name in ("cdc_chunk_dedup_stats", "line_level_dedup_ccnet"):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_classifier_model_broadcasts(spark, sf_dir):
    """The 6-row model table must ship to executors, never shuffle the
    token stream against it."""
    plan = _plan(spark, sf_dir, "linear_classifier_inference")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_k_anonymity_group_sizes_broadcast(spark, sf_dir):
    """The QI group-size table (|nations|x|segments|) broadcasts back
    onto the row stream."""
    plan = _plan(spark, sf_dir, "k_anonymity_generalization")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_profiler_reads_table_exactly_once(spark, sf_dir):
    """All 24 column metrics must ride a CONSTANT number of scans — the
    Expand-based multi-count-distinct pass plus (r12) one keyless
    null/min/max pass, deliberately split out so the var-width string
    min/max buffers stop forcing sort-based aggregation of the
    x7-expanded table (OPTIMIZATION_r12.md). More than 2 scans means
    the agg split into per-column passes — N full reads at scale."""
    plan = _plan(spark, sf_dir, "table_profile_single_pass")
    assert plan.count("Scan parquet") == 2
    assert "Expand" in plan  # the one-scan multi-distinct machinery
    assert "BatchEvalPython" not in plan
    # the r12 point: no Sort of the Expand-amplified rows anywhere
    assert "Sort " not in plan.split("Expand")[0]


def test_ewma_fold_is_jvm_side_and_parallel_across_series(spark, sf_dir):
    """The smoothing fold is a Catalyst aggregate HOF over bounded
    per-series arrays — no Python, and no single-partition window over
    a global ordering (which would serialize the whole table)."""
    for name in ("ewma_smoothing_per_series", "cusum_change_detection"):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "Exchange SinglePartition" not in plan, name


def test_kmv_sketch_state_stays_bounded(spark, sf_dir):
    """Phase-1 partial sketches: one row per (group, bucket), each
    holding <= k hashes — the collect_set is bucket-scoped, never a
    whole-group set, so the partial-agg state is <= groups*buckets*k
    hashes no matter the input size (output replication invariance:
    tests/test_profiling.py; state sizes measured by
    ``git show a3c7b0a:tools/scale_check_r5d.py``). Plan side: the two
    collect aggregates are the only shuffles of sketch state, nothing
    falls back to Python, and the 1-row assembly sides join by
    broadcast, not a cartesian."""
    plan = _plan(spark, sf_dir, "kmv_theta_intersection_estimate")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "collect_set" in plan  # bucket-scoped partial sketch agg


def test_naive_bayes_model_joins_are_broadcast_and_jvm_side(spark, sf_dir):
    """NB train+apply must stay pure relational algebra: the class-
    constant sides (priors, per-class token totals, vocab size, doc
    total) ride broadcasts, the only shuffled join keys on the token
    dictionary, and nothing falls back to Python or a cartesian."""
    plan = _plan(spark, sf_dir, "naive_bayes_train_apply")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan     # tokc/pri class-keyed constants
    # the argmax window partitions by high-cardinality doc_id (and the
    # rank predicate pushes down to a per-partition group limit) — the
    # only SinglePartition exchanges are 32-row scalar-agg finals
    assert "windowspecdefinition(doc_id" in plan
    assert "WindowGroupLimit" in plan


def test_tput_candidate_fetch_is_broadcast_semi_join(spark, sf_dir):
    """Round 2 of the TPUT protocol fetches exact counts for candidates
    ONLY: the candidate filter must reach below the second groupBy as a
    broadcast semi-join (candidates are m*P rows — the whole point is
    never aggregating the dictionary tail twice), and the final top-k
    must be per-partition heaps, not a global sort."""
    plan = _plan(spark, sf_dir, "distributed_topk_tput_bounds")
    assert "BroadcastHashJoin LeftSemi" in plan or (
        "BroadcastHashJoin" in plan and "LeftSemi" in plan
    )
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_lateral_limit_decorrelates_to_window_group_limit(spark, sf_dir):
    """The LATERAL ... ORDER BY ... LIMIT 3 subquery must decorrelate
    into ONE windowed rank with WindowGroupLimit pushdown joined back
    to customer — a per-customer-row nested-loop re-execution of the
    subquery would be O(|customer|) subquery runs at scale."""
    plan = _plan(spark, sf_dir, "lateral_topk_orders_per_customer")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # map-side group limit before the exchange
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_recursive_cte_runs_native_union_loop(spark, sf_dir):
    """WITH RECURSIVE must execute as Spark 4.1's native UnionLoop
    operator (one materialized frontier per level), with no Python
    anywhere in the closure computation."""
    plan = _plan(spark, sf_dir, "recursive_cte_tree_rollup")
    assert "UnionLoop" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Engine-capability receipt: with the creation/application size
    thresholds scaled down to testdata size (production defaults —
    10MB build side, 10GB probe side — trigger untouched at real
    scale), Catalyst injects a runtime Bloom filter: the selective
    orders filter builds a bloom_filter_agg and the lineitem scan is
    pre-filtered by might_contain BEFORE the join shuffle, cutting the
    probe-side shuffle by the join's selectivity."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(od, li.l_orderkey == od.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_auc_cumulatives_avoid_unpartitioned_window(spark, sf_dir):
    """The AUC/PR-AUC cumulative pos/neg counts must ride the two-pass
    range-partition running sums (window partitioned by __pid), never
    an unpartitioned `sum() OVER (ORDER BY p)` — on a continuous-score
    classifier the distinct-score table is corpus-sized and the
    unpartitioned form is a single-task global sort (VERDICT r6 #2)."""
    plan = _plan(spark, sf_dir, "classifier_auc_calibration")
    assert "windowspecdefinition(__pid" in plan
    # an UNpartitioned spec would open with the order key directly
    assert "windowspecdefinition(p#" not in plan
    assert "BatchEvalPython" not in plan


def test_heavy_hitter_verify_join_broadcasts_candidates(spark, sf_dir):
    """The exact-recount join must broadcast the bounded candidate set
    (<= k*P keys) — shuffling the corpus to meet candidates would defeat
    the Misra-Gries plan; the corpus side is touched map-side only."""
    plan = _plan(spark, sf_dir, "heavy_hitter_tokens")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_percentiles_no_unpartitioned_window(spark, sf_dir):
    """Exact percentiles ride the range-partitioned two-pass ranking:
    the window must be partitioned by __pid and the target-rank filter
    must come in as a broadcast join, never a global sort of the data."""
    plan = _plan(spark, sf_dir, "exact_percentiles_distributed")
    assert "windowspecdefinition(__pid" in plan
    assert "windowspecdefinition(v#" not in plan
    assert "BroadcastHashJoin" in plan


def test_winnowing_is_one_shuffle_no_window(spark, sf_dir):
    """Winnowing selection is groupBy-min over (doc, window-start) plus
    a distinct — hash aggregation only: no window operator, no sort-based
    global ordering, no Python rows in flight."""
    plan = _plan(spark, sf_dir, "winnowing_fingerprints")
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_lrs_lcp_walk_never_ships_suffix_strings(spark, sf_dir):
    """The round-8 LCP rewrite: longest_repeated_substring must compute
    neighbor LCPs from the doubling rank tables + the bounded w0-gram
    residual — a full-suffix substring(text, pos) (which Catalyst
    compiles to substring(..., 2147483647)) anywhere in the plan means
    O(len^2) bytes in flight again. Python never touches it either."""
    plan = _plan(spark, sf_dir, "longest_repeated_substring")
    assert ", 2147483647)" not in plan  # no unbounded substring
    assert "EvalPython" not in plan


def test_distinct_substring_count_same_contract(spark, sf_dir):
    plan = _plan(spark, sf_dir, "distinct_substring_count")
    assert ", 2147483647)" not in plan
    assert "EvalPython" not in plan


def test_zorder_key_is_codegen_single_shuffle(spark, sf_dir):
    """The Morton interleave is shift/mask/add in a Project — one hash
    aggregate (one Exchange), no Python, no sort: layout keys must cost
    scan speed or nobody z-orders 100 TB."""
    plan = _plan(spark, sf_dir, "zorder_multidim_pruning")
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1  # the groupBy(bucket) only
    assert "Sort" not in plan


def test_zorder_3d_same_contract(spark, sf_dir):
    """Adding a third (uneven-budget) dimension must add ZERO plan
    nodes: still one codegen'd Project feeding one Exchange."""
    plan = _plan(spark, sf_dir, "zorder_3d_uneven_pruning")
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1  # the groupBy(bucket) only
    assert "Sort" not in plan


def test_document_chunking_is_shuffle_free(spark, sf_dir):
    """Chunk exploding is narrow — sequence + explode + slice in one
    codegen stage; ANY Exchange here would shuffle the whole corpus."""
    plan = _plan(spark, sf_dir, "document_chunk_stride")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_language_id_profile_joins_broadcast(spark, sf_dir):
    """Scoring joins test-doc trigrams against the per-language profile
    (bounded: langs * top-50) — must broadcast, never shuffle the
    exploded trigram stream by gram value."""
    plan = _plan(spark, sf_dir, "language_id_ngram_classifier")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_weighted_percentiles_no_unpartitioned_window(spark, sf_dir):
    """Weighted percentiles ride global_running_sums: prefix sums must
    window on __pid (range partitions), never a global ORDER BY window;
    the 5-row threshold table joins broadcast."""
    plan = _plan(spark, sf_dir, "weighted_percentiles_distributed")
    assert "windowspecdefinition(__pid" in plan
    assert "windowspecdefinition(v#" not in plan
    assert "Broadcast" in plan


def test_merkle_drilldown_broadcasts_diff_segments(spark, sf_dir):
    """Level 2 re-reads only differing segments. The work list is
    drift-sized normally but segment-proportional adversarially, so the
    join is UNHINTED — AQE must convert it to broadcast at runtime when
    it is actually small (asserted on the post-execution plan)."""
    plan = _final_plan(spark, sf_dir, "merkle_segment_diff_drilldown")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
