#!/usr/bin/env python3
"""Regenerate PLANS.md: formatted physical plans for the headline
queries with the scale-relevant property each one must keep.

Usage: python tools/gen_plans.py   (from the repo root)
"""

from __future__ import annotations

import io
import sys

sys.path.insert(0, ".")

NOTES = {
    "flagship_monthly_revenue": "broadcast dim joins; partial agg before the one exchange; filters pushed to parquet",
    "pricing_summary": "TPC-H Q1 shape: single exchange, map-side partial agg, 3-column ReadSchema from a 16-column table",
    "star_join_broadcast_dims": "all dims BroadcastHashJoin — the fact table never shuffles",
    "global_topk_orders": "TakeOrderedAndProject: per-partition heaps, no global sort, no exchange",
    "exact_dedup_documents": "group key = two xxhash64 digests — the shuffle moves 16-byte keys, never documents",
    "asof_join_last_purchase": "union + window carry: ONE hash exchange, no join node, no range explosion",
    "range_join_window_totals": "granule-binned equi-join (hash join), not BroadcastNestedLoopJoin",
    "global_rank_customers_by_spend": "range partition + per-partition window + offsets: no Exchange SinglePartition",
    "source_mixture_weights": "single-row totals broadcast back — no shuffled join for a 1-row side",
    "tfidf_top_terms": "term-dictionary broadcast join; two partial-agg groupBys",
    "duplicate_ngram_fraction": "inverted-index join on 64-bit shingle hashes; partial_count before the dfreq exchange; no self-join",
    "correlated_avg_quantity_filter": "Q17 decorrelated: NO forced broadcast (brand keys / per-part AVG are scale-proportional) — static plan may show shuffled joins; AQE converts to broadcast at runtime when small (asserted post-execution in test_plan_shapes.py), lineitem never in a cartesian",
    "exists_late_shipment_priority": "Q4 EXISTS as LeftSemi on the equi key; non-equi conjunct inside the same join, no nested loop",
    "promo_revenue_share": "Q14 conditional share: part join unhinted (scale-proportional side; AQE broadcasts at runtime) + ONE aggregation pass produces both sums",
    "sequence_packing_bins": "two-pass grouped running sum: range-partition on (source, doc_id), per-partition window + broadcast offsets — no PARTITION BY source serialization",
    "deterministic_corpus_shuffle": "global shuffle rank via range partition + per-partition row_number + offsets: no Exchange SinglePartition",
    "embedding_covariance_gram": "numpy X^T X partials per partition (ArrowEvalPython mapInPandas), then ONE hashpartitioning(i,j) exchange of d^2-row partials — shuffle size independent of row count",
    "triangle_count_copurchase": "oriented edge list built once (InMemoryRelation), reused by all three wedge-join branches; degree-ordered orientation bounds per-vertex join fan-out by sqrt(2E)",
    "video_scene_change_cuts": "decode kernel emits (media_id, frame_idx, luma, n_pixels) — LAG window partitions by high-cardinality media_id; payloads never shuffle",
    "domain_cap_retention": "per-source cap via rank+filter: Catalyst WindowGroupLimit (Partial) ships <= k rows per map partition regardless of domain skew",
    "shipping_priority_top10": "Q3 shape: both date predicates pushed to parquet; top-10 = TakeOrderedAndProject (per-partition heaps, no global sort)",
    "pagerank_nation_trade": "iterative: edge transition probs cached/partitioned once; each round one O(V) rank shuffle; eager localCheckpoints keep round-10's plan equal to round-1's",
    "event_transition_matrix": "LAG window by high-cardinality user_id; probability normalization windows over the aggregated |types|^2 matrix, never the event stream",
    "product_profit_q9": "Q9 shape: LIKE filter prunes part BEFORE broadcast; lineitem joins dims without shuffling itself; mixed +/- decimal measure in one partial agg",
    "forecast_revenue_q6": "Q6 shape: zero joins; all three range predicates in PushedFilters; 4-column ReadSchema; single partial+final agg",
    "ewma_time_decay_irregular": "same segmented-scan skeleton with data-dependent exp(-dt/tau) coefficients: the chunk-boundary predecessor timestamp arrives via a lag window over chunk-SUMMARY rows (one row per (series, day)), never over elements; the apply join is broadcast; no element-level global sort",
    "prefix_filter_jaccard_join": "exact-threshold Jaccard with NO LSH: the self-join keys are only each doc's rarest n-ceil(t*n)+1 shingles (freq-ascending global order), so hot-token buckets never join; verify joins are proportional to CANDIDATES; one scan-side shingle explode, no global distinct",
    "ewma_affine_scan": "segmented affine prefix scan: chunk-local (A,B) prefixes ride the eager checkpoint (ExistingRDD consumed twice); ONE series-level exchange folds the tiny chunk summaries; the entering state re-joins as a BROADCAST; per-element apply is a scan-side projection — a series spanning thousands of tasks never sorts globally and never collects",
    "classifier_auc_calibration": "ONE corpus pass total: the distinct-score (p, n_pos, n_neg) table materializes at an eager checkpoint (0 parquet scans in the final plan) and AUC/PR-AUC/totals/calibration bins all derive from the sketch; windows sort only distinct scores; the 1-row AUC and totals sides re-enter as broadcast nested-loop (cross) joins",
    "ewma_smoothing_per_series": "two partial-agg groupBys collapse orders to bounded per-series arrays; the EWMA fold is ONE Catalyst aggregate HOF projection — no window over an unpartitioned ordering, no Python",
    "table_profile_single_pass": "ONE parquet scan for all 24 column metrics: multi-count-distinct Expand + partial/final agg; the per-column-scan alternative reads the table N times",
    "kmv_theta_intersection_estimate": "two-phase mergeable sketch: per-(group,bucket) partial k-mins then k-of-union merge — executor agg state <= buckets*k rows; estimate math on two broadcast 1-row sides",
    "naive_bayes_train_apply": "model = per-term MAP of class counts joined on the TOKEN key — tf rows shuffle ONCE, the 5-class fan-out happens scan-side AFTER the join (5x fewer join-leg shuffle records at the 100x point); class constants ride 5-row/1-row broadcasts; argmax window partitions by doc_id with WindowGroupLimit pushdown — zero Python, zero driver state",
    "distributed_topk_tput_bounds": "TPUT round 1 ships m*P candidate rows + per-node taus; round 2's exact fetch is a broadcast LEFT SEMI below the second groupBy (the dictionary tail is aggregated per node but never crosses nodes); final top-k = TakeOrderedAndProject",
    "hybrid_rrf_retrieval": "each leg keeps its own scale shape (BM25 inverted index + broadcast idf; dense broadcast-query cosine with TakeOrdered legs); the fusion full-outer join and the fused-rank window run over two <=50-row sides — constant cost at any corpus size",
    "adaboost_stumps_train": "one boosting round = the feature table crossed with a 24-row BROADCAST stump grid, ONE partial-agg shuffle of 24 (f,t,s) decimal sums, argmin = TakeOrderedAndProject(1); the reweight is a scan-side projection behind the per-round eager checkpoint",
    "recursive_cte_tree_rollup": "Spark 4.1 native UnionLoop recursion: one materialized frontier per tree level (O(log maxid) levels), each a scan-side projection of the previous; no Python, no driver loop",
    "lateral_topk_orders_per_customer": "LATERAL ORDER BY+LIMIT decorrelates to ONE windowed rank with WindowGroupLimit pushdown (<= 3 rows/customer leave each map task) hash-joined back — never a per-row nested-loop subquery",
    "disjunctive_predicate_revenue_q19": "Q19 shape: Catalyst factors the OR-of-conjunctions — part scan gets the brand/size disjunction pushed, lineitem scan gets the quantity disjunction, cross-side residual stays above the join; no nested loop",
    "waiting_orders_suppliers_q21": "Q21 EXISTS/NOT-EXISTS decorrelated to per-order distinct counts: two orderkey shuffles, no correlated self-joins, no cartesian",
    "connected_components_copurchase": "iterative: undirected edge list materialized ONCE (localCheckpoint barrier — upstream join otherwise executes 4x); adjacency cached/partitioned once; each round one O(V) label shuffle + min agg",
    "cdc_chunk_dedup_stats": "rolling-hash boundary scan is pure HOF projection (no BatchEvalPython, no shuffle); the one chunk-keyed exchange carries chunk postings with partial_count below it",
    "bm25_retrieval_topk": "postings filtered to the 3 query terms BEFORE the tf groupBy; idf side BroadcastHashJoin; global top-10 = TakeOrderedAndProject; the tokenized corpus rides ONE eager checkpoint (the raw pipeline re-tokenized documents 3x)",
    "blocked_fuzzy_join_symspell": "deletion-variant equi-join (hash join on the variant string) — no CartesianProduct/BroadcastNestedLoopJoin anywhere; levenshtein only above the distinct candidates",
    "line_level_dedup_ccnet": "segment df join stays a shuffle equi-join (dictionary is corpus-sized at scale — deliberately NOT broadcast); per-doc reassembly via collect_list bounded by doc size",
    "linear_classifier_inference": "6-row model BroadcastHashJoin onto the token stream; docs re-keyed only by doc_id for the dot-product agg; no Python in the plan",
    "als_user_factors_update": "ratings shuffle once (partial_sum conditional counts per user); the 3x3 normal-matrix inverse rides the plan as nine literals — zero additional exchanges",
    "jl_random_projection": "zero-shuffle scan-side projection: 8 fixed-order HOF folds against literal sign arrays; single parquet scan, 2-column ReadSchema",
    "exact_substring_dedup": "phase-1 gram hashing is pure HOF projection (no gram strings materialized); hash-frequency prefilter with partial_count below its exchange; gram strings built ONLY for surviving candidates; covered-span lag-window partitions by doc_id; reassembly = left-anti join on (doc, pos)",
    "bpe_multi_merge_rounds": "per-round pair groupBy has partial_count (shuffle bounded by distinct pairs, not corpus); argmax = TakeOrderedAndProject(limit=1); eager per-round checkpoint keeps round-4's plan equal to round-1's (no O(k^2) replay)",
    "connected_components_star": "one round = three exchanges: large-star and small-star are each ONE window min over a node-partitioned neighbor list, emitting from the same partition (no join back, no distinct between phases, no collect_list of neighborhoods); the node-keyed dedup (edge rows + parent markers) is the third; the star-forest test is an Observation (CollectMetrics) on the frame the round checkpoints — no count, no anti-join, no confirming round",
    "gram_contamination_traintest": "both-sides hash prefilter (partial agg under one gh exchange) before any gram STRING exists; exact verify joins only candidate grams; per-test-doc rollup is the final small aggregate",
    "pca_top_component_projection": "gram partials reduce to ONE d^2-row exchange independent of N; trained component + mean re-enter as 64-double array literals; the projection itself is a zero-shuffle HOF fold over the scan (no Python, no join)",
    "quality_classifier_train_apply": "train = two partial-agg gradient reduces of 4 decimal sums each; the APPLY plan is shuffle-free — trained weights are plan literals, sigmoid scoring rides the token-count projection scan-side",
    "near_dedup_star_components": "verified pair graph (LSH band equi-join + exact verify) is orders smaller than the corpus; star contraction runs during the build (each round three exchanges into one eager checkpoint, stopping on the round that yields a star forest), so the plan reads the final round's checkpoint: labels are one projection of it, component sizes one count window over the label",
    "pq_adc_topk": "codebook (m*k rows) BROADCAST into every distance join; argmin = map-side struct-min partial agg (shuffle O(N*m) best-code rows, never the N*m*k candidate product); Lloyd means reduce in long (s,cid,pos) form; ADC scans CODES with a broadcast |Q|*m*k lookup table — corpus never shuffles on the query",
    "pca_whitening_top2": "same one-pass Gram reduce as the PCA projection (d^2-row exchange independent of N); TWO shuffle-free literal-array HOF folds project both whitened coordinates in a single scan; eigensolve + deflation are driver-local O(k*d^2)",
    "ivfpq_residual_adc_topk": "two-level index: coarse cells + residual PQ both train via broadcast-codebook struct-min partial aggs; the cell id rides the encode group key (functionally dependent on vec_id — no codes x assignment rejoin); the search join keys on (ccid,s,cid) — the ccid equi-join prunes 1-nprobe/kc of the code table BEFORE any distance arithmetic; per-(query,cell) ADC table broadcast; corpus never shuffles on the query",
    "heavy_hitter_tokens": "MG candidate/verify: candidate keys (<= k*P, bounded by the sketch) BROADCAST into the exact recount — the only shuffle aggregates candidate rows; the distinct-token space never crosses the wire; threshold cnt*k > N in integer arithmetic",
    "winnowing_fingerprints": "selection = groupBy-min over (doc, window) of an exact integer (hash, rightmost-pos) encoding + distinct — hash aggregation only: no Window operator, no Python, no global ordering; the w-fold gram->window explode is map-side",
    "exact_percentiles_distributed": "range-partitioned global row numbers (window partitioned by __pid, never by the value) + a |ps|-row broadcast target-rank filter — one parallel ranked pass, no Exchange SinglePartition",
    "greedy_sequence_packing": "shard groupBy feeds ONE applyInPandas (FlatMapGroupsInPandas) — the only exchange is the shard hash partitioning; the sequential overflow-reset walk is per-shard task-local",
    "suffix_array_prefix_doubling": "per round: (doc,pos+k) equi-join + distinct + range-partitioned dense rank, all on integers (suffix STRINGS never leave the seed projection); eager pin per round with the stats-inheritance reset (PERF.md round 7) keeping replanning O(1) per round",
    "phrase_match_positional_index": "each join side is the postings FILTERED TO ONE TERM (predicate reaches the scan) — the intersection shuffles only the phrase terms' posting lists, never the corpus",
    "longest_repeated_substring": "round 8: neighbor LCPs from the rank-table walk — per level TWO integer equi-joins of the (n-1)-pair table against that level's rank table, + one bounded w0-gram residual compare; NO unbounded substring anywhere (the plan signature ', 2147483647)' is absent, pinned in test_plan_shapes.py)",
    "zorder_multidim_pruning": "Morton interleave = shift/mask/add in a codegen'd Project; ONE Exchange (the bucket groupBy), no Sort, no Python — layout keys at scan speed",
    "zorder_3d_uneven_pruning": "3-D uneven-budget Morton key (16+16+5 bits) is STILL a single codegen'd Project feeding one hash-aggregate Exchange — adding dimensions adds zero plan nodes; hour() stays JVM-side",
    "maximal_repeats_min_len": "variable-length repeats from adjacent-rank LCPs: integer equi-joins against per-level rank tables + per-doc interval merge via one aggregate() HOF — no suffix strings in flight, no all-pairs, no window over corpus positions",
    "document_chunk_stride": "sequence+explode+slice, ZERO Exchange — chunking streams at scan speed; chunk_key md5 proves content",
    "language_id_ngram_classifier": "trigram explode map-side; profile (langs x top-50) BROADCAST into the scoring join; argmax window partitions on doc_id (5-row partitions)",
    "winnowing_similarity_pairs": "candidate join on fingerprint VALUES (density-bounded selection, never all grams), collision verify on real grams, then two groupBys + broadcast per-doc counts",
    "weighted_percentiles_distributed": "cumulative weights via range-partitioned prefix sums (window on __pid, never the value); |ps|-row threshold table joins as BroadcastNestedLoop on the crossing predicate",
    "merkle_segment_diff_drilldown": "level 1: scan-side hash + per-segment partial agg (one tiny exchange per replica); level 2: the differing-segment work list joins UNHINTED (drift-sized normally, segment-proportional adversarially) — AQE converts to broadcast at runtime when small (post-execution plan pinned); repair touches drift, not the table",
}

HEADER = """# PLANS — physical-plan receipts for the scale-critical queries

Generated by `python tools/gen_plans.py` against sf0.001 with
`spark.sql.shuffle.partitions=32` (plan SHAPE is data-size
independent; AQE may coalesce at runtime). The properties called out
here are enforced by `tests/test_plan_shapes.py` and the per-operator
plan tests, so drift fails the suite rather than this document.

"""


def main() -> None:
    from open_crime_etl_pipeline_spark.queries.registry import all_specs
    from open_crime_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="plans", master="local[8]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()

    # The graph operators materialize their result and unpersist their
    # caches before returning (no cached blocks leak into the session),
    # so their registered query fn yields a trivial checkpoint-scan
    # plan. The receipt that matters is the pre-materialization
    # iteration plan — build it via the lazy cores.
    def _lazy_graph(name):
        from open_crime_etl_pipeline_spark.operators import graph as G
        from open_crime_etl_pipeline_spark.queries.graph import (
            _copurchase_edges,
            _trade_edges,
        )

        sf = "/root/testdata/sf0.001"
        if name == "pagerank_nation_trade":
            df, caches = G._pagerank_lazy(_trade_edges(spark, sf), 0.85, 10)
        elif name == "triangle_count_copurchase":
            df, caches = G._triangle_count_lazy(_copurchase_edges(spark, sf))
        else:
            df, caches = G._connected_components_lazy(
                _copurchase_edges(spark, sf), iters=8
            )
        return df, caches

    LAZY = {
        "pagerank_nation_trade",
        "triangle_count_copurchase",
        "connected_components_copurchase",
    }

    # Queries whose registered fn materializes mid-flight (argmax
    # collects / star fixpoint loops) yield trivial LocalTableScan or
    # checkpoint-scan plans; render a representative ITERATION plan
    # instead — the stage whose shape actually matters at scale.
    def _phase_plan(name):
        from pyspark.sql import functions as F

        sf = "/root/testdata/sf0.001"
        if name == "bpe_multi_merge_rounds":
            from open_crime_etl_pipeline_spark.queries.llm import _BPE_SEP
            from open_crime_etl_pipeline_spark.operators import textstats as TS

            docs = spark.read.parquet(f"{sf}/documents.parquet")
            words = docs.select(F.explode(TS.tokens("text")).alias("w")).filter(
                F.length("w") > 1
            )
            wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
            sep = F.lit(_BPE_SEP)
            rep = wf.select(
                "cnt",
                F.concat(sep, F.array_join(F.split("w", ""), _BPE_SEP), sep)
                .alias("rep"),
            )
            syms = F.filter(F.split("rep", _BPE_SEP), lambda x: x != F.lit(""))
            n = F.size(syms)
            pairs = rep.select(
                "cnt",
                F.explode(
                    F.arrays_zip(F.slice(syms, 1, n - 1), F.slice(syms, 2, n - 1))
                ).alias("p"),
            ).select("cnt", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
            return (
                pairs.groupBy("w1", "w2")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.col("n").desc(), "w1", "w2")
                .limit(1)
            )
        if name == "adaboost_stumps_train":
            from open_crime_etl_pipeline_spark.queries.llm import _ada_features

            docs = spark.read.parquet(f"{sf}/documents.parquet")
            feat = _ada_features(docs).withColumn(
                "w", F.lit(1).cast("decimal(38,0)")
            )
            cands = spark.createDataFrame(
                [(f, t, s) for f in (1, 2, 3) for t in (0, 1, 2, 3) for s in (1, -1)],
                "f int, t int, s int",
            )
            x = (
                F.when(F.col("f") == 1, F.col("x1"))
                .when(F.col("f") == 2, F.col("x2"))
                .otherwise(F.col("x3"))
            )
            h = F.when(x > F.col("t"), F.col("s")).otherwise(-F.col("s"))
            return (
                feat.crossJoin(F.broadcast(cands))
                .groupBy("f", "t", "s")
                .agg(
                    F.sum(F.when(h != F.col("y"), F.col("w")).otherwise(F.lit(0)))
                    .cast("decimal(38,0)").alias("e"),
                    F.sum("w").cast("decimal(38,0)").alias("tot"),
                )
                .orderBy("e", "f", "t", "s")
                .limit(1)
            )
        # connected_components_star: one round, built by the operator's
        # own round builder
        from pyspark.sql import Observation

        from open_crime_etl_pipeline_spark.operators import graph as G
        from open_crime_etl_pipeline_spark.queries.graph import _copurchase_edges

        edges = _copurchase_edges(spark, sf)
        e = (
            edges.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        return G._star_round(e, Observation("star_round"))

    PHASE = {
        "bpe_multi_merge_rounds",
        "connected_components_star",
        "adaboost_stumps_train",
    }

    out = io.StringIO()
    out.write(HEADER)
    for name, note in NOTES.items():
        caches = []
        if name in LAZY:
            df, caches = _lazy_graph(name)
        elif name in PHASE:
            df = _phase_plan(name)
        else:
            df = specs[name].fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        tree = plan.split("\n\n")[0]  # operator tree only
        for c in caches:
            c.unpersist()
        out.write(f"## {name}\n\n*{note}*\n\n```\n{tree}\n```\n\n")
    with open("PLANS.md", "w") as f:
        f.write(out.getvalue())
    print(f"wrote PLANS.md ({len(out.getvalue())} chars)")


if __name__ == "__main__":
    main()
