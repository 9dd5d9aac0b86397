"""Physical-plan audit: for each headline query, capture the formatted
plan and check the properties the 100 TB posture depends on — filters
pushed into the parquet scan, pruned read schemas, broadcast joins where
expected, whole-stage codegen coverage, no cartesian products.

Writes PLANS.md (human-readable evidence) and prints a PASS/FAIL line per
query. tests/test_plans.py asserts the same properties in CI.
"""

from __future__ import annotations

import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from novelti_dingo_spark import registry  # noqa: E402
from novelti_dingo_spark.barrier import no_barriers  # noqa: E402
from novelti_dingo_spark.plans import explain_formatted  # noqa: E402
from novelti_dingo_spark.session import get_spark  # noqa: E402

# query -> expected plan properties
EXPECT = {
    "q1_pricing_summary": {
        "pushed_filters": True,      # l_shipdate <= ...
        "partial_agg": True,         # two-phase HashAggregate
        "max_scan_cols": 8,          # pruned ReadSchema
        "no_python_udf": True,
    },
    "q3_shipping_priority": {
        "pushed_filters": True,
        "broadcast_joins": 1,        # customer side
        "take_ordered": True,        # no global sort for LIMIT
    },
    "q5_join_chain": {
        "pushed_filters": True,
        "broadcast_joins": 4,        # customer, supplier, nation, region
        "no_python_udf": True,
    },
    "q6_forecast_revenue": {
        "pushed_filters": True,
        "max_scan_cols": 4,
    },
    "join_broadcast_dim": {"broadcast_joins": 1},
    "join_theta_range": {"hash_join_not_nlj": True},
    "q19_disjunctive": {"broadcast_joins": 1, "hash_join_not_nlj": True},
    "window_topk_per_user": {"single_shuffle": True, "no_python_udf": True},
    "sessionize_30min": {"single_shuffle": True, "no_python_udf": True},
    "topk_orders": {"take_ordered": True},
    # round 15: corpus rebuilt per invocation (barrier(widen(scan)) —
    # the round-14 verdict retired the cross-invocation .cache()); with
    # barriers off the audit sees the raw parquet scan, which must stay
    # pruned to the 3 used columns and codegen'd, no cache in the plan
    "knn_bruteforce_top10": {
        "no_python_udf": True, "take_ordered": True,
        "plan_must_not_contain": ["InMemoryTableScan"],
        "max_scan_cols": 3,
        "codegen_compiles": True,
    },
    "exact_dedup_survivors": {"partial_agg": True},
    "tumbling_1h_agg": {"partial_agg": True, "no_python_udf": True,
                        "max_scan_cols": 3},
    "q7_volume_shipping": {"pushed_filters": True, "broadcast_joins": 4},
    "q10_returned_items": {
        "pushed_filters": True,
        "broadcast_joins": 2,
        "take_ordered": True,
    },
    "q17_small_qty_revenue": {"broadcast_joins": 1, "partial_agg": True},
    "asof_join_latest_click": {"single_shuffle": True, "pushed_filters": True},
    # .pivot() plans two aggregations (keys+pivot col, then pivot) — two
    # shuffles is its documented cost; the one-shuffle alternative is the
    # count(when()) matrix (see the query's oracle SQL)
    "pivot_event_counts": {"partial_agg": True, "max_exchanges": 4},
    "events_per_segment": {"broadcast_joins": 1, "partial_agg": True},
    "q18_large_orders": {"partial_agg": True, "take_ordered": True},
    "outliers_above_p99": {"broadcast_joins": 1, "partial_agg": True},
    "cohort_retention": {"broadcast_joins": 1, "partial_agg": True},
    # one data-sized shuffle (user_id) + the inherent 1-row global-agg exchange
    "funnel_signup_click_purchase": {"partial_agg": True, "max_exchanges": 4},
    "gapfill_hourly": {"broadcast_joins": 1},
    # round-2 additions
    "decimal_exact_agg": {
        "partial_agg": True,
        "no_python_udf": True,
        "max_scan_cols": 4,  # returnflag, quantity, extendedprice, discount
    },
    "struct_nested_project": {
        # the nested-field filter must push through the struct to the
        # region scan; struct construction must not widen any ReadSchema
        "pushed_filters": True,
        "broadcast_joins": 2,
        "max_scan_cols": 3,
    },
    "sample_fraction": {
        # md5-prefix predicate is not scan-pushable by design; the check
        # here is pruning + staying JVM-side
        "no_python_udf": True,
        "max_scan_cols": 3,
    },
    "approx_percentile_witness": {"partial_agg": True, "no_python_udf": True},
    # LSH bucket generation is deliberately Python (Arrow GEMM); the scale
    # property is the equi-join on bucket keys — never nested-loop/cartesian
    "embedding_neardup_lsh": {"hash_join_not_nlj": True},
    # curation ops: corpus side must never shuffle for the benchmark join
    # (broadcast), and everything stays JVM-side
    "benchmark_contamination": {
        "broadcast_joins": 1,
        "partial_agg": True,
        "no_python_udf": True,
    },
    "repetition_stats": {"partial_agg": True, "no_python_udf": True},
    # correlated LATERAL+LIMIT must decorrelate to join+WindowGroupLimit,
    # never a per-outer-row nested-loop re-execution
    "sql_lateral_top1": {"hash_join_not_nlj": True, "broadcast_joins": 1},
    "pii_redact": {"no_python_udf": True, "max_scan_cols": 2},
    "source_quality_rollup": {"partial_agg": True, "no_python_udf": True},
    # round-2 TPC-H completion
    "q2_min_cost_supplier": {"partial_agg": True, "broadcast_joins": 2,
                             "no_python_udf": True},
    "q9_product_profit": {"partial_agg": True, "broadcast_joins": 3,
                          "no_python_udf": True},
    "q11_important_stock": {"partial_agg": True, "broadcast_joins": 2,
                            "no_python_udf": True},
    "q12_priority_class": {"pushed_filters": True, "partial_agg": True,
                           "max_scan_cols": 3},
    "q13_order_distribution": {"partial_agg": True, "no_python_udf": True},
    "q20_excess_inventory": {"pushed_filters": True, "partial_agg": True,
                             "broadcast_joins": 2},
    "q21_waiting_supplier": {"pushed_filters": True, "broadcast_joins": 2,
                             "partial_agg": True},
    # training-data prep: chunk/pack stay JVM-side; chunking must not
    # shuffle at all, packing shuffles once (per-shard window + agg reuse
    # the same partitioning)
    "chunk_documents": {"no_python_udf": True, "max_exchanges": 0,
                        "max_scan_cols": 2},
    "pack_sequences": {"no_python_udf": True, "single_shuffle": True,
                       "max_scan_cols": 3},
    # the 1-row query side arrives via broadcast crossJoin — planned as a
    # BroadcastNestedLoopJoin (no equi keys to hash on), which is the
    # right shape: corpus never moves, never a CartesianProduct
    "knn_quantized_top10": {"no_python_udf": True, "take_ordered": True},
    # whole-partition frame still = one shuffle on user_id
    "window_first_last_nth": {"single_shuffle": True, "no_python_udf": True,
                              "max_scan_cols": 5},
    # NOT IN must plan the null-aware anti join, never a cartesian
    "sql_not_in_subquery": {"hash_join_not_nlj": True, "partial_agg": True},
    # post-agg windows operate on the |hours| spine, events scan pruned
    "interp_linear_hourly": {"pushed_filters": True, "partial_agg": True,
                             "max_scan_cols": 3, "no_python_udf": True},
    # LM build + rescore: vocab/total broadcast back, corpus never shuffles
    "lm_quality_score": {"broadcast_joins": 1, "partial_agg": True,
                         "no_python_udf": True, "max_scan_cols": 2},
    "train_val_test_split": {"partial_agg": True, "no_python_udf": True,
                             "max_scan_cols": 3},
    "mixture_sample": {"single_shuffle": True, "no_python_udf": True,
                       "max_scan_cols": 3},
    # binned interval join: the range condition must ride as a residual on
    # a hash join keyed (user_id, bin) — never a nested-loop range probe
    "interval_join_clicks_before_purchase": {
        "hash_join_not_nlj": True, "partial_agg": True,
        "no_python_udf": True, "max_scan_cols": 4,
    },
    "interval_join_pairs": {"hash_join_not_nlj": True, "pushed_filters": True,
                            "no_python_udf": True, "max_scan_cols": 4},
    # linear span dedup: shingle freq agg is two-phase; freq→shingle
    # re-join and per-doc rollup are hash ops, corpus scan reads 2 cols
    "boilerplate_shingle_coverage": {
        "partial_agg": True, "hash_join_not_nlj": True,
        "no_python_udf": True, "max_scan_cols": 2,
    },
    # batch anti join against the (broadcastable) content-hash index;
    # history text never shuffles
    "incremental_dedup_new_batch": {
        "hash_join_not_nlj": True, "no_python_udf": True,
        "max_scan_cols": 3,
    },
    "percentile_exact_quartiles": {"partial_agg": True, "no_python_udf": True,
                                   "max_scan_cols": 2},
    # one scan + one multi-distinct Expand agg for all three columns —
    # never one scan per profiled column
    "column_profile": {"partial_agg": True, "no_python_udf": True,
                       "max_scan_cols": 3},
    "histogram_totalprice": {"partial_agg": True, "no_python_udf": True,
                             "max_scan_cols": 1},
    "error_safe_funcs": {"pushed_filters": True, "no_python_udf": True,
                         "max_scan_cols": 5},
    # round-3 additions
    # exact heavy hitters: explode + two-phase agg; total-count side is a
    # broadcast (1 row); corpus scan reads only doc_id+text
    "heavy_hitter_bigrams": {"partial_agg": True, "no_python_udf": True,
                             "max_scan_cols": 2},
    # sample-then-verify: candidate set must arrive broadcast (semi join
    # prunes the recount before its shuffle)
    "heavy_hitters_sampled_verify": {
        "partial_agg": True, "broadcast_joins": 1,
        "no_python_udf": True, "max_scan_cols": 2,
    },
    # per-user trailing frames: exactly one data shuffle (user_id), then
    # sequential frame evaluation — no self-joins
    "rolling_zscore_anomaly": {"single_shuffle": True, "no_python_udf": True,
                               "max_scan_cols": 4},
    "ewma_user_value": {"single_shuffle": True, "no_python_udf": True,
                        "max_scan_cols": 4},
    # hour->day reuse: both levels are two-phase hash aggs; the day level
    # re-aggregates the |hours| rollup, never the raw scan
    "rollup_hour_to_day": {"partial_agg": True, "no_python_udf": True,
                           "max_scan_cols": 3},
    # prefix-filter set-similarity: candidate generation and verification
    # are hash joins (never NLJ); the df table is a separate collected
    # query, the per-doc collect_list and candidate distinct are two-phase
    "jaccard_pairs_prefix_filter": {
        "hash_join_not_nlj": True, "partial_agg": True,
        "no_python_udf": True, "max_scan_cols": 2,
    },
    # temporal lookup: equi-key hash join with the validity range as
    # residual — never a nested loop over versions
    "scd2_pointintime_join": {"hash_join_not_nlj": True,
                              "no_python_udf": True, "max_scan_cols": 4},
    # unbounded fold: one groupBy shuffle, no window re-shuffle
    "ewma_running_final": {"single_shuffle": True, "no_python_udf": True,
                           "max_scan_cols": 4},
    # PPS sample: scan-side key + top-k merge, no full sort
    "weighted_sample_pps": {"take_ordered": True, "no_python_udf": True,
                            "max_scan_cols": 3},
    # ratio-to-report: windows run over the |nations| aggregate, dims
    # broadcast; the fact table shuffles once into the rollup
    "share_of_total_revenue": {"broadcast_joins": 3, "partial_agg": True,
                               "no_python_udf": True},
    # growth curve: first-touch min-agg (two-phase) + |days| running sum
    "cumulative_unique_users": {"partial_agg": True, "no_python_udf": True,
                                "max_scan_cols": 2},
    # per-group hash-order sample: one shuffle on the group key
    "per_group_sample": {"single_shuffle": True, "no_python_udf": True,
                         "max_scan_cols": 3},
    "normalized_dedup_key": {"partial_agg": True, "no_python_udf": True,
                             "max_scan_cols": 1},
    # native session_window: gap-merge IS the aggregation, one shuffle
    "session_window_30min": {"partial_agg": True, "no_python_udf": True,
                             "max_scan_cols": 3},
    # Markov transitions: one user_id shuffle for the lag, |types|^2 agg
    "event_transition_matrix": {"partial_agg": True, "no_python_udf": True,
                                "max_scan_cols": 4},
    # sorted-neighborhood ER: neighbor join must be the exploded-offset
    # EQUI join on rn, never a range nested loop; the global rank must
    # come from the range-shuffle recipe (the no_raw_singlepart global
    # check below rejects the Window.orderBy funnel)
    "sorted_neighborhood_pairs": {"hash_join_not_nlj": True,
                                  "no_python_udf": True,
                                  "max_scan_cols": 2},
    "sorted_neighborhood_multipass": {"hash_join_not_nlj": True,
                                      "no_python_udf": True,
                                      "max_scan_cols": 2},
    # Ed-Join: candidate generation is the prefix-gram equi-join with the
    # position band as residual (never NLJ); gram df is a two-phase agg
    # broadcast back; verification joins carry ids, not documents
    "edit_distance_join": {"hash_join_not_nlj": True, "partial_agg": True,
                           "no_python_udf": True, "max_scan_cols": 2},
    # round-4 additions
    # streaming-ready top-k: one (window × type) group shuffle, partial
    # collect_list aggregation, explode is a post-agg projection
    "windowed_topk_1h": {"partial_agg": True, "no_python_udf": True,
                         "max_scan_cols": 4},
    # winnowing: windowed min + per-doc set agg share the doc_id key —
    # a single data exchange end-to-end (AQE may print it twice)
    "winnowing_fingerprints": {"single_shuffle": True, "no_python_udf": True,
                               "max_scan_cols": 2},
    # ORC leg: same pushdown/pruning properties through the ORC reader
    "orc_ingest_agg": {"partial_agg": True, "no_python_udf": True},
    # salted join: the (key, salt) hash join must stay a hash join and
    # aggregate two-phase; dim replication is n_salt× rows, not a NLJ
    "salted_join_enrich": {"hash_join_not_nlj": True, "partial_agg": True,
                           "no_python_udf": True, "max_scan_cols": 3},
    # equi-depth histogram: global rank via range shuffle (the
    # singlepart_over_raw global check rejects the ntile funnel), total
    # count arrives broadcast, final agg two-phase
    "histogram_equidepth": {"partial_agg": True, "no_python_udf": True,
                            "max_scan_cols": 2},
    # bloom semi-join reduction: the k bitset lookups and the exact
    # residual semi-join must all be broadcast hash joins — the fact
    # side reaches its first exchange already reduced; agg two-phase
    "bloom_semijoin_reduction": {"hash_join_not_nlj": True,
                                 "broadcast_joins": 3, "partial_agg": True,
                                 "no_python_udf": True, "max_scan_cols": 4},
    # CMS heavy hitters: fixed-size grid and survivor list both arrive
    # broadcast; every count agg (grid, candidates, recount) two-phase
    "cms_heavy_hitters": {"partial_agg": True, "broadcast_joins": 3,
                          "no_python_udf": True, "max_scan_cols": 2},
    # TWAP: lead() window and the weighted-sum groupBy share one user_id
    # exchange; everything stays JVM-side
    "twap_user_value": {"single_shuffle": True, "no_python_udf": True,
                        "max_scan_cols": 4},
    # segment tree: hourly rollup two-phase, level pyramid from ONE
    # explode pass; the 5-row range side must arrive broadcast (planned
    # as BroadcastNestedLoopJoin — no equi keys on a containment
    # predicate — which is right: blocks never shuffle for the probe)
    "segtree_range_rollup": {"partial_agg": True, "no_python_udf": True,
                             "max_scan_cols": 2},
    # MAD screen: daily spine two-phase; median/MAD are 1-row broadcast
    # cross joins back onto the |days| spine, orders scan reads 2 cols
    "mad_outlier_days": {"partial_agg": True, "no_python_udf": True,
                         "max_scan_cols": 2},
    # PSI drift: one corpus scan feeds both feature binnings (union),
    # counts aggregate two-phase to |bins| before the window totals
    "psi_corpus_drift": {"partial_agg": True, "no_python_udf": True,
                         "max_scan_cols": 3},
    # survivor election: argmax via max(struct) two-phase agg; label
    # join is a hash join, never NLJ
    "neardup_canonical_survivors": {"partial_agg": True,
                                    "hash_join_not_nlj": True,
                                    "no_python_udf": True},
    # snapshot diff: both sides reduce to (key, digest) at the SCAN
    # (ReadSchema 2 cols), the reconciliation is a key-equi full-outer
    # SortMergeJoin — never NLJ, no payload columns in the exchange
    "snapshot_diff_orders": {"hash_join_not_nlj": True,
                             "no_python_udf": True, "max_scan_cols": 6},
    # basket lift: pair-gen is a co-partitioned orderkey self-join and
    # the two part-frequency sides are broadcast HASH joins; the 1-row
    # order-total side arrives as a broadcast NLJ (no keys to hash on —
    # the right plan for a scalar, same as knn_quantized_top10), so
    # hash_join_not_nlj is deliberately omitted here
    "basket_part_lift": {"partial_agg": True,
                         "broadcast_joins": 2, "no_python_udf": True,
                         "max_scan_cols": 2},
    # forecast backtest: one data-scale rollup (two-phase), lag + MAE on
    # the |types|x|days| spine; events scan pruned to 3 cols
    "forecast_backtest_mae": {"partial_agg": True, "no_python_udf": True,
                              "max_scan_cols": 3},
    # rolling median: JVM-side percentile window aggregate, one user_id
    # shuffle, user filter pushed to the scan
    "rolling_median_value": {"single_shuffle": True, "no_python_udf": True,
                             "pushed_filters": True, "max_scan_cols": 4},
    # pruned lake read: file list is already min-max pruned driver-side;
    # the residual row filter still pushes into the surviving scans and
    # the revenue agg is two-phase over 3 read columns
    "lake_pruned_range_read": {"pushed_filters": True, "partial_agg": True,
                               "no_python_udf": True, "max_scan_cols": 3},
    # triangle closing: two hash self-joins on the canonical edge list
    # (wedge + closing edge), global count — never NLJ
    "triangle_count_neardup": {"hash_join_not_nlj": True, "partial_agg": True,
                               "no_python_udf": True, "max_scan_cols": 2},
    # DQ audit: every FK leg is a broadcast ANTI hash join; counts are
    # two-phase; scan-side domain predicates stay JVM-side
    "dq_referential_integrity": {"broadcast_joins": 3, "partial_agg": True,
                                 "no_python_udf": True},
    # sketch segment tree: hourly HLL blocks two-phase (partial sketch
    # merge map-side), pyramid from one explode pass, range side
    # broadcast; 2-column scans
    "segtree_distinct_users": {"partial_agg": True, "no_python_udf": True,
                               "max_scan_cols": 2},
    # pane-sketch sliding distinct: pane HLLs two-phase, window union
    # reaggregates |panes| sketches; 2-column scan
    "sliding_distinct_users_pane": {"partial_agg": True,
                                    "no_python_udf": True,
                                    "max_scan_cols": 2},
    # gaps-and-islands: distinct days two-phase, island window + argmax
    # all share the user_id partitioning; 2-column scan
    "user_longest_streak": {"partial_agg": True, "no_python_udf": True,
                            "max_scan_cols": 2},
    # sweep-line concurrency: sessionizer window on user_id, delta agg
    # two-phase; the global ordered window runs on the session-bounded
    # delta spine (post-agg — the singlepart_over_raw check verifies an
    # aggregate sits between it and every scan)
    "max_concurrent_sessions": {"partial_agg": True, "no_python_udf": True,
                                "max_scan_cols": 3},
    # CUSUM: daily rollup two-phase, everything after runs on the
    # |types| x |days| spine with broadcast baselines
    "cusum_drift_by_type": {"partial_agg": True, "broadcast_joins": 1,
                            "no_python_udf": True, "max_scan_cols": 3},
    # trend slopes: regr_* are algebraic — one two-phase rollup, then
    # spine-sized moment aggregation
    "daily_trend_slope_by_type": {"partial_agg": True, "no_python_udf": True,
                                  "max_scan_cols": 3},
    # mixture solver: |langs| rollup two-phase, 1-row total broadcast
    "mixture_weights_uniform": {"partial_agg": True, "no_python_udf": True,
                                "max_scan_cols": 2},
    # round-5 lake queries
    # evolved chain read: manifest-pinned schema, two-phase grouped agg
    "lake_schema_evolution_chain": {"partial_agg": True,
                                    "no_python_udf": True},
    # bucketed mart join: co-located SMJ, ZERO shuffle on the join key —
    # the publish paid the Exchange once; recurring joins never do
    "lake_bucketed_mart_join": {"sort_merge_join": True,
                                "no_shuffle_join": ["l_orderkey",
                                                    "o_orderkey"],
                                "partial_agg": True,
                                "no_python_udf": True},
    # incremental rollup maintenance: delta-sized aggs merged into the
    # published rollup — two-phase, no raw-row singlepart funnel
    "rollup_incremental_maintenance": {"partial_agg": True,
                                       "no_python_udf": True},
    # SCD2 history build: pure window ops — one hash partitioning on
    # o_custkey reused by the lag-change scan and the lead endpoint
    "scd2_priority_history": {"single_shuffle": True,
                              "no_python_udf": True,
                              "pushed_filters": True},
    # manifest-NDV CBO: both dims broadcast by the stats-driven planner
    # (rows x width fits budget), grouped agg two-phase
    "stats_cbo_star_join": {"broadcast_joins": 2, "partial_agg": True,
                            "no_python_udf": True},
    # KLL rollup: k-row sketch targets broadcast back for the exact-rank
    # witness scan; hourly→type→global merges are two-phase aggs
    "kll_quantile_rollup": {"broadcast_joins": 1, "partial_agg": True,
                            "no_python_udf": True, "max_scan_cols": 3},
    # theta set algebra: one user_id shuffle for the flag matrix; the
    # 5-row sketch table and 3-row estimates broadcast onto the exact rows
    "theta_setops_rollup": {"broadcast_joins": 3, "partial_agg": True,
                            "no_python_udf": True, "max_scan_cols": 2},
    # k-means trainer telemetry: per-iteration broadcast-argmin
    # assignment + grouped-mean shuffle; only centroids cross stages
    "kmeans_convergence": {"partial_agg": True, "no_python_udf": True,
                           "max_scan_cols": 2},
    # SemDeDup: within-cluster self-join shuffles each vector once on
    # its cell id — no unblocked all-pairs join
    "semdedup_pairs": {"no_python_udf": True, "partial_agg": True},
    # partition-evolved chain: flat branch footer-pruned + hive branch
    # directory-pruned, unioned, two-phase agg on top
    "lake_partition_evolution_read": {"partial_agg": True,
                                      "no_python_udf": True},
    # MV auto-rewrite: the whole point is that the FACT TABLE never
    # appears in the plan — only the k-row rollup is scanned
    "mv_rewrite_pricing": {"partial_agg": True, "no_python_udf": True,
                           "plan_must_contain": ["lineitem_pricing_mv"],
                           "plan_must_not_contain": ["lineitem.parquet"]},
    # constraint-enforced publish: the query reads the CLEAN published
    # version (a plain pruned scan + two-phase agg); enforcement cost
    # was paid once at publish
    "constraint_quarantine_publish": {"partial_agg": True,
                                      "no_python_udf": True,
                                      "plan_must_contain": ["events_checked"],
                                      "plan_must_not_contain": ["events.parquet"]},
    # inverted-index search: term resolution reads the postings index
    # (pushed In-filter), the hit set broadcasts onto documents; the
    # document TEXT column is never scanned
    "inverted_index_search": {"partial_agg": True, "no_python_udf": True,
                              "broadcast_joins": 1,
                              "plan_must_contain": ["documents_invindex"]},
    # BM25: index-only retrieval — documents.parquet never scanned; the
    # 1-row df aggregate broadcasts; top-k is TakeOrderedAndProject
    "bm25_ranked_search": {"partial_agg": True, "no_python_udf": True,
                           "take_ordered": True,
                           "plan_must_contain": ["documents_invindex"],
                           "plan_must_not_contain": ["documents.parquet"]},
    # join-MV rewrite: the star join was materialized at publish — the
    # query plan scans ONLY the chosen MV, never orders/customer
    "mv_rewrite_star_segment": {"partial_agg": True, "no_python_udf": True,
                                "plan_must_contain": ["star_segment_mv"],
                                "plan_must_not_contain": ["orders.parquet",
                                                          "customer.parquet"]},
    # phrase search: positional-postings intersection; the doc text is
    # only touched to project (doc_id, source) for the final hits
    "phrase_search_index": {"no_python_udf": True, "broadcast_joins": 1,
                            "plan_must_contain": ["documents_invindex"]},
    # post-delete read: plain pruned scan + two-phase agg over the COW
    # version; the delete cost was paid once at rewrite time
    "lake_delete_rows_read": {"partial_agg": True, "no_python_udf": True,
                              "plan_must_contain": ["orders_gdpr"],
                              "plan_must_not_contain": ["orders.parquet"]},
    # OOF target encoding: one fact scan (broadcast dim join), one
    # (category,fold) rollup; leave-fold-out math on the k x 5 frame
    "target_encode_oof": {"broadcast_joins": 2, "partial_agg": True,
                          "no_python_udf": True, "max_scan_cols": 3},
    # k-core: per-round degree agg + two semi joins keyed on node id;
    # result plan is the last round's aggregate
    "kcore_neardup": {"partial_agg": True, "no_python_udf": True},
    # snapshot join: both dims broadcast, fact scanned once from the
    # snapshot dir — never the raw source tables
    "snapshot_consistent_mart_join": {"broadcast_joins": 2,
                                      "partial_agg": True,
                                      "no_python_udf": True,
                                      "plan_must_contain": ["mart_snapshot"],
                                      "plan_must_not_contain": [
                                          "orders.parquet"]},
    # 2-D skyline: grouped agg reduces the fact BEFORE the (by-design)
    # single-partition running-max window over |days| rows
    "skyline_price_date": {"partial_agg": True, "no_python_udf": True,
                           "max_scan_cols": 2, "singlepart_ok": True},
    # chi-square: one fact scan to 25 cells; margins via window sums on
    # the tiny cell frame
    "chisq_segment_priority": {"broadcast_joins": 1, "partial_agg": True,
                               "no_python_udf": True, "max_scan_cols": 2,
                               "singlepart_ok": True},
    # conversion latency: both aggs + the join key on user_id (reused
    # partitioning); final 1-row percentile summary
    "signup_to_purchase_latency": {"partial_agg": True,
                                   "no_python_udf": True,
                                   "max_scan_cols": 3},
    # left-outer interval join (ST9 batch twin): binned equi-join for
    # the matches + anti join for the null-extended side — hash joins
    # throughout, never a nested-loop range probe
    "interval_join_pairs_outer": {"no_python_udf": True,
                                  "hash_join_not_nlj": True},
    # Benford: 9-cell agg + 1-row total broadcast; digit extraction is
    # codegen'd string/arith expressions
    "benford_first_digit": {"partial_agg": True, "no_python_udf": True,
                            "max_scan_cols": 1},
    # Holt linear trend: daily pre-agg (partial), then a |types|-row
    # struct fold — the collect_list is bounded by the calendar
    "holt_linear_daily_forecast": {"partial_agg": True,
                                   "no_python_udf": True,
                                   "max_scan_cols": 3},
    # Apriori/SON itemsets: broadcast part dim + broadcast 1-row total;
    # local per-basket candidate generation (no basket self-join),
    # two-phase count agg, TakeOrdered for the top-20
    "frequent_brand_triples": {"partial_agg": True, "no_python_udf": True,
                               "broadcast_joins": 1, "take_ordered": True},
    # multi-touch attribution: user-key hash join with residual time
    # range (never NLJ), then one window shuffle on the conversion id
    "attribution_position_credit": {"hash_join_not_nlj": True,
                                    "no_python_udf": True,
                                    "max_scan_cols": 4,
                                    "partial_agg": True},
    # seasonal profile: two-level rollup, profile side broadcast back
    "seasonal_hourly_anomaly": {"partial_agg": True, "broadcast_joins": 1,
                                "no_python_udf": True, "max_scan_cols": 3},
    # bitmap postings: pushed token In-filter on the index scan, word
    # aggs two-phase, tiny hit set broadcast back onto documents
    "bitmap_index_search": {"partial_agg": True, "broadcast_joins": 1,
                            "no_python_udf": True},
    # run-container postings: gaps-and-islands encode (one token
    # exchange), interval-intersection fold over O(runs) broadcasts,
    # final span expansion broadcast onto documents
    "runlen_postings_search": {"partial_agg": True, "broadcast_joins": 1,
                               "no_python_udf": True},
    # WAP read path: plain two-phase agg over the promoted lake version
    "wap_promoted_revenue": {"partial_agg": True, "no_python_udf": True},
    # session paths: one user_id exchange feeds lag + cumsum + path agg;
    # top-10 via TakeOrdered
    "top_session_paths": {"partial_agg": True, "no_python_udf": True,
                          "take_ordered": True, "max_scan_cols": 4},
    # RFM: per-customer partial agg; ntile windows run on the reduced
    # |customers| frame (SinglePartition over aggregates is the
    # documented exception); 1-row max-date broadcast
    "rfm_segmentation": {"partial_agg": True, "no_python_udf": True,
                         "max_scan_cols": 3},
    # Gini: rank window over the reduced per-customer frame, one global
    # closing aggregate
    "revenue_concentration_gini": {"partial_agg": True,
                                   "no_python_udf": True,
                                   "max_scan_cols": 2},
    # growth accounting: distinct reduction, one user window pass, 1-row
    # max-day broadcast; churn shift joins back on the date spine
    "growth_accounting_daily": {"partial_agg": True, "no_python_udf": True,
                                "max_scan_cols": 2},
    # V-shape row patterns: single user_id window shuffle, codegen guards
    "pattern_vshape_dips": {"partial_agg": True, "no_python_udf": True,
                            "single_shuffle": True, "max_scan_cols": 4},
    # boolean bitmap retrieval: pushed In-filters on the index scan,
    # word-wise OR/AND-NOT aggs, hit set broadcast onto documents
    "bitmap_boolean_search": {"partial_agg": True, "broadcast_joins": 1,
                              "no_python_udf": True},
    # keyset pagination: both the boundary and the page are TakeOrdered
    # top-k jobs; boundary rides a 1-row broadcast
    "keyset_pagination_page3": {"take_ordered": True, "no_python_udf": True,
                                "max_scan_cols": 3},
    # per-user Holt fold: one groupBy shuffle, JVM-side struct fold
    "holt_running_final": {"partial_agg": True, "no_python_udf": True,
                           "max_scan_cols": 4},
    # native dynamic-gap session windows: one session-grouping shuffle,
    # gap CASE codegen'd scan-side
    "session_window_dynamic_gap": {"no_python_udf": True,
                                   "max_scan_cols": 4},
    # full-outer interval join: binned hash join + two id-only anti
    # joins — never a nested-loop range probe
    "interval_join_pairs_full_outer": {"no_python_udf": True,
                                       "hash_join_not_nlj": True},
    # renamed chain read: per-segment scans aliased/unioned, then one
    # two-phase agg
    "lake_rename_widen_chain_read": {"partial_agg": True,
                                     "no_python_udf": True},
    # MOR delete read: parent scan minus broadcast anti join, two-phase agg
    "lake_mor_delete_read": {"partial_agg": True, "broadcast_joins": 1,
                             "no_python_udf": True},
    # metadata-only count: the WHOLE point is that no scan runs — the
    # plan must be a driver-local 1-row relation, zero parquet scans
    "lake_fast_count": {"no_python_udf": True,
                        "plan_must_contain": ["Scan ExistingRDD"],
                        "plan_must_not_contain": ["Scan parquet"]},
    # hidden partitioning: two pruned segment scans unioned, residual
    # raw-column filter, two-phase agg — never a Python surface
    "lake_hidden_partition_read": {"partial_agg": True,
                                   "no_python_udf": True},
    # bucket point lookup: one directory's scan + residual filter + agg
    "lake_bucket_lookup": {"partial_agg": True, "no_python_udf": True},
    # change feed: append segment scan unioned with the parent semi-
    # joined to the broadcast delete vector, then a two-phase agg
    "lake_change_feed": {"partial_agg": True, "no_python_udf": True,
                         "broadcast_joins": 1},
    # positional-vector read: parent scan minus TWO broadcast anti joins
    # (dedup layer + predicate layer, each on (file, pos) addresses),
    # two-phase agg — no data file was rewritten by either delete
    "lake_pos_delete_read": {"partial_agg": True, "broadcast_joins": 2,
                             "no_python_udf": True},
    # temporal split: one percentile agg, 1-row boundary broadcast,
    # scan-side CASE, partial-agg rollup — no global window
    "temporal_split_events": {"partial_agg": True, "no_python_udf": True,
                              "max_scan_cols": 3},
    # winsorized/trimmed means: per-type percentile agg broadcast back,
    # decimal-exact sums in one partial-agg pass
    "winsorized_value_stats": {"partial_agg": True, "broadcast_joins": 1,
                               "no_python_udf": True, "max_scan_cols": 2},
    # ACF: daily partial agg, then windows + closing agg share one
    # event_type partitioning
    "daily_value_acf": {"partial_agg": True, "no_python_udf": True,
                        "max_scan_cols": 3},
    # branch merge read: post-merge chain scan + two-phase agg
    "lake_branch_merge_read": {"partial_agg": True, "no_python_udf": True},
    # dynamic partition pruning: the fact scan must carry the runtime
    # pruning subquery (broadcast-reuse), plus the star-join basics
    "dpp_partitioned_join": {
        "plan_must_contain": ["dynamicpruningexpression"],
        "broadcast_joins": 1,
        "partial_agg": True,
        "no_python_udf": True,
    },
    # KS: corpus collapses to the grid via partial agg; CDF windows run
    # over the grouped domain, never raw rows
    "ks_drift_totalprice": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 2,
    },
    # Welch t: one conditional-agg pass, 1-row frame after it
    "welch_ttest_priority": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 2,
        "max_exchanges": 2,
    },
    # KM survival: per-user mins + one user_id shuffle; at-risk and
    # survival windows run over the hour-quantized grouped domain
    "survival_km_signup_purchase": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 3,
    },
    # ALS: grouped-map pandas solves are the declared X2 surface (the
    # per-key ridge solve is Python BY DESIGN); ratings build is
    # partial-agg'd. Telemetry-only result — audit the ratings groupBy.
    # NB: the returned frame is driver-built telemetry (LocalTableScan)
    # — training ran eagerly during construction, so there is nothing
    # to assert on the result plan itself
    "als_convergence": {},
    # serving: broadcast of the 5 query users' factors over the
    # distributed item side; purchased pairs removed with left-anti
    "als_top_recs": {"partial_agg": True},
    # grid-blocked radius join: candidates meet in an equi hash join
    # on the cell key — a degeneration to NLJ/cartesian would be the
    # all-pairs scan the blocking exists to prevent
    "spatial_radius_join": {
        "hash_join_not_nlj": True, "no_python_udf": True,
    },
    "spatial_cell_density": {
        "partial_agg": True, "take_ordered": True, "no_python_udf": True,
    },
    # post-merge snapshot read + two-phase agg (the merge itself ran
    # at publish time; this audits the serving read)
    "lake_merge_into_read": {"partial_agg": True, "no_python_udf": True},
    # Poisson bootstrap: all B resamples ride one scan; the replicate
    # groupBy must partial-agg so the shuffle carries B×partitions
    # rows, never B×n
    "bootstrap_ci_mean": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 3,
    },
    # log-rank: same bounded-domain window shape as KM survival
    "logrank_conversion_groups": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 3,
    },
    # Mann-Whitney: corpus collapses to distinct values via partial
    # agg; rank prefix window runs over the grouped domain
    "mannwhitney_value_groups": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 2,
    },
    # per-segment KS: CDF windows PARTITION BY event_type — parallel
    # across segments, grouped grid domain per segment
    "ks_drift_by_event_type": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 3,
    },
    # spatial top-1: blocked candidates, hash join on cell key, per-
    # customer window (partitioned — parallel across customers)
    "spatial_nearest_supplier": {
        "hash_join_not_nlj": True, "no_python_udf": True,
    },
    # metadata-only min/max/count: the result is driver-built BY
    # DESIGN (no scan task may run — that is the capability)
    "lake_fast_minmax": {},
    # cloned-snapshot read: a plain two-segment chain scan at the NEW
    # base + two-phase agg — the clone must plan exactly like the
    # original chain (no Python, no extra exchanges)
    "lake_clone_read": {"partial_agg": True, "no_python_udf": True},
    # shallow clone: same read plan as the deep clone — the redirection
    # is resolved at plan-build time, so the scan targets the SOURCE's
    # pinned files directly (zero extra plan nodes)
    "lake_shallow_clone_read": {"partial_agg": True, "no_python_udf": True},
    # geodesic radius join: latitude-banded grid candidates meet in an
    # equi hash join on the (row, lon-cell) key — same no-NLJ rule as
    # the planar twin; haversine runs JVM-side (no Python)
    "spatial_radius_join_geo": {
        "hash_join_not_nlj": True, "no_python_udf": True,
    },
    # geodesic top-1: blocked candidates, hash join on the banded cell
    # key, per-customer window (partitioned — parallel across customers)
    "spatial_nearest_supplier_geo": {
        "hash_join_not_nlj": True, "no_python_udf": True,
    },
    # Mann-Kendall: corpus collapses to the (segment, day) grid via
    # partial agg; the pairwise join runs on the bounded grid
    "mann_kendall_trend": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 3,
    },
    # stratified sampler: strata counts partial-agg'd, 5-row allocation
    # broadcast back over the per-stratum hash-rank window
    "stratified_sample_exact": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 3,
    },
    # seasonal decomposition: grid-sized lag chain on ONE event_type
    # window partitioning, then the dow rollup
    "seasonal_dow_decompose": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 3,
    },
    # approx percentile witness: one partial-agg'd percentile pass
    "agg_approx_percentile": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 2,
    },
    # pivot->unpivot: pivot's documented two-agg shape (see
    # pivot_event_counts), unpivot itself is a map-side expand
    "unpivot_daily_event_matrix": {
        "partial_agg": True, "no_python_udf": True, "max_scan_cols": 2,
        "max_exchanges": 4,
    },
    # Avro leg: the python-datasource scan feeds a two-phase agg; the
    # DECODER is python BY DESIGN (it IS the datasource) — the audit
    # pins the aggregation staying JVM-side above it
    "avro_ingest_agg": {"partial_agg": True},
    # point-in-polygon: a scan-side codegen CASE (comparisons +
    # multiplications only) feeding a two-phase agg — zero joins.
    # codegen_compiles: round-8 verdict #3 caught the unrolled ray-cast
    # blowing Janino's 64 KB method limit and silently running the whole
    # stage INTERPRETED; the audit now executes this query under
    # spark.sql.codegen.fallback=false so a compile failure is a hard
    # audit failure, not a silent scale hazard.
    "spatial_point_in_polygon": {
        "partial_agg": True, "no_python_udf": True,
        "codegen_compiles": True,
    },
    # polygon-TABLE join: points must NOT shuffle — the exploded
    # (cell -> polygon) map is the broadcast side; exact ray-cast is the
    # residual after the equi cell join; two-phase agg on polygon_id
    "spatial_polygon_join": {
        "broadcast_joins": 1, "partial_agg": True, "no_python_udf": True,
        "codegen_compiles": True, "max_scan_cols": 1,
    },
    # IVF-PQ serving from the pinned snapshot: the ADC shortlist feeds
    # a BROADCAST semi-join into the float table for the exact rerank;
    # the code scan must carry the probed cells as PARTITION filters
    "ivfpq_index_serve_top10": {
        "broadcast_joins": 1, "take_ordered": True, "no_python_udf": True,
        "plan_must_contain": ["PartitionFilters: [cell"],
    },
    # round-10 delta-chain serve: the resolved chain must still prune
    # on cell partitions in EVERY chained scan and keep the single-job
    # top-k shape (no joins — the LUT is a literal)
    "ivfpq_delta_serve_top10": {
        "take_ordered": True, "no_python_udf": True,
        "plan_must_contain": ["PartitionFilters: [cell", "Union"],
    },
    # round-11 delta-chain serve for the PLAIN-PQ layout: the resolved
    # chain unions the code scans; scoring is the literal LUT (no
    # joins), top-k via TakeOrderedAndProject. No cell partitions in
    # this layout — the reduction is code bytes, not pruned cells.
    "pq_delta_serve_top10": {
        "take_ordered": True, "no_python_udf": True,
        "plan_must_contain": ["Union"],
        "plan_must_not_contain": ["Join"],
    },
    # round-11 OPQ serve: the rotation is DRIVER-side math (a 64×64
    # matvec on the query), so the query plan is identical to the
    # unrotated serve — pruned cell scan, literal LUT, broadcast
    # semi-join rerank; any Python UDF appearing here would mean the
    # rotation leaked into the per-row path
    "ivfpq_opq_serve_top10": {
        "broadcast_joins": 1, "take_ordered": True, "no_python_udf": True,
        "plan_must_contain": ["PartitionFilters: [cell"],
    },
    # round-11 BATCHED serve: Q queries, ONE pruned scan of the union
    # of probed cells; per-query LUTs arrive as a broadcast join on the
    # cell partition column and the per-query top-k is a window rank
    # (the single global TakeOrdered shape does not exist here — ranks
    # are per query_id)
    # round-12: WindowGroupLimit is Catalyst's NATIVE map-side
    # pre-rank (rank-limit pushdown: per-partition per-query top-k
    # BEFORE the window's exchange) — pinned so the shuffle stays
    # bounded by partitions·Q·k survivors, not candidate volume
    # (measured: 590 records at 1M vectors / Q=16 / ~2M candidates)
    "ivfpq_batch_serve_top3": {
        "broadcast_joins": 1, "no_python_udf": True,
        "plan_must_contain": [
            "PartitionFilters: [cell", "Window", "WindowGroupLimit",
        ],
    },
    # round-12 bench-extras twin at Q=16 — same invariants as the Q=4
    # gate query: pruned cell scan, one broadcast, pre-rank present
    "ivfpq_batch_serve_q16": {
        "broadcast_joins": 1, "no_python_udf": True,
        "plan_must_contain": [
            "PartitionFilters: [cell", "Window", "WindowGroupLimit",
        ],
    },
    # round-12 Delta-log interop: scans come from the replayed
    # transaction log's active file set (file pruning is driver-side —
    # pinned via inputFiles in tests/test_delta.py); the plans are
    # ordinary pruned parquet scans + two-phase aggs, JVM-only
    "delta_ingest_agg": {"partial_agg": True, "no_python_udf": True},
    "delta_time_travel_agg": {
        "partial_agg": True, "no_python_udf": True,
        "plan_must_contain": ["Union"],
    },
    "delta_partition_pruned_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # round-12 Iceberg interop: same invariants as the delta trio —
    # driver-side metadata resolution, ordinary pruned scans, JVM-only
    "iceberg_ingest_agg": {"partial_agg": True, "no_python_udf": True},
    "iceberg_time_travel_agg": {
        "partial_agg": True, "no_python_udf": True,
        "plan_must_contain": ["Union"],
    },
    "iceberg_partition_pruned_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # position deletes apply as one broadcast LEFT ANTI join keyed on
    # (file, row ordinal) before the two-phase agg — pin the join shape
    "iceberg_row_delete_agg": {
        "partial_agg": True, "no_python_udf": True, "broadcast_joins": 1,
        "plan_must_contain": ["LeftAnti"],
    },
    # round-13 equality deletes: TWO broadcast joins — the basename→
    # sequence-number mapping (inner) plus the null-safe anti-join
    # against the delete tuples scoped by data_seq < delete_seq
    "iceberg_equality_delete_agg": {
        "partial_agg": True, "no_python_udf": True, "broadcast_joins": 2,
        "plan_must_contain": ["LeftAnti"],
    },
    "lake_export_delta_agg": {
        "partial_agg": True, "no_python_udf": True,
        "plan_must_contain": ["Union"],
    },
    "lake_export_iceberg_agg": {
        "partial_agg": True, "no_python_udf": True,
        "plan_must_contain": ["Union"],
    },
    # round-13 deletion vectors: decoded bitmap ordinals apply as one
    # broadcast LEFT ANTI join on (basename, row ordinal) pre-agg
    "delta_deletion_vector_agg": {
        "partial_agg": True, "no_python_udf": True, "broadcast_joins": 1,
        "plan_must_contain": ["LeftAnti"],
    },
    # post-compaction the DVs are GONE: the plan must be the plain
    # pruned scan + two-phase agg with NO anti-join left in it
    "delta_dv_compaction_agg": {
        "partial_agg": True, "no_python_udf": True,
        "plan_must_not_contain": ["LeftAnti"],
    },
    # post-vacuum / post-expire reads are plain pruned scans too
    "delta_vacuum_agg": {
        "partial_agg": True, "no_python_udf": True,
        "plan_must_not_contain": ["LeftAnti"],
    },
    "iceberg_expire_snapshots_agg": {
        "partial_agg": True, "no_python_udf": True,
        "plan_must_not_contain": ["LeftAnti"],
    },
    # hidden partitioning: pruning happened DRIVER-side (manifest →
    # one bucket's files); the plan is a plain pruned scan + agg
    "iceberg_hidden_partition_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # spec evolution: per-manifest spec routing happened DRIVER-side;
    # old-spec files conservatively included, residual filter + agg
    "iceberg_spec_evolution_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # column-stats pruning happened DRIVER-side from manifest bounds;
    # plain pruned scan + residual filter + agg
    "iceberg_stats_pruned_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # incremental read: per-commit file routing happened DRIVER-side;
    # append scan + broadcast ordinal semi-join + two-phase agg
    "iceberg_changes_agg": {
        "partial_agg": True, "no_python_udf": True,
        "broadcast_joins": 2, "plan_must_contain": ["LeftSemi"],
    },
    # column mapping: physical->logical projection is a scan-side
    # alias; the plan is a plain two-commit scan + two-phase agg
    "delta_column_mapping_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # change feed: per-commit scans union + two-phase agg; the cdc /
    # derived file routing happened DRIVER-side
    "delta_cdf_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # MOR update: one commit's cdc files scanned + two-phase agg
    "delta_update_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # MERGE INTO: the gate reads the commit's cdc parquet + two-phase
    # agg; the merge itself committed at fixture-build time
    "delta_merge_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # Iceberg MERGE: change derivation = one signed-count multiset diff
    # over the two resolved snapshots (one exchange) + two-phase agg
    "iceberg_merge_agg": {
        "partial_agg": True, "no_python_udf": True, "max_exchanges": 8,
    },
    # RESTORE / ROLLBACK: two snapshot reads unioned + two-phase agg
    "delta_restore_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # RENAME: two schema-generation scan groups union under logical
    # names + MOR equality-delete anti-join + two-phase agg
    "iceberg_rename_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # ADD/DROP COLUMN: schema-generation groups union (pre-add files
    # project explicit NULL) + two-phase agg w/ distinct
    "iceberg_add_drop_column_agg": {
        "no_python_udf": True,
    },
    "delta_add_drop_column_agg": {
        "no_python_udf": True,
    },
    # refs: tag read + head read unioned + two-phase agg
    "iceberg_ref_tag_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # txn idempotence: plain two-commit scan + two-phase agg (the
    # replayed epochs committed nothing)
    "delta_txn_exactly_once_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # CHECK constraint: final-state scan + two-phase agg (the
    # violating append refused at fixture-build time)
    "delta_check_constraint_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    "iceberg_rollback_agg": {
        "partial_agg": True, "no_python_udf": True,
    },
    # round-11 JDBC ingest: the scan must be the PARTITIONED parallel
    # extraction (numPartitions=4 → one bounded query per task), two-
    # phase agg on top
    "jdbc_ingest_agg": {
        "partial_agg": True, "no_python_udf": True,
        "plan_must_contain": ["JDBCRelation", "numPartitions=4"],
    },
    # round-11 batch-serve twins for the other two layouts: IVF joins
    # the broadcast query table on the cid partition column (pruned
    # scan of the probed cells); plain PQ has no cell structure — the
    # Q-row broadcast crosses the code scan (BroadcastNestedLoopJoin
    # of a KB-side, the documented legitimate NLJ) and the chain-
    # resolved scans union
    "ivf_batch_serve_top3": {
        "broadcast_joins": 1, "no_python_udf": True,
        "plan_must_contain": [
            "PartitionFilters: [cid", "Window", "WindowGroupLimit",
        ],
    },
    "pq_batch_serve_top3": {
        "no_python_udf": True,
        "plan_must_contain": ["Union", "Window", "WindowGroupLimit"],
        "cartesian_ok": True,
    },
    # --- round-10 promotions: the ANN train-per-call family. These are
    # iterative trainers whose Lloyd's loops inline into one large plan,
    # so exchange counts are unstable by design; the pinned properties
    # are the serving-shape invariants: broadcast dims/LUTs (never a
    # shuffled join against the corpus), top-k via TakeOrderedAndProject
    # (never a global sort), partial aggregation in every groupBy, and
    # JVM-only hot paths. The 1-row query-vector crossJoin legitimately
    # plans BroadcastNestedLoopJoin — broadcast of one row, not a blowup.
    "ivf_knn_top10": {
        "broadcast_joins": 2, "take_ordered": True, "partial_agg": True,
        "no_python_udf": True,
    },
    "ivf_cell_sizes": {
        "take_ordered": True, "partial_agg": True, "no_python_udf": True,
    },
    "ivf_pq_knn_top10": {
        "broadcast_joins": 8, "take_ordered": True, "partial_agg": True,
        "no_python_udf": True,
    },
    # the residual query trains on the driver and scores in one corpus
    # pass against a broadcast model row: no groupBy and no shuffle, so
    # its pins are the serve shape (one 2-column scan, top-k, no
    # exchange or shuffled join)
    "ivf_pq_residual_knn_top10": {
        "take_ordered": True, "no_python_udf": True, "max_scan_cols": 2,
        "plan_must_not_contain": [
            "hashpartitioning", "SortMergeJoin", "ShuffledHashJoin",
        ],
    },
    "pq_knn_top10": {
        "broadcast_joins": 8, "take_ordered": True, "partial_agg": True,
        "no_python_udf": True,
    },
    "pq_rerank_top10": {
        "broadcast_joins": 8, "take_ordered": True, "partial_agg": True,
        "no_python_udf": True,
    },
    # OPQ's rotation deliberately applies as an Arrow-batched matmul
    # (X-surface exception) — so no no_python_udf here; the scale
    # properties are the same broadcast/topk/partial-agg invariants
    "opq_pq_knn_top10": {
        "broadcast_joins": 8, "take_ordered": True, "partial_agg": True,
    },
    # pairwise dedup/similarity: candidate generation must stay an
    # EQUI-join (bucket/band/gram keys) — never nested-loop/cartesian —
    # with dims broadcast and aggregations two-phase
    "ann_lsh_topk": {
        "broadcast_joins": 2, "hash_join_not_nlj": True,
        "no_python_udf": True,
    },
    "knn_allpairs_label_top3": {
        "broadcast_joins": 2, "hash_join_not_nlj": True,
        "no_python_udf": True,
    },
    "embedding_neardup_cosine": {
        "broadcast_joins": 2, "hash_join_not_nlj": True,
    },
    "minhash_lsh_pairs": {
        "broadcast_joins": 2, "hash_join_not_nlj": True,
        "partial_agg": True, "no_python_udf": True,
    },
    "ngram_jaccard_pairs": {
        "broadcast_joins": 2, "hash_join_not_nlj": True,
        "no_python_udf": True,
    },
    "simhash_pairs": {
        "hash_join_not_nlj": True, "partial_agg": True,
        "no_python_udf": True,
    },
    # pagerank: the registered query reads the converged ranks from the
    # iteration's localCheckpoint — the plan must stay checkpoint-fed
    # (no re-derivation scan) and top-k without a global sort
    "pagerank_doc_centrality": {
        "take_ordered": True, "no_python_udf": True, "max_exchanges": 0,
    },
    # the deliberate X1-X3 pandas surface: the plan must actually carry
    # the Arrow eval node it exists to exercise (and nothing else —
    # X1 is a zero-shuffle scan; X2/X3 shuffle once on the group key)
    "pandas_udf_vector_norm": {
        "plan_must_contain": ["ArrowEvalPython"], "max_exchanges": 0,
        "codegen_compiles": True,
    },
    "grouped_normalize": {
        "plan_must_contain": ["FlatMapGroupsInPandas"],
        "single_shuffle": True, "codegen_compiles": True,
    },
    "grouped_agg_geomean": {
        "plan_must_contain": ["ArrowAggregatePython"],
        "single_shuffle": True, "codegen_compiles": True,
    },
    # --- round-10 batch 2: sketches, set ops, SQL-surface and text
    # queries with stable plan shapes. What remains exempt after this
    # batch is only the genuinely driver-looped/iterative (BPE, GBM,
    # logreg, PCA, pagerank-style CC, recursive CTE) and the stubbed
    # multimodal decode family.
    "array_funcs": {"max_exchanges": 0, "no_python_udf": True},
    "agg_approx_distinct": {"partial_agg": True, "no_python_udf": True},
    "hll_sketch_rollup": {"partial_agg": True, "no_python_udf": True},
    "audience_overlap_sketch": {"max_exchanges": 0, "no_python_udf": True},
    "text_stats_by_lang": {
        "partial_agg": True, "no_python_udf": True, "max_exchanges": 4,
    },
    "tfidf_top_terms": {
        "partial_agg": True, "broadcast_joins": 1, "no_python_udf": True,
    },
    # the UDTF surface exists to exercise the Python UDTF node — pin it
    "udtf_token_positions": {
        "plan_must_contain": ["BatchEvalPythonUDTF"], "max_exchanges": 0,
    },
    "window_distribution": {"single_shuffle": True, "no_python_udf": True},
    "setop_except_all": {
        "partial_agg": True, "single_shuffle": True, "no_python_udf": True,
    },
    "setop_intersect_all": {
        "partial_agg": True, "single_shuffle": True, "no_python_udf": True,
    },
    # two-phase salted aggregation: local agg on the salted key + final
    # agg on the real key = two data exchanges by design
    "salted_skew_agg": {
        "partial_agg": True, "no_python_udf": True, "max_exchanges": 4,
    },
    "sql_scalar_function": {"max_exchanges": 0, "no_python_udf": True},
    "sql_udf_pricing": {
        "partial_agg": True, "single_shuffle": True, "no_python_udf": True,
    },
    "sql_segment_priority_matrix": {
        "partial_agg": True, "broadcast_joins": 1, "no_python_udf": True,
    },
    "levenshtein_neighbors": {
        "broadcast_joins": 1, "hash_join_not_nlj": True,
        "no_python_udf": True,
    },
    # --- round-9 promotions off the exemption list (shrinking it is the
    # point; these are simple shapes whose scale properties deserve the
    # same lockstep guarantees as new queries) ---
    "agg_distinct_customers": {"partial_agg": True, "no_python_udf": True},
    "agg_filtered": {"partial_agg": True, "no_python_udf": True},
    "agg_global_stats": {"partial_agg": True, "no_python_udf": True},
    "agg_rollup": {"partial_agg": True, "no_python_udf": True},
    "agg_cube": {"partial_agg": True, "no_python_udf": True},
    "agg_grouping_sets": {"partial_agg": True, "no_python_udf": True},
    "agg_collect_set": {"no_python_udf": True},
    "exact_dedup_docs": {"partial_agg": True, "no_python_udf": True},
    # dropDuplicates plans a deduplicate node, not a partial-agg pair
    "distinct_pairs": {"no_python_udf": True},
    # --- round-9 promotions, batch 2 ---
    "agg_argminmax_mode": {"partial_agg": True, "no_python_udf": True},
    "agg_corr_regression": {"partial_agg": True, "no_python_udf": True},
    "agg_stats_moments": {"partial_agg": True, "no_python_udf": True},
    "bit_hex_funcs": {"no_python_udf": True},
    "case_when_bucket": {"no_python_udf": True},
    "date_arith_funcs": {"no_python_udf": True},
    "filter_predicates": {"no_python_udf": True},
    "proj_computed_cols": {"no_python_udf": True},
    "json_props_extract": {"no_python_udf": True},
    "json_map_functions": {"no_python_udf": True},
    "variant_props_agg": {"partial_agg": True, "no_python_udf": True},
    "unpivot_flag_metrics": {"no_python_udf": True},
    "join_null_safe": {"no_python_udf": True, "hash_join_not_nlj": True},
    "join_cross": {"cartesian_ok": True, "no_python_udf": True},
    "running_user_totals": {"no_python_udf": True},
    "sliding_1h_15m_agg": {"partial_agg": True, "no_python_udf": True},
    "watermark_late_drop": {"partial_agg": True, "no_python_udf": True},
    "token_counts": {"partial_agg": True, "no_python_udf": True},
    "token_counts_regex": {"partial_agg": True, "no_python_udf": True},
    "doc_fingerprint": {"no_python_udf": True},
    "doc_quality_score": {"no_python_udf": True},
    "lang_id_agreement": {"partial_agg": True, "no_python_udf": True},
    "dq_summary": {"partial_agg": True, "no_python_udf": True},
    "stratified_sample": {"no_python_udf": True},
    "q4_order_priority": {"partial_agg": True, "no_python_udf": True},
    "q8_market_share": {"partial_agg": True, "no_python_udf": True},
    "q14_promo_revenue": {"partial_agg": True, "no_python_udf": True},
    "q15_top_supplier": {"partial_agg": True, "no_python_udf": True},
    "q16_supplier_cnt": {"partial_agg": True, "no_python_udf": True},
    "q22_sales_opportunity": {"partial_agg": True, "no_python_udf": True},
    "window_rank_dense": {"no_python_udf": True},
    "window_lag_lead": {"no_python_udf": True},
    "window_range_frame": {"no_python_udf": True},
    "window_running_sum": {"no_python_udf": True},
    "window_moving_avg": {"no_python_udf": True},
    "setop_union_all": {"no_python_udf": True},
    "setop_intersect": {"no_python_udf": True},
    "setop_except": {"no_python_udf": True},
    "join_semi": {"no_python_udf": True, "hash_join_not_nlj": True},
    "join_anti": {"no_python_udf": True, "hash_join_not_nlj": True},
    "join_full_outer": {"no_python_udf": True, "hash_join_not_nlj": True},
    "join_left_outer": {"no_python_udf": True, "hash_join_not_nlj": True},
    "join_right_outer": {"no_python_udf": True, "hash_join_not_nlj": True},
    "str_funcs": {"no_python_udf": True},
    "date_funcs": {"no_python_udf": True},
    "math_funcs": {"no_python_udf": True},
    "null_funcs": {"no_python_udf": True},
    "hash_funcs": {"no_python_udf": True},
    "sort_nulls_last": {"no_python_udf": True},
    "sql_revenue_by_region": {"partial_agg": True, "no_python_udf": True},
    "stream_dedup_first": {"no_python_udf": True},
}


# Queries registered before the plan-audit-lockstep rule (round-4 verdict
# item 8) and grandfathered without an EXPECT entry. FROZEN: do not add
# names here — every NEW query must get an EXPECT entry instead;
# tests/test_plans.py::test_audit_lockstep enforces
# set(registry) == set(EXPECT) | AUDIT_EXEMPT.
AUDIT_EXEMPT = frozenset({
    # iterative driver loops (convergence re-plans per round: exchange
    # counts and shapes are round-count-dependent by construction)
    "bfs_hops_neardup",
    "bpe_merge_table", "bpe_token_counts",
    "embedding_pca_project",
    "gbm_quality_train", "logreg_quality_train",
    "neardup_clusters", "neardup_clusters_bigstar",
    "pack_sequences_firstfit",
    "sql_recursive_calendar",
    # multimodal decode surface: REAL public-spec PNG/JPEG header parse
    # over synthesized spec-valid payloads (round-12); pixel decode
    # still needs codecs the container doesn't ship. The plan is
    # mapInPandas around the parser — shape + true-dimension outputs
    # pinned by the multimodal pytest suite instead
    "multimodal_decode_features",
    "multimodal_frame_sample", "multimodal_pack", "multimodal_resize",
})


_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def _depth(line: str) -> int:
    """Tree depth of a formatted-plan line = offset of the node name."""
    i = 0
    while i < len(line) and line[i] in " +-:*(":
        i += 1
    return i


def singlepart_over_raw(plan: str) -> bool:
    """True if any `Exchange SinglePartition` funnels RAW (pre-aggregation)
    scan rows into one task — the local-mode-works / cluster-dies trap.

    A SinglePartition exchange is fine when its input is already reduced
    (global agg finalization, cumulative offsets over per-partition
    counts, post-aggregation date spines): in those plans an aggregate
    sits between the exchange and every file scan. Walk the exchange's
    subtree in pre-order; if a parquet scan appears before any aggregate
    node, the exchange is moving data-sized input — flag it."""
    lines = plan.splitlines()
    # tree section: node lines like "   +- Exchange (2)"; details follow
    # as "(2) Exchange\n...Arguments: SinglePartition, ..." blocks
    node_re = re.compile(r"\((\d+)\)\s*$")
    tree = []
    for ln in lines:
        m = node_re.search(ln)
        if m and not ln.lstrip().startswith("("):
            tree.append((ln, m.group(1)))
    details: dict[str, str] = {}
    cur = None
    for ln in lines:
        m = re.match(r"^\((\d+)\)\s+\S", ln)
        if m:
            cur = m.group(1)
            details[cur] = ln
        elif cur is not None:
            details[cur] += "\n" + ln
    for i, (ln, nid) in enumerate(tree):
        if "Exchange" not in ln or "SinglePartition" not in details.get(nid, ""):
            continue
        d = _depth(ln)
        saw_agg = False
        for sub, _sid in tree[i + 1:]:
            if _depth(sub) <= d:
                break
            if any(a in sub for a in _AGG_NODES):
                saw_agg = True
            if "Scan parquet" in sub and not saw_agg:
                return True
    return False


def audit(name: str, plan: str) -> list[str]:
    exp = EXPECT[name]
    problems = []
    if exp.get("pushed_filters") and "PushedFilters: []" in plan:
        problems.append("no pushed filters reached the scan")
    if "broadcast_joins" in exp:
        n = plan.count("BroadcastHashJoin")
        if n < exp["broadcast_joins"]:
            problems.append(
                f"expected >= {exp['broadcast_joins']} BroadcastHashJoin, saw {n}"
            )
    if exp.get("take_ordered") and "TakeOrderedAndProject" not in plan:
        problems.append("LIMIT did not plan TakeOrderedAndProject")
    if exp.get("partial_agg"):
        # SortAggregate/ObjectHashAggregate are equally two-phase: struct
        # max / collect aggs can't hash-aggregate but still map-side combine
        if not re.search(
            r"(Hash|Sort|ObjectHash)Aggregate.*partial", plan, re.I | re.S
        ):
            problems.append("no partial (map-side) aggregation")
    if exp.get("sort_merge_join") and "SortMergeJoin" not in plan:
        problems.append("expected SortMergeJoin (bucketed co-located join)")
    for key in exp.get("no_shuffle_join", []):
        # bucketed co-location: the JOIN key must never be shuffled
        # (the post-join group-key exchange is expected and tiny)
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            if key in m.group(1):
                problems.append(
                    f"Exchange hashpartitioning on bucketed join key "
                    f"{key!r} — co-location lost"
                )
                break
    if exp.get("hash_join_not_nlj"):
        if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan:
            problems.append("theta join degenerated to nested-loop/cartesian")
    if "max_exchanges" in exp:
        n = plan.count("Exchange")
        if n > exp["max_exchanges"]:
            problems.append(f"{n} Exchange mentions > {exp['max_exchanges']}")
    if exp.get("single_shuffle"):
        n = plan.count("Exchange")
        # AQE may show the same exchange twice (logical+final); count unique ids
        if n > 2:
            problems.append(f"expected one shuffle, plan shows {n} Exchange nodes")
    if exp.get("no_python_udf"):
        if "PythonUDF" in plan or "ArrowEval" in plan or "BatchEvalPython" in plan:
            problems.append("Python UDF found on the hot path")
    if "max_scan_cols" in exp:
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        if m:
            ncols = len([c for c in m.group(1).split(",") if c.strip()])
            if ncols > exp["max_scan_cols"]:
                problems.append(
                    f"scan reads {ncols} cols, expected <= {exp['max_scan_cols']} "
                    "(column pruning failed)"
                )
    for s in exp.get("plan_must_contain", []):
        if s not in plan:
            problems.append(f"plan missing expected marker {s!r}")
    for s in exp.get("plan_must_not_contain", []):
        if s in plan:
            problems.append(f"plan contains forbidden marker {s!r}")
    if "CartesianProduct" in plan and not exp.get("cartesian_ok"):
        problems.append("unexpected CartesianProduct")
    if singlepart_over_raw(plan) and not exp.get("singlepart_ok"):
        problems.append(
            "Exchange SinglePartition over raw scan rows (unpartitioned "
            "sort/window funnel — would bottleneck one task at scale)"
        )
    return problems


def main() -> int:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.all_specs()
    sf_dir = "/root/testdata/sf0.01"
    sections = []
    failures = 0
    for name in EXPECT:
        # Round-14: audit with materialization barriers disabled so
        # checkpoint-truncated subtrees stay visible (see
        # novelti_dingo_spark.barrier and tests/test_plans.py::_plan)
        with no_barriers():
            df = specs[name].fn(spark, sf_dir)
            plan = explain_formatted(df)
        problems = audit(name, plan)
        if EXPECT[name].get("codegen_compiles"):
            # execute with codegen fallback DISABLED: any generated-code
            # compile failure (e.g. Janino 64 KB overflow) raises instead
            # of silently degrading the stage to interpreted execution
            prior_fallback = spark.conf.get("spark.sql.codegen.fallback", None)
            spark.conf.set("spark.sql.codegen.fallback", "false")
            try:
                specs[name].fn(spark, sf_dir).collect()
            except Exception as e:  # noqa: BLE001 — audit reports, not raises
                problems.append(
                    f"whole-stage codegen failed to compile: {e}"[:300]
                )
            finally:
                if prior_fallback is None:
                    spark.conf.unset("spark.sql.codegen.fallback")
                else:
                    spark.conf.set(
                        "spark.sql.codegen.fallback", prior_fallback
                    )
        status = "PASS" if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"{status}  {name}" + ("" if not problems else ": " + "; ".join(problems)))
        sections.append(
            f"## {name}\n\nchecks: "
            + (", ".join(f"{k}={v}" for k, v in EXPECT[name].items()))
            + (f"\n\n**PROBLEMS: {'; '.join(problems)}**" if problems else " — all hold")
            + f"\n\n```\n{plan.strip()}\n```\n"
        )
    with open(os.path.join(REPO_ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit evidence\n\n"
            "Generated by tools/audit_plans.py at sf0.01. Each section shows "
            "the formatted physical plan and the scale-critical properties "
            "checked against it (predicate pushdown, column pruning, "
            "broadcast joins, two-phase aggregation, TakeOrderedAndProject "
            "top-k, no accidental nested-loop joins or Python UDFs).\n\n"
            + "\n".join(sections)
        )
    print(f"audited={len(EXPECT)} failures={failures} -> PLANS.md")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
