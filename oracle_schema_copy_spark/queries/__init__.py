"""Named query registry: every engine operator exposed as a
(spark, sf_dir) -> DataFrame callable, paired (where SQL-expressible) with
an ANSI-SQL oracle that DuckDB runs over the same parquet tables.

Conventions (the driver compares row-count + schema + order-insensitive
value hash, columns sorted by name):
- every computed/aggregate column is aliased identically in Spark and SQL;
- integer aggregates are cast to BIGINT on both sides (DuckDB widens to
  HUGEINT otherwise);
- double aggregates over many terms are rounded identically on both sides
  (summation order differs between engines);
- ``date_trunc`` results are cast to DATE on both sides (DuckDB returns
  DATE, Spark TIMESTAMP);
- timestamps run under UTC sessions on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    headline: bool = False  # include in bench.py


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, headline: bool = False):
    def deco(fn):
        assert name not in REGISTRY, f"duplicate query name {name}"
        REGISTRY[name] = QuerySpec(fn, oracle, headline)
        return fn

    return deco


def _load_all() -> None:
    # pipeline_* in original pipeline.py line order (r9 split, VERDICT r8
    # #8) so registry insertion order stays close to the pre-split file
    from oracle_schema_copy_spark.queries import (  # noqa: F401
        livedb,
        pipeline_dedup,
        pipeline_similarity,
        pipeline,
        pipeline_stats,
        pipeline_graph,
        pipeline_linalg,
        reference_surface,
        # relational_* in original relational.py line order (r10 split,
        # VERDICT r9 #7) so registry insertion order is unchanged
        relational,
        relational_analytics,
        relational_stats,
        streaming,
        temporal,
        tpch,
    )


# Checking order for external verifiers that iterate queries() under a
# query-count or time budget (the round driver records the first ~50):
# FIRST holds, in order, (r7) the queries newly registered in round 7
# (no driver row in ANY round — the contiguous never-driver-checked
# front, tests/test_registry.py), then (m7) queries whose build path
# changed in round 7 (the _auto_lsh_r memo feeds all four LSH queries;
# the triangle edge builder was factored), then the prior rounds'
# sections.  The TAIL holds queries green in a previous round's driver
# gate with unchanged implementations, so a budget cutoff costs the
# least fresh information.  Names absent from both lists keep registry
# (insertion) order in the middle.
_CHECK_FIRST: list[str] = [
    # (kd) code path changed by the one keyed delete: every live-database
    # delete stages its keys and runs one EXISTS statement, upsert and
    # delete share one staged-statement helper, the statement executor is
    # always one transaction and JDBC write batch/connection sizes are
    # constants (every DerbyTarget query); mutate.delete_by_keys takes a
    # key frame only; the oplog writer chunks at oplog.ROWS_PER_OP; and
    # Warehouse.rewrite, the atomic replay's commit and MOR compaction
    # share oplog.swap_in
    "jdbc_roundtrip_orders",
    "oplog_import_into_derby",
    "stream_cdc_apply_derby",
    "jdbc_copy_tree_derby",
    "jdbc_walk_pushed_probe",
    "jdbc_walk_probe_matrix",
    "delete_by_keys_lineitem",
    "mor_compaction_equivalence",
    "oplog_roundtrip_orders",
    "oplog_atomic_replay_orders",
    "oplog_history_source",
    "export_all_roundtrip_nation",
    "export_view_opaque_roundtrip",
    "copy_verify_end_to_end",
    # (sj) code path changed by the subgraph-verb job cuts: Engine.copy_tree
    # checks the copy on what landed and releases the walk's caches;
    # walk.copy_selections was restructured (the no-sink fused check
    # registered queries keep) and walk_linked pairs a DataFrame root by
    # walk.key_frame; Engine.table, Warehouse.read and replay read with a
    # known schema, and the oplog writer logs each payload's schema (the
    # oplog and Derby names of this section lead the list above)
    "copy_tree_lineitem",
    "copy_tree_summary",
    "copy_tree_lineitem_composite",
    "delete_tree_orders",
    # (tb) code path changed by the one target boundary: every keyed
    # delete/scan pairs its key frame through walk.key_frame (walk,
    # mutate, oplog writer + replay, MOR delete batches, jdbc_delete), the
    # live database runs through the one JdbcTarget (every DerbyTarget
    # query), DDL comes from dialects directly and walk paths parse
    # without Catalog.pk_of_map; the copy_tree_* names also changed when
    # copy_tree took its row counts from the walk check, and were not
    # moved forward then (this section's delete, MOR-compaction and Derby
    # names lead the list above)
    "keyed_scan_orders",
    "mor_read_orders",
    "mor_time_travel_orders",
    "ddl_dialect_matrix",
    # (m14c3) changed late in round 14: explicit-count repartition pins
    # in lsh_banded_topk (exact scorer only), ngram_jaccard_pairs and
    # minhash_candidate_pairs — front the banded-family consumers; the
    # dedup consumers are already fronted below
    "similarity_topk_lsh_banded",
    "similarity_topk_lsh_vectorized",
    "mine_hard_negatives",
    "ann_recall_contract",
    # (m14) implementation changed in round 14: minhash band-bucket
    # pair generation moved from collect_list posting arrays to a
    # sort-merge self-join with checkpointed signatures; upsert guard
    # aliases hardened; ngram pair gen was rewritten twice and reverted
    # verbatim (re-gate to prove the revert) — front all consumers
    "dedup_minhash_lsh",
    "dedup_minhash_recall_contract",
    "dedup_ngram_jaccard",
    "dedup_components",
    "dedup_components_star",
    "dedup_keep_best_per_cluster",
    "dedup_rate_by_source",
    "split_by_dedup_cluster",
    "upsert_orders",
    "tpch_q18_large_volume_customers",
    # (m12) changed in round 12: BLAS kernels round HALF_UP by
    # construction (r11 ADVICE); read_table_keyed drops None keys (the
    # hypothesis probe test found bare NULL in IN(...) is a Derby
    # syntax error) — re-gate the names those paths feed first
    "assign_nearest_centroid_vectorized",
    "pq_codes_vectorized",
    # (m12) the r12 sf10 widening caught round-of-double-sum drift in the
    # bucketed-join rollup (5 groups growing with the corpus) — moved to
    # exact per-row cents — and a 1-micro round(double,6) implementation
    # divergence in the perplexity display column — moved to
    # IEEE-deterministic floor(x+0.5) micro math. Re-gate first.
    "join_bucketed_no_shuffle",
    "quality_perplexity_buckets",
    # (m11) changed in round 11: sql_parameterized revenue_cents moved
    # to exact per-row cents after the sf10 gate caught 1-cent
    # round-of-double-sum drift at ~4M doubles/group; r10 ADVICE fixes
    # (sliding mean denominator count(value), CDC snapshot verb
    # idempotent, pmod mirrored trunc-mod in the PQ twins) — re-gate
    # first
    "sql_parameterized_group_by_all",
    "stream_sliding_window",
    "stream_sliding_window_live",
    "similarity_topk_pq_adc",
    "assign_nearest_centroid",
    # (m10) changed in round 10 by the sf10 (100x) audit fixes: PQ
    # ks=256 codebook cap + packed scalar-max encode argmax; packed
    # micro-unit assignment argmax; micro-unit tumbling sums — re-gate
    # first (names also touched in r11 moved to the r11 section above)
    "similarity_topk_ivfpq",
    "similarity_topk_ivfpq_rerank",
    "ivfpq_recall_contract",
    "stream_tumbling_window",
    "stream_tumbling_window_live",
    # (m10) read-back path changed in round 10 (eager localCheckpoint +
    # scratch cleanup; the Derby names moved to the tb section above)
    "multimodal_resize_real",
    # (m9) oracle or implementation changed in round 9 — re-gate first
    # (DoReMi overflow reduction; salted-skew exact-cents revenue;
    # MATERIALIZED pairs CTE in the cluster oracles; span-frame
    # checkpoint default flipped off in remove_repeated_spans)
    "text_exactsubstr_removal",
    "curation_cleaning_capstone",
    "scd2_point_in_time_join",
    "corpus_doremi_weights",
    "sample_doremi_mixture",
    "join_salted_skew",
    # (r8) new in round 8 — no driver row exists yet
    "curriculum_interleave_order",
    "sq8_recall_contract",
    "similarity_topk_sq8_rescore",
    "dedup_edit1_supplier_names",
    "text_decontamination_removal",
    "dedup_paragraph_reconstruct",
    "stream_stream_right_join_live",
    "stream_dedup_keys_watermarked_live",
    # (m8) modified in round 8 — re-gate after the change (ADVICE r7
    # fixes: DSIR empty-bigram guard, perplexity micro-unit rank key,
    # outer-join stalled-watermark bound, hard-negative NULL exclusion)
    "sample_dsir_importance",
    "stream_stream_left_join_live",
    "stream_stream_full_join_live",
    # (r7) new in round 7 — first driver rows recorded r7
    "embedding_gram_matrix",
    "embedding_pca_projection",
    "embedding_covariance_matrix",
    "corpus_temperature_budgets",
    "ivf_ndcg_contract",
    "sample_kcenter_coreset",
    "embedding_standardize_outliers",
    "stream_session_window_live",
    "stream_scd2_temporal_join_live",
    "stream_hll_daily_users_live",
    "curation_diversity_capstone",
    "matryoshka_recall_contract",
    "bpe_roundtrip_contract",
    "bpe_train_k_merges",
    "bpe_encode_token_counts",
    "ivf_recall_contract",
    "stream_cdc_upsert_live",
    "events_session_funnel",
    "graph_k_core_decomposition",
    "quality_gopher_rules",
    "bpe_fertility_by_lang",
    "corpus_unimax_budgets",
    "scd2_point_in_time_attribution",
    "graph_triangle_counts_capped",
    # (m7) build path changed in round 7 — re-gate after the change
    "dedup_embedding_lsh",
    "graph_triangle_counts",
    # (r6) new in round 6, all recorded green by the r6 driver
    "bpe_pair_merge_step",
    # (z) first driver rows recorded r6 (VERDICT r5 "next round" #2)
    "asof_join_planted_ties",
    "multimodal_feature_extract_arrow",
    "observe_pipeline_metrics",
    "partition_pruned_rollup",
    "sketch_approx_topk_contract",
    # (sql_parameterized_group_by_all moved to the m11 section above)
    "stats_zipf_bigram_slope",
    "tpch_q20_potential_promotion",
    "udtf_token_runs",
    # (m6) modified in round 6, re-gated green by the r6 driver
    "stats_ks_drift_by_source",
    # (u) never driver-checked through r4 (all recorded green by the r5
    # driver; kept next so a wider budget re-confirms the freshest set)
    "embedding_int8_quantize_error",
    "skyline_orders_price_date",
    "events_markov_transitions",
    "events_time_weighted_avg",
    "window_distribution_position",
    "abc_classification_parts",
    "rfm_customer_segments",
    "yoy_revenue_growth",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_values",
    "tpch_q12_late_priority_classes",
    "tpch_q13_customer_distribution",
    "tpch_q16_supplier_count_by_part",
    "tpch_q17_small_quantity_revenue",
    "tpch_q19_disjunctive_revenue",
    "tpch_q21_suppliers_kept_waiting",
    "tpch_q22_sales_opportunity",
    "dedup_jaccard_prefix_filter",
    "agg_approx_percentile_contract",
    "dq_constraint_checks",
    "dedup_jaccard_incremental",
    "sql_recursive_cte_bfs",
    "text_repeated_spans",
    "minhash_merge_contract",
    "stats_benford_digits",
    "stats_entropy_by_source",
    "stats_mutual_information",
    # (n) new in round 5 — recorded green by the r5 driver
    "dedup_semantic_clusters",
    "sketch_cms_heavy_hitters",
    "train_shard_manifest",
    "kmeans_two_iterations",
    "stream_cms_sketch_live",
    "sketch_hll_merge_contract",
    "sketch_kll_quantile_contract",
    "sketch_theta_setops_contract",
    "sql_scripting_threshold_loop",
    "curation_shard_capstone",
    # (a) modified in round 4 (r5 driver re-gated the walk family)
    "similarity_lsh_bucket_histogram",  # r4: plane_dot change
    "asof_join_last_click",  # r4: deterministic tie-break (quote-struct order)
    "asof_forward_next_error",  # r4: same tie-break change
    "similarity_topk_bruteforce",  # r4: codegen'd unrolled exact dot
    "similarity_topk_ivf_label",  # r4: same scorer change
    "dedup_embedding_cosine",  # r4: same scorer change
    # (c) last driver row is from r1
    "linked_rows_probe",
    "join_multiway_revenue_by_nation",
    "topk_per_group_lineitems",
    "agg_rollup_flag_status",
    "edges_by_table",
    "text_lang_id",
    "ddl_rewrite",
    "multimodal_binary_metadata",
    "text_stats_quality",
    "join_inner_revenue_by_order",
    "agg_pricing_summary",
    "dedup_normalized",
    "dedup_simhash_signatures",
    "join_left_outer_order_counts",
    "join_full_outer_customers_orders",
    "agg_count_distinct",
    "agg_cube_priority_status",
    "agg_filtered_revenue",
    "window_lag_lead_order_dates",
    "window_running_quantity",
    "sort_limit_top_orders",
    "multimodal_frame_sample",
    "text_fingerprint",
    "text_token_histogram",
    "scalar_date_functions",
    "scalar_string_functions",
    "edge_exclusion_filter",
    "table_exclusion",
    "bulk_copy_projection",
]
_CHECK_LAST: list[str] = [
    # green in CORRECTNESS_r02 with unchanged implementations; each has an
    # earlier same-family representative in the check order, so a 50-entry
    # verifier cutoff still covers every operator family
    "stream_session_window",
    "stream_watermark_late_drop",
    "stream_stateful_user_totals_live",
    "scalar_array_functions",
    "scalar_json_events",
    "schema_ddl_catalog",
    "multimodal_feature_extract",
    "range_join_error_views",
    "sample_stratified_by_lang",
    "train_val_test_split",
    "curation_pipeline",
    "agg_percentiles",
    "agg_salted_skew_safe",
    "agg_pivot_status_by_priority",
    "unpivot_order_metrics",
    "text_repetition_ratio",
    "text_pii_redaction",
    "text_contamination",
    "pack_sequences_by_lang",
    "stream_stream_join_live",
    "stream_dedup_keys_live",
    "sessionize_events",
    "trailing_window_features",
    "embedding_centroids_by_label",
    "agg_grouping_sets",
    "sample_weighted_topk",
    "feature_binning_ntile",
    "dedup_fuzzy_name_pairs",
    "agg_stats_moments",
    "topo_depth",
    "dedup_exact",
    "dedup_simhash_pairs",
    "window_rank_orders_per_customer",
    "setops_customer_segments",
]


def _check_order(names: list[str]) -> list[str]:
    """Raises on check-order names missing from the registry: round 3
    shipped three _CHECK_FIRST names whose implementations didn't exist
    (silently filtered — the list claimed coverage that wasn't there).
    Loud failure keeps the check order honest."""
    from collections import Counter

    listed = _CHECK_FIRST + _CHECK_LAST
    unknown = sorted(set(listed) - set(names))
    if unknown:
        raise ValueError(
            f"check-order names not in the query registry (ghosts): {unknown}"
        )
    dups = sorted(n for n, c in Counter(listed).items() if c > 1)
    if dups:
        raise ValueError(f"names listed twice in the check order: {dups}")
    first = list(_CHECK_FIRST)
    last = list(_CHECK_LAST)
    mid = [n for n in names if n not in set(first) | set(last)]
    return first + mid + last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: REGISTRY[name].fn for name in _check_order(list(REGISTRY))}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: REGISTRY[name].oracle.strip()
        for name in _check_order(list(REGISTRY))
        if REGISTRY[name].oracle is not None
    }


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.headline}
