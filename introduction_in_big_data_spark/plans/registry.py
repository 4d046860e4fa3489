"""Query registry — the engine's declared, oracle-checked surface.

Every operator family from SURVEY.md §2 is exposed here as a named query
over the driver's test tables: a PySpark builder `(spark, sf_dir) ->
DataFrame` plus (where SQL-expressible) an equivalent ANSI-SQL string a
DuckDB oracle runs on the same parquet files. The driver hash-compares
the two at sf0.01; `tests/test_oracle.py` does the same at sf0.001.

Determinism rules (so order-insensitive value hashing matches):
- every computed column is aliased identically on both sides;
- floats produced by arithmetic are rounded (half-away-from-zero in
  both engines) to a fixed scale inside the query;
- every top-k / ranking query carries a unique tiebreaker column;
- sums of integers are cast to BIGINT on the DuckDB side (DuckDB sums
  to HUGEINT, Spark to LONG).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records a weaker rows-only check
    tags: tuple[str, ...] = field(default=())
    bench: bool = False  # include in bench.py headline timings


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, tags, bench)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand: load one driver table."""
    return load_table(spark, sf_dir, name)


# Queries that already have a driver-green (rows+schema+hash) row in a
# prior round's CORRECTNESS_r{N}.json. The driver checks the FIRST ~50
# registry entries, so queries()/oracle_sql() order the not-yet-
# driver-checked queries first: successive rounds sweep the whole
# registry even if each round samples a prefix. The already-green tail
# is ordered by a round-salted hash, so the sample slots left after the
# unchecked queries re-validate a *rotating* subset of previously-green
# queries each round (regression coverage under prefix sampling). Local
# verification is unaffected — tests/test_oracle.py and the sweep
# artifacts always run every query.
_ROTATION_SALT = "r12"

_R1_DRIVER_GREEN = frozenset(
    {
        "q1_pricing_summary", "top20_brands", "mktsegment_order_counts",
        "supplier_region_rollup", "clean_parts", "customer_acctbal_band",
        "year_cast_range", "zscore_outlier_counts", "sigma_band_orders",
        "dedup_first_order", "active_customers", "top5pct_parts",
        "fk_orphan_counts", "distinct_parts_ordered", "quantity_histogram",
        "quantity_summary", "quantity_percentiles", "pivot_qty_by_flag",
        "top3_parts_per_brand", "setops_customer_cohorts",
        "events_json_extract", "events_props_map", "q6_forecast_revenue",
        "events_hourly", "events_props_variant", "events_sliding_1h_30m",
        "cf_ratings", "cf_knn", "cf_predict_metrics", "cf_knn_pruned",
        "text_token_stats", "text_bpe_token_count", "text_quality",
        "text_language_id", "text_fingerprints", "text_winnow_fingerprints",
        "text_ngram_freq", "text_repetition_ratio", "corpus_composition",
        "sample_mix_by_source", "token_shard_stats", "tfidf_top_terms",
        "dedup_exact", "dedup_jaccard", "dedup_jaccard_prefix",
        "dedup_minhash_lsh", "dedup_clusters", "fuzzy_name_pairs",
        "ann_bruteforce_topk",
    }
)


_R2_DRIVER_GREEN = frozenset(
    {
        "doc_sentences", "dedup_simhash", "dedup_keep_representatives",
        "ann_nn_join", "embedding_dup_clusters",
        "embedding_near_dup_lsh_repro", "ann_lsh_topk_repro",
        "ann_ivf_topk_fixed", "udf_cosine_adjacent_vectors",
        "stream_user_counts", "stream_top5_event_types",
        "stream_hourly_by_type", "stream_nation_event_revenue",
        "stream_distinct_users", "stream_dedup_unique_users_by_type",
        "sketch_cms_event_types", "multimodal_features",
        "multimodal_frame_sample", "multimodal_thumbnail",
        "multimodal_bmp_stats", "multimodal_wav_energy",
        "multimodal_audio_energy", "corr_quantity_price",
        "left_join_order_gaps", "rollup_flag_status",
        "q3_shipping_priority", "top5pct_parts_percentile",
        "merge_upsert_customers", "full_outer_nation_balance",
        "dq_customer_report", "unpivot_part_metrics",
        "quantity_percentiles_by_flag", "top_parts_per_brand_with_ties",
        "mad_outlier_counts", "udaf_value_rmse_by_type",
        "q5_region_revenue", "q18_large_orders", "embedding_near_dup",
        "q4_priority_order_counts", "q13_order_count_distribution",
        "q14_promo_revenue_share", "q17_below_avg_qty_revenue",
        "q22_idle_customer_balance", "daily_revenue_momentum",
        "acctbal_quartile_stats", "q7_nation_trade_volume",
        "q8_market_share", "q10_returned_revenue_top20",
        "q11_valuable_parts", "q15_top_suppliers",
    }
)

_R3_DRIVER_GREEN = frozenset(
    {
        "acid_changes_feed", "acid_merge_customers", "acid_schema_evolution",
        "ann_eval_pq_vs_exact", "ann_ivfpq_residual_topk",
        "ann_ivfpq_topk_fixed", "ann_pq_refined_topk", "ann_pq_topk_fixed",
        "ann_sq8_topk", "asof_last_signup", "bloom_pruned_revenue",
        "cap_docs_per_source", "cf_holdout_metrics", "cube_status_priority",
        "curation_funnel", "curation_pipeline_e2e", "daily_revenue_anomalies",
        "daily_revenue_gap_filled", "decontam_overlap", "dedup_incremental",
        "doc_chunks", "domain_stats", "events_zorder_buckets",
        "funnel_view_click_purchase", "grouping_sets_flag_line",
        "interval_event_counts", "multimodal_features_arrow",
        "multimodal_jpeg_stats", "multimodal_png_stats",
        "pagerank_trade_graph", "q16_supplier_variety",
        "q19_disjunctive_revenue", "q20_bulk_suppliers",
        "q21_sole_blame_suppliers", "q2_min_cost_supplier",
        "q9_nation_profit", "redact_pii_stats", "rolling_revenue_7d",
        "scd2_customer_history", "session_stats_by_user",
        "sketch_hll_vs_exact", "sketch_quantiles_vs_exact",
        "skew_join_salted", "skew_join_unsalted", "stream_session_stats",
        "stream_stream_view_click", "substring_dup_stats",
        "text_char_lm_quality", "unpivot_balances",
    }
)

_R4_DRIVER_GREEN = frozenset(
    {
        "acid_optimize_compaction", "avro_roundtrip_stats",
        "delta_interop_read", "iceberg_interop_read",
        "q12_late_shipment_priority", "embedding_sq8_stats",
        "null_safe_join_counts", "profile_customer_columns",
        "regression_value_by_type", "sequence_pack_stats",
        "stream_acid_user_state", "stream_dedup_within_watermark",
        "train_val_test_split", "triangle_count_copurchase",
        "window_functions_acctbal",
        # NOTE: bpe_train_merges / bpe_encode_stats were green in r4
        # but their semantics changed in r5 (right-boundary fix), so
        # they are deliberately NOT folded in — they re-lead the
        # sample prefix until driver-checked under the new semantics.
    }
)

_R5_DRIVER_GREEN = frozenset(
    {
        "acid_stats_skipping_read", "bpe_encode_stats", "bpe_train_merges",
        "delta_cdc_replica_state", "delta_cdf_mv_maintenance",
        "delta_column_mapping_read", "delta_deletion_vectors_read",
        "delta_dml_delete_read", "delta_dml_merge_read",
        "delta_dml_update_read", "delta_export_roundtrip",
        "delta_incremental_append_read", "delta_partition_pruning_read",
        "delta_stats_skipping_read", "iceberg_bounds_skipping_read",
        "iceberg_dml_delete_read", "iceberg_dml_update_read",
        "iceberg_dml_upsert_read", "iceberg_eq_deletes_read",
        "iceberg_export_roundtrip", "iceberg_incremental_read",
        "iceberg_maintenance_read", "iceberg_v2_deletes_read",
        "incremental_mv_maintenance", "stream_acid_cdf_feed",
        "stream_cdf_standing_aggregate", "stream_delta_cdf_feed",
        "stream_delta_source_counts", "stream_iceberg_source_counts",
        "stream_kafka_event_counts", "stream_kafka_windowed_counts",
        "warc_ingest_stats",
        # NOTE: the 7 former rows-only approximate queries
        # (ann_ivf_topk, ann_lsh_topk, embedding_near_dup_lsh,
        # sketch_approx_distinct_users, sketch_approx_quantiles,
        # sketch_hll_by_type, sketch_hll_merged) became contract
        # witnesses with real oracles in r6 (VERDICT r5 item 1) and
        # deliberately lead the r6 sample prefix until driver-checked
        # under the new semantics.
    }
)

_R6_DRIVER_GREEN = frozenset(
    {
        # The 7 former rows-only approximate queries, driver-green r6
        # under their new contract-witness oracles (CORRECTNESS_r06:
        # 50/50 pass, 0 err).
        "ann_ivf_topk", "ann_lsh_topk", "embedding_near_dup_lsh",
        "sketch_approx_distinct_users", "sketch_approx_quantiles",
        "sketch_hll_by_type", "sketch_hll_merged",
    }
)

_R7_DRIVER_GREEN = frozenset(
    {
        "cf_knn_dimsum", "delta_dv_cdf_feed", "delta_dv_delete_read",
        "delta_dv_update_read", "delta_shallow_clone_read",
        "delta_v2_checkpoint_read",
        # NOTE: iceberg_changelog_read was green in r7 but its
        # semantics changed in r8 (per-snapshot rendering + a
        # compaction staged inside the range), so it is deliberately
        # NOT folded in — it re-leads the sample prefix until
        # driver-checked under the new semantics.
        "iceberg_hour_partitioned_events", "iceberg_name_mapping_read",
        "iceberg_partition_evolution_read", "iceberg_partitioned_pruned_read",
        "iceberg_partitions_metadata_table", "iceberg_schema_evolution_read",
        "iceberg_snapshot_import_read", "iceberg_wap_publish_read",
        "stream_iceberg_partitioned_sink", "stream_stream_view_click_full",
        "stream_stream_view_click_outer",
        # Deliberately oracle-less bench twin — got its rows-only driver
        # row in r7; folded in so it rotates instead of pinning a prefix
        # slot every round.
        "embedding_near_dup_lsh_bench",
    }
)

_R8_DRIVER_GREEN = frozenset(
    {
        # CORRECTNESS_r08: 49/50 green (the 50th is the by-design
        # oracle-less bench twin, already folded in r7).
        "delta_column_mapping_cdf_feed", "delta_column_mapping_dml_read",
        "delta_dv_born_cdf_feed", "delta_row_tracking_read",
        "epoch_shuffle_shards", "iceberg_changelog_read",
        "iceberg_changelog_upsert_read", "iceberg_nested_name_mapping_read",
        "iceberg_row_lineage_read", "iceberg_v3_dv_dml_read",
        "iceberg_v3_dv_read", "iceberg_v3_dv_update_read",
        "stream_delta_append_sink", "stream_delta_dv_cdf_feed",
    }
)

_R9_DRIVER_GREEN = frozenset(
    {
        # CORRECTNESS_r09: 50/50 green.
        "ann_pq_refined_topk", "asof_last_signup",
        "corr_quantity_price", "decontam_overlap",
        "dedup_simhash", "delta_column_mapping_cdf_feed",
        "delta_dml_delete_read", "delta_dml_merge_read",
        "delta_dml_update_read", "delta_dv_delete_read",
        "delta_dv_update_read", "delta_incremental_append_read",
        "delta_incremental_dv_read", "delta_interop_read",
        "delta_row_tracking_dml_read", "delta_row_tracking_read",
        "delta_shallow_clone_dv_read", "delta_shallow_clone_read",
        "delta_type_widening_read", "embedding_near_dup_lsh",
        "epoch_shuffle_shards", "iceberg_bounds_skipping_read",
        "iceberg_changelog_upsert_read", "iceberg_default_values_read",
        "iceberg_dml_delete_read", "iceberg_dml_update_read",
        "iceberg_dml_upsert_read", "iceberg_eq_deletes_read",
        "iceberg_eq_dml_read", "iceberg_export_roundtrip",
        "iceberg_hour_partitioned_events", "iceberg_incremental_read",
        "iceberg_maintenance_read", "iceberg_nested_list_mapping_read",
        "iceberg_partitioned_pruned_read", "iceberg_row_lineage_dml_read",
        "iceberg_row_lineage_read", "iceberg_v3_dv_update_read",
        "multimodal_png_stats", "q22_idle_customer_balance",
        "q2_min_cost_supplier", "q3_shipping_priority",
        "quantity_percentiles_by_flag", "quantity_summary",
        "session_stats_by_user", "stream_delta_append_sink",
        "substring_dup_stats", "text_char_lm_quality",
        "text_ngram_freq", "triangle_count_copurchase",
    }
)

_R10_DRIVER_GREEN = frozenset(
    {
        # CORRECTNESS_r10: 50/50 green — covers all 16 round-10
        # changed queries plus the round's 2 new ones.
        "acid_schema_evolution", "ann_ivf_topk", "bpe_encode_stats",
        "cf_knn", "cf_knn_pruned",
        "clean_parts", "daily_revenue_anomalies",
        "delta_column_mapping_cdf_feed", "delta_column_mapping_read",
        "delta_dv_cdf_feed", "delta_type_widening_read",
        "epoch_shuffle_shards", "events_props_map",
        "iceberg_changelog_read", "iceberg_changelog_upsert_read",
        "iceberg_default_values_read", "iceberg_dml_delete_read",
        "iceberg_dml_update_read", "iceberg_dml_upsert_read",
        "iceberg_eq_dml_read", "iceberg_incremental_read",
        "iceberg_lineage_seq_read", "iceberg_maintenance_read",
        "iceberg_row_lineage_dml_read", "iceberg_row_lineage_mapped_read",
        "iceberg_row_lineage_read", "iceberg_struct_default_read",
        "iceberg_v3_dv_dml_read", "iceberg_v3_dv_read",
        "iceberg_v3_dv_update_read", "multimodal_bmp_stats",
        "profile_customer_columns", "q10_returned_revenue_top20",
        "q13_order_count_distribution", "q16_supplier_variety",
        "q17_below_avg_qty_revenue", "q18_large_orders",
        "q20_bulk_suppliers", "q3_shipping_priority",
        "quantity_histogram", "session_stats_by_user",
        "sketch_approx_quantiles", "stream_cdf_standing_aggregate",
        "stream_session_stats", "text_char_lm_quality",
        "text_language_id", "tfidf_top_terms", "top3_parts_per_brand",
        "top_parts_per_brand_with_ties",
    }
)

# ROUND 11 greens: every query in _R11_CHANGED below went driver-green
# in CORRECTNESS_r11 (50/50, all 35 code-changed + the new
# iceberg_avro_data_read led the prefix and got real rows), so the
# whole set folds back into the rotating tail for round 12.
_R11_DRIVER_GREEN = frozenset({"iceberg_avro_data_read"})

# Queries whose implementation changed in ROUND 11 (the Avro data-file
# split in _data_scan touches EVERY Iceberg scan; _eq_delete_join's
# per-file format branch; _live_files' format acceptance +
# file_format stats key; reserved-field-id stamping on materialized
# lineage columns; update_where_dv's CDF cdc staging on the Delta
# side; recorded-tuple compaction's empty-group skip): each re-leads
# the sample prefix until driver-checked under the new code, even
# though all were re-verified green by this session's targeted driver
# sims at both probe timezones.
_R11_CHANGED = frozenset(
    {
        "delta_dv_update_read",
        "iceberg_bounds_skipping_read", "iceberg_changelog_read",
        "iceberg_changelog_upsert_read", "iceberg_default_values_read",
        "iceberg_dml_delete_read", "iceberg_dml_update_read",
        "iceberg_dml_upsert_read", "iceberg_eq_deletes_read",
        "iceberg_eq_dml_read", "iceberg_export_roundtrip",
        "iceberg_hour_partitioned_events", "iceberg_incremental_read",
        "iceberg_interop_read", "iceberg_lineage_seq_read",
        "iceberg_maintenance_read", "iceberg_name_mapping_read",
        "iceberg_nested_list_mapping_read",
        "iceberg_nested_name_mapping_read",
        "iceberg_partition_evolution_read",
        "iceberg_partitioned_pruned_read",
        "iceberg_partitions_metadata_table",
        "iceberg_row_lineage_dml_read", "iceberg_row_lineage_mapped_read",
        "iceberg_row_lineage_read", "iceberg_schema_evolution_read",
        "iceberg_snapshot_import_read", "iceberg_struct_default_read",
        "iceberg_v2_deletes_read", "iceberg_v3_dv_dml_read",
        "iceberg_v3_dv_read", "iceberg_v3_dv_update_read",
        "iceberg_wap_publish_read", "stream_iceberg_partitioned_sink",
        "stream_iceberg_source_counts",
    }
)

# Queries whose implementation changed in ROUND 12: the ORC data-file
# leg restructures _data_scan's format split (touching EVERY Iceberg
# scan — the same blast radius as r11's Avro split, hence the same
# query set), the Avro eq-delete driver-decode cap touches
# _eq_delete_join, the streaming source grew an ORC partition leg,
# and the char-LM query's kernel dispatch changed. Each re-leads the
# sample prefix until driver-checked under the new code. (The new
# iceberg_orc_data_read is not listed: never-green queries lead
# automatically.)
_R12_CHANGED = _R11_CHANGED | frozenset(
    {
        # char-LM kernel dispatch rework (plans/text_queries.py):
        # single SQL kernel at every footprint per the calibrated
        # x20 evidence (VERDICT r11 item 1)
        "text_char_lm_quality",
        # new-in-r11 query, re-led because the r12 format-split
        # restructure changed its scan path too
        "iceberg_avro_data_read",
    }
)

_DRIVER_GREEN = (
    _R1_DRIVER_GREEN | _R2_DRIVER_GREEN | _R3_DRIVER_GREEN
    | _R4_DRIVER_GREEN | _R5_DRIVER_GREEN | _R6_DRIVER_GREEN
    | _R7_DRIVER_GREEN | _R8_DRIVER_GREEN | _R9_DRIVER_GREEN
    | _R10_DRIVER_GREEN | _R11_CHANGED | _R11_DRIVER_GREEN
) - _R12_CHANGED

# Queries added in the round-3 continuation sessions, AFTER the older
# never-driver-checked backlog accumulated. The driver samples a ~50
# prefix; the backlog (VERDICT r2 item 2) gets those slots FIRST, the
# session-new queries take whatever remains (each is already
# hash-verified by the session's driver-sim sweeps at two timezones
# and two scale factors — SWEEP_r03_final.json).
_R3_SESSION_NEW = {
    "embedding_sq8_stats", "ann_sq8_topk", "ann_pq_topk_fixed",
    "ann_pq_refined_topk", "ann_ivfpq_topk_fixed",
    "stream_dedup_within_watermark", "stream_acid_user_state",
    "cap_docs_per_source", "train_val_test_split", "acid_changes_feed",
    "bloom_pruned_revenue", "triangle_count_copurchase",
    "sequence_pack_stats", "profile_customer_columns",
    "daily_revenue_anomalies", "window_functions_acctbal",
    "regression_value_by_type", "null_safe_join_counts",
    "ann_ivfpq_residual_topk", "ann_eval_pq_vs_exact",
    "daily_revenue_gap_filled", "acid_schema_evolution",
    "cf_holdout_metrics", "curation_pipeline_e2e",
}


def _ordered_specs() -> list[QuerySpec]:
    """Never-driver-checked queries first (oracle-checked before
    rows-only), then every previously-green query in round-salted-hash
    order so prefix sampling re-validates a rotating subset."""
    import hashlib

    def key(spec: QuerySpec):
        if spec.name not in _DRIVER_GREEN:
            return (
                0 if spec.oracle else 1,
                spec.name in _R3_SESSION_NEW,  # older backlog first
                spec.name,
            )
        digest = hashlib.md5(
            (_ROTATION_SALT + spec.name).encode()
        ).hexdigest()
        return (2, digest)

    return sorted(REGISTRY.values(), key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.fn for spec in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    return {spec.name: spec.oracle for spec in _ordered_specs() if spec.oracle}
