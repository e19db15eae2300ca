"""Query layer: the reference's serving surface (REST endpoints +
ES-demo query set, SURVEY §2.11) plus the engine's analytics/extension
queries, each paired with a DuckDB oracle for correctness checking.
"""

from .queries import REGISTRY, oracle_sql, queries
from . import llm_queries  # noqa: F401 — populates REGISTRY on import
from . import log_queries  # noqa: F401 — populates REGISTRY on import
from . import cdc_queries  # noqa: F401 — populates REGISTRY on import

#: Gate-visibility ordering. A capped harness records rows for only the
#: first 50 registered queries, so the registry is re-ordered by this
#: list: every operator family keeps at least one row inside the first
#: 50, and a query whose code path changed is rotated into the window,
#: displacing a long-green row of a family that keeps in-window
#: coverage. Unlisted queries follow in registration order; every
#: query, in the window or not, is still verified by
#: scripts/check_oracle.py and pytest.
_PRIORITY = [
    "dau_total_by_day", "dau_realtime_endpoint",
    "log_split_page",
    "cdc_route_counts",
    "cdc_snapshot_diff",
    "streaming_scd2_parity", "streaming_cdc_dim_parity",
    "doc_audio_windows",
    "doc_bm25_search",
    "streaming_bm25_parity",
    "streaming_idempotent_sink_parity",
    "order_wide_join",
    "event_transition_matrix",
    "streaming_transition_parity",
    "streaming_retention_parity",
    "streaming_heavy_hitters_parity", "streaming_attribution_parity",
    "events_quality_expectations",
    "warehouse_schema_evolution",
    "revenue_rolling_windows",
    "streaming_quality_gate_parity",
    "doc_bpe_learn_merges",
    "events_key_skew",
    "streaming_key_skew_parity",
    "streaming_item_stats_parity",
    "emb_cluster_balanced_sample",
    "customer_fuzzy_match",
    "doc_split_leakage",
    "part_copurchase_pairs",
    "streaming_copurchase_parity",
    "part_copurchase_triangles",
    "part_link_prediction_pruned",
    "emb_semantic_decontaminate",
    "corpus_curation_funnel_v2",
    "emb_semantic_dedup_auto",
    "emb_semantic_dedup_clustered_banded",
    "emb_hard_negatives",
    "emb_ivf_auto_topk", "streaming_ivf_serve_parity",
    "streaming_decontaminate_parity",
    "streaming_sliding_rollup_parity",
    "streaming_line_dedup_parity",
    "streaming_funnel_parity",
    "doc_shingle_distinct_sketch", "streaming_distinct_sketch_parity",
    "streaming_anomaly_parity",
    "events_value_ddsketch", "streaming_ddsketch_parity",
    "doc_hybrid_rrf_search",
    "streaming_hybrid_rrf_parity",
    "corpus_overlap_sketch", "revenue_anomaly_days", "doc_topk_similar",
    "part_link_prediction", "doc_ngram_jaccard_dedup",
    "doc_bpe_compression",
    "cdc_dim_snapshot", "stats_by_item_segment", "emb_semantic_dedup",
    "emb_semantic_dedup_clustered", "doc_quality_bands",
    "pricing_summary", "hourly_window_rollup",
    "multiplex_route_counts", "warehouse_compaction_roundtrip",
    "order_graph_pagerank", "events_gap_filled_resample",
    "sliding_window_rollup", "doc_dup_clusters", "doc_line_dedup",
    "user_funnel",
    "emb_semantic_dedup_clustered_auto", "streaming_dau_dedup_parity",
    "doc_exact_k_sample",
    "streaming_observe_metrics_parity",
    "doc_phrase_search", "order_touch_attribution", "doc_token_entropy",
    "doc_minhash_near_dup", "emb_ivf_append_topk",
    "doc_pii_scrub", "streaming_state_profile_parity",
    "zordered_two_dim_lookup", "doc_exact_substr_dedup",
    "emb_ivf_compact_topk", "doc_dup_keep_longest",
    "emb_cells_arrow_assign", "emb_kmeans_clusters",
    "user_retention_cohorts", "doc_lm_perplexity",
    "emb_feature_extract", "events_table_profile",
    "shipping_priority", "doc_gopher_filters", "events_asof_last_order",
    "emb_ivfpq_topk", "doc_repetition_bands", "doc_exact_dedup",
    "clustered_point_lookup",
    "emb_hamming_topk", "doc_intra_line_dedup",
    "doc_frame_sample", "emb_pq_topk", "doc_source_mix",
    "doc_hash_split", "doc_resize_images", "bucketed_colocated_join",
    "doc_stratified_sample", "emb_knn_join",
    "emb_truncated_overlap", "emb_ivf_recall_curve",
    "doc_tfidf_top_terms", "doc_chunk_dedup_stride",
    "doc_temperature_resample",
    "doc_top_bigrams", "doc_bpe_token_stats", "doc_lexical_commonness",
    "doc_training_shards",
    "min_cost_supplier", "doc_incremental_near_dup", "doc_binary_meta",
    "emb_ivf_topk", "doc_importance_resample", "cdc_scd2_history",
    "doc_quality_adaptive",
    "doc_heavy_hitters_sketch", "cdc_scd2_asof_enrich",
    "value_percentiles",
    "orders_events_range_join", "product_profit_by_nation_year",
    "important_stock_value", "excess_stock_suppliers",
    "corpus_curation_funnel", "emb_ivf_knn_join",
    "emb_ivf_multiprobe_topk", "emb_near_dup_lsh",
    "doc_winnow_fingerprints", "doc_overlap_spans",
    "doc_sequence_packing", "doc_decontaminate", "doc_chunk_dedup",
    "dau_warehouse_day_slice", "doc_remove_dup_spans",
    "streaming_order_wide_parity", "streaming_curation_parity",
    "user_sessions",
    "dau_enriched", "log_split_actions", "term_exact_update_view",
    "highlight_match", "json_props_extract", "doc_simhash",
    "emb_int8_quantize", "revenue_by_nation",
    "doc_lang_id", "filtered_sorted_paginated", "doc_token_stats",
    "emb_cosine_topk",
    "dau_by_hour", "session_entry_first_daily", "get_by_id",
    "error_routing", "log_split_error", "log_split_displays",
    "log_split_start", "cdc_op_normalize", "cdc_fact_rows",
    "acctbal_bands", "relabel_segment", "top_k_grouped_avg",
    "delete_by_id_view", "upsert_single_view", "to_json_serialize",
    "streaming_multiplex_parity",
    "streaming_hourly_rollup_parity",
    "streaming_user_sessions_parity", "nation_acctbal_salted",
]


def _reorder() -> None:
    # a renamed/misspelled _PRIORITY entry must fail loudly — a silent
    # skip would starve a family from the capped gate with no signal
    unknown = set(_PRIORITY) - set(REGISTRY)
    assert not unknown, f"_PRIORITY names missing from REGISTRY: {sorted(unknown)}"
    ordered = {n: REGISTRY[n] for n in _PRIORITY}
    for n, spec in REGISTRY.items():
        if n not in ordered:
            ordered[n] = spec
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()

__all__ = ["REGISTRY", "queries", "oracle_sql"]
