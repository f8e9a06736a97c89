"""Contract registry — maps SURVEY.md §2 contract names to implementations.

Each operator module registers its queries with the ``@contract`` decorator;
``__spark_entry__.py`` exposes the aggregate dicts to the driver.

A contract entry is:
- a callable ``(spark, sf_dir) -> DataFrame`` (the Spark-first implementation)
- optionally an ANSI-SQL oracle string DuckDB runs on the same parquet views
  (omitted → the driver records a weaker rows-only check).

Alias discipline: every computed column is aliased identically in both the
DataFrame code and the oracle SQL — the driver's value-hash sorts columns by
name before hashing (SURVEY.md §5.1).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def contract(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return fn
    return deco


# Driver-facing verification order. The driver walks ``queries()`` in dict
# order under a bounded budget (50 per round of the registered surface —
# whose count is len(_PRIORITY) - 1 for the sentinel, NOT a literal here
# because it grows with each round's contracts; tools/evidence_ledger.py
# checks the two stay in sync) — see SURVEY.md §5.1: a CORRECTNESS_rNN file holds
# AT MOST 50 entries, never the full surface. Ordering is therefore part
# of the contract surface.
# Rotation policy: contracts whose IMPLEMENTATION (plan OR oracle SQL)
# changed after their newest driver evidence go first (a green that predates
# the code it vouches for is not evidence), then contracts the driver has
# NEVER checked, then new contracts (sentinel), then evidence strictly
# oldest-first until the window is full; everything fresher rolls past the
# cut. Evidence ledger (latest driver round per contract) is derivable from
# the full CORRECTNESS_r0{1..N}.json series via tools/evidence_ledger.py.
_NEW_CONTRACTS_HERE = "__new_contracts_here__"

_PRIORITY: tuple[str, ...] = (
    # ============ packing after the one manifest format
    # (evidence ledger: r09=11, r10=36, r11=22, r12=40, r13=38, r14=42,
    # r15=50; zero failures ever).
    # Head: the contracts whose code changed after their newest evidence
    # — first the seven whose plans the one exact-cosine route rewrote
    # (the six consumers of llm_extras.ann_join, whose bucket members now
    # carry their vectors into the fused kernel, and sim_join_threshold,
    # now that kernel over a grid of id blocks), then the 31 whose bodies
    # commit to a manifest table. With sim_ann_indexed, which reads the
    # ANN index table, those are the 32 contracts whose bodies reach
    # manifest code: every commit path runs through the one commit loop,
    # and every reader and writer takes the one manifest doc format
    # (segments, schema, part_col, ts) as given. Then sink_merge_keyed,
    # the directory-swap MERGE the manifest layer closes, and the
    # still-unchecked one-pass MinHash verify and SimHash. Then evidence
    # oldest-first: 41 + 9 of the 10 r09 fill the 50-slot window. ======
    # -- plan changed after their newest evidence --
    "sim_ann_lsh", "sim_ann_lsh_multiprobe", "sim_ann_lsh_multiprobe2",
    "sim_ann_auto", "sim_ann_indexed", "dedup_docs_embedding",
    "sim_join_threshold",
    # -- commit path changed after their newest evidence --
    "stream_changes_cdf", "stream_replicate_table", "scan_changes_row_level",
    "sink_delete_dv", "sink_sql_delete", "sink_restore_version",
    "scan_table_clone", "scan_manifest_renamed", "sink_sql_insert",
    "sink_sql_insert_overwrite",
    "sink_sql_merge", "sink_table_manifest_commit", "scan_manifest_changes",
    "scan_sql_time_travel", "sink_merge_pruned", "scan_time_travel_ts",
    "sink_sql_update", "sink_sql_ctas", "sink_compact_clustered",
    "sink_sql_optimize", "scan_manifest_schema_evolution",
    "scan_partition_evolved", "sink_append_constrained",
    "stream_manifest_source", "stream_manifest_sink",
    "stream_manifest_admission", "scan_manifest_pruned",
    "scan_manifest_widened", "scan_manifest_zorder",
    "scan_partition_hidden_days", "scan_catalog_attached",
    "sink_merge_keyed",
    "dedup_docs_minhash", "dedup_docs_simhash",
    # -- new contracts registered mid-round slot in here --
    _NEW_CONTRACTS_HERE,
    # -- r09-era evidence --
    "shard_assign_balanced", "stream_running_moments",
    "text_contamination", "text_repetition_filter", "udf_arrow_scalar",
    "udtf_lateral", "window_anomaly_zscore", "window_lag_lead",
    "window_rank_topn", "window_row_dense_ntile",
    # -- r10-era evidence --
    "agg_bool_quantifiers", "agg_collect_sorted", "agg_corr_exact",
    "agg_filtered_counts", "agg_percentiles", "agg_rollup_multires",
    "agg_string_listagg", "dedup_docs_exact", "dedup_url_canonical",
    "embed_norm_stats", "etl_currency_convert", "etl_ip_geo_range",
    "etl_ua_referer_enrich", "events_attribution_touch",
    "events_funnel_conversion", "filter_null_semantics", "join_asof_nearest",
    "join_bucketed_colocated", "join_interval_overlap", "join_or_keys_union",
    "join_skew_salted", "multimodal_decode", "sample_weighted_priority",
    "scalar_bit_ops", "scalar_collation", "scalar_datetime_iso",
    "scalar_radix", "scalar_try_arith", "scalar_url_parse", "scalar_variant",
    "sink_sorted_zonemap", "source_json_corrupt", "source_xml",
    "stream_moments_live", "text_entropy_quality", "window_trailing_interval",
    # -- r11-era evidence --
    "scan_partition_pruned", "source_python_datasource", "stream_dedup_exact",
    "stream_sliding", "stream_static_join", "stream_stream_join",
    "stream_tumbling_1h", "text_fingerprint", "text_fuzzy_pairs",
    "text_lang_profile", "text_quality_filter", "text_term_freq",
    "text_token_bpe", "text_tokenize_stats", "udaf_pandas_grouped",
    "udf_arrow_map", "udf_pandas_scalar", "udf_python_scalar",
    "udtf_apply_in_pandas", "udtf_python", "window_first_last",
    "window_moving_frame",
    # -- r12-era evidence --
    "agg_heavy_hitters", "events_retention_cohort", "filter_compound",
    "filter_like_regexp", "join_null_safe", "join_range_banded",
    "limit_offset", "pivot_unpivot", "proj_distinct", "proj_select_alias",
    "q16_supplier_part_counts", "q17_small_quantity", "q18_large_orders",
    "q20_dominant_suppliers", "q2_min_cost_supplier", "q6_forecast_revenue",
    "q9_product_profit", "scalar_array", "scalar_cast", "scalar_conditional",
    "scalar_date", "window_percent_rank", "window_range_frame",
    # -- r13-era evidence --
    "agg_mode_frequent", "agg_time_gapfill", "etl_events_enriched",
    "multimodal_frame_sample", "multimodal_join", "q10_returned_items",
    "q13_order_distribution", "q14_promo_revenue", "q19_disjunctive",
    "q21_waiting_orders", "scalar_hash", "scalar_json", "scalar_map",
    "scalar_math", "scalar_regexp", "scalar_string", "scan_parquet",
    "scan_schema_evolution", "set_except", "set_intersect",
    "set_union_all", "set_union_distinct", "sink_compaction_small_files",
    "sink_jdbc_postgres", "sink_merge_scd2", "sink_parquet_partitioned",
    "sink_python_datasource", "sort_multikey_nulls", "source_csv_tsv",
    "source_json_lines", "stream_kafka_shim_live", "subquery_scalar",
    "topk_limit",
    # -- r14-era evidence --
    "source_delta_interop", "source_iceberg_interop",
    "dedup_cluster_cc", "dedup_near_keep_best", "curation_pipeline",
    "text_ngram_jaccard", "text_tfidf", "text_unigram_logprob",
    "q15_top_supplier", "q11_important_parts", "stream_stateful_funnel",
    "sim_ann_ivf_kmeans", "q22_dormant_customers", "q4_order_priority", "q5_local_supplier",
    "q7_volume_shipping", "q8_market_share", "sample_stratified",
    "scan_dpp_join", "scan_schema_enforce", "sim_ann_ivf", "sim_centroids",
    "sim_topk_cosine", "sink_partition_overwrite", "source_orc",
    "source_rate_stream", "stream_dedup_live", "stream_foreachbatch_upsert",
    "stream_funnel_live", "stream_session_live", "stream_static_join_live",
    "stream_stream_join_live", "stream_transform_with_state",
    # -- r15-era evidence --
    "stream_session_30m", "stream_tumbling_live",
    "stream_watermark_late", "text_lang_detect", "text_pack_sequences",
    "text_pii_scrub", "text_unicode_normalize", "window_gaps_islands",
    "window_ignore_nulls", "agg_approx_distinct", "agg_approx_percentile",
    "agg_bitwise", "agg_count_distinct", "agg_cube", "agg_grouping_sets",
    "agg_having", "agg_histogram_width", "agg_pricing_summary", "agg_rollup",
    "agg_stats", "data_mix_sample", "doc_chunk_windows", "embed_quantize_int8",
    "generator_outer_pos", "join_5way_star", "join_asof", "join_bloom_pruned",
    "join_broadcast", "join_cross", "join_full_outer", "join_inner_equi",
    "join_left_anti", "join_left_outer", "join_left_semi", "join_self",
    "join_theta_range", "q12_shipmode_priority", "q3_shipping_priority",
    "sample_reservoir_group", "set_except_all", "set_intersect_all",
)


def _reorder() -> None:
    """Rebuild QUERIES/ORACLE in _PRIORITY order. Registered names absent from
    _PRIORITY slot in at the _NEW_CONTRACTS_HERE sentinel (registration order
    preserved within the slot) so new contracts are always driver-reachable."""
    sentinel_idx = _PRIORITY.index(_NEW_CONTRACTS_HERE)
    head = [n for n in _PRIORITY[:sentinel_idx] if n in QUERIES]
    tail = [n for n in _PRIORITY[sentinel_idx + 1:] if n in QUERIES]
    listed = set(head) | set(tail)
    new = [n for n in QUERIES if n not in listed]
    # dict.fromkeys dedupes while preserving first occurrence — a duplicate
    # _PRIORITY entry would otherwise make `desired` never equal
    # list(QUERIES) and defeat the early-return guard below (r13 ADVICE).
    desired = list(dict.fromkeys(head + new + tail))
    if list(QUERIES) == desired:
        # Already ordered — skip the pop/reinsert cycle. Not just an
        # optimization: load_all_modules() runs inside parity.check, so a
        # caller iterating QUERIES while checking would otherwise have the
        # dict mutated under its iterator (pop+reinsert keeps len stable,
        # which CPython's iterator guard does not catch — iteration
        # silently skips or repeats entries instead of raising).
        return
    for name in desired:
        QUERIES[name] = QUERIES.pop(name)
        if name in ORACLE:
            ORACLE[name] = ORACLE.pop(name)


def load_all_modules() -> None:
    """Import every operator module so registrations run. Idempotent."""
    from silvia_spark.operators import (  # noqa: F401
        scans,
        projections,
        joins,
        aggregations,
        windows,
        sorts,
        setops,
        scalars,
        scale_patterns,
        composites,
        olap_extras,
        olap_extras3,
        olap_extras4,
        events_analytics,
        manifest_table,
    )
    from silvia_spark.streaming import batch_twins, streams  # noqa: F401
    from silvia_spark.functions import (  # noqa: F401
        curation_extras,
        training_extras,
        llm_extras,
        llm_ops,
        pipeline_extras,
        training_ops,
        udfs,
    )

    _reorder()
