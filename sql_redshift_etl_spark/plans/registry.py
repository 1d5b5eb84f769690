"""Query registry — the single source of truth behind ``__spark_entry__``.

Every operator from SURVEY.md §2 registers here as a named builder
``(spark, sf_dir) -> DataFrame`` with (where SQL-expressible) a matching
DuckDB oracle SQL string. The driver hash-compares the two at sf0.01, so
builders and oracles must agree on column NAMES (alias everything) and on
VALUES bit-for-bit (see functions.dialect for the exact-decimal rules).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None = None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = ()  # SURVEY §2 row ids, e.g. ("A1", "J7")
    bench: bool = False  # include in bench.py headline set
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

# Modules whose import populates the registry (decorator side effect).
_QUERY_MODULES = [
    "sql_redshift_etl_spark.operators.core",
    "sql_redshift_etl_spark.operators.joins",
    "sql_redshift_etl_spark.operators.aggregates",
    "sql_redshift_etl_spark.operators.windows",
    "sql_redshift_etl_spark.operators.events",
    "sql_redshift_etl_spark.operators.merge",
    "sql_redshift_etl_spark.operators.tpch",
    "sql_redshift_etl_spark.operators.tpch2",
    "sql_redshift_etl_spark.operators.subqueries",
    "sql_redshift_etl_spark.operators.pipelines",
    "sql_redshift_etl_spark.operators.windows_extra",
    "sql_redshift_etl_spark.functions.scalars",
    "sql_redshift_etl_spark.functions.udfs",
    "sql_redshift_etl_spark.functions.redshift_queries",
    "sql_redshift_etl_spark.llm.ml_lsh",
    "sql_redshift_etl_spark.llm.ml_ivf",
    "sql_redshift_etl_spark.llm.text",
    "sql_redshift_etl_spark.llm.dedup",
    "sql_redshift_etl_spark.llm.similarity",
    "sql_redshift_etl_spark.llm.pca",
    "sql_redshift_etl_spark.llm.multimodal",
    "sql_redshift_etl_spark.llm.sampling",
    "sql_redshift_etl_spark.llm.curation",
    "sql_redshift_etl_spark.llm.pipeline_e2e",
    "sql_redshift_etl_spark.sources.queries",
    "sql_redshift_etl_spark.streaming.queries",
]


def register(
    name: str,
    *,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, tags, bench, (fn.__doc__ or "").strip())
        return fn

    return deco


# Verification priority. The per-round oracle check covers the FIRST 50
# names in registration order, so this order is evidence strategy, not
# style: each round's window leads with never-checked oracled queries,
# then the oldest official rows in cohort order, displacing only the
# window tail. The 5 rows-only-by-design queries never re-enter the
# window (a slot spent on a query with no SQL oracle buys only the weak
# rows-only check); their evidence is their pytest batteries plus each
# round's full end-to-end re-run.
# Maintenance rules (CI-enforced in tests/test_registry_hygiene.py):
#  - every SQL-oracled query must appear in this list OR carry a
#    "sibling-coverage:" note in its docstring naming the in-list query
#    that exercises the same SURVEY §2 row;
#  - new SQL-oracled queries go ABOVE the rows-only tail so they displace
#    weaker checks, not stronger ones;
#  - oracle-checked queries return scalar columns only (the check's
#    canonicalizer hashes via pandas sort_values — raw array/struct
#    columns throw; serialize with array_join/to_json);
#  - the window-boundary marker comment in the list sits after exactly
#    50 entries.
# Names not listed keep their module registration order after these.
_VERIFY_FIRST: list[str] = [
    # --- ROUND-13 window (50 slots, all SQL-oracled) ---
    # New r13 oracled queries insert HERE, at the top, as they land
    # (never-rowed beats re-rowing), displacing the window tail.
    "source_copy_jsonpaths",
    "partiql_object_unpivot",
    "source_copy_jsonpaths_maxerror",
    # the 8 remaining r8-era rows (VERDICT r12 item 1 — after this
    # window no SQL-oracled official row is older than r9), in their
    # r8 cohort order:
    "curation_repetition_scores",
    "curation_contamination_check",
    "curation_pack_sequences",
    "curation_domain_cap",
    "curation_pii_redaction",
    "multimodal_join",
    "multimodal_binary_metadata",
    "cube_flag_status",
    # the FRONT of the outgoing r9 cohort fills the remaining 40
    # slots (cohort order preserved; the displaced tail heads r14):
    "sim_ann_incremental",
    "redshift_sql_connect_by_isleaf",
    "redshift_sql_order_siblings",
    "redshift_sql_connect_by_iscycle",
    "redshift_sql_connect_by_expr",
    "flagship_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q11_important_value_share",
    "q16_supplier_variety",
    "q20_volume_suppliers",
    "q21_sole_late_supplier",
    "join_star_revenue",
    "join_inner_broadcast",
    "join_full_outer",
    "join_semi_exists",
    "join_anti_not_exists",
    "join_theta_range",
    "join_asof_last_view",
    "agg_basic_supplier",
    "count_distinct_multi",
    "stats_moments",
    "listagg_nations",
    "percentiles_price",
    "grouping_sets_mixed",
    "rollup_region_nation",
    "bool_aggregates",
    "conditional_agg_filter",
    "pivot_status",
    "unpivot_part",
    "window_ranks",
    "window_lag_lead",
    "window_first_last",
    "window_topk_per_group",
    "events_tumbling_daily",
    "events_sessionize",
    # --- 50-query driver boundary (marker position CI-pinned to
    # exactly 50: test_registry_hygiene, ADVICE r12) ---
    # Below-boundary order = r14 priority: the displaced r9 tail
    # first, then the rows-only-by-policy block, then the outgoing
    # r10/r11/r12 windows (the freshest rows last).
    "dedup_minhash_lsh",
    "dedup_embedding_ann",
    "sim_knn_bruteforce",
    "sim_knn_batch",
    "sim_knn_batch_ann",
    "sim_ann_lsh_pruned",
    "text_doc_stats_by_lang",
    "etl_training_corpus_pipeline",
    "redshift_script_manifest_roundtrip",
    "redshift_sql_misc_functions",
    "source_jdbc_roundtrip",
    # rows-only by design — official r7 rows, permanently, per the
    # ROWS-ONLY POLICY above (impossibility documented per query):
    "hll_sketch_partition_merge",
    "embedding_pca_project",
    "approx_count_distinct",
    "dedup_minhash_ml",
    "sim_ivf_kmeans",
    # --- outgoing r10 window (newest rows r10) ---
    "sim_ivf_kmeans_pinned",
    "redshift_sql_order_siblings_multi",
    "redshift_sql_approx_percentile",
    "redshift_script_python_udf",
    "redshift_script_decl_block",
    "source_external_table",
    "redshift_script_update_from",
    "case_when_decode",
    "cast_conversions",
    "ctas_staging_chain",
    "datediff_boundary_semantics",
    "datetime_functions",
    "datetime_tz_functions",
    "dedup_cluster_components",
    "dedup_embedding_ann_scaled",
    "dedup_embedding_cosine",
    "dedup_keep_canonical",
    "dedup_ngram_jaccard",
    "dedup_simhash_codes",
    "distinct_projection",
    "events_funnel",
    "events_incremental_load",
    "events_session_window_native",
    "events_sliding_window",
    "events_tumbling_hourly_window",
    "except_nations",
    "filter_predicates",
    "intersect_nations",
    "join_cross",
    "join_left_outer",
    "join_right_outer",
    "json_super_access",
    "multimodal_image_resize",
    "multimodal_png_roundtrip",
    "multimodal_wav_roundtrip",
    "orderby_limit_offset",
    "q12_late_shipment_priority",
    "redshift_sql_report",
    "regex_functions",
    "scan_project_expr",
    "sim_centroid_per_label",
    "sim_knn_per_label",
    "subquery_correlated_scalar",
    "text_fingerprints",
    "text_lang_id_heuristic",
    "text_quality_filter_kept",
    "text_quality_scores",
    "to_char_formats",
    "topk_global_revenue",
    "union_all_accounts",
    # --- outgoing r11 window (newest rows r11) ---
    "redshift_sql_order_siblings_strdesc",
    "redshift_sql_approx_percentile_expr",
    "union_distinct_nations",
    "window_moving_agg",
    "window_running_total",
    "redshift_script_swap_publish",
    "redshift_script_etl_mart",
    "redshift_script_upsert_snapshot",
    "redshift_script_copy_unload",
    "events_merge_upsert",
    "redshift_sql_misc2",
    "redshift_script_proc_exception",
    "redshift_script_execute_dynamic",
    "redshift_script_cursor_loop",
    "redshift_sql_connect_by",
    "redshift_script_get_diagnostics",
    "redshift_script_transactions",
    "redshift_sql_misc4",
    "dedup_minhash_incremental",
    "redshift_script_proc_control_flow",
    "curation_shard_export",
    "dedup_exact_groups",
    "dedup_survivor_corpus",
    "embedding_quantize_int8",
    "etl_star_mart_publish",
    "json_from_json_struct",
    "misc_scalar_functions",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    "q10_returned_items",
    "q13_order_count_distribution",
    "q14_promo_revenue_ratio",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_customer",
    "q19_bracketed_revenue",
    "q22_dormant_accounts",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q8_market_share",
    "redshift_sql_ratio_to_report",
    "sample_domain_temperature",
    "sample_hash_fraction",
    "sample_salted_hot_agg",
    "sim_ivf_search",
    "stream_stateful_sessions",
    "stream_stream_interval_join",
    "stream_tumbling_daily",
    "stream_tumbling_watermark",
    "subquery_scalar_uncorrelated",
    # --- outgoing r12 window (newest rows r12) ---
    "partiql_nested_objects",
    "redshift_script_found_upsert",
    "text_bigram_lm_score",
    "text_tfidf_top_terms",
    "text_word_freq_topk",
    "udaf_weighted_mean",
    "window_ignore_nulls",
    "window_range_frame",
    "redshift_script_case_stmt",
    "dedup_substring_spans",
    "redshift_script_stored_procedure",
    "sim_ann_lsh",
    "redshift_sql_connect_by_path",
    "redshift_script_proc_inout",
    "redshift_script_scd2_dimension",
    "redshift_sql_misc5",
    "dedup_substring_cut",
    "dedup_substring_incremental",
    "redshift_script_merge_into",
    "redshift_script_materialized_view",
    "redshift_sql_misc3",
    "events_gap_fill_locf",
    "source_fixedwidth_copy_roundtrip",
    "text_approx_topk_words",
    "stream_hll_incremental",
    "window_named_clause",
    "partiql_unnest_embeddings",
    "source_copy_conversion_params",
    "redshift_script_schemas",
    "redshift_script_sql_udf",
    "redshift_script_merge_remove_dups",
    "redshift_script_schema_evolution",
    "string_functions",
    "math_functions",
    "array_functions",
    "text_token_counts",
    "redshift_sql_qualify",
    "subquery_in_filter",
    "redshift_sql_events",
    "redshift_sql_recursive",
    "udf_pandas_scalar_score",
    "udtf_chunk_documents",
    "source_csv_copy_roundtrip",
    "source_json_copy_roundtrip",
    "source_unload_partitioned",
    "source_bucketed_distkey_join",
    "stream_foreachbatch_upsert",
    "stream_dedup_exactly_once",
    "sample_train_val_test",
    "sample_stratified_per_label",
]


def _load_all() -> None:
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Module not built yet (incremental rounds) — skip, don't break
            # the whole registry. Missing *third-party* deps should be
            # handled inside the module itself.
            if e.name and e.name.startswith("sql_redshift_etl_spark"):
                continue
            raise


def all_queries() -> dict[str, Query]:
    """Registry in driver-verification order (see ``_VERIFY_FIRST``)."""
    _load_all()
    front = [n for n in _VERIFY_FIRST if n in _REGISTRY]
    rest = [n for n in _REGISTRY if n not in set(front)]
    return {n: _REGISTRY[n] for n in front + rest}


def query_fns() -> dict[str, Builder]:
    return {name: q.builder for name, q in all_queries().items()}


def oracle_map() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
