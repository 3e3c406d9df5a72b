"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the engine's operator corpus
(infinidb_spark.plans.*) for the duckdb-oracle correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Importing the plan modules populates the registry.
import infinidb_spark.plans.relational  # noqa: F401,E402
import infinidb_spark.plans.windows  # noqa: F401,E402
import infinidb_spark.plans.functions  # noqa: F401,E402
import infinidb_spark.plans.pipeline  # noqa: F401,E402
import infinidb_spark.plans.events  # noqa: F401,E402
import infinidb_spark.plans.sources  # noqa: F401,E402
import infinidb_spark.plans.catalog  # noqa: F401,E402
import infinidb_spark.plans.dml  # noqa: F401,E402
import infinidb_spark.plans.temporal  # noqa: F401,E402
import infinidb_spark.plans.dialect  # noqa: F401,E402
import infinidb_spark.plans.ref_perf  # noqa: F401,E402
import infinidb_spark.plans.tpch  # noqa: F401,E402

from infinidb_spark.plans.registry import ORACLES, QUERIES  # noqa: E402

SF0_001 = "/root/testdata/sf0.001"

# The driver's correctness gate checks a rotating ~50-query window in
# registration order, so this list decides who gets a verdict.  Standing
# policy (VERDICT r05 "Next round" #1): ALWAYS promote maximum staleness —
# queries are ordered by the round of their latest CORRECTNESS_r* row,
# oldest first, so the window re-attests whatever has absorbed the most
# churn since its last driver verdict.  New queries (never checked) are
# slotted directly after the stalest block so they get first verdicts in
# the same window.
_PRIORITY = [
    # ── r11 window leads: the five r06 stragglers (the only queries
    # whose latest driver row predates r07 — VERDICT r10 #5: they lead
    # the rotation), then func_control, whose semantics materially
    # changed this round (IF() numeric-condition truthiness through
    # the registry, func_if.cpp:38-72) and whose oracle gained the
    # f_if_numeric column; func_math also changed (2-arg LOG
    # base-domain NULL, f_log_base column) and is already a straggler ──
    "window_distinct_agg", "percentiles_within_group", "window_regr",
    "func_math", "ann_recall_attest", "func_control",
    # ── latest driver row r07 (next-stalest) ──
    "text_lang_id",
    "concurrent_dml_disjoint", "manifest_sharded_scan", "dedup_keep_best",
    "streaming_quality_gate", "dedup_keep_best_incremental",
    "embedding_random_projection", "dedup_minhash_lsh", "ann_ivf_topk",
    "agg_decimal_exact", "quantified_subquery", "group_concat_ordered",
    "multimodal_resize", "embedding_quantize", "corpus_mixture",
    "outfile_export_roundtrip", "tpch_q3", "tpch_q5", "tpch_q10",
    "events_cohort_retention", "eval_decontamination",
    "corpus_curation_pipeline", "jsonl_load_roundtrip", "orc_storage_parity",
    "ref_avg_battery", "events_anomaly_zscore", "data_profile_histogram",
    "events_strict_funnel", "orders_week_over_week", "ref_scan_order",
    "ref_filter_count", "ref_small_side_count", "ref_outer_left",
    "ref_outer_right", "ref_ordered_hint_join", "ref_pricing_summary",
    "ref_part_join_count", "ref_join_agg", "ref_discount_groups",
    "part_lineitem_agg", "mysql_dialect_datetime",
    "dataset_split", "sequence_packing", "token_heavy_hitters_cms",
    "func_string", "func_json",
    # ── latest driver row r08 ──
    "dedup_ngram_jaccard", "dedup_simhash", "mysql_dialect_interval",
    "tpch_q1", "tpch_q6", "tpch_q9", "tpch_q18", "tpch_q21",
    "dedup_simhash_portable", "ann_cosine_topk", "ann_lsh_topk",
    "text_quality", "text_analyze", "text_analyze_portable",
    "dedup_clusters", "text_pii_scrub", "events_tumbling_window",
    "events_sessionize", "events_hypertable_rollup", "asof_join_events",
    "range_join_bands", "pseudo_columns", "cross_engine_join",
    "mysql_ci_collation", "auto_increment_roundtrip",
    "date_format_week_tokens", "data_validation",
    "similarity_pairs_bucketed", "dedup_embedding_cosine",
    "multimodal_frame_plan", "tpch_q2", "tpch_q4", "tpch_q7", "tpch_q8",
    "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16",
    "tpch_q17", "tpch_q19", "tpch_q20", "tpch_q22", "events_sliding_window",
    "events_json_funnel", "ref_scan_range_order", "ref_point_lookup",
    "ref_agg_battery_wide",
    # ── latest driver row r09 (freshest tier) ──
    "ann_ivfpq_topk_pretrained",
    "ref_pm_join_ranges", "ref_um_join_ranges",
    "ref_single_avg", "ref_groupby_minmax_str", "ref_count_int_probe",
    "ref_global_min", "ref_full_count", "ref_star_self_join",
    "ref_multi_pred_max", "ref_minmax_join", "ref_part_probe",
    "ref_var_driven_report", "dedup_exact_incremental",
    "dedup_minhash_incremental", "ann_batch_topk", "embedding_kmeans",
    "cluster_balanced_sample", "multi_table_dml", "streaming_dedup_ingest",
    "text_repetition", "text_window_dedup", "dml_lifecycle",
    "mysql_dml_statements", "system_catalog", "multimodal_features",
    "text_classifier_quality", "embedding_pq", "ann_ivfpq_topk",
    "dataset_stratified_split", "streaming_click_view_join",
    "streaming_running_totals", "dedup_semantic", "streaming_ann_ingest",
    "char_null_semantics", "dedup_semantic_incremental", "dedup_hybrid",
    "xml_load_roundtrip", "events_variant_props", "pivot_unpivot_roundtrip",
    "lateral_topn_per_group", "extent_elimination_scan", "mysql_ddl_alter",
    "mysql_dialect_query", "bulk_load_csv_roundtrip", "dedup_exact",
    "dedup_minhash_portable",
    # ── latest driver row r10 (freshest tier: the r10 window = the
    # two dialect leads + func_cast/time/datetime + the old r06 base
    # tier minus the five stragglers now leading) ──
    "mysql_dialect_cast", "mysql_dialect_functions",
    "func_cast", "func_time", "func_datetime",
    "q1_pricing_summary", "scan_filter_project",
    "filter_between_in_like", "filter_regexp_null", "filter_col_vs_col",
    "filter_expression", "constant_select", "groupby_join_agg",
    "agg_distinct", "agg_stats", "agg_bit", "group_concat", "agg_having",
    "join_inner_broadcast", "join_left_outer", "join_full_outer",
    "join_semi", "join_anti", "join_not_in_nullaware", "join_multiway",
    "join_cross", "join_theta", "scalar_subquery", "select_list_subquery",
    "in_subquery", "derived_table", "view_query", "topn_order_limit",
    "limit_offset", "order_nulls_last", "distinct_select",
    "union_all_normalize", "union_distinct", "intersect_except",
    "agg_rollup", "agg_cube", "agg_grouping_sets", "set_ops_all",
    "join_salted_skew", "window_rank", "window_row_number_topk_per_group",
    "window_agg_frame", "window_range_frame", "window_navigation",
    "window_stats",
]


def _ordered(d: dict) -> dict:
    out = {k: d[k] for k in _PRIORITY if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q1_pricing_summary"](spark, SF0_001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (omitted → rows-only check)."""
    return _ordered(ORACLES)
