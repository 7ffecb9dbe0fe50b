"""Query registry: every implemented operator exposed as a (Spark, oracle-SQL)
pair over the driver testdata tables.

Each entry maps a SURVEY.md §2 operator (or a beyond-reference LLM-pipeline
operator) to:
- a callable ``(spark, sf_dir) -> DataFrame`` built on the engine's
  operator/function modules, and
- an ANSI-SQL oracle string DuckDB runs on the same parquet tables.

Column names and final types are aligned on both sides (the driver's compare
sorts columns by name and value-hashes them). Aggregates over doubles are
cast to DECIMAL before summing so results are exact and order-independent
under Spark's parallel aggregation.
"""

from __future__ import annotations

from kin_data_pipeline_spark.queries.registry import QUERIES, QuerySpec, register  # noqa: F401
import kin_data_pipeline_spark.queries.relational  # noqa: F401,E402
import kin_data_pipeline_spark.queries.llmops  # noqa: F401,E402
import kin_data_pipeline_spark.queries.kin_models  # noqa: F401,E402
import kin_data_pipeline_spark.queries.extended  # noqa: F401,E402
import kin_data_pipeline_spark.queries.curation  # noqa: F401,E402
import kin_data_pipeline_spark.queries.filtering  # noqa: F401,E402
import kin_data_pipeline_spark.queries.retrieval  # noqa: F401,E402
import kin_data_pipeline_spark.queries.timeseries  # noqa: F401,E402
import kin_data_pipeline_spark.queries.tpch_partsupp  # noqa: F401,E402

# The external correctness gate verifies only the FIRST 50 registry entries,
# so ordering is a coverage decision. The manifests are round-agnostic
# (VERDICT r4 ask #5): bump ROUND and recompose CURRENT_WINDOW_HEAD /
# NEXT_WINDOW_BACKLOG each round — the invariants in
# tests/test_registry_window.py key off CORRECTNESS-file discovery, so the
# round prep is a data change only.
ROUND = 12

# Round-12 window (recomposed after the optimization-round lifecycle work
# re-planned 6 queries — the 3 cdf_* reads and the 3 time_travel_* reads,
# whose change-file / snapshot layouts moved to the single-pass
# delete_by_keys + staged-append commits; PLAN_MANIFEST since=12 discounts
# their old green rows): all 6 never-green queries lead, then padding
# oldest-green-first per scripts/compose_window.py.
CURRENT_WINDOW_HEAD = [
    "cdf_incremental_aggregate",
    "cdf_incremental_distinct_count",
    "cdf_incremental_minmax",
    "time_travel_as_of_timestamps",
    "time_travel_changes",
    "time_travel_orders_versions",
    "kin_app_txn_summary_from_account_monthly",
    "kin_app_txn_summary_from_account_weekly",
    "kin_app_txn_summary_to_account_monthly",
    "kin_app_txn_summary_to_account_weekly",
    "kin_daily_account_creates_by_close_authority",
    "kin_daily_account_creates_by_program",
    "kin_daily_account_creates_by_type",
    "kin_daily_account_summary_by_app",
    "kin_daily_account_summary_ecosystem",
    "knn_label_agreement",
    "local_supplier_revenue_q5",
    "media_decoded_stats",
    "media_metadata_stats",
    "monthly_priority_pivot",
    "near_dup_clusters",
    "near_dup_clusters_deep",
    "ngram_jaccard_capped",
    "ngram_jaccard_near_dups",
    "order_value_deciles",
    "progressive_jpeg_pixel_stats",
    "redaction_stats_props",
    "regex_token_stats",
    "region_segment_grouping_sets",
    "repeated_chunk_stats",
    "revenue_rollup_region_nation",
    "rolling_hash_fingerprints",
    "semantic_dedup_pairs",
    "semantic_dedup_survivor_stats",
    "shingle_containment_pairs",
    "shipping_priority_q3",
    "simhash_near_dups",
    "skew_distinct_users_by_event_type",
    "skew_salted_value_sum_by_type",
    "streaming_daily_rollup",
    "trailing_7d_revenue",
    "bpe_train_merges",
    "cross_source_dup_matrix",
    "customer_order_distribution_q13",
    "daily_event_segments",
    "daily_order_revenue",
    "day_over_day_revenue",
    "dominant_part_suppliers_q20",
    "dsir_importance_scores",
    "embedding_cell_outliers",
]

# Queries registered after the current window filled go here at registration
# time (test-enforced, round-agnostic rule in tests/test_registry_window.py)
# and must lead the next round's window. The four below were re-planned by
# round 12's dedup repartition pins (PLAN_MANIFEST since=12) and have no
# green round-12 CORRECTNESS row, so they must be verified again next round.
NEXT_WINDOW_BACKLOG: list[str] = [
    "curated_corpus_stats",
    "dedup_keep_best_survivors",
    "dedup_survivor_stats",
    "ngram_jaccard_prefix_filtered",
]

def _ordered() -> dict[str, QuerySpec]:
    out = {n: QUERIES[n] for n in CURRENT_WINDOW_HEAD if n in QUERIES}
    out.update((n, s) for n, s in QUERIES.items() if n not in out)
    return out

def queries():
    return {name: spec.fn for name, spec in _ordered().items()}

def oracle_sql():
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}
