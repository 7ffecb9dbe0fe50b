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
ROUND = 13

# Round-13 window: the 6 never-green queries lead — the 5 near-dup queries
# whose PLAN_MANIFEST since moved to 13 when operators.dedup began shingling
# each document in linear time and reading the pair lineage once, plus
# ngram_jaccard_prefix_filtered (since 12, no green round-12 CORRECTNESS
# row) — then padding oldest-green-first per scripts/compose_window.py.
CURRENT_WINDOW_HEAD = [
    "curated_corpus_stats",
    "dedup_keep_best_survivors",
    "dedup_survivor_stats",
    "near_dup_clusters",
    "near_dup_clusters_deep",
    "ngram_jaccard_prefix_filtered",
    "entity_role_activity",
    "important_part_values_q11",
    "kin_daily_creations_by_app",
    "kin_daily_volatility_factor",
    "kin_fact_creations",
    "large_volume_customers_q18",
    "late_shipment_priority_q12",
    "length_distribution_ks",
    "line_dedup_retention",
    "lineitems_of_big_orders",
    "min_cost_part_suppliers_q2",
    "nation_profit_q9",
    "national_market_share_q8",
    "part_supplier_counts_q16",
    "priority_late_orders_q4",
    "promo_revenue_share_q14",
    "returned_item_customers_q10",
    "sa_progressive_jpeg_pixel_stats",
    "sole_late_supplier_q21",
    "source_cap_sample",
    "source_mix_resample",
    "stratified_sample_split",
    "streaming_dedup_within_watermark",
    "streaming_feed_dedup",
    "streaming_purchase_view_join",
    "streaming_running_balance",
    "streaming_table_changes",
    "streaming_user_sessions",
    "time_travel_restore",
    "token_budget_selection",
    "token_rarity_scores",
    "top_supplier_revenue_q15",
    "training_shard_manifest",
    "url_domain_filter_stats",
    "user_sessions_batch",
    "winnowing_fingerprints",
    "ycbcr420_jpeg_pixel_stats",
    "acctbal_opportunity_q22",
    "approx_daily_active_users",
    "approx_length_percentiles",
    "bm25_doc_scores",
    "bpe_pair_frequencies",
    "cdc_chunk_dedup_stats",
    "closing_value_per_user_day",
]

# Queries registered after the current window filled go here at registration
# time (test-enforced, round-agnostic rule in tests/test_registry_window.py)
# and must lead the next round's window. Empty for round 13: the whole
# round-12 backlog fits in the round-13 window above.
NEXT_WINDOW_BACKLOG: list[str] = []

def _ordered() -> dict[str, QuerySpec]:
    out = {n: QUERIES[n] for n in CURRENT_WINDOW_HEAD if n in QUERIES}
    out.update((n, s) for n, s in QUERIES.items() if n not in out)
    return out

def queries():
    return {name: spec.fn for name, spec in _ordered().items()}

def oracle_sql():
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}
