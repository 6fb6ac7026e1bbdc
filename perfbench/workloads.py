"""The benchmark's named workloads.

A workload is a list of operations run in order, as one pass. An operation
is one registered query (its plan-building function, then a noop-sink
materialize) or one ``run_pipeline`` call. See ``perfbench/README.md`` for
why each was chosen.
"""

from __future__ import annotations

# Scans, joins and aggregates with per-query load and plan constants: no
# Python bridge, no driver loops, no bytes written. Not in BENCHMARK.json
# (see README.md, "Why these workloads"); run it by name for a relational
# profile.
WAREHOUSE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q4_order_priority_check",
    "q5_nation_revenue",
    "q6_revenue_forecast",
    "q7_nation_trade_volume",
    "q8_market_share",
    "q9_product_profit",
    "q10_top_returners",
    "q11_important_part_value",
    "q12_late_shipment_priority",
    "q13_order_count_distribution",
    "q14_promo_share",
    "q15_top_revenue_supplier",
    "q16_supplier_part_count",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_bracketed_revenue",
    "q20_prolific_part_suppliers",
    "q21_waiting_supplier",
    "q22_dormant_value_customers",
    "r2_broadcast_enrich",
    "w1_top_orders_per_customer",
    "w2_running_user_value",
    "t1_hourly_event_rollup",
    "sessionize_events",
    "cube_order_stats",
    "grouping_sets_orders",
    "cohort_retention_weekly",
    "asof_last_purchase",
    "range_join_shipments",
]

# Driver-loop-bound and Python/Arrow-bridge-heavy LLM-data queries.
CURATION = [
    # text family: tokenizes, explodes and groups on its own
    "text_tfidf_topterms",
    # similarity over the Arrow bridge
    "emb_bitext_margin",
    # a probe of a saved index that set-up builds and publishes
    "dedup_minhash_staged",
    # iterative: driver round trips per round
    "emb_kcenter_coreset",
    "dedup_groups_connected",
]

# The reference's own job: Sparkify JSON through run_pipeline.
ETL_LOAD = ["run_pipeline"]

WORKLOADS = {
    "warehouse": WAREHOUSE,
    "curation": CURATION,
    "etl_load": ETL_LOAD,
}

# Which input each workload reads: the parquet lake or the Sparkify JSON.
INPUT_KIND = {"warehouse": "lake", "curation": "lake", "etl_load": "sparkify"}
