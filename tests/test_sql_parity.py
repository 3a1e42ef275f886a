"""SQL-API parity: ANSI-compatible oracle texts run UNCHANGED through
spark.sql over registered temp views and match the DataFrame-API plans —
the engine's SQL surface is the same query, not a translation."""

import pytest

from planet_dump_ng_spark import plans
from planet_dump_ng_spark.plans.registry import load_tables

plans.load_all()

#: queries whose oracle SQL is ANSI enough to execute on Spark verbatim
#: (probed over the full registry: every oracle that parses and matches
#: the DataFrame plan's rows is pinned here — 58 of 167 (printf/interpolation value skews exclude two more); the
#: rest use DuckDB-specific list/lambda/quantile syntax)
ANSI_QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "latest_event_per_user",
    "max_data_timestamp",
    "event_attribution",
    "visible_event_counts",
    "redaction_filter",
    "union_element_counts",
    "rollup_revenue",
    "cube_event_matrix",
    "topk_lines_per_order",
    "range_join_price_band",
    "hourly_moving_average",
    "event_funnel",
    "scd2_user_bands",
    "merge_upsert_orders",
    "peak_concurrency_daily",
    "incremental_event_rollup",
    "full_outer_activity",
    "key_set_ops",
    "event_value_ranks",
    "global_top_orders",
    "event_attribution_salted",
    "exact_group_medians",
    "window_frame_matrix",
    "stat_moments",
    "unpivot_order_amounts",
    "grouping_sets_revenue",
    "value_histogram",
    "fuzzy_name_match",
    "cosupply_triangles",
    "market_basket_pairs",
    "hourly_event_rollup",
    "q02_min_acctbal_supplier",
    "q04_order_priority_semi",
    "q06_revenue_forecast",
    "q07_nation_volume",
    "q10_returned_topk",
    "q13_order_count_histogram",
    "q14_promo_share",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_filter",
    "customers_without_orders",
    "q22_idle_rich_customers",
    "q08_market_share",
    "q09_product_profit",
    "q11_important_parts",
    "q15_top_supplier",
    "q16_supplier_part_cnt",
    "q20_excess_shippers",
    "q21_waiting_supplier",
    "snapshot_diff_users",
    "rolling_zscore_anomalies",
    "kcore_suppliers",
    "label_propagation_communities",
    "bfs_supplier_hops",
]


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    load_tables(spark, sf_dir)


@pytest.mark.parametrize("name", ANSI_QUERIES)
def test_sql_text_matches_dataframe_plan(spark, sf_dir, name):
    spec = plans.QUERIES[name]
    df_rows = spec.spark(spark, sf_dir).collect()
    sql_rows = spark.sql(spec.oracle).collect()
    key = lambda r: tuple(
        sorted((k, str(v)) for k, v in r.asDict().items())
    )
    assert sorted(map(key, df_rows)) == sorted(map(key, sql_rows)), name
