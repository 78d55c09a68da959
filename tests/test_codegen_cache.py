"""The codegen cache holds the generated classes of a repeated query mix.

``get_session`` sizes ``spark.sql.codegen.cache.maxEntries`` to 256. The
nine queries of perfbench's ``olap_mix`` generate ~100-130 classes per
pass, so at Spark's default of 100 entries every warm pass evicted and
recompiled nearly all of them (~102 compilations per pass at sf0.001).
"""

from rad_database_parse_spark.registry import all_queries

# perfbench/workloads.py OLAP_MIX
OLAP_MIX = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q18_large_volume_orders",
    "window_topk_per_customer",
    "agg_rollup_region_nation",
    "sessionize_events",
    "funnel_view_click_purchase",
    "asof_last_view_before_purchase",
]


def test_warm_olap_pass_compiles_nothing(spark, sf_dir, count_compiles):
    queries = all_queries()

    def one_pass():
        return [len(queries[n].fn(spark, sf_dir).toPandas()) for n in OLAP_MIX]

    _, rows = count_compiles(one_pass)  # fills the cache
    warm, again = count_compiles(one_pass)
    assert warm == 0
    assert again == rows
