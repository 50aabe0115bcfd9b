"""A repeated query pass reuses the code Spark generated for it.

Spark compiles each physical plan to Java classes and keeps them in an
LRU cache sized by the static conf ``spark.sql.codegen.cache.maxEntries``
(Spark's default: 100). ``session.get_spark`` sizes it to the engine's
working set, so a second pass of the same star queries finds its
classes cached instead of recompiling them. The check is behavioural:
it counts Janino compiles (``CodegenMetrics``), so it also fails when
the session was built before ``get_spark`` and the builder's static
conf was silently ignored.
"""

from __future__ import annotations

from etl_data_warehouse_spark.plans.registry import QUERIES

# The benchmark's 14 star_analytics queries.
STAR_QUERIES = [
    "q01_monthly_revenue", "q02_customer_tier", "q03_product_performance",
    "q04_retention_cohort", "q05_daily_anomaly", "q08_fact_daily_sales",
    "q42_fact_lineitem", "q62_tpch_q1_pricing_summary",
    "q63_tpch_q3_shipping_priority", "q65_tpch_q6_forecast_revenue",
    "q69_tpch_q7_volume_shipping", "q71_tpch_q9_product_profit",
    "q72_tpch_q13_order_counts", "q76_tpch_q18_large_orders",
]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, sf_dir) -> int:
    """Janino compiles of one pass of the star queries into noop."""
    before = _compiles(spark)
    for name in STAR_QUERIES:
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    return _compiles(spark) - before


def test_second_star_pass_compiles_almost_nothing(spark, sf_dir):
    first = _pass(spark, sf_dir)
    second = _pass(spark, sf_dir)
    assert first > 0, "no compiles counted: the metric is not wired"
    assert second <= 0.1 * first, (
        f"second pass compiled {second} classes after the first compiled "
        f"{first}: the generated-class cache "
        "(spark.sql.codegen.cache.maxEntries) is evicting them"
    )
