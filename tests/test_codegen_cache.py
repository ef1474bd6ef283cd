"""The generated-class cache that ``get_spark`` sizes: a session that
cycles through a mixed set of queries compiles each generated class
once, not once per cycle."""

from __future__ import annotations

from mini_sql_engine_spark.queries import QUERIES
from tests.conftest import SF_SMOKE

# relational, join, set, window, top-k and exact order-statistic keys:
# together they generate about a hundred distinct classes
MIXED_KEYS = (
    "scan_table", "filter_and", "group_having", "equi_join", "cross_join",
    "theta_join", "semi_join", "anti_join", "set_union", "q6_forecast",
    "win_lag", "top_k", "percentiles", "iqr_scale", "winsorize",
)


def test_repeated_mixed_pass_compiles_no_class(spark):
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics

    def run_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for key in MIXED_KEYS:
            QUERIES[key](spark, SF_SMOKE).write.format("noop") \
                .mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    run_pass()  # compiles whatever earlier tests have not
    assert metrics.METRIC_COMPILATION_TIME().getCount() > 0
    assert run_pass() == 0, (
        "a repeated pass recompiled evicted classes: the generated-class "
        "cache is smaller than one mixed pass")
