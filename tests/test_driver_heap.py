"""The driver heap stays bounded over a long run: every query a session
executes leaves its plan graph in Spark SQL's status store, so
``get_spark`` caps how many executions that store keeps."""

from __future__ import annotations

import os
import sys
import time

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from probes import Jvm  # noqa: E402

from mini_sql_engine_spark.queries import QUERIES  # noqa: E402

KEYS = ("filter_and", "q13_cust_orders", "funnel_windowed", "event_trigrams")


def _pass(spark) -> None:
    for key in KEYS:
        QUERIES[key](spark, SF_SMOKE).write.format("noop") \
            .mode("overwrite").save()


def _threads(spark) -> int:
    return spark.sparkContext._jvm.java.lang.Thread.activeCount()


def test_live_heap_stops_growing_over_many_passes(spark):
    """Live heap after 10 passes and after 40 more. Adaptive execution
    starts a pool thread per query stage and keeps it 60 s, so the
    second reading first waits until those threads are back to the
    count of the first one; the heap left is what the passes retain."""
    assert spark.conf.get("spark.sql.ui.retainedExecutions") == "20"
    jvm = Jvm(spark)
    for _ in range(10):
        _pass(spark)
    settled, threads = jvm.live_heap_mb(), _threads(spark)
    for _ in range(40):
        _pass(spark)
    deadline = time.monotonic() + 90
    while _threads(spark) > threads and time.monotonic() < deadline:
        time.sleep(1)
    grown = jvm.live_heap_mb() - settled
    store = spark._jsparkSession.sharedState().statusStore()
    assert store.executionsCount() <= 20
    # 160 more executions: about 5 MB at Spark's default of 1000
    # retained executions
    assert grown < 2.0, f"live heap grew {grown:.1f} MB over 40 passes"
