"""Per-operator unit tests on tiny inline DataFrames: empty inputs,
nulls (the engine is a superset of the null-free reference), duplicate
rows, partitioning-invariance (SURVEY.md §5.2.3). Operators that Qkeys
reach as SQL text (filter, DISTINCT, UNION/EXCEPT, top-k, ROLLUP) are
checked through ``spark.sql`` over the same kind of frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_sql_engine_spark.operators import (
    aggregates as AG,
    joins as J,
    sets as S,
    sorting as SO,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_filter_with_nulls(spark):
    df = _df(spark, [(1, 10), (2, None), (3, 40)], "id long, v long")
    got = {r.id for r in
           spark.sql("SELECT id FROM {df} WHERE v > 15", df=df).collect()}
    assert got == {3}  # null comparisons are NULL → filtered out (ANSI)


def test_group_agg_null_keys_form_a_group(spark):
    df = _df(spark, [("a", 1), (None, 2), (None, 3)], "k string, v long")
    got = {r.k: r.s for r in
           AG.group_agg(df, ["k"], F.sum("v").alias("s")).collect()}
    assert got == {"a": 1, None: 5}


def test_distinct_on_duplicate_rows(spark):
    df = _df(spark, [(1, "x")] * 5 + [(2, "y")], "id long, s string")
    assert spark.sql("SELECT DISTINCT * FROM {df}", df=df).count() == 2


def test_exact_sum_partitioning_invariant(spark):
    rows = [(i, 0.01 + i) for i in range(1000)]
    df = _df(spark, rows, "id long, v double")
    one = df.coalesce(1).agg(AG.exact_sum("v", "s")).collect()[0].s
    many = df.repartition(13).agg(AG.exact_sum("v", "s")).collect()[0].s
    assert one == many  # decimal aggregation is order-independent


def test_joins_tiny(spark):
    a = _df(spark, [(1, "a"), (2, "b"), (3, "c")], "k long, s string")
    b = _df(spark, [(2, 20.0), (3, 30.0), (3, 33.0)], "k long, v double")
    assert J.equi_join(a, b, "k").count() == 3
    assert J.semi_join(a, b, "k").count() == 2          # no duplication
    assert {r.k for r in J.anti_join(a, b, "k").collect()} == {1}
    left = J.equi_join(a, b, "k", how="left")
    assert left.count() == 4
    assert J.cross_join(a, b).count() == 9


def test_set_ops_bag_vs_set_semantics(spark):
    a = _df(spark, [(1,), (1,), (2,)], "x long")
    b = _df(spark, [(1,), (3,)], "x long")
    assert spark.sql("SELECT * FROM {a} UNION SELECT * FROM {b}",
                     a=a, b=b).count() == 3
    assert {r.x for r in S.intersect(a, b).collect()} == {1}
    assert S.intersect_all(a, b).count() == 1
    assert [r.x for r in spark.sql(
        "SELECT * FROM {a} EXCEPT SELECT * FROM {b}", a=a, b=b).collect()] == [2]
    assert sorted(r.x for r in S.except_all(a, b).collect()) == [1, 2]


def test_top_k_deterministic_ties(spark):
    df = _df(spark, [(1, 5.0), (2, 5.0), (3, 5.0), (4, 1.0)], "id long, v double")
    got = [r.id for r in spark.sql(
        "SELECT id FROM {df} ORDER BY v DESC, id LIMIT 2", df=df).collect()]
    assert got == [1, 2]


def test_with_rank_global_positions(spark):
    """Range-partitioned rank must equal the naive total sort's
    positions, including across partition boundaries (more partitions
    than rows forces empty partitions and cross-boundary offsets)."""
    data = [(i, float(v)) for i, v in enumerate([5, 3, 9, 1, 7, 3, 9, 2])]
    df = _df(spark, data, "id long, v double")
    got = SO.with_rank(df, F.col("v").desc(), F.col("id"),
                       num_partitions=16).collect()
    got.sort(key=lambda r: r.pos)
    exp = sorted(data, key=lambda t: (-t[1], t[0]))
    assert [r.pos for r in got] == list(range(1, len(data) + 1))
    assert [(r.id, r.v) for r in got] == exp


def test_rollup_includes_grand_total(spark):
    df = _df(spark, [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)],
             "k1 string, k2 string, v long")
    rows = spark.sql("SELECT k1, k2, sum(v) AS s FROM {df} "
                     "GROUP BY ROLLUP(k1, k2)", df=df).collect()
    total = [r for r in rows if r.k1 is None and r.k2 is None]
    assert len(total) == 1 and total[0].s == 6
    assert len(rows) == 3 + 2 + 1


def test_asof_join_golden(spark):
    """Hand-computed golden: exact-ts tie matches, no-predecessor is
    null, latest-of-several wins, keys don't leak across groups."""
    import datetime as dt

    from mini_sql_engine_spark.operators.asof import asof_join

    T = lambda s: dt.datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [(1, 10, T("2024-01-01 10:00")),   # before any right row -> null
         (2, 10, T("2024-01-01 12:00")),   # exact tie with right @12:00
         (3, 10, T("2024-01-01 15:00")),   # after two -> latest (13:00)
         (4, 20, T("2024-01-01 23:00"))],  # other key, no right rows
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, T("2024-01-01 12:00"), 100.0),
         (10, T("2024-01-01 13:00"), 200.0)],
        "user_id long, ts timestamp, pvalue double",
    )
    got = {
        r.event_id: r.asof_pvalue
        for r in asof_join(left, right, by="user_id",
                           value_cols=["pvalue"]).collect()
    }
    assert got == {1: None, 2: 100.0, 3: 200.0, 4: None}


def test_range_join_golden_and_plan(spark):
    """Bucket-expansion range join: exact matches (boundary inclusive),
    and the physical plan is a hash join, not a nested loop."""
    import datetime as dt

    from mini_sql_engine_spark.operators.range_join import point_in_interval_join

    T = lambda s: dt.datetime.fromisoformat(s)
    points = spark.createDataFrame(
        [(1, T("2024-01-01 10:00")), (2, T("2024-01-01 11:00")),
         (3, T("2024-01-01 11:59:59")), (4, T("2024-01-02 00:00"))],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [(100, T("2024-01-01 10:00"), T("2024-01-01 11:00")),  # inclusive both ends
         (200, T("2024-01-01 11:30"), T("2024-01-01 12:30"))],
        "wid long, lo timestamp, hi timestamp",
    )
    got = sorted(
        (r.pid, r.wid)
        for r in point_in_interval_join(points, ivs, "ts", "lo", "hi").collect()
    )
    assert got == [(1, 100), (2, 100), (3, 200)]

    phys = (
        point_in_interval_join(points, ivs, "ts", "lo", "hi")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in phys and "CartesianProduct" not in phys, phys


def test_salted_groupby_matches_plain_groupby(spark):
    """Two-stage salted aggregation must be value-identical to the
    one-shot groupBy for every supported algebraic op, including the
    sum/count avg decomposition, on a skewed key distribution."""
    from pyspark.sql import functions as F

    from mini_sql_engine_spark.operators.skew import salted_groupby

    df = spark.createDataFrame(
        [("hot", i % 7, float(i)) for i in range(5000)]
        + [(f"k{j}", j, float(j)) for j in range(40)],
        "k string, a long, x double",
    )
    got = salted_groupby(
        df, ["k"],
        [("n", "count", F.lit(1)), ("sum_a", "sum", F.col("a")),
         ("min_x", "min", F.col("x")), ("max_x", "max", F.col("x"))],
        n_salts=8,
    ).withColumn("avg_a", F.col("sum_a") / F.col("n"))
    exp = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("a").alias("sum_a"),
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.avg("a").alias("avg_a"),
    )
    cols = ["k", "n", "sum_a", "min_x", "max_x", "avg_a"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, exp.select(cols).collect())
    )


def test_approx_percentile_accuracy(spark):
    """The sketch must land within 2% relative error of the exact
    percentile at sf0.001. The Qkey emits that check as a tolerance
    certificate (ok_p50/ok_p99 booleans — hash-checked against TRUE
    by the driver oracle); here we assert the certificate holds AND
    re-derive the raw sketch-vs-exact comparison independently so the
    certificate itself is tested, not trusted."""
    from mini_sql_engine_spark.queries import QUERIES

    from tests.conftest import SF_SMOKE

    cert = QUERIES["percentiles_approx"](spark, SF_SMOKE).collect()
    assert cert and all(r.ok_p50 and r.ok_p99 for r in cert), cert

    from mini_sql_engine_spark.catalog import Catalog
    import pyspark.sql.functions as F_

    raw = {
        r.l_returnflag: (r.a50, r.a99, r.e50, r.e99)
        for r in Catalog(spark, SF_SMOKE).table("lineitem")
        .groupBy("l_returnflag")
        .agg(F_.approx_percentile("l_extendedprice", 0.5, 10_000).alias("a50"),
             F_.approx_percentile("l_extendedprice", 0.99, 10_000).alias("a99"),
             F_.percentile("l_extendedprice", 0.5).alias("e50"),
             F_.percentile("l_extendedprice", 0.99).alias("e99"))
        .collect()
    }
    assert set(raw) == {r.l_returnflag for r in cert}
    for flag, (a50, a99, e50, e99) in raw.items():
        assert abs(a50 - e50) / e50 < 0.02, (flag, a50, e50)
        assert abs(a99 - e99) / e99 < 0.02, (flag, a99, e99)
