"""Plan-quality gates — the 100 TB discipline, asserted on explain output:
filters/projections reach the parquet scan, small dims broadcast, sims
stay JVM-side (no Python row UDFs in relational paths), partial
aggregation present. These are the properties that keep the same plans
viable at 1000 executors (SURVEY.md §4.2)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from mini_sql_engine_spark import queries as Q

from tests.conftest import SF_SMOKE


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushed_to_parquet_scan(spark):
    p = formatted(Q.QUERIES["filter_cmp"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in p, p


def test_projection_prunes_scan_columns(spark):
    p = formatted(Q.QUERIES["project_cols"](spark, SF_SMOKE))
    # ReadSchema must carry only the 3 projected columns
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_equi_join_broadcasts_dimension(spark):
    p = plan(Q.equi_join(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p


def test_join3_no_cartesian(spark):
    p = plan(Q.join3(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_theta_join_keeps_hash_join_for_equality_part(spark):
    """The mixed equality+inequality condition must compile to a hash
    join with the inequality as residual — not a nested-loop join."""
    p = plan(Q.theta_join(spark, SF_SMOKE))
    assert "HashJoin" in p, p
    assert "CartesianProduct" not in p


def test_group_agg_has_partial_aggregation(spark):
    p = plan(Q.group_agg(spark, SF_SMOKE))
    assert "partial_" in p, "map-side combine missing"


def test_relational_queries_have_no_python_udfs(spark):
    for qkey in ["scan_table", "filter_cmp", "group_agg", "equi_join",
                 "win_rank", "win_tumbling", "dedup_exact", "term_counts",
                 "dedup_ngram", "sim_topk"]:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey} uses a row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey} unexpectedly crosses to Python"


def test_whole_stage_codegen_active_on_flagship(spark):
    df = Q.group_agg(spark, SF_SMOKE)
    df.collect()  # AQE finalizes THIS query's plan only when it executes
    p = plan(df)
    assert "isFinalPlan=true" in p
    # '*(n)' prefixes mark whole-stage-codegen spans in the final plan
    assert re.search(r"\*\(\d+\)\s*HashAggregate", p), p[:800]


def test_cross_join_guard(spark):
    """Guard catches unconstrained big cross joins, passes small ones
    and WHERE-recovered equi-joins (Catalyst recovery happens before
    the check)."""
    import pytest as _pytest

    from mini_sql_engine_spark.catalog import Catalog
    from mini_sql_engine_spark.plans.guard import (
        UnboundedCrossJoinError,
        check_cross_joins,
    )

    cat = Catalog(spark, SF_SMOKE)
    li, o = cat.table("lineitem"), cat.table("orders")
    # small product passes under the default budget
    check_cross_joins(cat.table("region").crossJoin(cat.table("nation")))
    # unconstrained product over the budget raises
    with _pytest.raises(UnboundedCrossJoinError):
        check_cross_joins(li.crossJoin(o), max_rows=1_000_000)
    # cartesian + equality WHERE is recovered to an equi-join -> passes
    check_cross_joins(
        li.crossJoin(o).filter(F.col("l_orderkey") == F.col("o_orderkey")),
        max_rows=1_000_000,
    )


def test_cluster_conf_formulas():
    """Sizing math: 100 TB on 1000 executors x 8 cores."""
    from mini_sql_engine_spark.session import cluster_conf

    conf = cluster_conf(total_cores=8000, input_bytes=100 * 1024**4)
    # 100 TB / 128 MB = ~819k shuffle partitions (size-bound, not core-bound)
    assert int(conf["spark.sql.shuffle.partitions"]) == 100 * 1024**4 // (128 * 1024**2)
    # small job on the same cluster: floored at 2x cores
    small = cluster_conf(total_cores=8000, input_bytes=10 * 1024**3)
    assert int(small["spark.sql.shuffle.partitions"]) == 16000
    assert small["spark.sql.adaptive.enabled"] == "true"


def test_subqueries_decorrelate_to_semi_joins(spark):
    """EXISTS and IN must compile to semi hash joins — no correlated
    per-row re-execution, no cartesian — and the scalar subquery must
    appear as a one-time Subquery node, not a per-row plan."""
    p = plan(Q.QUERIES["exists_subquery"](spark, SF_SMOKE))
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    p2 = plan(Q.QUERIES["in_subquery"](spark, SF_SMOKE))
    assert "LeftSemi" in p2, p2
    p3 = plan(Q.QUERIES["scalar_subquery"](spark, SF_SMOKE))
    assert "Subquery" in p3, p3
    assert "CartesianProduct" not in p3


def test_latest_per_key_single_shuffle(spark):
    """row_number dedup must cost exactly one exchange (on the
    partition key) — a second exchange would mean the filter or
    projection broke the window's partitioning."""
    p = plan(Q.latest_per_key(spark, SF_SMOKE))
    assert p.count("Exchange") == 1, p


def test_salted_groupby_two_stage_shape(spark):
    """The salted aggregation plan must contain two distinct keyed
    aggregations (salted partial + final) and exactly one exchange
    keyed on (group keys, salt) feeding them."""
    p = plan(Q.group_agg_salted(spark, SF_SMOKE))
    assert "_salt" in p, p
    # one shuffle for the salted stage, one for the final merge
    assert p.count("Exchange") == 2, p


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join handling — the built-in counterpart of
    operators/skew.py — must split the hot partition: the executed
    adaptive plan shows SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead. Plan must be read from the SAME QueryExecution
    that ran (a fresh .write/.count builds a new, un-executed plan
    without runtime stats — that plan never shows skew=true)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(100_000).select(
            F.when(F.col("id") % 5 == 0, F.lit(7))
            .otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("payload_" * 8), F.col("id")).alias("v"),
        )
        small = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = big.join(small, "k")
        assert len(j.collect()) == 100_000
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in phys, phys
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_order_by_rank_has_no_data_scale_single_partition_window(spark):
    """The global-position rank must not funnel the data through one
    task: the row_number window is keyed by the range-partition id,
    and the only SinglePartition exchange in the plan feeds the O(P)
    per-partition-count cumsum (P = shuffle partitions, independent of
    data size)."""
    p = formatted(Q.order_by(spark, SF_SMOKE))
    rn_specs = [ln for ln in p.splitlines()
                if "row_number()" in ln and "windowspecdefinition" in ln]
    assert rn_specs, p
    for ln in rn_specs:
        assert "_pid" in ln, f"row_number window not partition-keyed: {ln}"
    # distributed range exchange present (the ORDER BY shuffle shape)
    assert "rangepartitioning(" in p, p


def test_null_safe_join_stays_hash_join(spark):
    """EqualNullSafe is a legal equi-join key: the null-safe join must
    plan as a broadcast HASH join, never nested-loop."""
    p = plan(Q.null_safe_join(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_gap_fill_aggregates_before_explode(spark):
    """The dense calendar comes from sequence+explode over per-user
    aggregates — the plan must not contain a join (the naive
    calendar-table shape) and shuffles only on user_id/day keys."""
    p = plan(Q.gap_fill(spark, SF_SMOKE))
    assert "Join" not in p, p
    assert "Generate explode" in p or "Generate" in p, p


ROUND3_KEYS = [
    "q2_min_cost", "q4_priority", "q6_forecast", "q8_market_share",
    "q9_profit", "q11_top_value", "q12_shipmode", "q13_cust_orders",
    "q15_top_supplier", "q17_small_qty", "q19_disc_revenue", "q20_excess",
    "q21_waiting", "q22_idle", "sessionize", "pii_scrub", "histogram",
    "repetition_filter",
    # round-4 relational/expression shapes (the CC/merge/mix plan
    # shapes have dedicated gates in test_round4_ops)
    "q16_supplier_cnt", "right_join", "scd2_history", "topk_per_group",
    "ntile_bucket", "hll_distinct", "corpus_mix", "contamination",
]

# Inequality scalar-subquery thresholds (val > total·f, bal > avg)
# cannot be hash-join keys: their 1-row broadcast compare is the one
# legal BroadcastNestedLoopJoin shape (build side is a single row, so
# the "loop" is one comparison per probe row). Everything else must
# hash-join. (q15's equality threshold is recovered into a
# BroadcastHashJoin by Catalyst — asserted below.)
SCALAR_NLJ_OK = {"q11_top_value", "q22_idle",
                 "ntile_bucket"}  # 1-row total-count crossJoin (r4)


def test_round3_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND3_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_q21_argmax_rewrite_is_agg_join_not_self_join(spark):
    """Q21 runs as the argmax rewrite: keyed aggregates + one
    left-semi hash join — no LeftAnti self-join over the raw fact
    (the EXISTS/NOT-EXISTS pair it replaces; equivalence is proven by
    the DuckDB hash check against the subquery-form oracle) and no
    nested loop anywhere."""
    p = plan(Q.q21_waiting(spark, SF_SMOKE))
    assert "LeftSemi" in p, p
    assert "LeftAnti" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "HashAggregate" in p, p


def test_q15_equality_threshold_recovered_as_hash_join(spark):
    """total_revenue = (scalar max) is an equality on a 1-row
    broadcast: Catalyst must recover it into a BroadcastHashJoin, not
    leave a nested-loop filter."""
    p = plan(Q.q15_top_supplier(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_q6_predicates_reach_scan(spark):
    """Q6 is the canonical pushdown probe: all three filters must
    appear in PushedFilters on the lineitem parquet scan."""
    p = formatted(Q.q6_forecast(spark, SF_SMOKE))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed, p
    line = pushed[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in line, (frag, line)


# round-5 (§2.15) shapes: all pure-JVM expression/aggregate plans.
# levenshtein_pairs is the one sanctioned nested-loop: an explicitly
# capped (30-doc) broadcast self-theta-join whose uncapped form exists
# only as a verification oracle (docstring contract).
ROUND5_KEYS = [
    "bitwise_funcs", "filtered_agg", "regr_agg", "url_normalize",
    "ngram_top", "posexplode_split", "weighted_avg", "entropy_agg",
    "array_set_funcs", "levenshtein_pairs",
    "ohlc_bars", "rolling_wau", "cluster_canonical", "percentile_disc",
    "kv_parse", "union_by_name",
]

# sanctioned nested loops in round-5 shapes: levenshtein_pairs is the
# capped broadcast all-pairs kernel; rolling_wau carries a 1-row
# max-day scalar crossJoin (same class as SCALAR_NLJ_OK above)
ROUND5_NLJ_OK = {"levenshtein_pairs", "rolling_wau"}


def test_round5_shapes_stay_jvm_side(spark):
    for qkey in ROUND5_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND5_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_rolling_wau_has_no_range_join(spark):
    """The WAU rewrite must be explode + hash aggregate — a trailing
    range JOIN would be the quadratic form the docstring forbids.
    The only join allowed is the 1-row scalar bound."""
    p = plan(Q.rolling_wau(spark, SF_SMOKE))
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" not in p, p
    assert "Generate" in p or "explode" in p.lower(), p


def test_levenshtein_pairs_is_broadcast_and_capped(spark):
    p = plan(Q.levenshtein_pairs(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in p, p  # capped side broadcast
    assert "PushedFilters" in p or "doc_id" in p  # cap reaches the scan


def test_ngram_top_plans_as_take_ordered(spark):
    """Top-20 must not global-sort the bigram vocabulary."""
    p = plan(Q.ngram_top(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, p


ROUND7_KEYS = [
    "group_split", "label_balance", "zscore_outliers", "winsorize",
    "corr_matrix", "moments_agg", "explode_outer_toks", "kl_divergence",
    "anomaly_mad", "boilerplate_strip", "rolling_median", "lm_score",
]

# 1-row broadcast scalars (min class count / corpus token total /
# corpus doc count) — the sanctioned single-row crossJoin shape
ROUND7_SCALAR_NLJ_OK = {"label_balance", "kl_divergence",
                        "boilerplate_strip"}


def test_round7_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND7_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND7_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_zscore_stats_broadcast_back_not_windowed(spark):
    """The moment stats must come back onto the fact as a broadcast
    hash join — an unbounded window over the fact would buffer whole
    groups in single tasks."""
    p = plan(Q.zscore_outliers(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "WindowExec" not in p and "RunningWindowFunction" not in p, p


def test_rolling_median_frame_is_bounded(spark):
    """collect_list must run over a ROWS-bounded frame (bounded
    per-row state), one keyed shuffle, no extra exchange."""
    p = plan(Q.rolling_median(spark, SF_SMOKE))
    assert "specifiedwindowframe(RowFrame, -4, currentrow" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


ROUND8_KEYS = [
    "knn_label", "nearest_centroid", "bm25_score", "inverted_index",
    "inline_values", "safe_cast", "interval_arith", "attribution",
    "compact_runs",
]

# brute-force kNN / centroid-assignment fan-outs are broadcast
# crossJoins by design (the hash-checked witnesses of the ANN path);
# bm25 carries the 1-row corpus-stats scalar
ROUND8_SCALAR_NLJ_OK = {"knn_label", "nearest_centroid", "bm25_score"}


def test_round8_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND8_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND8_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_knn_fanout_broadcasts_the_query_side(spark):
    """The small (query/centroid) side must be the broadcast build
    side so the candidate scan streams — the shape that scales to a
    full corpus."""
    for qkey in ("knn_label", "nearest_centroid"):
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BroadcastNestedLoopJoin" in p, f"{qkey}: {p}"
        assert "BroadcastExchange" in p, f"{qkey}: {p}"


ROUND9_KEYS = [
    "bitmap_distinct", "sketch_rollup", "setsim_join",
    "containment_dup", "event_transitions", "twap_agg",
    "max_concurrency", "dict_encode", "null_funcs", "pmi_pairs",
]

# pmi_pairs carries the 1-row distinct-user-count scalar crossJoin
ROUND9_SCALAR_NLJ_OK = {"pmi_pairs"}


def test_round9_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND9_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND9_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_bitmap_distinct_has_no_expand(spark):
    """The whole point of the bitmap path: no countDistinct Expand
    node, two hash aggregates only."""
    p = plan(Q.bitmap_distinct(spark, SF_SMOKE))
    assert "Expand" not in p, p
    assert "bitmap_construct_agg" in p or "bitmap" in p.lower(), p


def test_dict_encode_joins_codes_back_broadcast(spark):
    """The |domain|-row code table must broadcast; the fact table
    must not shuffle for the join."""
    p = plan(Q.dict_encode(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_max_concurrency_windows_are_keyed(spark):
    """Every window in the sweep must be partitioned (by user or by
    day) — a global single-task running sum would be the classic
    scale bug this formulation avoids."""
    p = plan(Q.max_concurrency(spark, SF_SMOKE))
    assert "partitionBy" not in p  # physical plans spell partition specs
    low = p.lower()
    assert "window" in low, p
    # no empty partition spec: Spark renders a global window as
    # 'Window [...], [ts ASC ...]' with no partition list — detect by
    # the 'windowspecdefinition()' arity: every spec must reference a
    # partition column before the sort spec
    import re
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", low):
        args = m.group(1)
        assert args.count(",") >= 2, f"unpartitioned window: {args}"


ROUND10_KEYS = [
    "triangle_count", "nearest_join", "map_funcs", "pivot_multi",
    "interval_union", "kmeans_clusters",
]


def test_round10_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND10_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_triangle_closure_is_a_semi_hash_join(spark):
    """The wedge-closing EXISTS must plan as a LeftSemi HASH join on
    (u, w) — the shape that keeps triangle counting linear in wedge
    volume at scale."""
    p = plan(Q.triangle_count(spark, SF_SMOKE))
    assert "LeftSemi" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_nearest_join_single_shuffle(spark):
    """Both direction scans (carry-forward and carry-backward) must
    share ONE keyed exchange — the bidirectional-as-of promise."""
    p = plan(Q.nearest_join(spark, SF_SMOKE))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, p  # no self-join anywhere


ROUND11_KEYS = [
    "lateral_topn", "exists_ineq", "group_by_all", "weighted_sample",
    "time_split_leakage",
]

# weighted_sample carries the 1-row total-weight scalar crossJoin
ROUND11_SCALAR_NLJ_OK = {"weighted_sample"}


def test_round11_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND11_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND11_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_lateral_decorrelates_to_window_group_limit(spark):
    """The correlated LIMIT subquery must become WindowGroupLimit +
    hash join — per-task top-k BEFORE the exchange, not a
    re-execution of the subquery per outer row."""
    p = plan(Q.QUERIES["lateral_topn"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_exists_ineq_is_semi_join_with_residual(spark):
    """Equi half as the semi-join key, inequality as the residual."""
    p = plan(Q.QUERIES["exists_ineq"](spark, SF_SMOKE))
    assert "LeftSemi" in p, p
    assert "l_shipdate" in p and "60" in p, p


ROUND12_KEYS = [
    "or_join_union", "sample_k_grouped", "burst_detect",
    "rel_division", "streaks",
]

# rel_division carries the 1-row domain-cardinality scalar crossJoin
ROUND12_SCALAR_NLJ_OK = {"rel_division"}


def test_round12_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND12_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND12_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_or_join_union_rewrite_uses_hash_joins_only(spark):
    """The whole point: the naive OR condition would be a nested
    loop; the rewrite must show exactly two hash joins."""
    p = plan(Q.or_join_union(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert (p.count("BroadcastHashJoin") + p.count("SortMergeJoin")) == 2, p


def test_sample_k_grouped_plans_window_group_limit(spark):
    """The rank filter must push per-task top-k before the exchange."""
    p = plan(Q.sample_k_grouped(spark, SF_SMOKE))
    assert "WindowGroupLimit" in p, p


ROUND13_KEYS = [
    "mom_growth", "conversion_latency", "profile_table", "simhash_sig",
]


def test_round13_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND13_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_profile_table_has_no_expand_and_prunes_scans(spark):
    """Each per-column subplan must read only its column (pruned
    ReadSchema) and keep its lone countDistinct Expand-free — the
    design that lets a 100 TB profile run at one-column scan cost."""
    p = plan(Q.profile_table(spark, SF_SMOKE))
    assert "Expand" not in p, p
    f = formatted(Q.profile_table(spark, SF_SMOKE))
    schemas = [ln for ln in f.splitlines() if "ReadSchema" in ln]
    assert len(schemas) == 4
    for ln in schemas:
        # one struct field per scan
        assert ln.count(":") <= 2, ln


ROUND14_KEYS = ["adoption_curve", "pareto_abc"]

# pareto_abc carries the 1-row total-revenue scalar crossJoin
ROUND14_SCALAR_NLJ_OK = {"pareto_abc"}


def test_round14_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND14_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND14_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_pareto_prefix_sum_is_distributed(spark):
    """The customer-dimension running total must use the range-
    partitioned prefix sum: the only unpartitioned window allowed is
    the O(P) offsets pass over per-partition totals."""
    p = plan(Q.pareto_abc(spark, SF_SMOKE))
    assert "RangePartitioning" in p or "rangepartitioning" in p.lower(), p
    assert "_pid" in p, p


ROUND15_KEYS = ["rfm_quintiles", "basket_pairs"]

# rfm carries two 1-row scalar crossJoins (anchor date + thresholds)
ROUND15_SCALAR_NLJ_OK = {"rfm_quintiles"}


def test_round15_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND15_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND15_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_basket_pairs_top20_is_take_ordered(spark):
    p = plan(Q.basket_pairs(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, p


def test_rfm_has_no_global_window(spark):
    """Classification must be threshold-broadcast + map-side compare —
    no ntile window over the customer dimension."""
    p = plan(Q.rfm_quintiles(spark, SF_SMOKE))
    assert "Window" not in p, p


ROUND16_KEYS = ["linear_interp", "chi_square_cells", "utouch_attribution"]

# chi_square carries the 1-row total scalar crossJoin
ROUND16_SCALAR_NLJ_OK = {"chi_square_cells"}


def test_round16_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND16_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND16_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_linear_interp_single_shuffle(spark):
    """All four ignore-nulls scans must share ONE keyed exchange."""
    p = plan(Q.linear_interp(spark, SF_SMOKE))
    assert p.count("Exchange hashpartitioning") == 1, p


ROUND17_KEYS = ["cluster_sizes", "dau_new_returning"]


def test_round17_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND17_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_dau_first_day_joins_broadcast(spark):
    p = plan(Q.dau_new_returning(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


ROUND18_KEYS = ["terms_per_lang", "event_trigrams", "snapshot_diff"]


def test_round18_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND18_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_terms_per_lang_window_group_limit(spark):
    p = plan(Q.terms_per_lang(spark, SF_SMOKE))
    assert "WindowGroupLimit" in p, p


def test_event_trigrams_take_ordered(spark):
    p = plan(Q.QUERIES["event_trigrams"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, p


# round-19 additions: the 1-row scalar crossJoin (total / n_keys
# broadcast) is the sanctioned BroadcastNestedLoopJoin shape
ROUND19_KEYS = [
    "winsorize_approx", "benford_digits", "dow_seasonality",
    "minhash_est_quality", "autocorr_daily", "cohort_revenue",
    "readability", "heavy_hitters", "bloom_prefilter",
    "name_blocking_pairs", "weighted_median", "selfjoin_skew",
    "quality_gate", "welch_ttest", "topn_others", "impute_mean",
    "pack_stats", "rate_limit_audit", "dup_threshold_sweep",
    "funnel_windowed", "churn_labels", "coverage_90", "domain_cap",
    "asof_tolerance", "recon_totals", "pareto_frontier",
    "regr_residuals", "join_advisor", "zipf_alpha", "corpus_card",
    "scd2_asof", "dedup_graph_stats", "feature_hashing",
    "corpus_drift", "mutual_info", "media_manifest",
    "score_calibration",
]
ROUND19_SCALAR_NLJ_OK = {"benford_digits", "heavy_hitters",
                         "bloom_prefilter", "topn_others",
                         "churn_labels", "join_advisor", "corpus_card",
                         "dedup_graph_stats", "corpus_drift",
                         "mutual_info", "score_calibration"}
# pq_encode is the declared Arrow-batched encode (mapInPandas), so it
# is exempt from the no-Python sweep the way multimodal/sim keys are


def test_round19_shapes_stay_jvm_side_and_hash_joined(spark):
    for qkey in ROUND19_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: unexpected Python crossing"
        if qkey not in ROUND19_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"


def test_heavy_hitters_take_ordered(spark):
    p = plan(Q.heavy_hitters(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, p


def test_impute_mean_fill_table_broadcasts(spark):
    p = plan(Q.impute_mean(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_bloom_probe_join_is_broadcast(spark):
    """The filter words must reach the probe as a broadcast — a
    shuffled join would move the fact to 16 Ki rows."""
    p = plan(Q.bloom_prefilter(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p


def assert_range_exchange_reused(df, expect_materialized: int = 1):
    """Reusable executed-plan gate for the prefix-sum contract
    (VERDICT r6 ask #3).  The distributed prefix-sum helpers
    reference their sampled range exchange from TWO subplans (local
    cumsum + per-partition totals); offsets are only correct if both
    branches observe the SAME sampled boundaries (ADVICE r5).  Spark
    guarantees that by materializing the exchange once and wiring the
    second consumer to a ReusedExchange — pin it: the EXECUTED plan
    must show exactly ``expect_materialized`` materialized range
    exchanges and at least one ReusedExchange."""
    df.collect()  # AQE finalizes reuse at runtime — execute first
    p = df._jdf.queryExecution().executedPlan().toString()
    # the adaptive plan string appends the pre-reuse "Initial
    # Plan" — judge only what actually ran
    final = p.split("== Initial Plan ==")[0]
    # a ReusedExchange node's own line echoes the reused
    # exchange's description — count only true materializations
    n_range = sum(
        1 for ln in final.splitlines()
        if "Exchange rangepartitioning" in ln
        and "ReusedExchange" not in ln)
    assert n_range == expect_materialized, (
        f"range exchange materialized {n_range}x "
        f"(expected {expect_materialized}):\n{final}")
    assert "ReusedExchange" in final, final


def test_prefix_sum_range_exchange_computed_once(spark):
    """Helper-level gate: each prefix-sum primitive on a raw wide
    table routes through the skinny projection and reuses its one
    sampled range exchange."""
    from mini_sql_engine_spark.catalog import Catalog
    from mini_sql_engine_spark.operators import sorting as SO

    li = Catalog(spark, SF_SMOKE).table("lineitem")
    for df in (
        SO.with_rank(li, "l_orderkey", "l_linenumber"),
        SO.with_running_total(
            li, "l_quantity", "l_orderkey", "l_linenumber"),
        SO.with_grouped_running_total(
            li, "l_quantity", ["l_returnflag"],
            "l_orderkey", "l_linenumber"),
    ):
        assert_range_exchange_reused(df)


# Every registry Qkey built on the prefix-sum helpers, with the
# number of range exchanges its plan legitimately materializes
# (weighted_sample invokes the prefix-sum twice on different
# frames).  A new caller that defeats exchange canonicalization
# (e.g. ranks a wide frame directly) silently reintroduces
# independently-sampled boundaries → wrong offsets at scale; add it
# here when it lands.
PREFIX_SUM_CALLER_KEYS = {
    "order_by": 1,
    "ntile_bucket": 1,
    "weighted_sample": 2,
    "pareto_abc": 1,
    "weighted_median": 1,
    "score_calibration": 1,
    "gini_index": 1,
    "score_auc": 1,
    "ks_test": 1,
    "seq_pack": 1,
    "pack_stats": 1,
    # round-7 additions: spearman ranks two variables (one reused
    # range exchange each); decile_lift ranks the skinny score
    # projection and joins keep back (round 8: string keys so the
    # skinny routing actually fires — the Column-key form ranked the
    # wide frame, whose branches pruned differently and sampled
    # boundaries independently: wrong offsets at ~sf1)
    "spearman_corr": 2,
    "decile_lift": 1,
    # cycle-3: rrf_fusion ranks two skinny (doc_id, score) frames —
    # one reused range exchange each
    "rrf_fusion": 2,
    # cycle-6: quantile_normalize ranks the skinny (g, v, keys) frame
    # and the global (v, keys) frame — one reused exchange each
    "quantile_normalize": 2,
    # cycle-7: heaps_curve ranks doc_id; pareto_knee ranks + running-
    # totals the skinny (part, cents) aggregate
    "heaps_curve": 1,
    "pareto_knee": 2,
    # (r14: theil_sen left this table — its slope median now uses the
    # two-pass band selection with NO rank machinery at all; gated by
    # test_theil_sen_slope_rows_never_shuffled below)
}


ROUND7_KEYS = [
    "token_len_buckets", "smoothed_rates", "order_interarrival",
    "crosstab_counts", "herfindahl", "jaccard_event_types",
    "skew_profile", "cuped_adjust", "cramers_v", "decile_lift",
    "spearman_corr", "iqr_scale_approx",
]
# 1-row scalar broadcasts (global totals / priors / n for the ntile
# arithmetic) plan as BroadcastNestedLoopJoin — bounded by contract
ROUND7_SCALAR_NLJ_OK = {"smoothed_rates", "cuped_adjust", "cramers_v",
                        "decile_lift"}


def test_round7_shapes_stay_jvm_side(spark):
    """Round-7 additions: no Python crossing anywhere, no nested
    loop except the declared 1-row scalar broadcasts."""
    for qkey in ROUND7_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: Python crossing"
        if qkey not in ROUND7_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: NLJ"


def test_round7_small_sides_broadcast(spark):
    """The tiny threshold/marginal tables must reach the fact as
    broadcasts, never shuffled joins."""
    for qkey in ("iqr_scale_approx", "jaccard_event_types"):
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BroadcastHashJoin" in p, f"{qkey}:\n{p}"


ROUND7C3_KEYS = [
    "yoy_growth", "rank_change", "mk_trend", "cusum_shift",
    "rrf_fusion", "ndcg_eval", "calibration_ece", "partial_corr",
    "srm_check", "km_survival", "poisson_rate_test",
    "session_depth_hist",
]
# Declared bounded nested-loop sites (plan-gated by contract):
# 1-row scalar broadcasts (totals/horizon/span/min-max) and the
# Mann-Kendall pair join over the bounded (~2.4k-row) per-day table.
ROUND7C3_SCALAR_NLJ_OK = {"mk_trend", "cusum_shift", "km_survival",
                          "poisson_rate_test", "calibration_ece"}


def test_round7c3_shapes_stay_jvm_side(spark):
    """Cycle-3 additions: no Python crossing anywhere, no nested
    loop except the declared scalar/bounded broadcasts
    (stream_sliding is exercised e2e in tests/test_round22_ops.py —
    a plan() call would start a streaming query)."""
    for qkey in ROUND7C3_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: Python crossing"
        if qkey not in ROUND7C3_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: NLJ"


def test_round7c3_small_sides_broadcast(spark):
    """The bounded month/rank side-tables must reach their joins as
    broadcasts, never shuffled joins."""
    for qkey in ("yoy_growth", "rrf_fusion"):
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BroadcastHashJoin" in p, f"{qkey}:\n{p}"


ROUND7C4_KEYS = [
    "ses_forecast", "theil_sen", "bootstrap_ci", "power_analysis",
    "degree_hist", "lsh_tuning_curve",
]
# 1-row scalar broadcasts plus theil_sen's bounded per-day pair join
ROUND7C4_SCALAR_NLJ_OK = {"ses_forecast", "theil_sen", "bootstrap_ci"}


def test_round7c4_shapes_stay_jvm_side(spark):
    for qkey in ROUND7C4_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: Python crossing"
        if qkey not in ROUND7C4_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: NLJ"


ROUND7C5_KEYS = [
    "shingle_novelty", "lateness_profile", "neyman_alloc",
    "seasonal_index", "share_of_parent", "fulfillment_latency",
]
# 1-row scalar broadcasts (Neyman total, global daily rate)
ROUND7C5_SCALAR_NLJ_OK = {"neyman_alloc", "seasonal_index"}


def test_round7c5_shapes_stay_jvm_side(spark):
    for qkey in ROUND7C5_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: Python crossing"
        if qkey not in ROUND7C5_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: NLJ"


def test_round7c5_dims_broadcast(spark):
    """nation/region must reach the share_of_parent join as
    broadcasts — the fact never shuffles for a dimension."""
    p = plan(Q.QUERIES["share_of_parent"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p


ROUND7C6_KEYS = [
    "target_encode_loo", "session_conversion", "hour_dow_heatmap",
    "col_entropy_profile", "quantile_normalize",
]
# 1-row scalar broadcast (global N for the quantile→index map)
ROUND7C6_SCALAR_NLJ_OK = {"quantile_normalize"}


def test_round7c6_shapes_stay_jvm_side(spark):
    for qkey in ROUND7C6_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: Python crossing"
        if qkey not in ROUND7C6_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: NLJ"


def test_round7c6_group_sums_broadcast(spark):
    """The tiny per-priority sum table must reach the fact as a
    broadcast in the LOO encoder."""
    p = plan(Q.QUERIES["target_encode_loo"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p


ROUND7C7_KEYS = [
    "lang_confusion", "heaps_curve", "xyz_class", "pareto_knee",
    "wilson_daily_error",
]
# 1-row scalar broadcasts (corpus size / span / totals)
ROUND7C7_SCALAR_NLJ_OK = {"heaps_curve", "xyz_class", "pareto_knee"}


def test_round7c7_shapes_stay_jvm_side(spark):
    for qkey in ROUND7C7_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: Python crossing"
        if qkey not in ROUND7C7_SCALAR_NLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: NLJ"


ROUND7C8_KEYS = [
    "returns_impact", "discount_bands", "clv_summary", "max_drawdown",
    "supply_risk",
]


def test_round7c8_shapes_stay_jvm_side(spark):
    """Cycle-8 additions: pure keyed aggregates and bounded-table
    windows — no Python crossing, no nested loop anywhere."""
    for qkey in ROUND7C8_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: Python crossing"
        assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: NLJ"


ROUND7C9_KEYS = [
    "orders_per_customer_hist", "price_dispersion",
    "part_introduction", "lines_per_order_trend",
    "region_share_trend",
]


def test_round7c9_shapes_stay_jvm_side(spark):
    """Cycle-9 additions: pure keyed aggregates plus bounded-table
    windows — no Python crossing, no nested loop anywhere."""
    for qkey in ROUND7C9_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: Python crossing"
        assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: NLJ"


def test_theil_sen_slope_rows_never_shuffled(spark):
    """r14 (VERDICT item 6 area): the ~3M-row pairwise-slope stream
    must never cross an exchange. The previous form range-partitioned
    every slope for the distributed rank; the two-pass band selection
    moves only (a) GK sketch partials and (b) (distinct band value,
    count) pairs — both hash AGGREGATE partials. Pin: no
    rangepartitioning exchange anywhere in the plan, and the band
    pass's approx_percentile is present (proof the pruner, not an
    exact single-reducer percentile over slopes, feeds selection).
    Value exactness is pinned by the numpy replay
    (test_round23_ops.test_theil_sen_numpy_replay, rel_tol 1e-9) and
    the DuckDB oracle hash."""
    p = plan(Q.QUERIES["theil_sen"](spark, SF_SMOKE))
    assert "Exchange rangepartitioning" not in p, p
    assert "approx_percentile" in p or "percentile_approx" in p, p


def test_prefix_sum_caller_qkeys_reuse_range_exchange(spark):
    """End-to-end gate over every registry caller of the prefix-sum
    machinery (VERDICT r6 ask #3): the executed plan of each Qkey
    must materialize exactly the expected number of range exchanges
    and wire every second consumer to a ReusedExchange."""
    for qkey, expect in PREFIX_SUM_CALLER_KEYS.items():
        try:
            assert_range_exchange_reused(
                Q.QUERIES[qkey](spark, SF_SMOKE), expect)
        except AssertionError as exc:
            raise AssertionError(f"{qkey}: {exc}") from exc
