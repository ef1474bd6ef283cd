"""ORDER BY / LIMIT / top-k.

Reference (SURVEY.md §2.5): ``list.sort()`` on the materialized result
[SPEC-MED]; LIMIT absent. Spark-first: ``orderBy`` is a range-
partitioned distributed sort (sampled range boundaries → shuffle →
per-partition sort); ``orderBy().limit(k)`` is planned as
``TakeOrderedAndProject`` — each partition keeps only its top-k, the
driver merges k·p rows — which is the only sane top-k at 100 TB.

Determinism: callers should include a unique tie-break key; a sort on
a non-unique key is only deterministic up to ties.

EXCHANGE-REUSE DEPENDENCY (ADVICE r5): the prefix-sum helpers below
reference their range-partitioned ``base`` from two subplans (the
local cumsum and the per-partition totals). ``repartitionByRange``
samples its boundaries with an RDD-id-dependent seed, so correctness
of the offsets requires both branches to observe the SAME boundaries
— which holds ONLY while Spark materializes the identical exchange
once and wires the second consumer to a ``ReusedExchange``. Reuse
fires when the two exchange subtrees canonicalize equal; column
pruning breaks that whenever the input carries columns beyond
(group, keys, value) — the totals branch prunes them, the scans
differ, and the two exchanges materialize separately with
independently sampled boundaries (provably wrong offsets once
partitions exceed the ~60-row boundary sample). The helpers
therefore rank a SKINNY projection (identical in both branches —
reuse guaranteed) and join the position back over the caller's
unique keys only when extra columns exist; the skinny fast path is
pinned by
``tests/test_plans.py::test_prefix_sum_range_exchange_computed_once``.
(An eager ``materialized()`` barrier would also work but writes the
full input to local disk — unacceptable for a fact-sized input at
scale.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _skinny_then_join(
    df: DataFrame, used: list[str], key_names: list[str],
    rank_fn, alias: str,
) -> DataFrame | None:
    """Route a wider-than-needed input through the skinny projection
    (see module docstring): rank only ``used`` columns — both
    exchange branches then scan the identical column set and Spark
    provably reuses the one sampled range exchange — and join the
    attached column back over the caller's keys (a total order by
    contract, hence unique; null-safe equality keeps NULL-keyed rows
    ranked the same way the window would). Returns None when the
    input is already skinny (zero-cost fast path applies). Only
    reachable with plain-string keys; Column-expression callers must
    pass a skinny frame (each helper's docstring says so)."""
    extra = [c for c in df.columns if c not in used]
    if not extra:
        return None
    skinny = rank_fn(df.select(*[c for c in df.columns if c in used]))
    r = skinny.select(
        *[F.col(n).alias(f"_rk_{n}") for n in key_names], F.col(alias))
    cond = None
    for n in key_names:
        c = df[n].eqNullSafe(F.col(f"_rk_{n}"))
        cond = c if cond is None else cond & c
    return df.join(r, cond).select(*df.columns, alias)


def with_rank(
    df: DataFrame, *keys: Column | str, alias: str = "pos",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a global 1-based position under a total order — scale
    plan, no single-task data funnel.

    An un-partitioned ``row_number`` window would range-exchange every
    row into ONE task; instead: (1) ``repartitionByRange`` on the sort
    keys (sampled boundaries, the same exchange a distributed ORDER BY
    uses), (2) per-range-partition ``row_number`` keyed by
    ``spark_partition_id`` — fully parallel, rows are already
    clustered, (3) global position = local position + the cumulative
    row count of all earlier range partitions. The offset cumsum runs
    over exactly ``num_partitions`` rows (one count per partition) —
    O(P), independent of data size — and is broadcast back, so the
    only remaining single-partition window touches ~32 rows at any
    scale. Deterministic whenever ``keys`` form a total order (callers
    add a unique tie-break, as the module docstring requires).
    """
    names = [k for k in keys if isinstance(k, str)]
    if len(names) == len(keys):  # wide frame → skinny + join-back
        routed = _skinny_then_join(
            df, names, names,
            lambda s: with_rank(s, *keys, alias=alias,
                                num_partitions=num_partitions),
            alias)
        if routed is not None:
            return routed
    else:
        # Column-expression keys bypass the skinny routing, so the
        # contract "pass a skinny frame" must HOLD, not be hoped for:
        # a wide frame's two exchange branches prune differently and
        # sample range boundaries independently — provably wrong
        # offsets past the boundary sample (caught live in
        # `decile_lift` by the round-8 ~sf1 cross-engine sweep).
        if len(df.columns) > len(keys):
            raise ValueError(
                f"with_rank: Column-expression keys require a skinny "
                f"frame (≤{len(keys)} cols), got {df.columns}; use "
                f"string keys or pre-project")
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    base = (
        df.repartitionByRange(parts, *cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("_pid").orderBy(*cols)
    s = base.withColumn("_local", F.row_number().over(w_local))
    # per-partition row counts off the shared exchange (ReusedExchange)
    counts = base.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    return (
        s.join(F.broadcast(offsets), "_pid")
        .withColumn(alias, (F.col("_local") + F.col("_off")).cast("int"))
        .select(*df.columns, alias)
    )


def with_running_total(
    df: DataFrame, value_col: str, *keys: Column | str, alias: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach an inclusive global running total of ``value_col`` under
    a total order — the distributed prefix-sum twin of ``with_rank``,
    same scale plan: range-partition on the sort keys, per-partition
    cumulative sum (parallel), then add each partition's exclusive
    prefix of per-partition totals (an O(P) single-partition window
    over ~32 rows, broadcast back). No data-size single-task stage.
    Deterministic whenever ``keys`` form a total order.
    """
    names = [k for k in keys if isinstance(k, str)]
    if len(names) == len(keys):  # wide frame → skinny + join-back
        routed = _skinny_then_join(
            df, names + [value_col], names,
            lambda s: with_running_total(
                s, value_col, *keys, alias=alias,
                num_partitions=num_partitions),
            alias)
        if routed is not None:
            return routed
    else:
        # same guard as with_rank: Column-key callers must be skinny
        # (value + keys), or the branches prune apart (wrong offsets)
        if len(df.columns) > len(keys) + 1:
            raise ValueError(
                f"with_running_total: Column-expression keys require "
                f"a skinny frame, got {df.columns}; use string keys "
                f"or pre-project")
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    base = (
        df.repartitionByRange(parts, *cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("_pid").orderBy(*cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = base.withColumn("_local", F.sum(value_col).over(w_local))
    totals = base.groupBy("_pid").agg(F.sum(value_col).alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    return (
        s.join(F.broadcast(offsets), "_pid")
        .withColumn(alias, F.col("_local") + F.col("_off"))
        .select(*df.columns, alias)
    )


def with_grouped_running_total(
    df: DataFrame, value_col: str, group_cols: list[str],
    *keys: Column | str, alias: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-GROUP inclusive running total under a total order within
    each group — ``with_running_total`` generalized so that a LOW-
    cardinality group column (return flag, region, label) does not
    collapse the sort into one task per group: a plain
    ``Window.partitionBy(group)`` cumsum gives each group exactly ONE
    sort task no matter how many executors exist (the 3-group fact
    table sorts on 3 cores at any scale — the 4.5× factor the 10×
    series showed for the window form).

    Plan: (1) ``repartitionByRange`` on (group, keys) — a group spans
    MANY partitions, each sorted slice parallel; (2) per-partition
    cumsum keyed by (partition id, group); (3) each (partition,
    group)'s exclusive prefix of earlier partitions' group totals —
    an O(P·spanning groups) table, broadcast back. For HIGH-
    cardinality groups each group fits inside one range partition and
    the offsets table degenerates to zeros (a plain grouped window is
    equally fine there); this operator earns its exchange when groups
    are few and huge.
    """
    names = [k for k in keys if isinstance(k, str)]
    if len(names) == len(keys):  # wide frame → skinny + join-back
        routed = _skinny_then_join(
            df, group_cols + names + [value_col],
            group_cols + names,
            lambda s: with_grouped_running_total(
                s, value_col, group_cols, *keys, alias=alias,
                num_partitions=num_partitions),
            alias)
        if routed is not None:
            return routed
    else:
        # same guard as with_rank: Column-key callers must be skinny
        if len(df.columns) > len(keys) + len(group_cols) + 1:
            raise ValueError(
                f"with_grouped_running_total: Column-expression keys "
                f"require a skinny frame, got {df.columns}; use "
                f"string keys or pre-project")
    gcols = [F.col(g) for g in group_cols]
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    base = (
        df.repartitionByRange(parts, *gcols, *cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("_pid", *group_cols).orderBy(
        *cols
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = base.withColumn("_local", F.sum(value_col).over(w_local))
    totals = base.groupBy("_pid", *group_cols).agg(
        F.sum(value_col).alias("_n"))
    w_off = Window.partitionBy(*group_cols).orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_pid", *group_cols, "_off")
    return (
        s.join(F.broadcast(offsets), ["_pid", *group_cols])
        .withColumn(alias, F.col("_local") + F.col("_off"))
        .select(*df.columns, alias)
    )
