"""Joins: cross, equi, outer/semi/anti.

Reference behavior (SURVEY.md §2.3, [SPEC-HIGH]): every multi-table
query is a nested-loop cartesian product materialized in memory, with
WHERE equality conditions applied afterwards. That is O(n·m) rows of
Python lists — infeasible beyond toy sizes.

Spark-first: we declare the join condition and let Catalyst's
``JoinSelection`` pick broadcast-hash / shuffled-hash / sort-merge,
with AQE re-planning at runtime. Equivalence point: Catalyst's
``ReorderJoin``/predicate pushdown recovers an equi-join from
``crossJoin(...).filter(a == b)`` exactly like the reference's
cartesian+filter, but executes it as a hash join.

Scale notes:
- ``equi_join(..., broadcast_right=True)`` pins the small side as a
  broadcast so a 100 TB fact ⋈ small dim never shuffles the fact.
- cross joins are guarded by an explicit opt-in: an unbounded cross
  join at 100 TB is an outage, not a query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cross_join(left: DataFrame, right: DataFrame, *, allow_large: bool = False) -> DataFrame:
    """Cartesian product (``FROM t1, t2`` with no join condition).

    Guarded: unless ``allow_large``, the optimized plan is checked and
    an estimated row product beyond ``plans.guard.DEFAULT_MAX_ROWS``
    raises — an unbounded cross join at 100 TB is an outage, not a
    query (SURVEY.md §4.2)."""
    out = left.crossJoin(right)
    if not allow_large:
        from mini_sql_engine_spark.plans.guard import check_cross_joins

        check_cross_joins(out)
    return out


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Column | list[str] | str,
    how: str = "inner",
    *,
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join. ``broadcast_right=True`` hints the right side into a
    broadcast-hash join (small dims: region/nation/supplier — see
    ``catalog.BROADCAST_TABLES``)."""
    r = F.broadcast(right) if broadcast_right else right
    if isinstance(on, str):
        on = [on]
    return left.join(r, on, how)


def semi_join(left: DataFrame, right: DataFrame, on: Column | list[str] | str) -> DataFrame:
    """EXISTS: rows of ``left`` with ≥1 match. Never duplicates rows and
    only ships join keys of the right side — cheaper than inner+distinct."""
    if isinstance(on, str):
        on = [on]
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Column | list[str] | str) -> DataFrame:
    """NOT EXISTS: rows of ``left`` with no match in ``right``."""
    if isinstance(on, str):
        on = [on]
    return left.join(right, on, "left_anti")
