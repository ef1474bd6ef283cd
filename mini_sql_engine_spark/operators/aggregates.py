"""Aggregations: scalar aggs, DISTINCT, GROUP BY, HAVING, rollup/cube.

Reference behavior (SURVEY.md §2.4): whole-table MAX/MIN/SUM/AVG/COUNT
over a single column via Python loops [SPEC-HIGH]; DISTINCT as a
set-of-tuples; GROUP BY dict accumulation in later spec variants
[SPEC-MED]. HAVING/rollup absent — ours are capability extensions.

Spark-first: ``groupBy().agg()`` compiles to a two-phase hash
aggregate (partial map-side combine → shuffle on group keys → final),
so a 100 TB aggregation moves only one partial row per (partition ×
group), not the data. Skewed group keys are handled by the partial
phase (each task pre-collapses its hot keys) — no salting needed for
algebraic aggs.

Exactness discipline: money-typed doubles (price columns) are summed
as DECIMAL(18,2) — Spark's decimal aggregation is exact, so results
are independent of partitioning/accumulation order. That makes
results reproducible run-to-run AND bit-identical to any other exact
engine (the DuckDB oracle) — a determinism property the 2-decimal
source data lets us have for free. Plain double sums are kept for
genuinely-continuous measures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def money(col: str | Column) -> Column:
    """Cast a 2-decimal money double to exact DECIMAL(18,2)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def exact_sum(col: str | Column, alias: str) -> Column:
    """Order-independent exact sum of a money column, surfaced as double."""
    return F.sum(money(col)).cast("double").alias(alias)


def group_agg(df: DataFrame, keys: list[str], *aggs: Column) -> DataFrame:
    """GROUP BY keys with arbitrary aggregate expressions."""
    return df.groupBy(*keys).agg(*aggs)


def having(grouped: DataFrame, predicate: Column) -> DataFrame:
    """HAVING = filter over the aggregated result (extension)."""
    return grouped.filter(predicate)


def grouped(df: DataFrame, keys: list[str]) -> GroupedData:
    return df.groupBy(*keys)
