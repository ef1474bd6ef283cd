"""Relational operators, Spark-first.

Each module exposes pure functions DataFrame(s)-in → DataFrame-out,
so every operator composes and stays inside Catalyst's optimizer
space (predicate pushdown, column pruning, join selection are free —
SURVEY.md §4.2). Qkey bindings to the contract live in
``mini_sql_engine_spark.queries``.
"""

from mini_sql_engine_spark.operators import (  # noqa: F401
    aggregates,
    asof,
    joins,
    range_join,
    sets,
    skew,
    sorting,
    windows,
)
