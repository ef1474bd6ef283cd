"""Set operations: UNION / INTERSECT / EXCEPT (+ ALL variants).

Absent in the reference (SURVEY.md §2.6, [SPEC-HIGH]) — capability
extensions. ANSI bag/set semantics: ``union_distinct`` = UNION,
``intersect``/``except_`` are DISTINCT-set semantics like their SQL
namesakes, with ``*_all`` bag variants.
All compile to hash aggregates / shuffles on the full row tuple.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b).distinct()


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def intersect_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersectAll(b)


def except_(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set difference with DISTINCT semantics (ANSI EXCEPT)."""
    return a.subtract(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)
