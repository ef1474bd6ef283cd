"""Set operations: UNION / INTERSECT / EXCEPT (+ ALL variants).

Absent in the reference (SURVEY.md §2.6, [SPEC-HIGH]) — capability
extensions. ANSI bag/set semantics: ``intersect`` is DISTINCT-set
semantics like its SQL namesake, with ``*_all`` bag variants. UNION
and EXCEPT run as their SQL text (``queries._sql_key``).
All compile to hash aggregates / shuffles on the full row tuple.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def intersect_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersectAll(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)
