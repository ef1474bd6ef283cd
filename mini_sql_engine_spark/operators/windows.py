"""Window (analytic) functions: the shared window spec.

Absent in the reference (SURVEY.md §2.8, [SPEC-HIGH]) — capability
extensions, all Spark built-ins. A window = one shuffle on the
partition keys + per-partition sort; all functions over the same
(partitionBy, orderBy) share that single exchange, so callers build
one spec and add many columns over it.

Determinism: every ``orderBy`` here must reach a total order within
the partition (include a unique key) — ``row_number`` over ties is
otherwise partitioning-dependent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql.window import Window, WindowSpec


def spec(partition_by: list[str | Column], order_by: list[Column | str]) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(*order_by)
