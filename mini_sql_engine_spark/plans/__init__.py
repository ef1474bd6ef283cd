"""Plan-hygiene helpers: utilities that shape the physical plan
(materialization barriers, cross-join guards) without changing query
semantics. The plan-quality *gates* live in tests/test_plans.py; this
package holds the runtime counterparts."""

from mini_sql_engine_spark.plans.materialize import (
    materialized,
    new_generation,
    release,
    spread,
)

__all__ = [
    "materialized",
    "new_generation",
    "release",
    "spread",
]
