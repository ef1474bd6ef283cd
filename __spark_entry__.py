"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship TPC-H-Q1-style pricing summary at sf0.001.
``queries()`` — every implemented Qkey from SURVEY.md §2 as
(spark, sf_dir) → DataFrame callables.
``oracle_sql()`` — DuckDB twins for every hash-checkable Qkey; keys
without a faithful SQL twin (approximate/hash-seeded/UDF-backed ops)
are omitted → rows-only check, with pytest numpy/python oracles in
``tests/`` (see mini_sql_engine_spark.oracles docstring for the list).

Build/execute contract of ``queries()``: some frames read executor-local
checkpoints, and every call of a ``queries()`` callable frees the
checkpoints of the previous call's frame. Build, execute and discard
one frame at a time; a frame executed after a later build fails with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` (never wrong rows). Callers that
must hold several built frames at once, or build from several threads,
set ``SPARK_GRAFT_KEEP_CHECKPOINTS=1`` and keep every checkpoint until
the session ends.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mini_sql_engine_spark.oracles import ORACLES
from mini_sql_engine_spark.queries import QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["group_agg"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
