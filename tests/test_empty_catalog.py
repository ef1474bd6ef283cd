"""Qkeys over an empty catalog: a table with the catalog schema and no
rows must give the exact answer (an empty frame with the key's normal
output schema), never a Python-side crash in the build."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from mini_sql_engine_spark.queries import QUERIES

from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("qkey, table", [
    ("pagerank_iter", "documents"),  # divided by the page count
    ("sim_ivf", "embeddings"),       # normalized an empty training matrix
])
def test_key_over_empty_table_is_empty_with_normal_schema(spark, tmp_path, qkey, table):
    src = pq.read_table(os.path.join(SF_SMOKE, f"{table}.parquet"))
    pq.write_table(src.slice(0, 0), str(tmp_path / f"{table}.parquet"))

    out = QUERIES[qkey](spark, str(tmp_path))
    assert out.collect() == []
    assert out.schema == QUERIES[qkey](spark, SF_SMOKE).schema
