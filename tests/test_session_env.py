"""Harness-environment robustness: the driver contract must work from
any working directory, even when the caller locates the repo only via
a runtime sys.path insert (Python workers inherit PYTHONPATH, not the
driver's sys.path — get_spark exports the repo root so worker-side
unpickling of pandas-UDF closures resolves the package)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as E
from mini_sql_engine_spark.session import get_spark
spark = get_spark(cpus=2)
spark.sparkContext.setLogLevel("ERROR")
# a pandas-UDF-backed query: workers must import the package themselves
n = E.queries()["multimodal_features"](spark, "/root/testdata/sf0.001").count()
assert n > 0, n
print("WORKER-IMPORT-OK")
"""


def test_contract_runs_from_foreign_cwd_without_pythonpath(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO)],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "WORKER-IMPORT-OK" in out.stdout, (out.stdout[-2000:],
                                              out.stderr[-2000:])


def test_session_warehouse_is_outside_the_checkout(spark):
    """A session must not create ``spark-warehouse/`` in the checkout:
    ``get_spark`` points the SQL warehouse under the system temp dir."""
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    repo = os.path.realpath(REPO)
    assert os.path.commonpath([os.path.realpath(wh), repo]) != repo, wh
