"""The SQL front door: Qkeys that run their oracle text through
``spark.sql`` over the catalog's temp views (``queries._sql_key``).

A warm build registers nothing and sends a handful of py4j commands;
the views follow the data (another sf dir, a rewritten file) and stay
per session. ``scripts/plan_diff.py`` is the tool that shows such a
key plans like the builder it replaced; its own checks are here too.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from mini_sql_engine_spark.catalog import TABLES, Catalog
from mini_sql_engine_spark.oracles import ORACLES
from mini_sql_engine_spark.queries import QUERIES
from tests.conftest import SF_CORRECTNESS, SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import plan_diff  # noqa: E402
from opt_probe import py4j_commands  # noqa: E402


@pytest.fixture
def view_binds(monkeypatch):
    """Counts the temp views created while the test runs."""
    calls: list[str] = []
    original = DataFrame.createOrReplaceTempView

    def counted(self, name):
        calls.append(name)
        return original(self, name)

    monkeypatch.setattr(DataFrame, "createOrReplaceTempView", counted)
    return calls


def _count(spark, table: str) -> int:
    return spark.sql(f"SELECT count(*) AS n FROM {table}").collect()[0].n


def test_warm_front_door_build_is_cheap_and_binds_no_view(spark, view_binds):
    for key in ("filter_and", "funnel_windowed", "set_union"):
        QUERIES[key](spark, SF_SMOKE)
        view_binds.clear()
        with py4j_commands(spark) as sent:
            QUERIES[key](spark, SF_SMOKE)
        assert sent[0] <= 8, (key, sent[0])
        assert view_binds == [], key


def test_cached_catalog_table_sends_no_py4j_command(spark):
    Catalog(spark, SF_SMOKE).table("lineitem")
    with py4j_commands(spark) as sent:
        Catalog(spark, SF_SMOKE).table("lineitem")
    assert sent[0] == 0


def test_switching_sf_dir_rebinds_the_views(spark, view_binds):
    small = QUERIES["filter_cmp"](spark, SF_SMOKE).count()
    view_binds.clear()
    large = QUERIES["filter_cmp"](spark, SF_CORRECTNESS).count()
    assert sorted(view_binds) == sorted(TABLES)
    lineitem = Catalog(spark, SF_CORRECTNESS).table("lineitem")
    assert large == lineitem.filter("l_quantity > 30").count() > small
    assert _count(spark, "lineitem") == lineitem.count()
    assert QUERIES["filter_cmp"](spark, SF_SMOKE).count() == small


def test_rewritten_parquet_file_rebinds_its_view(spark, tmp_path, view_binds):
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path)
    for t in TABLES:
        shutil.copy(os.path.join(SF_SMOKE, f"{t}.parquet"), sf_dir)
    before = QUERIES["filter_cmp"](spark, sf_dir).count()
    assert before > 0

    path = os.path.join(sf_dir, "lineitem.parquet")
    head = pq.read_table(path).slice(0, 50)
    pq.write_table(head, path)
    expected = sum(q > 30 for q in head.column("l_quantity").to_pylist())
    view_binds.clear()
    assert QUERIES["filter_cmp"](spark, sf_dir).count() == expected < before
    assert view_binds == ["lineitem"]


def test_new_session_gets_its_own_views(spark):
    QUERIES["filter_cmp"](spark, SF_SMOKE)
    other = spark.newSession()
    got = QUERIES["filter_cmp"](other, SF_CORRECTNESS).count()
    assert got == Catalog(other, SF_CORRECTNESS).table("lineitem") \
        .filter("l_quantity > 30").count()
    assert _count(other, "lineitem") \
        == Catalog(other, SF_CORRECTNESS).table("lineitem").count()
    assert _count(spark, "lineitem") \
        == Catalog(spark, SF_SMOKE).table("lineitem").count()
    # the new session's first Catalog set the defensive confs on it
    assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


PLAN_KEYS = ("filter_cmp", "set_union", "group_agg", "exists_subquery",
             "dedup_ngram")


def test_plan_diff_two_saves_agree(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    plan_diff.save(spark, SF_SMOKE, PLAN_KEYS, a)
    plan_diff.save(spark, SF_SMOKE, PLAN_KEYS, b)
    for key in PLAN_KEYS:
        with open(os.path.join(a, f"{key}.plan")) as fa, \
                open(os.path.join(b, f"{key}.plan")) as fb:
            text = fa.read()
            assert text == fb.read(), key
        assert "== optimized ==" in text and "== physical ==" in text
    with open(os.path.join(a, "dedup_ngram.plan")) as fh:
        assert "== barrier 1: optimized ==" in fh.read()
    assert plan_diff.against(spark, SF_SMOKE, PLAN_KEYS, a) == {}


def test_plan_diff_reports_a_one_line_change(spark, tmp_path):
    saved = str(tmp_path / "saved")
    plan_diff.save(spark, SF_SMOKE, PLAN_KEYS, saved)
    text = ORACLES["filter_cmp"].replace("l_quantity > 30", "l_quantity > 31")
    assert text != ORACLES["filter_cmp"]

    def changed(s, sf_dir):
        Catalog(s, sf_dir).register_all()
        return s.sql(text)

    queries = {**QUERIES, "filter_cmp": changed}
    diffs = plan_diff.against(spark, SF_SMOKE, PLAN_KEYS, saved, queries)
    assert list(diffs) == ["filter_cmp"]
    lines = diffs["filter_cmp"].splitlines()
    assert any(ln.startswith("-") and "30.0" in ln for ln in lines)
    assert any(ln.startswith("+") and "31.0" in ln for ln in lines)
