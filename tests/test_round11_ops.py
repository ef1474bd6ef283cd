"""Semantic tests for the §2.21 round-11 operators: lateral vs
window reference, EXISTS-inequality reference join, weighted-sample
determinism + stride accounting, leakage identity, dedup-eval
identities."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mini_sql_engine_spark import queries as Q
from mini_sql_engine_spark.catalog import Catalog

from tests.conftest import SF_SMOKE


def test_lateral_topn_equals_window_reference(spark):
    got = {(r["n_name"], r["c_custkey"]): r["c_acctbal"]
           for r in Q.QUERIES["lateral_topn"](spark, SF_SMOKE).collect()}
    cat = Catalog(spark, SF_SMOKE)
    c, n = cat.table("customer"), cat.table("nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), "c_custkey")
    want = {(r["n_name"], r["c_custkey"]): r["c_acctbal"]
            for r in c.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= 3)
            .join(n, c.c_nationkey == n.n_nationkey)
            .select("n_name", "c_custkey", "c_acctbal").collect()}
    assert got == want
    per_nation: dict = {}
    for (nm, _), _bal in got.items():
        per_nation[nm] = per_nation.get(nm, 0) + 1
    assert all(v <= 3 for v in per_nation.values())


def test_exists_ineq_residual_is_enforced(spark):
    got = {r["o_orderkey"] for r in Q.QUERIES["exists_ineq"](spark, SF_SMOKE).collect()}
    cat = Catalog(spark, SF_SMOKE)
    o, li = cat.table("orders"), cat.table("lineitem")
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .filter((F.col("l_quantity") > 45)
                 & (F.col("l_shipdate")
                    > F.date_add(F.col("o_orderdate"), 60))))
    want = {r["o_orderkey"] for r in j.select("o_orderkey")
            .distinct().collect()}
    assert got == want
    assert got  # non-vacuous


def test_weighted_sample_is_deterministic_and_stride_exact(spark):
    a = sorted(r["doc_id"]
               for r in Q.weighted_sample(spark, SF_SMOKE).collect())
    b = sorted(r["doc_id"]
               for r in Q.weighted_sample(spark, SF_SMOKE).collect())
    assert a == b and a
    docs = Catalog(spark, SF_SMOKE).table("documents")
    w = docs.agg(F.sum("n_chars")).collect()[0][0]
    stride = w // 20
    # number of selected docs == number of stride multiples crossed by
    # the cumulative walk, computed independently
    rows = docs.select(
        "doc_id", "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h")).collect()
    cum, crossings = 0, 0
    for r in sorted(rows, key=lambda r: (r["h"], r["doc_id"])):
        before = cum
        cum += r["n_chars"]
        if before // stride != cum // stride:
            crossings += 1
    assert len(a) == crossings
    # heavier docs are more likely in: the mean weight of selected
    # docs must exceed the corpus mean (Σ-proportional inclusion)
    sel_w = {r["doc_id"]: r["weight"]
             for r in Q.weighted_sample(spark, SF_SMOKE).collect()}
    mean_all = w / docs.count()
    assert sum(sel_w.values()) / len(sel_w) > mean_all


def test_time_split_leakage_identity(spark):
    row = Q.time_split_leakage(spark, SF_SMOKE).collect()[0]
    ev = Catalog(spark, SF_SMOKE).table("events")
    n_users = ev.select("user_id").distinct().count()
    n_events = ev.count()
    assert row["n_train_events"] + row["n_eval_events"] == n_events
    assert (row["n_train_users"] + row["n_eval_users"]
            - row["n_leaky_users"]) == n_users


def test_dedup_eval_identities_and_recall(spark):
    row = Q.dedup_eval(spark, SF_SMOKE).collect()[0]
    assert row["tp"] >= 0 and row["fp"] >= 0 and row["fn"] >= 0
    assert row["tp"] + row["fn"] > 0  # smoke corpus has true pairs
    assert 0.0 <= row["precision"] <= 1.0
    # banded 32/8 LSH on J>=0.6 truth: same bound as test_dedup
    assert row["recall"] >= 0.8


def test_dedup_eval_cap_bounds_the_universe(spark, monkeypatch):
    """VERDICT r8 #1: above DEDUP_EVAL_DOC_CAP the harness grades
    only the cap-many docs with the smallest md5(doc_id) — both the
    truth stage and the candidate stage see the SAME sampled
    universe, so the tp+fn ≡ |truth| identity holds on it and the
    harness's cost is independent of corpus size."""
    import hashlib

    from mini_sql_engine_spark.pipeline import dedup as DD
    from mini_sql_engine_spark.plans import materialized

    monkeypatch.setattr(Q, "DEDUP_EVAL_DOC_CAP", 100)
    row = Q.dedup_eval(spark, SF_SMOKE).collect()[0]
    # reference: exact-Jaccard truth on the expected 100-doc sample
    docs = Catalog(spark, SF_SMOKE).table("documents")
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    keep = set(sorted(
        ids, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
    )[:100])
    sample = docs.filter(F.col("doc_id").isin(keep))
    n_truth = materialized(DD.ngram_jaccard_pairs_capped(
        sample, n=3, threshold=0.6, max_df=1000
    ).select("doc_a", "doc_b")).count()
    assert row["tp"] + row["fn"] == n_truth
    assert 0.0 <= (row["precision"] or 0.0) <= 1.0
