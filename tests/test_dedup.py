"""Python/numpy oracles for the dedup tiers (rows-only Qkeys
dedup_near / dedup_simhash) + determinism properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_sql_engine_spark.catalog import Catalog
from mini_sql_engine_spark.pipeline import dedup as DD
from mini_sql_engine_spark.pipeline import graph as GR

from tests.conftest import SF_SMOKE


def py_shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


@pytest.fixture(scope="module")
def docs_local(spark):
    return {
        r.doc_id: r.text
        for r in Catalog(spark, SF_SMOKE).table("documents").collect()
    }


def test_ngram_jaccard_matches_python_oracle(spark, docs_local):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            Catalog(spark, SF_SMOKE).table("documents"), n=3, threshold=0.6
        ).collect()
    }
    expect = {}
    items = sorted(docs_local.items())
    sh = {d: py_shingles(t) for d, t in items}
    for i, (da, _) in enumerate(items):
        for db, _ in items[i + 1:]:
            a, b = sh[da], sh[db]
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if round(j, 6) >= 0.6:
                expect[(da, db)] = round(j, 6)
    assert got == expect


def test_minhash_lsh_recall_against_exact(spark, docs_local):
    """LSH candidates must recover most truly-similar pairs (J ≥ 0.8 →
    collision prob ≈ 95% per the 32/8 banding curve) and the candidate
    set must stay far below the quadratic pair count."""
    docs = Catalog(spark, SF_SMOKE).table("documents")
    cands = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_candidates(docs, n=3, num_hashes=32, bands=8).collect()
    }
    items = sorted(docs_local.items())
    sh = {d: py_shingles(t) for d, t in items}
    high = {
        (da, db)
        for i, (da, _) in enumerate(items)
        for db, _ in items[i + 1:]
        if sh[da] and sh[db]
        and len(sh[da] & sh[db]) / len(sh[da] | sh[db]) >= 0.8
    }
    if high:
        recall = len(high & cands) / len(high)
        assert recall >= 0.8, f"minhash recall {recall:.2f}"
    n = len(items)
    assert len(cands) < n * (n - 1) / 4, "candidate set should prune most pairs"


def test_minhash_deterministic(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents")
    s1 = {tuple(r) for r in DD.minhash_signatures_md5(docs).collect()}
    s2 = {tuple(r)
          for r in DD.minhash_signatures_md5(docs.repartition(7)).collect()}
    assert s1 == s2, "signatures must not depend on partitioning"


def test_simhash_properties(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents")
    fp = {r.doc_id: r.simhash for r in DD.simhash(docs).collect()}
    # deterministic across partitionings
    fp2 = {r.doc_id: r.simhash for r in DD.simhash(docs.repartition(5)).collect()}
    assert fp == fp2
    # identical text ⇒ identical fingerprint (token-bag property)
    dup = docs.limit(1).withColumn("doc_id", F.lit(999999))
    fp_dup = DD.simhash(docs.limit(1).union(dup)).collect()
    assert fp_dup[0].simhash == fp_dup[1].simhash


def test_exact_dedup_keeps_lowest_doc_id(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents").limit(3)
    clone = docs.withColumn("doc_id", F.col("doc_id") + 1000)
    out = DD.exact_dedup(docs.union(clone))
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == sorted(r.doc_id for r in docs.collect())


def test_hamming_pairs_self_distance_zero(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents").limit(5)
    clone = docs.withColumn("doc_id", F.col("doc_id") + 1000)
    pairs = DD.hamming_pairs(DD.simhash(docs.union(clone)), max_distance=0).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    expect = {(r.doc_id, r.doc_id + 1000) for r in docs.collect()}
    assert expect <= got


def test_clean_corpus_pipeline(spark):
    """End-to-end cleaning: stages compose, each monotonically shrinks
    the corpus, survivors contain no exact duplicates, and every text
    passes the quality gate."""
    from mini_sql_engine_spark.pipeline import clean

    docs = Catalog(spark, SF_SMOKE).table("documents")
    gated = clean.quality_gate(docs)
    cleaned = clean.clean_corpus(docs)
    n_docs, n_gated, n_clean = docs.count(), gated.count(), cleaned.count()
    assert n_docs >= n_gated >= n_clean > 0

    # no exact duplicate texts survive
    assert cleaned.select("text").distinct().count() == n_clean

    stats = clean.clean_stats(docs, cleaned).collect()[0]
    assert stats.n_input == n_docs
    assert stats.n_cleaned == n_clean
    assert stats.n_removed == n_docs - n_clean


def test_stratified_sample_rebalances_and_reproduces(spark):
    """sampleBy must (a) hit each stratum's fraction within Bernoulli
    tolerance, (b) keep unlisted strata whole via default_fraction=1,
    and (c) be bit-reproducible for a fixed seed."""
    from mini_sql_engine_spark.catalog import Catalog
    from mini_sql_engine_spark.pipeline.clean import stratified_sample

    from tests.conftest import SF_SMOKE

    docs = Catalog(spark, SF_SMOKE).table("documents")
    base = {r[0]: r[1] for r in docs.groupBy("lang").count().collect()}
    frac = {"en": 0.3}

    s1 = stratified_sample(docs, "lang", frac, seed=7)
    got = {r[0]: r[1] for r in s1.groupBy("lang").count().collect()}
    # downsampled stratum: within ~5 sigma of Binomial(n, 0.3)
    n_en = base["en"]
    sigma = (n_en * 0.3 * 0.7) ** 0.5
    assert abs(got["en"] - 0.3 * n_en) <= 5 * sigma, (got["en"], n_en)
    # unlisted strata kept whole
    for lang, n in base.items():
        if lang != "en":
            assert got.get(lang, 0) == n, lang
    # seeded reproducibility: identical row sets
    s2 = stratified_sample(docs, "lang", frac, seed=7)
    assert sorted(r.doc_id for r in s1.select("doc_id").collect()) == sorted(
        r.doc_id for r in s2.select("doc_id").collect()
    )


# ───────────── r13 optimization-round regression pins ─────────────


def test_spread_is_noop_when_already_parallel(spark):
    """plans.spread: a frame whose planned partition count already
    meets defaultParallelism must come back UNCHANGED (the 100 TB
    case — at scale the scan has thousands of splits and spread may
    not insert an exchange)."""
    from mini_sql_engine_spark.plans import spread

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, numPartitions=par + 4)
    assert spread(wide) is wide


def test_spread_floors_parallelism_of_small_scans(spark):
    """plans.spread: a one-split frame is repartitioned up to
    defaultParallelism, and the row set is unchanged."""
    from mini_sql_engine_spark.plans import spread

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, numPartitions=1)
    out = spread(narrow)
    assert out.rdd.getNumPartitions() == par
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_doc_shingles_distinct_without_dedup_exchange(spark):
    """r13 opt pin: _doc_shingles yields the DISTINCT (doc, shingle)
    pairs via the in-row array_distinct — same set the old
    explode+distinct produced, but the physical plan must not carry
    the (doc_id, shingle)-keyed dedup exchange anymore."""
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "x y z x y z"), (3, "a b")],
        "doc_id long, text string")
    ds = DD._doc_shingles(docs, 3)
    rows = [(r.doc_id, r.shingle) for r in ds.collect()]
    assert len(rows) == len(set(rows)), "pairs must be distinct"
    got = {d: {s for dd, s in rows if dd == d} for d in (1, 2, 3)}
    assert got[1] == py_shingles("a b c a b c a b c", 3)
    assert got[2] == py_shingles("x y z x y z", 3)
    assert got[3] == set()  # sub-shingle doc yields nothing
    plan = ds._sc._jvm.PythonSQLUtils.explainString(
        ds._jdf.queryExecution(), "formatted")
    assert "hashpartitioning(doc_id" not in plan, (
        "the old explode+distinct dedup exchange is back:\n" + plan)


def test_minhash_band_hashes_matches_hof_reference(spark):
    """r13 opt pin: the exploded-codegen band-hash kernel is
    bit-identical to the per-row HOF reference formulation (the
    pre-r13 shape, kept here as the executable spec)."""
    from mini_sql_engine_spark.functions.text import bind_once, shingles

    docs = Catalog(spark, SF_SMOKE).table("documents")
    num_hashes, bands = 32, 8
    r = num_hashes // bands

    sh = F.array_distinct(shingles("text", 3))

    def sigs(v):
        return F.when(
            F.size(v) > 0,
            F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.array_min(
                    F.transform(v, lambda s: F.xxhash64(s, i))),
            ),
        )

    ref = (
        docs.select("doc_id", bind_once(sh, sigs).alias("sig"))
        .select("doc_id", F.posexplode("sig").alias("seed", "minh"))
        .withColumn("band_id", (F.col("seed") / r).cast("int"))
        .groupBy("doc_id", "band_id")
        .agg(
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("seed", "minh"))),
                        lambda x: x["minh"].cast("string"),
                    ),
                )
            ).alias("band_hash")
        )
    )
    got = DD.minhash_band_hashes(docs, 3, num_hashes, bands)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_minhash_signatures_md5_matches_hof_reference(spark):
    """r13 opt pin: the exploded-codegen md5 signature kernel is
    bit-identical to the per-row HOF reference formulation."""
    from mini_sql_engine_spark.functions.text import bind_once, shingles

    docs = Catalog(spark, SF_SMOKE).table("documents")
    num_hashes = 8
    sh = F.array_distinct(shingles("text", 3))

    def sigs(v):
        return F.when(
            F.size(v) > 0,
            F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.array_min(
                    F.transform(
                        v,
                        lambda s: F.substring(
                            F.md5(
                                F.concat(i.cast("string"), F.lit(":"), s)
                                .cast("binary")),
                            1, 16,
                        ),
                    )
                ),
            ),
        )

    ref = (
        docs.select("doc_id", bind_once(sh, sigs).alias("sigs"))
        .select("doc_id", F.posexplode("sigs").alias("seed", "minhash"))
        .select("doc_id", F.col("seed").cast("long").alias("seed"),
                "minhash")
    )
    got = DD.minhash_signatures_md5(docs, n=3, num_hashes=num_hashes)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


# ───────────── r14 optimization-round regression pins ─────────────


def test_simhash_md5_chunks_matches_digit_vote_reference(spark):
    """r14 opt pin: the bit-packed two-lane vote kernel is
    bit-identical to the r13 per-digit 64-aggregate reference
    formulation (kept here as the executable spec)."""
    from mini_sql_engine_spark.functions.text import shingles

    docs = Catalog(spark, SF_SMOKE).table("documents")
    ex = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles("text", 3)))
        .alias("_s"),
    ).select("doc_id", F.md5(F.col("_s").cast("binary")).alias("_h"))

    def digit(pos):
        a = F.ascii(F.substring("_h", pos, 1))
        return F.when(a <= 57, a - 48).otherwise(a - 87)

    dig = ex.select(
        "doc_id", *[digit(p).alias(f"_d{p}") for p in range(1, 17)])
    aggs = []
    for j in range(64):
        pos, shift = j // 4 + 1, 3 - j % 4
        bit = (F.col(f"_d{pos}").bitwiseAND(1 << shift) != 0).cast("int")
        aggs.append(F.sum(bit * 2 - 1).alias(f"_v{j}"))
    votes = dig.groupBy("doc_id").agg(*aggs)
    cols = []
    for k in range(4):
        chunk = F.lit(0)
        for b in range(16):
            chunk = chunk + ((F.col(f"_v{k * 16 + b}") > 0).cast("long")
                             * (1 << (15 - b)))
        cols.append(chunk.alias(f"c{k}"))
    ref = votes.select("doc_id", *cols)

    got = DD.simhash_md5_chunks(docs, n=3)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_simhash_md5_chunks_plan_is_packed(spark):
    """r14 opt pin: the simhash vote aggregate carries the 32 packed
    two-lane sums (+count), not the 64 per-bit sums of the r13 form."""
    docs = Catalog(spark, SF_SMOKE).table("documents")
    df = DD.simhash_md5_chunks(docs, n=3)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "_a31" in plan, "packed lane aggregates missing:\n" + plan
    assert "_v63" not in plan, "r13 per-bit vote aggregates are back"
    assert "ascii(" not in plan, (
        "per-digit ascii decode is back in the row path")


def _persisted(spark) -> set[int]:
    """Ids of the RDDs the session holds persisted. Compared as id sets,
    not counts: Spark's persisted-RDD map holds weak references, so its
    size also drops whenever the JVM collects an earlier test's frames."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _checkpoint_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_materialized_checkpoints_released_on_new_generation(spark):
    """r14 opt pin (VERDICT r13 #2): localCheckpoint blocks from one
    query generation are unpersisted when the next generation starts,
    and a frame checkpointed in the CURRENT generation stays usable."""
    from mini_sql_engine_spark.plans import materialized, new_generation

    new_generation()  # flush anything earlier tests left behind
    base = _persisted(spark)
    ck = materialized(spark.range(100).selectExpr("id", "id * 2 AS v"))
    assert _persisted(spark) - base == {_checkpoint_id(ck)}
    assert ck.count() == 100  # usable within its generation
    new_generation()
    assert _checkpoint_id(ck) not in _persisted(spark)


def test_release_frees_only_the_target_checkpoint(spark):
    """r14 opt pin: plans.release frees exactly the named frame's
    blocks; sibling checkpoints of the same generation stay live."""
    from mini_sql_engine_spark.plans import (
        materialized, new_generation, release)

    new_generation()
    base = _persisted(spark)
    a = materialized(spark.range(50).selectExpr("id"))
    b = materialized(spark.range(60).selectExpr("id"))
    a_id, b_id = _checkpoint_id(a), _checkpoint_id(b)
    assert _persisted(spark) - base == {a_id, b_id}
    release(a)
    assert _persisted(spark) - base == {b_id}
    assert b.count() == 60  # sibling unharmed
    new_generation()
    assert not _persisted(spark) & {a_id, b_id}


def test_cc_loop_releases_per_round_state(spark):
    """r14 opt pin: connected_components frees the symmetric edge set
    and every superseded round's label checkpoint — only the returned
    labels' blocks stay live."""
    from mini_sql_engine_spark.plans import new_generation

    new_generation()
    base = _persisted(spark)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long")
    labels = GR.dedup_clusters(pairs)
    got = {(r.doc_id, r.cluster_rep) for r in labels.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}
    live = _persisted(spark) - base
    assert len(live) == 1, (
        "CC loop must keep only the final label checkpoint live")
    new_generation()
    assert not _persisted(spark) & live


def test_broken_checkpoint_tracking_warns_once(monkeypatch):
    """A checkpoint whose JVM plan cannot be read is not tracked, and
    says so: exactly one warning naming the site across two calls, and
    ``materialized`` still returns the checkpoint."""
    import warnings

    from py4j.protocol import Py4JError

    from mini_sql_engine_spark.plans import materialize as M

    class _BrokenPlan:
        def queryExecution(self):
            raise Py4JError("gateway gone")

    class _Frame:
        _jdf = _BrokenPlan()

        def localCheckpoint(self, eager):
            return self

    monkeypatch.setattr(M, "_WARNED", set())
    tracked = list(M._TRACKED)
    frame = _Frame()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert M.materialized(frame) is frame
        M._track(frame)
    assert [str(w.message).split(" failed")[0] for w in caught] == [
        "plans.materialize._track"]
    assert caught[0].category is RuntimeWarning
    assert M._TRACKED == tracked
