"""Round-6 surface: portable MinHash/LSH, incremental dedup,
cross-doc duplication score, embedding centroids/cosine kernel,
NOT-IN semantics, order gaps, ratio-to-report. Hash parity vs DuckDB
runs in test_oracle_parity; these tests pin operator semantics on
hand-built inputs and the plan shapes that make them viable at scale.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mini_sql_engine_spark import queries as Q
from mini_sql_engine_spark.pipeline.dedup import (
    dup_ngram_fraction,
    incremental_dedup,
    lsh_candidates_md5,
    minhash_signatures_md5,
)
from mini_sql_engine_spark.pipeline.similarity import (
    adjacent_cosine,
    label_centroids,
)

from tests.conftest import SF_SMOKE
from tests.test_plans import plan


# ───────────────────── portable MinHash / LSH ─────────────────────


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_identical_docs_have_identical_signatures(spark):
    d = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e f"),
                      (3, "x y z w v u")])
    sig = {(r["doc_id"], r["seed"]): r["minhash"]
           for r in minhash_signatures_md5(d).collect()}
    assert len(sig) == 24  # 3 docs × 8 seeds
    for s in range(8):
        assert sig[(1, s)] == sig[(2, s)]
    # different shingle sets must differ somewhere
    assert any(sig[(1, s)] != sig[(3, s)] for s in range(8))


def test_minhash_drops_docs_shorter_than_shingle(spark):
    d = _docs(spark, [(1, "only two"), (2, "a b c")])
    got = minhash_signatures_md5(d).select("doc_id").distinct().collect()
    assert {r["doc_id"] for r in got} == {2}


def test_minhash_is_order_insensitive_to_shingle_position(spark):
    """MinHash depends on the shingle SET: a rotated word order that
    preserves the shingle set keeps the signature; here we just pin
    that adding an unrelated tail changes some band but a full
    duplicate never does."""
    d = _docs(spark, [(1, "p q r s"), (2, "p q r s"),
                      (3, "p q r s t u v w x y z")])
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared_bands"]
             for r in lsh_candidates_md5(d).collect()}
    assert pairs[(1, 2)] == 4  # exact dup: all 4 bands agree
    # superset doc shares the common shingles; candidacy allowed but
    # never at full band agreement with probability ~1 given the
    # deterministic hash family — pin what's structural: (1,2) is the
    # only certain full-agreement pair
    for (a, b), n in pairs.items():
        if (a, b) != (1, 2):
            assert n <= 4


def test_lsh_unrelated_docs_are_not_candidates(spark):
    d = _docs(spark, [(1, "aa bb cc dd ee"), (2, "ff gg hh ii jj"),
                      (3, "kk ll mm nn oo")])
    assert lsh_candidates_md5(d).count() == 0


# ───────────────────── incremental dedup ─────────────────────


def test_incremental_dedup_semantics(spark):
    rows = [
        # corpus (doc_id % 5 != 0)
        (1, "seen before", "en"),
        (2, "corpus only", "en"),
        # batch (doc_id % 5 == 0)
        (5, "seen before", "en"),    # dup of corpus → dropped
        (10, "fresh text", "en"),    # unique → kept
        (15, "twin text", "de"),     # in-batch dup, min id → kept
        (20, "twin text", "de"),     # in-batch dup, later id → dropped
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r["doc_id"] for r in incremental_dedup(d).collect()}
    assert got == {10, 15}


# ───────────────────── cross-doc duplication ─────────────────────


def test_dup_ngram_fraction_bounds(spark):
    base = "w1 w2 w3 w4 w5 w6"
    d = _docs(spark, [(1, base), (2, base),          # full dup → 1.0
                      (3, "u1 u2 u3 u4 u5 u6"),       # unique → 0.0
                      (4, "a b")])                    # too short → absent
    got = {r["doc_id"]: (r["n_shingles"], r["dup_frac"])
           for r in dup_ngram_fraction(d).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == (2, 1.0)
    assert got[2] == (2, 1.0)
    assert got[3] == (2, 0.0)


# ───────────────────── embedding kernels ─────────────────────


def test_label_centroids_exact_mean(spark):
    d = spark.createDataFrame(
        [(1, [1.0, 3.0], 0), (2, [3.0, 5.0], 0), (3, [10.0, 20.0], 1)],
        ["vec_id", "embedding", "label"],
    )
    got = {(r["label"], r["dim"]): r["centroid"]
           for r in label_centroids(d).collect()}
    assert got == {(0, 0): 2.0, (0, 1): 4.0, (1, 0): 10.0, (1, 1): 20.0}


def test_adjacent_cosine_identical_and_orthogonal(spark):
    d = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 2.0])],
        ["vec_id", "embedding"],
    )
    got = {r["vec_id"]: r["cos_next"] for r in adjacent_cosine(d).collect()}
    assert got[1] == 1.0   # identical direction
    assert got[2] == 0.0   # orthogonal
    assert 2 not in (set(got) - {1, 2})


def test_adjacent_cosine_matches_numpy_on_testdata(spark):
    import numpy as np

    got = {r["vec_id"]: r["cos_next"]
           for r in Q.embed_cosine_adj(spark, SF_SMOKE).collect()}
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pydict()
    vecs = {i: np.asarray(v, dtype=np.float64)
            for i, v in zip(t["vec_id"], t["embedding"])}
    for vid, cos in list(got.items())[:25]:
        a, b = vecs[vid], vecs[vid + 1]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert math.isclose(cos, round(want, 4), abs_tol=1e-4), vid


# ───────────────────── SQL semantics ─────────────────────


def test_not_in_with_null_list_matches_nothing(spark):
    row = Q.QUERIES["not_in_nulls"](spark, SF_SMOKE).collect()[0]
    assert row["cnt_with_null"] == 0           # three-valued logic
    assert row["cnt_clean"] >= 0
    assert row["cnt_not_building"] > 0


def test_order_gaps_are_positive_and_counts_consistent(spark):
    rows = Q.order_gaps(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_gaps"] >= 1
        assert r["max_gap_days"] >= 0
        assert r["avg_gap_days"] <= r["max_gap_days"] + 1e-9


def test_share_of_total_sums_to_one(spark):
    rows = Q.share_of_total(spark, SF_SMOKE).collect()
    assert abs(sum(r["share_total"] for r in rows) - 1.0) < 1e-3
    by_region: dict[str, float] = {}
    for r in rows:
        by_region[r["region_name"]] = (
            by_region.get(r["region_name"], 0.0) + r["share_region"]
        )
    for region, s in by_region.items():
        assert abs(s - 1.0) < 1e-3, region


# ───────────────────── plan shapes (scale gates) ─────────────────────

ROUND6_KEYS = [
    "minhash_sig", "lsh_candidates", "embed_centroid",
    "embed_cosine_adj", "dup_ngram_frac", "incremental_dedup",
    "order_gaps", "share_of_total", "ts_funcs", "str_funcs2",
]


def test_round6_shapes_stay_jvm_side(spark):
    for qkey in ROUND6_KEYS:
        p = plan(Q.QUERIES[qkey](spark, SF_SMOKE))
        assert "BatchEvalPython" not in p, f"{qkey}: row-at-a-time UDF"
        assert "ArrowEvalPython" not in p, f"{qkey}: Python crossing"
        assert "BroadcastNestedLoopJoin" not in p, f"{qkey}: nested loop"
        assert "CartesianProduct" not in p, f"{qkey}: cartesian"


def test_minhash_sig_plan_is_one_partial_agg_exchange(spark):
    """r13 opt: the signature kernel moved from the shuffle-free
    per-row HOF form to exploded whole-stage codegen + per-doc min
    aggregates — face-off-measured 2× faster, exceptAll-verified
    bit-identical (tests/test_dedup.py pins the parity). The plan
    gate now pins the NEW invariant: the only keyed exchange is the
    doc_id partial-aggregate combine (map-side partials, ~num_hashes
    ·16 B per doc per task), plus at most `spread`'s round-robin
    parallelism floor — never a shuffle of exploded shingle rows
    (no collect_set / no (doc, shingle)-keyed dedup)."""
    p = plan(Q.minhash_sig(spark, SF_SMOKE))
    assert "collect_set" not in p, p
    assert "hashpartitioning(doc_id, shingle" not in p, p
    assert "partial_min" in p or "HashAggregate" in p, p
    # exactly one doc_id-keyed exchange (the partial-agg combine)
    assert p.count("hashpartitioning(doc_id") == 1, p


def test_incremental_dedup_corpus_side_projects_hash_only(spark):
    """The anti-join build side must carry ONLY the content hash —
    shipping text would make the 'keys-only' claim false at 100 TB."""
    p = plan(Q.incremental_dedup(spark, SF_SMOKE))
    assert "LeftAnti" in p, p


def test_not_in_nulls_plans_null_aware_anti_join(spark):
    """Catalyst must plan the NOT IN as a null-aware anti join (NAAJ
    hash variant), not a nested-loop."""
    p = plan(Q.QUERIES["not_in_nulls"](spark, SF_SMOKE))
    assert "LeftAnti" in p, p
