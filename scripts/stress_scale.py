"""Scale-up stress: run headline queries at sf0.1 and at a ~10x
synthetic blow-up (~sf1), and report the wall-clock scaling factor.

Usage: python scripts/stress_scale.py [--copies 10] [--out /tmp/sfscaled]

Why this exists: correctness is checked at sf0.01; the 100 TB question
is *how cost grows with data*. A healthy plan scales ~linearly in
input size (hash aggs, broadcast/SMJ joins, windows); anything
super-linear (a nested loop, a driver collect, a skew-collapsed
reducer) shows up immediately as a factor >> copies. The driver's
per-round bench stays at sf0.1; this script is the local evidence that
the plans survive a 10x and by extension informs the 10^6x story
(`session.cluster_conf` covers the cluster-sizing math).

The blow-up replicates each table ``copies`` times with all join keys
offset per copy — join fan-out and group cardinality scale with the
data (each copy is a disjoint key universe), exactly how a bigger
TPC-H SF behaves for these queries. Non-key attributes are left as-is.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from mini_sql_engine_spark.catalog import Catalog
from mini_sql_engine_spark.session import get_spark

# key columns per table: every *key gets copy_i * OFFSET added so each
# replica is a disjoint, join-consistent key universe
KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    # round 7: documents/embeddings join nothing else, so replicating
    # them with offset ids gives the text/vector Qkeys a real 10×
    # input too (the offset is ≡0 mod 10, preserving the vec_id%10
    # query-set residue the kNN keys select on); round 8 additionally
    # perturbs each copy's CONTENT (_perturb_copy) so the blow-up
    # models more data, not a 10×-duplicated corpus
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # round 11 (VERDICT r10 #7): the NATION dimension now scales with
    # the data — each copy gets its own 25-nation key universe (names
    # repeat; n_regionkey keeps pointing at the 5 fixed regions so
    # region joins stay consistent), and c_nationkey/s_nationkey are
    # offset to match.  The old fixed 25-key domain made every
    # nation-equality join's pair intermediate quadratic IN THE
    # NUMBER OF COPIES by construction (~6e11 rows for or_join_union
    # at 100x) — real corpora grow key domains with the data.
    "nation": ["n_nationkey"],
}
# region stays a fixed 5-row dimension: n_regionkey is never offset.
NO_OFFSET: set[str] = set()
OFFSET = 100_000_000

HEADLINE = ["group_agg", "q3_topk", "q5_local_suppliers", "equi_join",
            "latest_per_key", "top_k", "stats_agg", "exists_subquery"]

# 100x series (VERDICT r8 #2): the headline shapes measured at BOTH
# the 10x and the 100x blow-up — the 100x/10x factor is the direct
# evidence that each plan's cost is ~linear in data volume (factor
# ≈ 10) rather than super-linear, which is the property that decides
# whether it survives a 1000-executor 100 TB deployment.  The list is
# the verdict's ask plus the two worst ~sf1 fact-join scalers
# (join3, q13_cust_orders — VERDICT r8 #5) and the worst 10x-factor
# window shape (rolling_median — VERDICT r8 #6).
HEADLINE_100X = [
    "group_agg", "equi_join", "join3", "q3_topk", "q5_local_suppliers",
    "q13_cust_orders", "q21_waiting", "latest_per_key", "lsh_candidates",
    "dedup_cc", "quantile_normalize", "rolling_median", "seq_pack",
]


def _perturb_copy(table: str, df: DataFrame, i: int) -> DataFrame:
    """Make copy i>0 DISTINCT in content, not just in keys (round 8).

    Replicating documents/embeddings verbatim under offset ids gave
    every doc/vector 9 exact duplicates — cross-copy near-dup edges
    grew ~copies² (bucket-capped), so the dedup/CC keys measured a
    pathological duplicate-density shift, not data growth.  A real
    10× corpus is 10× more DISTINCT content, so:

    - documents: every token gets a per-copy prefix (``z3_token``
      via split/transform/rejoin — strictly bijective: base tokens
      contain no ``_`` and the text has no whitespace runs, so no
      inserted bare tokens and no cross-copy collisions; ADVICE r8
      flagged the old ``(^|\\s)`` regexp for both defects), so all
      within-copy shingle/Jaccard/MinHash structure is preserved
      exactly while cross-copy token overlap drops to zero;
    - embeddings: a deterministic per-(copy, dim) additive offset
      rotates each copy's vectors into its own region of the space —
      within-copy geometry is approximately preserved, cross-copy
      near-dup collapse is gone.

    Copy 0 is always the untouched base table."""
    if i == 0:
        return df
    if table == "documents":
        prefix = "z%d_" % i
        toks = F.filter(F.split(F.col("text"), r"\s+"),
                        lambda t: t != F.lit(""))
        return df.withColumn(
            "text",
            F.array_join(
                F.transform(toks,
                            lambda t: F.concat(F.lit(prefix), t)),
                " "))
    if table == "embeddings":
        return df.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, j: (
                    x.cast("double")
                    + F.sin(j.cast("double") * 2.399963
                            + F.lit(float(i))) * 0.1
                ).cast("float")))
    return df


def scale_table(df: DataFrame, table: str, keys: list[str],
                copies: int) -> DataFrame:
    out = None
    for i in range(copies):
        c = df
        for k in keys:
            if k not in NO_OFFSET:
                c = c.withColumn(k, F.col(k) + F.lit(i * OFFSET))
        c = _perturb_copy(table, c, i)
        out = c if out is None else out.unionByName(c)
    return out


def build(spark, src: str, dst: str, copies: int) -> None:
    cat = Catalog(spark, src)
    for t in ["region", "events"]:
        cat.table(t).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    for t, keys in KEYS.items():
        scale_table(cat.table(t), t, keys, copies).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")


def settle_jvm(spark) -> None:
    """Between-key JVM settle for the scale series (VERDICT r9 #3):
    heavy keys (the 60M-row CC family) leave heap/GC pressure that
    can inflate the NEXT key's reading ~5x (BENCH_SCALE100 r9 had to
    adjudicate rolling_median 17.2x -> isolated 4.15x by hand).
    Clearing the block-manager cache, forcing a full JVM GC, and
    running a trivial query means every timed key starts from a
    settled heap — so the committed artifact is trustworthy without
    manual isolated probes."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    spark.range(1).count()


def time_queries(spark, sf_dir: str, keys: list[str],
                 settle: bool = False) -> dict[str, float]:
    # min-of-N with bench.py's adaptive sub-second top-up (ADVICE r9:
    # min-of-2 left the 100x-factor DENOMINATORS — several of which
    # are sub-second at 10x — on a noisier floor than the bench keys)
    from bench import force, timed_min
    from mini_sql_engine_spark.queries import QUERIES

    out = {}
    for k in keys:
        if settle:
            settle_jvm(spark)
        out[k] = timed_min(lambda: force(QUERIES[k](spark, sf_dir)))
    return out


def ensure_built(spark, src: str, out: str, copies: int) -> None:
    # v5: nation-key domain scales with the copies (VERDICT r10 #7)
    marker = os.path.join(out, f".built_v5_{copies}")
    if not os.path.exists(marker):
        t0 = time.time()
        build(spark, src, out, copies)
        open(marker, "w").write("ok")
        print(f"built {copies}x data at {out} in {time.time()-t0:.1f}s",
              file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sfscaled")
    ap.add_argument("--series100", action="store_true",
                    help="time HEADLINE_100X at 10x AND 100x and report "
                         "the 100x/10x factor (VERDICT r8 #2)")
    ap.add_argument("--out100", default="/tmp/sfscaled100")
    ap.add_argument("--keys", default=None,
                    help="comma-separated Qkey override for --series100")
    args = ap.parse_args()

    spark = get_spark(app_name="stress-scale")

    if args.series100:
        keys = args.keys.split(",") if args.keys else HEADLINE_100X
        ensure_built(spark, args.src, args.out, 10)
        ensure_built(spark, args.src, args.out100, 100)
        t10 = time_queries(spark, args.out, keys, settle=True)
        t100 = time_queries(spark, args.out100, keys, settle=True)
        factors = {k: round(t100[k] / max(t10[k], 1e-3), 2) for k in keys}
        # auto-rerun rule (VERDICT r9 #3): any key whose factor exceeds
        # 2x the series median is re-measured at both decades after a
        # fresh settle; the re-measured numbers replace the in-series
        # reading (min of the two samples) and the rerun is recorded —
        # the committed artifact needs no manual isolated probes.
        med = sorted(factors.values())[len(factors) // 2]
        flagged = [k for k in keys if factors[k] > 2 * max(med, 1.0)]
        reruns = {}
        for k in flagged:
            r10 = time_queries(spark, args.out, [k], settle=True)[k]
            r100 = time_queries(spark, args.out100, [k], settle=True)[k]
            reruns[k] = {"t10_sec": r10, "t100_sec": r100,
                         "in_series_factor": factors[k]}
            t10[k] = min(t10[k], r10)
            t100[k] = min(t100[k], r100)
            factors[k] = round(t100[k] / max(t10[k], 1e-3), 2)
        print(json.dumps({
            "mode": "series100",
            "t10_sec": t10,
            "t100_sec": t100,
            "factor_100x_over_10x": factors,
            "median_factor": med,
            "auto_rerun": reruns,
        }))
        return 0

    ensure_built(spark, args.src, args.out, args.copies)
    base = time_queries(spark, args.src, HEADLINE)
    big = time_queries(spark, args.out, HEADLINE)
    factors = {k: round(big[k] / max(base[k], 1e-3), 2) for k in HEADLINE}
    print(json.dumps({
        "copies": args.copies,
        "base_sec": base,
        "scaled_sec": big,
        "scale_factor": factors,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
