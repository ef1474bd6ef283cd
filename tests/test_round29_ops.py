"""Round-10 verification surface (VERDICT r9): the
`quantile_normalize_approx` at-scale swap needs its tolerance
certificate against the exact key, the oracle cap constants must stay
single-sourced (r9 #8), and the stream staging dir must track source
mtime/size (ADVICE r9)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from mini_sql_engine_spark import queries as Q

from tests.conftest import SF_CORRECTNESS


# ──────────────── quantile_normalize approx certificate ────────────────


def qn_error_stats(spark, sf_dir):
    """Per-row |qnorm_approx − qnorm_exact| without a row join: the
    synthetic lineitem's (l_orderkey, l_linenumber) is NOT unique, but
    within each (g, v) group both outputs are monotone in the shared
    within-group rank — so sorting each group's qnorm multiset aligns
    the rows positionally and zip_with yields the exact per-row
    errors. ≤150 groups (3 flags × 50 quantities), bounded state."""
    def packed(df, name):
        return df.groupBy("g", "v").agg(
            F.count(F.lit(1)).alias("n_" + name),
            F.sort_array(F.collect_list("qnorm_v")).alias(name))
    j = packed(Q.quantile_normalize(spark, sf_dir), "e").join(
        packed(Q.quantile_normalize_approx(spark, sf_dir), "a"),
        ["g", "v"], "full")
    return j.select(
        "n_e", "n_a",
        F.zip_with("e", "a", lambda x, y: F.abs(x - y)).alias("d")
    ).agg(
        F.sum(F.when(F.col("n_e") == F.col("n_a"), 0).otherwise(1))
        .alias("bad_groups"),
        F.max(F.array_max("d")).alias("max_abs_err"),
        (F.sum(F.aggregate("d", F.lit(0.0), lambda a, x: a + x))
         / F.sum("n_e")).alias("mean_abs_err"),
        F.sum("n_e").alias("rows"),
    ).first()


def test_quantile_normalize_approx_certificate(spark):
    """Against the exact key at sf0.01: the broadcast-grid swap must
    cover the identical row universe, stay within one adjacent order
    statistic of the exact target distribution (l_quantity's 50-value
    lattice ⇒ adjacent order statistics differ by ≤ 1.0), and be
    exact for almost all rows (mean |Δ| ≤ 0.05; measured 0.006 —
    grid quantization only touches rows that round across a value
    boundary)."""
    stats = qn_error_stats(spark, SF_CORRECTNESS)
    assert stats["bad_groups"] == 0  # same (g, v) row universe
    assert stats["max_abs_err"] <= 1.0
    assert stats["mean_abs_err"] <= 0.05


# ──────────────── oracle cap constants stay single-sourced ────────────────


def test_oracle_caps_not_hardcoded():
    """r8's ADVICE fix (interpolate KNN_QUERY_CAP into the oracles
    from the one shared constant) must not regress: oracles.py keeps
    the f-string interpolation sites and carries NO literal
    `LIMIT <cap-value>` clause that would silently diverge if the
    constant changes (VERDICT r9 #8)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(
        root, "mini_sql_engine_spark", "oracles.py")).read()
    code = "\n".join(ln for ln in src.splitlines()
                     if not ln.lstrip().startswith("#"))
    assert code.count("{KNN_QUERY_CAP}") >= 2
    assert not re.search(rf"LIMIT\s+{Q.KNN_QUERY_CAP}\b", code)
    # the queries-side constants exist and hold their documented values
    assert Q.KNN_QUERY_CAP == 128
    assert Q.DEDUP_EVAL_DOC_CAP == 5000


# ──────────────── stream staging tracks the source file ────────────────


def test_stream_events_stage_tracks_source_mtime(tmp_path):
    """A regenerated single-file events.parquet must get a FRESH
    staging dir (ADVICE r9: the old tag keyed only on sf_dir, so a
    rewritten source silently streamed the stale copy)."""
    sf = tmp_path / "sfx"
    sf.mkdir()
    src = sf / "events.parquet"
    src.write_bytes(b"v1-bytes")
    stage1 = Q._stream_events_dir(str(sf))
    assert open(os.path.join(stage1, "events.parquet"), "rb").read() \
        == b"v1-bytes"
    # regenerate with different size (and mtime) — must re-stage
    src.write_bytes(b"v2-bytes-longer")
    stage2 = Q._stream_events_dir(str(sf))
    assert stage2 != stage1
    assert open(os.path.join(stage2, "events.parquet"), "rb").read() \
        == b"v2-bytes-longer"
    # directory-shaped events tables stream in place, no staging
    d = tmp_path / "sfdir"
    (d / "events.parquet").mkdir(parents=True)
    assert Q._stream_events_dir(str(d)) == str(d / "events.parquet")
