"""Salted join — the manual fix for join-key skew.

A hot join key sends all its rows to one reducer; the stage finishes
when that one task does. AQE's skew-join splitting (enabled in
``session.py``) handles most sort-merge cases at runtime, but can't
help when the skewed side feeds a downstream keyed aggregation, when
the plan is forced away from SMJ, or on engines/versions without AQE.
Salting is the explicit version of the same idea: split each hot key
into ``n_salts`` synthetic sub-keys on the big side and replicate the
small side once per salt, trading |small|·n_salts extra rows for
n_salts-way parallelism on the hot key.

The salt on the big side is ``xxhash64`` of the whole row —
deterministic (same data → same plan → same result), no RNG in the
row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_PARTIAL_FINAL = {
    # op -> (partial aggregate, final re-aggregate over partials)
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_groupby(
    df: DataFrame,
    keys: list[str],
    specs: list[tuple[str, str, "F.Column | str"]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage keyed aggregation with an explicit salt between the
    stages: ``groupBy(keys + salt)`` partials, then ``groupBy(keys)``
    to merge — the classic fix for a hot group key.

    ``specs`` is ``[(alias, op, column)]`` with op ∈ sum/count/min/max
    (avg = caller-side sum/count, the decomposition every distributed
    engine uses). Results are exactly ``df.groupBy(keys).agg(...)``
    for these algebraic ops — proven by the ``group_agg_salted`` Qkey
    hash-matching ``group_agg``'s oracle.

    When to reach for this at 100 TB: Spark's hash aggregate already
    does map-side partial collapse, so a *plain* sum/count rarely needs
    salting — but the partial phase degrades exactly when a map task
    sees too many distinct (or one enormous) group and falls back to
    sort-based aggregation, and AQE cannot split a single group across
    reducers. The salt guarantees each reducer handles at most
    |groups|·n_salts/parallelism of any one key regardless of skew.
    """
    salt = F.pmod(F.xxhash64(F.struct(*df.columns)), F.lit(n_salts))
    partials, finals = [], []
    for alias, op, col in specs:
        p, f = _PARTIAL_FINAL[op]
        partials.append(p(col).alias(f"_p_{alias}"))
        finals.append(f(f"_p_{alias}").alias(alias))
    return (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*partials)
        .groupBy(*keys)
        .agg(*finals)
    )
