"""Tumbling / sliding / session event-time windows over `events`.

All three are Spark built-ins (``F.window`` / ``F.session_window``)
and therefore identical in batch and streaming mode; watermarks only
change state eviction, not results, for in-order batch data.

Output discipline: window bounds are surfaced as formatted strings
(``yyyy-MM-dd HH:mm:ss``) so results hash identically across engines
regardless of timestamp-type plumbing.

Scale notes: windowed groupBy shuffles on (window, keys) — partial
aggregation applies; session windows additionally sort within user
partitions. Value sums are cast to DECIMAL(18,6) pre-aggregation:
exact, order-independent totals (see operators.aggregates docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _fmt(col):
    return F.date_format(col, TS_FMT)


def exact_value_sum(alias: str = "sum_value"):
    return F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(alias)


def tumbling_counts(events: DataFrame, duration: str = "1 day") -> DataFrame:
    """Tumbling (non-overlapping, epoch-aligned) windows per event_type."""
    return (
        events.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_value_sum())
        .select(
            _fmt(F.col("w.start")).alias("ws"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, duration: str = "1 day", slide: str = "6 hours"
) -> DataFrame:
    """Sliding windows: each event lands in duration/slide windows."""
    return (
        events.groupBy(F.window("ts", duration, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(_fmt(F.col("w.start")).alias("ws"), "event_type", "n_events")
    )


def user_ewma_expr(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-user FINAL EWMA as pure JVM expressions — no Python at all.

    The recurrence telescopes to a weighted sum,
    ``y_N = x₁·(1−α)^(N−1) + α·Σ_{i≥2} x_i·(1−α)^(N−i)``,
    which is only numerically safe in this direction: every exponent
    is ≥ 0, so far-past terms UNDERFLOW to zero (benign — their true
    contribution is below double precision) instead of overflowing
    the way the (1−α)^(−i) prefix-sum form does. One keyed window
    assigns (position, count) per user; the weighted sum is a hash
    aggregate over the SAME partitioning, so Catalyst reuses the
    exchange — one shuffle total, whole-stage codegen throughout.

    Results agree with the sequential recurrence to float tolerance
    (pow vs repeated multiplication re-associates; asserted in tests
    against a pandas ``ewm`` oracle).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    decay = F.lit(1.0 - alpha)
    base = events.select("user_id", "ts", "event_id", "value").withColumn(
        "_pos", F.row_number().over(w)
    ).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    )
    weight = F.pow(decay, F.col("_n") - F.col("_pos"))
    term = F.when(
        F.col("_pos") == 1, F.col("value") * F.pow(decay, F.col("_n") - 1)
    ).otherwise(F.lit(alpha) * F.col("value") * weight)
    return (
        base.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum(term), 6).alias("ewma_value"))
        .select("user_id", "n_events", "ewma_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: sessions close after ``gap`` idle.

    Spark semantics: an event at t extends the session to [.., t+gap);
    an event at exactly t+gap starts a new session. Equivalent to
    gaps-and-islands with a new island when ts − prev_ts ≥ gap (the
    oracle SQL uses that formulation).
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_value_sum())
        .select(
            "user_id",
            _fmt(F.col("w.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
