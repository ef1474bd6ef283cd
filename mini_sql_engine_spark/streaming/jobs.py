"""True Structured Streaming wrappers for the event-window operators.

``stream_events`` replays the static events parquet as a file-source
stream; the window jobs reuse the *same* transformation functions as
the batch path (``event_windows``), which is the point: one logical
query, two execution modes. Watermarks bound state for late data.

Tested with ``trigger(availableNow=True)`` + memory sink (drain the
backlog once, then compare against the batch result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_sql_engine_spark.catalog import TABLE_SCHEMAS
from mini_sql_engine_spark.streaming import event_windows


def stream_events(spark: SparkSession, events_dir: str, max_files: int = 1) -> DataFrame:
    """File-source stream over an events parquet directory (schema from
    the catalog — streaming sources require explicit schemas)."""
    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", max_files)
        .parquet(events_dir)
    )
    # watermarks require TIMESTAMP (with local tz); session tz is UTC so
    # the wall-clock values are unchanged
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_tumbling_counts(
    events: DataFrame, duration: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling window counts with a watermark: state for windows older
    than (max event time − watermark) is finalized and evicted; events
    arriving later than that are dropped — the documented late-data
    policy (SURVEY.md §2.9)."""
    return event_windows.tumbling_counts(
        events.withWatermark("ts", watermark), duration
    )


def streaming_sliding_counts(
    events: DataFrame, duration: str = "1 day", slide: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding window counts on a stream. Each event updates
    duration/slide open windows, so state per key is that factor
    larger than tumbling — the watermark is what keeps it bounded:
    a window's state is finalized and evicted once the watermark
    passes its END, even though later windows still overlap its
    events' timestamps."""
    return event_windows.sliding_counts(
        events.withWatermark("ts", watermark), duration, slide
    )


def streaming_session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    return event_windows.session_counts(
        events.withWatermark("ts", watermark), gap
    )


def run_to_memory(spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink
    and return the materialized result as a batch DataFrame."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
