"""Structured Streaming parity: the same window transformations must
produce identical results via readStream+availableNow as in batch
(SURVEY.md §2.9 stretch — true streaming path)."""

from __future__ import annotations

import shutil

import pytest

from mini_sql_engine_spark.catalog import Catalog
from mini_sql_engine_spark.streaming import event_windows as EW
from mini_sql_engine_spark.streaming import jobs

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Re-write events as a multi-file parquet dir (µs timestamps) so the
    file-source stream replays it in several triggers."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    Catalog(spark, SF_SMOKE).table("events").repartition(4).write.mode(
        "overwrite"
    ).parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _batch_events(spark, events_stream_dir):
    return spark.read.parquet(events_stream_dir)


def test_streaming_tumbling_equals_batch(spark, events_stream_dir):
    stream = jobs.stream_events(spark, events_stream_dir, max_files=2)
    got = jobs.run_to_memory(
        spark, jobs.streaming_tumbling_counts(stream), "tumbling_mem"
    )
    expect = EW.tumbling_counts(_batch_events(spark, events_stream_dir))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))


def test_streaming_sliding_equals_batch(spark, events_stream_dir):
    """Overlapping windows drained via readStream+availableNow must
    emit exactly the batch result — each event counted in
    duration/slide windows, none double-emitted across triggers."""
    stream = jobs.stream_events(spark, events_stream_dir, max_files=2)
    got = jobs.run_to_memory(
        spark, jobs.streaming_sliding_counts(stream), "sliding_mem"
    )
    expect = EW.sliding_counts(_batch_events(spark, events_stream_dir))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))


def test_streaming_session_equals_batch(spark, events_stream_dir):
    stream = jobs.stream_events(spark, events_stream_dir, max_files=2)
    got = jobs.run_to_memory(
        spark, jobs.streaming_session_counts(stream), "session_mem"
    )
    expect = EW.session_counts(_batch_events(spark, events_stream_dir))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))


def test_user_ewma_matches_pandas_oracle(spark, events_stream_dir):
    """The telescoped expression form behind the ``user_ewma`` Qkey vs
    a driver-side pandas ``ewm`` oracle: equal counts, and values within
    1e-6 (the engine rounds to 6 places, and pow vs repeated
    multiplication re-associates)."""
    ev = _batch_events(spark, events_stream_dir)
    got = {r.user_id: (r.n_events, r.ewma_value)
           for r in EW.user_ewma_expr(ev, alpha=0.3).collect()}

    pdf = ev.select("user_id", "ts", "event_id", "value").toPandas()
    for uid, g in pdf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        exp = float(g["value"].ewm(alpha=0.3, adjust=False).mean().iloc[-1])
        n, val = got[uid]
        assert n == len(g), uid
        assert abs(val - exp) <= 1e-6, (uid, val, exp)
    assert len(got) == pdf["user_id"].nunique()


def test_watermark_drops_late_data(spark, tmp_path):
    """The documented late-data policy, pinned: once the watermark has
    passed a window's end and its state is evicted (the micro-batch
    after the watermark advances), the window is emitted exactly once
    and a later event for it is dropped -- no update, no duplicate row
    in the append sink."""
    import datetime as dt
    import time

    stream_dir = tmp_path / "late_stream"
    stream_dir.mkdir()
    schema = ("event_id long, ts timestamp_ntz, user_id long,"
              " event_type string, value double, props string")
    T = lambda s: dt.datetime.fromisoformat(s)

    def write_batch(rows, name):
        batch_dir = tmp_path / name
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(batch_dir))
        part = next(p for p in batch_dir.iterdir() if p.name.endswith(".parquet"))
        part.rename(stream_dir / f"{name}.parquet")

    # batch A: one day-1 event + one far-future event that advances the
    # watermark (to Jan 3 11:00) past day-1's window end (Jan 2 00:00)
    write_batch(
        [(1, T("2024-01-01 01:00"), 1, "click", 1.0, "{}"),
         (4, T("2024-01-03 12:00"), 3, "click", 1.0, "{}")],
        "batch_a",
    )
    time.sleep(1.2)  # FileStreamSource orders batches by mod time
    # batch B: any on-time event -- its commit finalizes + evicts the
    # day-1 window state (eviction is lazy: it happens the batch AFTER
    # the watermark advances)
    write_batch([(6, T("2024-01-03 13:00"), 3, "click", 1.0, "{}")], "batch_b")
    time.sleep(1.2)
    # batch C: a LATE day-1 event -- state is gone, watermark has
    # passed the window -> dropped
    write_batch([(5, T("2024-01-01 04:00"), 1, "click", 1.0, "{}")], "batch_c")

    # An append-mode sink: append emits a window once, when the
    # watermark finalizes it. ``run_to_memory``'s complete mode keeps
    # every window's state, so it neither drops the late event nor
    # holds back the open window.
    stream = jobs.stream_events(spark, str(stream_dir), max_files=1)
    q = (
        jobs.streaming_tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("late_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [tuple(r) for r in spark.table("late_mem").collect()]
    # day-1 window: exactly one row, only the on-time event counted;
    # the day-3 window is still open at stream end and must NOT appear
    assert got == [("2024-01-01 00:00:00", "click", 1, 1.0)]
