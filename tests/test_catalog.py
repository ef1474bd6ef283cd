"""Catalog reads: the schema drift check, and the per-session,
per-file-version cache of resolved table frames that keeps query
builds free of footer-inference jobs and relation resolution."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mini_sql_engine_spark.catalog import Catalog


def _write_region(sf_dir, name_col: str = "r_name") -> None:
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array([0, 1, 2], pa.int32()),
            name_col: pa.array(["AFRICA", "AMERICA", "ASIA"]),
        }),
        os.path.join(sf_dir, "region.parquet"),
    )


def _job_ids(spark, group: str, fn) -> list[int]:
    """Spark job ids that ``fn()`` launched, read from the status
    tracker under a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_renamed_column_raises_naming_the_table(spark, tmp_path):
    _write_region(tmp_path, name_col="r_title")
    with pytest.raises(ValueError, match="'region'"):
        Catalog(spark, str(tmp_path)).table("region")


def test_file_rewritten_in_place_is_checked_again(spark, tmp_path):
    _write_region(tmp_path)
    assert Catalog(spark, str(tmp_path)).table("region").count() == 3
    _write_region(tmp_path, name_col="r_label")
    with pytest.raises(ValueError, match="'region'.*r_label"):
        Catalog(spark, str(tmp_path)).table("region")


def test_unchanged_file_is_read_without_spark_jobs(spark, tmp_path):
    _write_region(tmp_path)
    first = _job_ids(spark, "test_catalog-first",
                     lambda: Catalog(spark, str(tmp_path)).table("region"))
    assert first, "the first read infers the schema with a Spark job"
    again = _job_ids(spark, "test_catalog-again",
                     lambda: Catalog(spark, str(tmp_path)).table("region"))
    assert again == []
    df = Catalog(spark, str(tmp_path)).table("region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["AFRICA", "AMERICA", "ASIA"]


def test_unchanged_file_gives_one_session_the_same_frame(spark, tmp_path):
    _write_region(tmp_path)
    first = Catalog(spark, str(tmp_path)).table("region")
    assert Catalog(spark, str(tmp_path)).table("region") is first


def test_other_session_gets_a_frame_of_its_own(spark, tmp_path):
    _write_region(tmp_path)
    ours = Catalog(spark, str(tmp_path)).table("region")
    other = spark.newSession()
    theirs = Catalog(other, str(tmp_path)).table("region")
    assert theirs.sparkSession is other
    assert theirs.count() == 3
    # the other session's read replaced the entry; ours is read again
    again = Catalog(spark, str(tmp_path)).table("region")
    assert again.sparkSession is spark
    assert again is not ours and again.count() == 3


def test_nanosecond_timestamps_read_as_truncated_timestamp_ntz(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }),
        os.path.join(tmp_path, "events.parquet"),
        version="2.6",
    )
    want = [dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=n // 1000)
            for n in ns]
    # the first read infers the schema; the second reuses it
    for _ in range(2):
        df = Catalog(spark, str(tmp_path)).table("events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        got = sorted(r.ts for r in df.select("ts").collect())
        assert got == want
