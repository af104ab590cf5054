"""Unit tests for as-of and bucketed range joins (operators/temporal.py).

The reference has no joins beyond a broadcast anti-join (SURVEY.md §2.2);
these operators are Spark-composition implementations, so semantics are
pinned here on tiny literal frames: inclusive vs strict as-of, no-match
NULLs, interval boundary in/exclusion, intervals spanning buckets.
"""

from __future__ import annotations

from datetime import datetime

from mapreduce_stockheadlines_spark.operators.temporal import (
    asof_join,
    range_join_bucketed,
)


def _ts(minute: int) -> datetime:
    return datetime(2024, 1, 1, 0, minute, 0)


def _sides(spark):
    left = spark.createDataFrame(
        [(1, "u1", _ts(10)), (2, "u1", _ts(30)), (3, "u2", _ts(5)), (4, "u3", _ts(50))],
        "lid long, key string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u1", _ts(10), 100.0), ("u1", _ts(20), 200.0), ("u2", _ts(7), 300.0)],
        "key string, ts timestamp, val double",
    )
    return left, right


def test_asof_inclusive_picks_latest_at_or_before(spark):
    left, right = _sides(spark)
    out = {
        r.lid: r.v
        for r in asof_join(
            left, right, key="key", right_cols={"val": "v"}
        ).collect()
    }
    assert out[1] == 100.0  # equal timestamp IS visible (inclusive)
    assert out[2] == 200.0  # latest of the two earlier rights
    assert out[3] is None  # right row is later than the left point
    assert out[4] is None  # key with no right rows at all


def test_asof_strict_excludes_equal_timestamp(spark):
    left, right = _sides(spark)
    out = {
        r.lid: r.v
        for r in asof_join(
            left, right, key="key", right_cols={"val": "v"}, strict=True
        ).collect()
    }
    assert out[1] is None  # equal timestamp no longer visible
    assert out[2] == 200.0


def test_asof_preserves_left_rowcount_and_columns(spark):
    left, right = _sides(spark)
    joined = asof_join(left, right, key="key", right_cols={"val": "v"})
    assert joined.count() == left.count()
    assert set(joined.columns) == {"lid", "key", "ts", "v"}


def test_range_join_boundaries_and_bucket_spanning(spark):
    points = spark.createDataFrame(
        [(1, "u", _ts(0)), (2, "u", _ts(10)), (3, "u", _ts(29)), (4, "u", _ts(30))],
        "pid long, key string, pt timestamp",
    )
    intervals = spark.createDataFrame(
        [(100, "u", _ts(0), _ts(30))],
        "iid long, key string, st timestamp, en timestamp",
    )
    # bucket (60 s) much smaller than the interval → spans 31 buckets
    got = sorted(
        r.pid
        for r in range_join_bucketed(
            points, intervals, "key", "pt", "st", "en", bucket_seconds=60
        ).collect()
    )
    assert got == [1, 2, 3]  # start inclusive, end exclusive


def test_range_join_respects_key(spark):
    points = spark.createDataFrame(
        [(1, "a", _ts(5)), (2, "b", _ts(5))], "pid long, key string, pt timestamp"
    )
    intervals = spark.createDataFrame(
        [(100, "a", _ts(0), _ts(10))],
        "iid long, key string, st timestamp, en timestamp",
    )
    rows = range_join_bucketed(
        points, intervals, "key", "pt", "st", "en", bucket_seconds=600
    ).collect()
    assert [r.pid for r in rows] == [1]
