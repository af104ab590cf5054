"""Tests for skew salting: results identical to the plain operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.operators.skew import (
    salted_join,
    two_phase_count,
)


def _skewed_frames(spark):
    # one hot key ('hot' x 500) + a long tail
    rows = [(f"k{i}", i) for i in range(50)] + [("hot", i) for i in range(500)]
    left = spark.createDataFrame(rows, "key string, v int")
    right = spark.createDataFrame(
        [("hot", 1.0), ("k1", 2.0), ("k7", 3.0)], "key string, w double"
    )
    return left, right


def test_salted_join_matches_plain_join(spark):
    left, right = _skewed_frames(spark)
    plain = left.join(right, "key").select("key", "v", "w")
    salted = salted_join(left, right, "key", n_salt=4).select("key", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_left_outer_preserves_unmatched(spark):
    left, right = _skewed_frames(spark)
    out = salted_join(left, right, "key", n_salt=4, how="left")
    assert out.count() == left.count()
    # matched rows: 500 x 'hot' + 1 x 'k1' + 1 x 'k7' = 502
    assert out.filter(F.col("w").isNull()).count() == left.count() - 502


def test_two_phase_count_matches_groupby_count(spark):
    left, _ = _skewed_frames(spark)
    plain = {r.key: r["count"] for r in left.groupBy("key").count().collect()}
    two = {r.key: r["count"] for r in two_phase_count(left, "key", 4).collect()}
    assert plain == two
