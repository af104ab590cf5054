"""Unit/property tests for the rank pipeline (O10-O15), global id
assignment, and the set-operation semantics q12 relies on."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.operators.rank import (
    count_by_key,
    count_rank_format,
    ranked,
)


def test_count_by_key_sums_to_rowcount(spark):
    df = spark.createDataFrame([(k,) for k in "aabbbc"], ["k"])
    counted = count_by_key(df, "k")
    assert sum(r.cnt for r in counted.collect()) == df.count()


def test_ranked_is_permutation_with_tiebreak(spark):
    df = spark.createDataFrame(
        [("b", 3), ("a", 3), ("c", 5)], ["k", "cnt"]
    )
    rows = ranked(df, "k").orderBy("rank").collect()
    assert [r.rank for r in rows] == [1, 2, 3]
    # count desc first, then key ASC on ties (engine policy, SURVEY §7.4)
    assert [r.k for r in rows] == ["c", "a", "b"]


def test_count_rank_format_line(spark):
    df = spark.createDataFrame([("MS",)] * 3 + [("GS",)], ["stock"])
    lines = [r.line for r in count_rank_format(df, "stock").collect()]
    assert lines == ["1: MS, 3", "2: GS, 1"]


def test_bucketed_row_number_null_buckets_sort_first(spark):
    """NULL bucket keys take Spark's ASC position (NULLS FIRST) and keep
    their rows: ids equal a plain global ``row_number`` over
    ``(bucket ASC, order_by)``, for one and for two bucket columns."""
    from pyspark.sql import Window

    from mapreduce_stockheadlines_spark.operators.rank import (
        bucketed_row_number,
    )

    df = spark.range(40).select(
        F.col("id").alias("v"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.col("id") % 3).cast("int").alias("b"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.substring(F.lit("xyz"), (F.col("id") % 3 + 1).cast("int"), 1))
        .alias("s"),
    )
    order = [F.col("v").desc()]
    for cols in (["b"], ["b", "s"]):
        w = Window.orderBy(*[F.col(c).asc() for c in cols], *order)
        want = {r.v: r.rn for r in df.select(
            "v", F.row_number().over(w).alias("rn")).collect()}
        got = {r.v: r.rn for r in bucketed_row_number(
            df, cols, order, "rn").collect()}
        assert got == want, cols
    # keys sort NULL-first even when NULL is the only bucket
    only_null = df.filter(F.col("b").isNull())
    got = sorted(r.rn for r in bucketed_row_number(
        only_null, ["b"], order, "rn").collect())
    assert got == list(range(1, only_null.count() + 1))


def test_set_ops(spark):
    """q12's other two legs: UNION ALL keeps every row, INTERSECT is
    DISTINCT, and the multiset EXCEPT ALL removes one left copy per
    right copy."""
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], ["x"])
    b = spark.createDataFrame([(2,), (3,), (4,)], ["x"])
    assert a.unionByName(b).count() == 7
    assert sorted(r.x for r in a.intersect(b).collect()) == [2, 3]
    assert sorted(r.x for r in a.exceptAll(b).collect()) == [1, 2]


def test_except_semantics(spark):
    """SQL EXCEPT with a duplicated left row: the row must vanish
    entirely when it appears on the right — exceptAll(b).distinct()
    would keep it (left multiplicity 3 minus right 1 leaves survivors),
    which only coincides with EXCEPT when the left side is unique
    (round-1 q12 bug)."""
    a = spark.createDataFrame([(1,), (2,), (2,), (2,), (3,)], ["x"])
    b = spark.createDataFrame([(2,), (9,)], ["x"])
    assert sorted(r.x for r in a.subtract(b).collect()) == [1, 3]
    # the multiset variant, by contrast, keeps the surplus copies
    assert sorted(r.x for r in a.exceptAll(b).collect()) == [1, 2, 2, 3]
    # and the round-1 construction is demonstrably NOT set-EXCEPT here
    wrong = a.exceptAll(b.distinct()).distinct()
    assert sorted(r.x for r in wrong.collect()) == [1, 2, 3]
