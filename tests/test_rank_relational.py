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


def test_assign_global_ids_dense_and_bucket_invariant(spark, sf_dir):
    """Ids are a dense 0..n-1 bijection, deterministic across reruns, and
    INVARIANT to the bucket count (the top-bits bucketing preserves
    global unsigned-hash order) — the property that makes the operator a
    drop-in for a global row_number without its single-task sort."""
    from mapreduce_stockheadlines_spark.operators.rank import assign_global_ids
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    a = assign_global_ids(docs, "doc_id", bucket_bits=3)
    ids = sorted(r.global_id for r in a.collect())
    assert ids == list(range(n))  # dense bijection
    b = {r.doc_id: r.global_id
         for r in assign_global_ids(docs, "doc_id", bucket_bits=7).collect()}
    assert {r.doc_id: r.global_id for r in a.collect()} == b  # bucket-invariant


def test_assign_global_ids_no_single_partition_sort(spark, sf_dir):
    """The plan must shuffle on the bucket hash — never funnel the corpus
    into a SinglePartition exchange the way a global-order Window does."""
    import io
    from contextlib import redirect_stdout

    from mapreduce_stockheadlines_spark.operators.rank import assign_global_ids
    from mapreduce_stockheadlines_spark.plans.catalog import table

    df = assign_global_ids(
        table(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "hashpartitioning(_bucket" in plan
    assert "SinglePartition" not in plan

    from mapreduce_stockheadlines_spark.operators.rank import assign_global_ids as g
    import pytest

    with pytest.raises(ValueError, match="bucket_bits"):
        g(table(spark, sf_dir, "documents"), "doc_id", bucket_bits=0)
    # ADVICE r4: the per-bucket counts are driver-collected, so the bit
    # width caps at 20 (1M offset rows) instead of the old 30 (~1B)
    with pytest.raises(ValueError, match="bucket_bits"):
        g(table(spark, sf_dir, "documents"), "doc_id", bucket_bits=21)


def test_assign_global_ids_portable_mode_duckdb_pin(spark, sf_dir):
    """hash_mode='portable' ids hash-verified cross-engine: DuckDB
    re-derives them as a PLAIN GLOBAL SORT on md5(CAST(key AS VARCHAR))
    — an independent formulation that checks the whole bucket/offset
    construction, including the cumulative-offset arithmetic. Also
    pinned: portable ids are bucket-count-invariant, same as native."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.rank import assign_global_ids
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id")
    got = {
        r.doc_id: r.global_id
        for r in assign_global_ids(
            docs, "doc_id", bucket_bits=5, hash_mode="portable"
        ).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.sql(
            f"""
            SELECT doc_id,
                   row_number() OVER (
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
            FROM read_parquet('{sf_dir}/documents.parquet')
            """
        ).fetchall()
    )
    assert got == want
    again = {
        r.doc_id: r.global_id
        for r in assign_global_ids(
            docs, "doc_id", bucket_bits=9, hash_mode="portable"
        ).collect()
    }
    assert again == want  # bucket-count-invariant

    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_mode"):
        assign_global_ids(docs, "doc_id", hash_mode="sha9000")
