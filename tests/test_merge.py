"""Incremental maintenance operators (merge/diff): hand-checked tiny
cases, DuckDB cross-engine pins on the real tables, and the CDC roundtrip
identity merge_upsert(old, snapshot_diff(old, new)) == new."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.operators.merge import (
    merge_upsert,
    snapshot_diff,
)
from mapreduce_stockheadlines_spark.plans.catalog import table


def _tiny_target(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
    )


def test_merge_upsert_update_insert_delete(spark):
    target = _tiny_target(spark)
    source = spark.createDataFrame(
        [(2, "B", 200, False), (4, "d", 40, False), (3, "c", 30, True)],
        ["k", "name", "v", "is_delete"],
    )
    out = merge_upsert(target, source, ["k"], delete_col="is_delete")
    assert out.columns == ["k", "name", "v"]
    rows = {r.k: (r.name, r.v) for r in out.collect()}
    assert rows == {1: ("a", 10), 2: ("B", 200), 4: ("d", 40)}


def test_merge_upsert_without_delete_col(spark):
    target = _tiny_target(spark)
    source = spark.createDataFrame([(1, None, 11), (9, "z", 90)], ["k", "name", "v"])
    rows = {r.k: (r.name, r.v) for r in merge_upsert(target, source, ["k"]).collect()}
    # matched row takes source values INCLUDING its nulls (MERGE update, not coalesce)
    assert rows == {1: (None, 11), 2: ("b", 20), 3: ("c", 30), 9: ("z", 90)}


def test_merge_upsert_vs_duckdb_oracle(spark, sf_dir):
    """Cross-engine pin on the real customer table with a derived delta:
    the oracle states MERGE as anti-join-survivors UNION non-delete delta
    rows — a *different* formulation than the engine's full-outer join."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    delta = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.concat(F.lit("UPD-"), "c_name").alias("c_name"),
        F.lit("DELTA").alias("c_mktsegment"),
        (F.col("c_acctbal") + 1).alias("c_acctbal"),
        (F.col("c_custkey") % 13 == 0).alias("is_delete"),
    )
    inserts = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        "c_name",
        F.lit("NEW").alias("c_mktsegment"),
        "c_acctbal",
        F.lit(False).alias("is_delete"),
    )
    out = merge_upsert(cust, delta.unionByName(inserts), ["c_custkey"], "is_delete")
    got = sorted(tuple(r) for r in out.collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{sf_dir}/customer.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            WITH delta AS (
              SELECT c_custkey, 'UPD-' || c_name AS c_name, 'DELTA' AS c_mktsegment,
                     c_acctbal + 1 AS c_acctbal, c_custkey % 13 = 0 AS is_delete
              FROM customer WHERE c_custkey % 7 = 0
              UNION ALL
              SELECT c_custkey + 1000000, c_name, 'NEW', c_acctbal, false
              FROM customer WHERE c_custkey % 11 = 0)
            SELECT t.c_custkey, t.c_name, t.c_mktsegment, t.c_acctbal
            FROM customer t ANTI JOIN delta s ON t.c_custkey = s.c_custkey
            UNION ALL
            SELECT c_custkey, c_name, c_mktsegment, c_acctbal
            FROM delta WHERE NOT is_delete
            """
        ).fetchall()
    )
    assert got == want


def test_snapshot_diff_hand_values(spark):
    old = _tiny_target(spark)
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)], ["k", "name", "v"]
    )
    out = snapshot_diff(old, new, ["k"])
    rows = {r.k: (r.change, r.old_name, r.new_name) for r in out.collect()}
    # k=1 unchanged → absent; k=2 updated; k=3 deleted; k=4 inserted
    assert rows == {2: ("U", "b", "B"), 3: ("D", "c", None), 4: ("I", None, "d")}


def test_snapshot_diff_null_safe_unchanged(spark):
    old = spark.createDataFrame([(1, None)], "k int, v string")
    new = spark.createDataFrame([(1, None)], "k int, v string")
    assert snapshot_diff(old, new, ["k"]).count() == 0


def test_cdc_roundtrip_identity(spark, sf_dir):
    """merge_upsert(old, snapshot_diff(old, new)) reconstructs new exactly —
    the diff/apply pair is lossless on real data."""
    old = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    new = (
        old.filter(F.col("c_custkey") % 13 != 0)  # deletes
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 7 == 0, F.lit("CHANGED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .unionByName(
            old.filter(F.col("c_custkey") % 11 == 0).withColumn(
                "c_custkey", F.col("c_custkey") + 1_000_000
            )
        )
    )
    diff = snapshot_diff(old, new, ["c_custkey"])
    value_cols = ["c_name", "c_mktsegment", "c_acctbal"]
    delta = diff.select(
        "c_custkey",
        *[F.col(f"new_{c}").alias(c) for c in value_cols],
        (F.col("change") == "D").alias("is_delete"),
    )
    rebuilt = merge_upsert(old, delta, ["c_custkey"], delete_col="is_delete")
    got = sorted(tuple(r) for r in rebuilt.collect())
    want = sorted(tuple(r) for r in new.collect())
    assert got == want
