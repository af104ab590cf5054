"""Temporal join operators: as-of join and bounded-interval range join.

The reference has no joins at all beyond a broadcast anti-join
(/root/reference/src/WordCount.java:22-38 — SURVEY.md §2.2 'Absent'), and
Spark has no native ASOF/RANGE join operator either; both are built here
as compositions of shuffle-once DataFrame primitives (SURVEY.md §7.3):

- ``asof_join``: the union-and-fill construction. Both sides are unioned,
  partitioned by key and sorted by event time, and each left row picks up
  the most recent right row via ``last(..., ignorenulls=True)`` over a
  running frame. ONE hash shuffle on the key, no join explosion, no
  per-key driver loop — this is the plan that survives a 1000-executor
  scale-up (a naive t_r <= t_l theta-join is a quadratic blowup per key).
- ``range_join_bucketed``: point-in-interval join where intervals have a
  bounded maximum length. Intervals are replicated to the fixed-width
  time buckets they overlap (≤ ceil(max_len/bucket)+1 copies), points
  hash to exactly one bucket, and the match becomes a plain equi-join on
  (key, bucket) plus an exact residual filter — a shuffle-colocated hash
  join instead of a BroadcastNestedLoop/cartesian fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: dict[str, str] | None = None,
    strict: bool = False,
) -> DataFrame:
    """Backward as-of join: each left row gains the right row with the
    greatest ``right_ts`` <= ``left_ts`` (< when ``strict``) for the same
    ``key``; NULLs where no such row exists.

    ``right_cols`` maps right column -> output alias. The right side must
    be unique per (key, right_ts) — pre-deduplicate deterministically
    upstream if it is not (see q23's max-event_id pick).
    """
    right_cols = right_cols or {}
    out_aliases = list(right_cols.values())

    lhs = left.withColumn("_t", F.col(left_ts)).withColumn("_is_left", F.lit(1))
    rhs = right.select(
        F.col(key),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.col(src).alias(dst) for src, dst in right_cols.items()],
    )
    # align schemas: left gains null slots for the right's payload columns
    for dst in out_aliases:
        lhs = lhs.withColumn(dst, F.lit(None).cast(rhs.schema[dst].dataType))
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)

    # right rows sort before left rows at the same timestamp, so an equal
    # timestamp IS visible to the left row (inclusive as-of); strict mode
    # flips the tag order so equal timestamps are not yet visible.
    tag_order = F.asc("_is_left") if not strict else F.desc("_is_left")
    w = (
        Window.partitionBy(key)
        .orderBy(F.asc("_t"), tag_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned
    for dst in out_aliases:
        filled = filled.withColumn(dst, F.last(dst, ignorenulls=True).over(w))
    return filled.filter(F.col("_is_left") == 1).drop("_t", "_is_left")


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """Point-in-interval equi+range join: rows where
    ``start <= point < end`` and the keys match.

    Requires interval length <= ``bucket_seconds`` * k for small k (each
    interval is replicated to every bucket it overlaps via ``sequence`` +
    ``explode``); points belong to exactly one bucket. The physical plan
    is a hash shuffle on (key, bucket) — never a cartesian product.
    """
    b = F.lit(bucket_seconds).cast("long")
    p = points.withColumn(
        "_bucket", (F.unix_timestamp(F.col(point_col)).cast("long") / b).cast("long")
    )
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (F.unix_timestamp(F.col(start_col)).cast("long") / b).cast("long"),
                (F.unix_timestamp(F.col(end_col)).cast("long") / b).cast("long"),
            )
        ),
    )
    joined = p.join(iv, [key, "_bucket"]).filter(
        (F.col(point_col) >= F.col(start_col))
        & (F.col(point_col) < F.col(end_col))
    )
    return joined.drop("_bucket")
