"""Count → sort → rank → format pipeline (SURVEY.md §2.1 O10-O15).

The reference materializes every group in a single reducer's HashMap and
sorts in ``cleanup`` (/root/reference/src/StockCount.java:37-66,
WordCount.java:68-93) — its own README flags that as the scalability
bottleneck. Here:

- counting is ``groupBy().count()`` → partial (map-side combine) + final
  HashAggregate with spill — the combiner the reference discusses but never
  implements (WordCount.java:104);
- top-k is ``orderBy().limit()`` → ``TakeOrderedAndProject`` (per-partition
  heaps, no global sort);
- full ranked output sorts the *aggregated* table (cardinality = #distinct
  keys, orders of magnitude smaller than the input even at 100 TB), so the
  single-partition row_number window runs over thousands of rows, not
  billions.

Ties: the reference's rank order on equal counts is nondeterministic
(HashMap iteration, StockCount.java:54-58); the engine adds a ``key ASC``
tiebreaker — documented intentional divergence (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame


def count_by_key(df: DataFrame, key: str, count_col: str = "cnt") -> DataFrame:
    """O10+O11: hash-partition exchange + COUNT per key."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias(count_col))


def ranked(df: DataFrame, key: str, count_col: str = "cnt",
           rank_col: str = "rank", limit: int | None = None) -> DataFrame:
    """O12+O13(+O14): order by count desc (key asc tiebreak) and assign
    row_number ranks; optional top-k. Neither path funnels the full
    table through one task (round 5 — previously both did, documented
    as acceptable for aggregated tables; a token table at 100 TB is
    still billions of distinct keys, the reference's own single-reducer
    bottleneck shape):

    - ``limit`` set: top-k FIRST via orderBy+limit (compiles to
      TakeOrderedAndProject — per-partition heaps, no global sort, no
      window over the full table), then row_number over the k
      survivors — that window is bounded by ``limit``, not the data.
    - full output: ``bucketed_row_number`` with the same monotone
      (count-tier, key-prefix) bucketing vocabulary() uses — string
      keys sub-bucket the hot low-count tiers by first character
      (order-consistent: within one exact count the order IS key ASC);
      non-string keys bucket by count tier alone (hot exact-count tiers
      of a numeric-keyed table were already aggregated once, and a
      sub-bucket expression must be monotone in the key's own order).
    """
    if limit is not None:
        top = df.orderBy(F.desc(count_col), F.asc(key)).limit(limit)
        w = Window.orderBy(F.desc(count_col), F.asc(key))
        return top.withColumn(rank_col, F.row_number().over(w).cast("int"))
    cnt = F.col(count_col)
    tier = (
        F.when(cnt > 255, -F.floor(F.log2(cnt)))
        .otherwise(256 - cnt)
        .cast("int")
    )
    if isinstance(df.schema[key].dataType, T.StringType):
        sub = F.when(cnt > 255, F.lit("")).otherwise(F.substring(key, 1, 1))
    else:
        sub = F.lit("")
    b = df.withColumn("_rtier", tier).withColumn("_rsub", sub)
    out = bucketed_row_number(
        b, ["_rtier", "_rsub"], [cnt.desc(), F.col(key).asc()], rank_col
    ).drop("_rtier", "_rsub")
    return out.withColumn(rank_col, F.col(rank_col).cast("int"))


def count_rank_format(df: DataFrame, key: str, fmt: str = "%d: %s, %d",
                      limit: int | None = None) -> DataFrame:
    """Full O10-O15 pipeline with the reference's output line format
    ``"<rank>: <key>, <cnt>"`` (StockCount.java:63) /
    ``"<rank>: <word>"`` + count (WordCount.java:91)."""
    counted = count_by_key(df, key)
    r = ranked(counted, key, limit=limit)
    return r.select(
        F.format_string(fmt, F.col("rank"), F.col(key), F.col("cnt")).alias("line")
    )


def bucketed_row_number(
    df: DataFrame,
    bucket_cols: list[str],
    order_by: list,
    id_col: str,
) -> DataFrame:
    """1-based ``row_number`` over the global order ``(bucket_cols ASC,
    order_by)`` WITHOUT a SinglePartition exchange — the engine under
    ``relevance.vocabulary``.

    REQUIRES: the bucket tuple is a monotone PREFIX of the intended
    global order — every row of a lesser bucket sorts before every row
    of a greater bucket, and ``order_by`` resolves order within a
    bucket. Bucket columns must be simple orderable types (int/str):
    the per-bucket counts are collected (≤ 2^20 rows, enforced
    loudly) and cumulated driver-side in Spark's ASC order —
    NULLs first, then Python value order, which is Spark's for those
    types (strings compare by code point, as UTF-8 bytes do). The offset
    table is JVM-local (``LocalTableScan``, no Python worker) and joins
    back null-safely, so NULL-bucket rows keep their rows and ids; the
    heavy data moves exactly once (the bucket-hash exchange feeding the
    window).
    """
    counts = (
        df.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if len(counts) > 1 << 20:
        raise ValueError(
            f"bucketed_row_number: {len(counts)} distinct buckets exceeds "
            "2^20 — the offset table is driver-held; coarsen the bucket "
            "expression"
        )
    keyed = sorted(
        ((tuple(r[c] for c in bucket_cols), r["n"]) for r in counts),
        key=lambda kn: tuple((v is not None, v) for v in kn[0]),
    )
    rows = []
    running = 0
    for key, n in keyed:
        rows.append(key + (running,))
        running += n
    schema = T.StructType(
        list(df.select(*bucket_cols).schema)
        + [T.StructField("_offset", T.LongType(), False)]
    )
    offsets = F.broadcast(local_frame(df.sparkSession, rows, schema))
    w = Window.partitionBy(*bucket_cols).orderBy(*order_by)
    on = [df[c].eqNullSafe(offsets[c]) for c in bucket_cols]
    return (
        df.join(offsets, on)
        .drop(*[offsets[c] for c in bucket_cols])
        .withColumn(
            id_col,
            (F.col("_offset") + F.row_number().over(w)).cast("long"),
        )
        .drop("_offset")
    )
