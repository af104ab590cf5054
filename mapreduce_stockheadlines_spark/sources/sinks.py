"""Sinks (SURVEY.md §2.1 O16).

The reference writes a single text part via TextOutputFormat from its single
reducer (/root/reference/src/StockCount.java:64,81). Engine default is
partitioned parquet; single-file text output exists only for golden parity
(explicit ``coalesce(1)`` — never the default at scale). Every sink
overwrites its target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str,
                  partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_text_single(df: DataFrame, path: str) -> None:
    """Golden-parity sink: one text file, one column. ``coalesce(1)`` is a
    deliberate scale anti-pattern confined to parity jobs."""
    df.coalesce(1).write.mode("overwrite").text(path)


def write_orc(df: DataFrame, path: str,
              partition_by: list[str] | None = None) -> None:
    """ORC sink with the same partition layout semantics as parquet."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: str,
    num_files: int | None = None,
) -> None:
    """Cluster-by-column parquet layout: range-repartition on the column,
    sort within each partition, write one file per partition.

    The point is DATA SKIPPING at read time: each output file covers a
    narrow, (near-)disjoint range of ``cluster_by``, so a pushed-down
    range/equality filter prunes whole files from the parquet footer
    min/max statistics before any IO — the cheap single-column cousin of
    Z-ordering, and the difference between scanning 100 TB and scanning
    one file for a selective predicate. (Range boundaries come from a
    sample sort; boundary values may straddle two files.)"""
    out = df.repartitionByRange(
        *( [num_files] if num_files is not None else [] ),
        cluster_by,
    ).sortWithinPartitions(cluster_by)
    out.write.mode("overwrite").parquet(path)


def write_parquet_partitioned_sized(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    files_per_partition: int = 1,
    key: str | None = None,
    sort_within: list | None = None,
) -> None:
    """Hive-partitioned parquet with a BOUNDED file count per partition
    directory.

    A plain ``partitionBy`` write emits one file per (task × directory)
    combination: with default parallelism every date directory of an
    events table gets up to ``shuffle.partitions`` small files: the
    small-file problem is created at write time. Pre-shuffling on
    (partition cols, split) routes each directory's rows to at most
    ``files_per_partition`` tasks, so every directory gets at most that
    many files in ONE write — no compaction
    pass needed afterwards.

    ``split`` is ``xxhash64(key) % files_per_partition`` — deterministic
    (retries/speculation write identical layouts, unlike a rand() salt);
    ``key`` defaults to the first non-partition column. With
    ``files_per_partition=1`` the split column is constant and skipped:
    the shuffle is on the partition columns alone.

    ``sort_within``: column expressions to sort each task's rows by
    before writing. The repartition destroys any upstream global order
    (rows land in shuffle-arrival order) — callers that just produced a
    deterministic order (``sampling.deterministic_shuffle``) must pass
    its sort key here or the written file order is neither that order
    nor stable across reruns.
    """
    from pyspark.sql import functions as F

    if files_per_partition < 1:
        raise ValueError("files_per_partition must be >= 1")
    part_cols = [F.col(c) for c in partition_by]
    if files_per_partition == 1:
        out = df.repartition(*part_cols)
    else:
        if key is None:
            non_part = [c for c in df.columns if c not in partition_by]
            if not non_part:
                raise ValueError(
                    "write_parquet_partitioned_sized: no non-partition "
                    "column to derive the split key from; pass key="
                )
            key = non_part[0]
        split = F.pmod(
            F.xxhash64(F.col(key)), F.lit(files_per_partition)
        ).alias("__split")
        out = df.withColumn("__split", split).repartition(
            *part_cols, F.col("__split")
        ).drop("__split")
    if sort_within:
        # partition columns lead the sort: the dynamic-partition writer
        # requires rows ordered by the partition columns and would
        # insert its OWN (unstable) sort otherwise, scrambling the
        # caller's order within each file
        out = out.sortWithinPartitions(*part_cols, *sort_within)
    out.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
