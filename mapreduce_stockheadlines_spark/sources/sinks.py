"""Sinks (SURVEY.md §2.1 O16).

The reference writes a single text part via TextOutputFormat from its single
reducer (/root/reference/src/StockCount.java:64,81). Engine default is
partitioned parquet; single-file text output exists only for golden parity
(explicit ``coalesce(1)`` — never the default at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_text_single(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Golden-parity sink: one text file, one column. ``coalesce(1)`` is a
    deliberate scale anti-pattern confined to parity jobs."""
    df.coalesce(1).write.mode(mode).text(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    """ORC sink with the same partition layout semantics as parquet."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 256,
    shuffle: bool = False,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_mb)`` files and return that count.

    Streaming sinks, partitioned writes and incremental merges all leave
    behind file counts that grow without bound; at 100 TB the resulting
    listing/open overhead (and the one-task-per-tiny-split scheduling
    tax) dominates scan time, so periodic compaction is table-stakes
    maintenance. Sizing reads the directory's byte total from the
    filesystem (Hadoop ``getContentSummary`` — works on HDFS/S3A/local
    alike), never by scanning the data.

    ``shuffle=False`` (default) uses ``coalesce`` — a narrow, shuffle-
    free merge of input splits into output tasks, the cheapest rewrite;
    output sizes mirror input distribution, so with pathologically
    skewed input files pass ``shuffle=True`` for an even round-robin
    ``repartition`` at the cost of one full shuffle."""
    import math

    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(src_path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    out = df.repartition(n_files) if shuffle else df.coalesce(n_files)
    out.write.mode("overwrite").parquet(dst_path)
    return n_files


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: str,
    num_files: int | None = None,
    mode: str = "overwrite",
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
    out.write.mode(mode).parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) parquet layout over MULTIPLE columns: each
    column is bucketed into 2^bits equal-width bins between its global
    min/max, the bin indices' bits are interleaved into one sort key, and
    files are range-written on that key.

    Where ``write_clustered`` gives perfect skipping on ONE column (every
    other column's per-file range stays full-width), the Morton key keeps
    every file's bounding box small in ALL ordered dimensions, so range
    filters on any of them — or several at once — prune files from the
    footer stats. Cost: two tiny min/max aggregates + one range shuffle,
    identical to the single-column layout. (Equal-width binning is the
    simple variant; swap in percentile boundaries for heavily skewed
    columns.)"""
    from pyspark.sql import functions as F

    if len(cols) < 2:
        raise ValueError("write_zordered: need >= 2 columns (else write_clustered)")
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    row = df.agg(*aggs).first()  # one tiny driver row, like a broadcast side
    n_buckets = 1 << bits
    bucket_cols = []
    for c in cols:
        lo = float(row[f"min_{c}"])
        hi = float(row[f"max_{c}"])
        if hi <= lo:
            bucket_cols.append(F.lit(0).cast("long"))
            continue
        b = F.width_bucket(
            F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets)
        ) - 1
        bucket_cols.append(
            F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets - 1)).cast("long")
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for ci, b in enumerate(bucket_cols):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long")
            z = z + F.shiftleft(bit, i * len(cols) + ci)
    out = df.withColumn("__z", z)
    out = out.repartitionByRange(
        *( [num_files] if num_files is not None else [] ), "__z"
    ).sortWithinPartitions("__z").drop("__z")
    out.write.mode(mode).parquet(path)


def write_parquet_partitioned_sized(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    files_per_partition: int = 1,
    key: str | None = None,
    mode: str = "overwrite",
    sort_within: list | None = None,
) -> None:
    """Hive-partitioned parquet with a BOUNDED file count per partition
    directory.

    A plain ``partitionBy`` write emits one file per (task × directory)
    combination: with default parallelism every date directory of an
    events table gets up to ``shuffle.partitions`` small files, and the
    small-file problem ``compact_parquet`` exists to clean up is created
    at write time. Pre-shuffling on (partition cols, split) routes each
    directory's rows to at most ``files_per_partition`` tasks, so every
    directory gets at most that many files in ONE write — no compaction
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
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_parquet_bloom(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    fpp: float = 0.01,
    expected_ndv: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet with per-column bloom filters — point-lookup data
    skipping for columns whose values DON'T sort (min/max stats are
    useless for a high-cardinality id/digest scattered through every
    file; a bloom answers 'definitely not in this row group' in one
    footer probe). The read side is free: Spark's parquet scan consults
    blooms automatically for pushed-down equality/IN filters.

    This is the third leg of the layout toolkit — clustering skips by
    RANGE, Z-order by multi-dim range, blooms by EQUALITY on unsorted
    keys (the dedup digests, doc ids, and join keys this engine
    shuffles on). ~1.2 bytes/value at 1% fpp: budget ``fpp``/``ndv``
    consciously on wide corpora rather than blooming every column.
    """
    missing = [c for c in bloom_cols if c not in df.columns]
    if missing:
        raise ValueError(f"bloom columns not in frame: {missing}")
    w = df.write.mode(mode)
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        w = w.option(f"parquet.bloom.filter.fpp#{c}", str(fpp))
        if expected_ndv is not None:
            w = w.option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
            )
    w.parquet(path)
