"""Table catalog over the driver-provided parquet test data (TESTDATA.md).

The reference's only 'catalog' is a positional CSV path argument
(/root/reference/src/StockCount.java:80). Here sources are columnar parquet
— Catalyst gets predicate pushdown, column pruning and partition pruning
for free on every scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Probe caches. Plan-build probes (events ts encoding, scan split count)
# are metadata-only but each costs a driver round trip; caching pins the
# decision outside any timed region and makes repeated query builds
# (bench best-of-N, correctness sweeps) probe-free after the first build.
# Keyed by (path, mtime_ns, size) — NOT path alone (ADVICE r4): if the
# parquet at a path is regenerated with a different ts encoding or split
# count within one Python process, a path-keyed cache would silently
# apply the wrong conversion. A directory-shaped parquet output keys on
# the directory stat plus its newest child mtime.
_EVENTS_TS_KIND: dict[tuple, str] = {}
_SCAN_SPLITS: dict[tuple, int] = {}


def _probe_key(path: str) -> tuple:
    """(path, mtime_ns, size) stat key; directories fold in the newest
    direct child so file replacement inside a dir invalidates too."""
    try:
        st = os.stat(path)
        mtime, size = st.st_mtime_ns, st.st_size
        if os.path.isdir(path):
            for entry in os.scandir(path):
                cst = entry.stat()
                mtime = max(mtime, cst.st_mtime_ns)
                size += cst.st_size
    except OSError:
        return (path, None, None)
    return (path, mtime, size)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; parquet scan → FileSourceScanExec with
    pushdown/pruning.

    ``events.parquet`` has shipped with two physical ``ts`` encodings
    across testdata generations: TIMESTAMP(NANOS) (which Spark's parquet
    reader rejects by default — the session-level
    ``spark.sql.legacy.parquet.nanosAsLong`` conf pinned in
    session.get_spark/apply_runtime_conf reads nanos as long — convert;
    exact, the source values are microsecond-resolution) and
    TIMESTAMP(MICROS) without timezone (reads as TIMESTAMP_NTZ — cast to
    the session-timezone TimestampType, identity wall-clock under the
    UTC session this engine pins). Adapt to whichever the file has,
    probing its schema once per path.
    """
    if name == "events":
        from pyspark.sql import types as T

        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.parquet(path)
        key = _probe_key(path)
        kind = _EVENTS_TS_KIND.get(key)
        if kind is None:
            ts_type = df.schema["ts"].dataType
            kind = (
                "nanos_long"
                if isinstance(ts_type, T.LongType)
                else "ntz"
                if isinstance(ts_type, T.TimestampNTZType)
                else "timestamp"
            )
            _EVENTS_TS_KIND[key] = kind
        if kind == "nanos_long":
            # integer div: double division would lose precision above 2^53 ns
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if kind == "ntz":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def parallel_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan-parallelized table load for CPU-heavy per-row pipelines (regex
    tokenization, scoring): if the parquet scan yields fewer splits than
    the cluster has slots (single-file/single-row-group inputs — true of
    all local test files), round-robin repartition to default parallelism
    so the expression work fans out. The shuffle moves only the scanned
    bytes (small by construction when the split count is low); on real
    multi-file/multi-row-group data the scan already splits and this is a
    no-op returning the plain scan. Split count is probed once per path.
    """
    df = table(spark, sf_dir, name)
    slots = spark.sparkContext.defaultParallelism
    # split count also depends on the scan conf, not just the file
    key = _probe_key(f"{sf_dir}/{name}.parquet") + (
        spark.conf.get("spark.sql.files.maxPartitionBytes"),
    )
    splits = _SCAN_SPLITS.get(key)
    if splits is None:
        splits = df.rdd.getNumPartitions()
        _SCAN_SPLITS[key] = splits
    if splits * 2 <= slots:
        return df.repartition(slots)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() entry points."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
