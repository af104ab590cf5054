"""SparkSession factory.

Replaces the reference's imperative Hadoop job configuration
(/root/reference/src/StockCount.java:70-83, WordCount.java:97-110) with a
declarative session: AQE on (runtime re-plan, skew-join handling, partition
coalescing), Arrow on (vectorized Python interchange), UTC session timezone
(deterministic timestamp semantics vs. the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "mrsh-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # COUNT/MIN/MAX answered from parquet footer statistics
        .config("spark.sql.parquet.aggregatePushDown", "true")
        # TIMESTAMP(NANOS) parquet (one events.parquet generation) reads
        # as long; plans/catalog.table converts exactly. Session-level so
        # no read path ever mutates shared conf mid-query.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime bloom-filter join pruning ON by default (pinned, not
        # inherited from the Spark version's default): with the stock
        # production thresholds (creation side <= 10MB, probe scan >=
        # 10GB) it only fires where it pays — the 100 TB fact ⋈
        # filtered-dim case — and never on test-scale data (plan shape
        # pinned under tiny thresholds in tests/test_plans.py).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """A small driver-held table as a JVM ``LocalRelation``.

    ``createDataFrame`` over a Python list plans as ``Scan ExistingRDD``,
    a Python RDD that starts Python workers to unpickle its rows; an Arrow
    table below ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB by default) is decoded on the driver and plans as
    ``LocalTableScan``, so the side table costs no Python worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: the engine's one materialization policy.

    With a checkpoint dir configured (``setCheckpointDir``; the curate
    CLI's ``--checkpoint-dir``) the cut is a reliable ``checkpoint``:
    files in that dir outlive a lost executor, the reference's
    every-intermediate-on-HDFS guarantee. Without one it is a
    ``localCheckpoint`` into executor-local blocks, which needs no
    config and suits one machine and tests. ``eager`` is Spark's own
    argument: ``False`` defers the materialization to the first
    action, so building a plan never runs it."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on an externally-provided session.

    The correctness driver hands us its own SparkSession; timezone and AQE
    are runtime confs, so pin the ones correctness depends on.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # events.parquet TIMESTAMP(NANOS) handling (see get_spark): pinned here
    # once at session adoption, not inside plans/catalog.table — a conf
    # flipped as a side effect of a table read could change how unrelated
    # code reads nano-timestamp parquet (VERDICT r3).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def conf_for_scale(
    input_bytes: int,
    executors: int,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    shuffle_fraction: float = 1.0,
    target_partition_bytes: int = 128 << 20,
) -> dict[str, str]:
    """Size the partition-count confs for a target corpus + cluster shape
    — the arithmetic behind 'partitions must fit in executor memory':

    - scan side: ``files.maxPartitionBytes`` = the target partition size
      (split generation; 128 MB rides the parquet row-group sweet spot);
    - shuffle side: initial partition count = expected shuffle volume
      (``input_bytes x shuffle_fraction`` — pass the post-filter
      fraction when filters precede the first exchange) divided by the
      target size, floored at 2 tasks per core slot so the cluster is
      never under-subscribed on small inputs. AQE coalesces DOWN from
      there at runtime, which is why the count goes into
      ``initialPartitionNum`` (and the static conf as the non-AQE
      fallback) — oversizing is self-correcting, undersizing is not.

    Raises when the target partition size cannot fit ~4 live copies in a
    task's memory share (shuffle read + dual buffers + object overhead)
    — at that point the CLUSTER shape is the problem and silently
    emitting spill-prone confs would hide it.

    100 TB on 1000 executors x 4 cores: 819,200 initial shuffle
    partitions, 8,000 slot floor — exactly the regime Spark's AQE docs
    target (pick large, let coalescing fix it).
    """
    if input_bytes <= 0 or executors <= 0 or cores_per_executor <= 0:
        raise ValueError("conf_for_scale: sizes and counts must be positive")
    per_task_bytes = (executor_mem_gb << 30) // cores_per_executor
    if target_partition_bytes * 4 > per_task_bytes:
        raise ValueError(
            f"conf_for_scale: {target_partition_bytes >> 20} MB partitions "
            f"need ~4x headroom but a task's memory share is only "
            f"{per_task_bytes >> 20} MB; add memory/executors or shrink "
            "target_partition_bytes"
        )
    slots = executors * cores_per_executor
    by_size = -(-int(input_bytes * shuffle_fraction) // target_partition_bytes)
    partitions = max(2 * slots, by_size)
    return {
        "spark.sql.files.maxPartitionBytes": str(target_partition_bytes),
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            partitions
        ),
    }
