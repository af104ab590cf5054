"""Structured Streaming windowed aggregations (§2.2 — absent in the
reference, which is batch-only; /root/reference/README.md:129 mentions
Flink/Kafka only as future work).

The window expressions are the SAME ones the batch queries Q21/x14/x15 use
— Spark's unified batch/stream semantics make the batch DuckDB oracle a
valid check of the streaming transformation logic; streaming-only concerns
(watermark advancement, late-data drop, output modes) are covered by
deterministic fixtures in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, directory: str) -> DataFrame:
    """File-source stream over a directory of events parquet files.
    (In production: Kafka source; the transformation code is identical.)"""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(directory)


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling event-time windows with a watermark: late rows older than
    the watermark are dropped; state for closed windows is evicted (bounded
    state at 100 TB/day stream rates)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "n_events", "sum_value")
    )


def session_counts(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Session windows (dynamic-length, gap-merged) per user — state is
    merged session ranges, evicted once the watermark passes session end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    subset: list[str],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming deduplication: first-seen row per ``subset`` key wins;
    state holds one entry per key and is evicted once the watermark
    passes the key's event time — the streaming half of the engine's
    dedup story (batch half: operators/dedup.py). The event-time column
    must be in ``subset`` for state eviction to apply."""
    return events.withWatermark("ts", watermark).dropDuplicates(subset)


def run_to_memory_sink(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
):
    """Drive a stream into an in-memory table and process everything
    currently available (deterministic for file-source fixtures)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    return q
