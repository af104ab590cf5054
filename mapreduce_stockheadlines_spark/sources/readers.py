"""Sources (SURVEY.md §2.1 O1-O5).

Two CSV modes, because they give *different answers on the same file*
(SURVEY.md §7.4 hard part #1):

- **parity mode** — reproduces the reference's naive ``line.split(",")``
  (/root/reference/src/StockCount.java:26, WordCount.java:41): no quote
  handling, header row counted as data (golden proof:
  /root/reference/output/output_stock:5746 counts the header cell 'stock').
- **proper mode** — Spark's real CSV parser: quoting, header skip, schema.

Parquet is the engine's primary at-rest format (columnar, pushdown-able).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Logical schema of the reference's input (analyst_ratings.csv), inferred at
# StockCount.java:27-29 / WordCount.java:45-54: (id, headline, date, stock).
HEADLINES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("headline", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("stock", T.StringType()),
    ]
)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """O1: line-oriented text scan — one row per line, column ``value``."""
    return spark.read.text(path)


def read_csv_naive(spark: SparkSession, path: str) -> DataFrame:
    """O1+O2 parity reader: text scan + naive comma split → ``fields``
    array<string>. No quote/escape handling, header NOT skipped —
    bit-for-bit the reference's parse."""
    return read_text(spark, path).select(
        F.split(F.col("value"), ",").alias("fields")
    )


def headlines_from_naive(df: DataFrame) -> DataFrame:
    """Project the naive field array into the reference's logical schema:
    field 0 = id, last two = (date, stock), middle fields re-joined with
    ',' to reconstruct headlines that themselves contained commas
    (WordCount.java:45-52). Rows failing the >3-field guard
    (StockCount.java:27) are dropped."""
    n = F.size("fields")
    return (
        df.filter(n > 3)
        .select(
            F.element_at("fields", 1).alias("id"),
            F.concat_ws(",", F.slice(F.col("fields"), 2, n - 3)).alias("headline"),
            F.element_at("fields", -2).alias("date"),
            F.trim(F.element_at("fields", -1)).alias("stock"),
        )
    )


def read_csv_proper(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = HEADLINES_SCHEMA,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """Correct-CSV mode: quoted fields honored, header skipped, explicit
    schema (inference available by passing schema=None).

    ``mode`` is Spark's parse mode — PERMISSIVE (malformed fields null),
    DROPMALFORMED (row dropped), FAILFAST (job fails). With PERMISSIVE,
    ``corrupt_col`` names a string column APPENDED to the schema that
    captures each malformed row's raw text for quarantine/audit (the
    malformed-row-FILTER pathology of the reference — SURVEY §2.1 O3 —
    becomes an explicit, recoverable policy here)."""
    reader = spark.read.option("header", "true").option("quote", '"').option(
        "escape", '"'
    ).option("mode", mode)
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col capture requires an explicit schema")
        schema = T.StructType(
            [*schema.fields, T.StructField(corrupt_col, T.StringType())]
        )
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning surface as parquet (the
    second mainstream columnar format; useful when upstream Hive/Trino
    pipelines hand over ORC instead of parquet)."""
    return spark.read.orc(path)
