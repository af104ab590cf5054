"""Bulk format conversion: land raw text/CSV/JSON as columnar files —
the ingestion step in front of every corpus build (raw dumps are
row-oriented and unsplittable-ish; everything downstream wants parquet).

    python -m mapreduce_stockheadlines_spark.jobs.convert IN OUT \
        [--in-format csv|json|text|parquet|orc] [--out-format parquet|orc] \
        [--partition-by COL] [--cluster-by COL] [--mode PERMISSIVE]

Scale notes: conversion is a scan + write (no shuffle) unless
--cluster-by asks for the range-sorted data-skipping layout or
--partition-by hash-distributes into directory partitions; CSV honors
the engine's parse-mode policy (malformed rows quarantined, dropped, or
fatal — never silently mangled).
"""

from __future__ import annotations

import argparse

from ..session import get_spark
from ..sources.readers import read_csv_proper, read_json, read_orc, read_text
from ..sources.sinks import write_clustered, write_orc, write_parquet


def convert(
    spark,
    in_path: str,
    out_path: str,
    in_format: str = "csv",
    out_format: str = "parquet",
    partition_by: str | None = None,
    cluster_by: str | None = None,
    mode: str = "PERMISSIVE",
):
    if in_format == "csv":
        df = read_csv_proper(spark, in_path, schema=None, mode=mode)
    elif in_format == "json":
        df = read_json(spark, in_path)
    elif in_format == "text":
        df = read_text(spark, in_path)
    elif in_format == "parquet":
        df = spark.read.parquet(in_path)
    elif in_format == "orc":
        df = read_orc(spark, in_path)
    else:
        raise ValueError(f"unsupported input format: {in_format}")

    if cluster_by is not None:
        if out_format != "parquet":
            raise ValueError("--cluster-by implies parquet output")
        write_clustered(df, out_path, cluster_by)
    elif out_format == "parquet":
        write_parquet(df, out_path,
                      partition_by=[partition_by] if partition_by else None)
    elif out_format == "orc":
        write_orc(df, out_path,
                  partition_by=[partition_by] if partition_by else None)
    else:
        raise ValueError(f"unsupported output format: {out_format}")
    return df


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("in_path")
    ap.add_argument("out_path")
    ap.add_argument("--in-format", default="csv",
                    choices=["csv", "json", "text", "parquet", "orc"])
    ap.add_argument("--out-format", default="parquet",
                    choices=["parquet", "orc"])
    ap.add_argument("--partition-by", default=None)
    ap.add_argument("--cluster-by", default=None)
    ap.add_argument("--mode", default="PERMISSIVE",
                    choices=["PERMISSIVE", "DROPMALFORMED", "FAILFAST"])
    args = ap.parse_args()

    spark = get_spark("convert")
    spark.sparkContext.setLogLevel("ERROR")
    df = convert(
        spark,
        args.in_path,
        args.out_path,
        in_format=args.in_format,
        out_format=args.out_format,
        partition_by=args.partition_by,
        cluster_by=args.cluster_by,
        mode=args.mode,
    )
    n = spark.read.format(
        "orc" if args.out_format == "orc" else "parquet"
    ).load(args.out_path).count()
    print(f"converted {n} rows ({len(df.columns)} cols) -> {args.out_path}")


if __name__ == "__main__":
    main()
