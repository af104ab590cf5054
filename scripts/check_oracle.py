"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables; compares row count, schema (order-
insensitive), and canonicalized values. Usage:

    python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_stockheadlines_spark.oracle_compare import (
    arrow_type_kinds,
    compare,
    spark_type_kinds,
)
from mapreduce_stockheadlines_spark.plans.catalog import TABLES
from mapreduce_stockheadlines_spark.session import get_spark

import __spark_entry__ as entrymod


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_ok = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_df = fn(spark, sf_dir)
            skinds = spark_type_kinds(spark_df.schema)
            sdf = spark_df.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: {len(sdf)} rows [ROWS-ONLY] ({time.time()-t0:.1f}s)")
            n_ok += 1
            continue
        try:
            # .arrow() (not fetchdf) so DATE vs TIMESTAMP survives extraction
            tbl = con.sql(oracles[name]).arrow()
            okinds = arrow_type_kinds(tbl.schema)
            odf = tbl.to_pandas()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = compare(sdf, odf, skinds, okinds)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
