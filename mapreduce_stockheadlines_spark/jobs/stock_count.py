"""Reference job 1 parity: ticker frequency ranking.

Rebuilds /root/reference/src/StockCount.java as a declarative DataFrame
pipeline: naive split (O2) → >3-field guard (O3) → last-field project+trim
(O4) → groupBy().count() (O10-O11, with Spark's automatic map-side partial
aggregate — the combiner the reference lacks) → order by count desc
(O12) → row_number rank (O13) → format ``"<rank>: <key>, <cnt>"`` (O15) →
text sink (O16). Output format matches output/output_stock:1 (`1: MS, 1174`).
Tie order diverges intentionally: key ASC tiebreaker (SURVEY.md §7.4).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rank import count_rank_format
from ..sources.readers import read_csv_naive
from ..sources.sinks import write_text_single


def stock_count(spark: SparkSession, input_path: str) -> DataFrame:
    """Return the ranked-line DataFrame (``line`` string column)."""
    fields = read_csv_naive(spark, input_path)
    stocks = (
        fields.filter(F.size("fields") > 3)  # StockCount.java:27
        .select(F.trim(F.element_at("fields", -1)).alias("stock"))  # :29
    )
    return count_rank_format(stocks, "stock", fmt="%d: %s, %d")


def main() -> None:
    argv = sys.argv[1:]
    if len(argv) != 2:
        raise SystemExit("usage: python -m ...jobs.stock_count <input> <output>")
    from ..session import get_spark

    spark = get_spark("stock-count")
    write_text_single(stock_count(spark, argv[0]), argv[1])


if __name__ == "__main__":
    main()
