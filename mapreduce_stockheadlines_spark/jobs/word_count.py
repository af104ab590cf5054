"""Reference job 2 parity: top-100 headline words.

Rebuilds /root/reference/src/WordCount.java: naive split (O2) → guard (O3)
→ headline re-join (O5) → lower+strip (O6) → tokenize/explode (O7) →
empty-token filter (O8) → broadcast anti-join vs stop words (O9) →
count (O10-O11) → order desc (O12) → rank (O13) → top-100 (O14) → format
``"<rank>: <word>\\t<cnt>"`` (O15, tab separator per output/output_words:1)
→ text sink (O16).

The stop-word side input is a broadcast join instead of the reference's
per-mapper HDFS re-read (WordCount.java:25-38).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import (
    explode_tokens,
    load_stopwords_file,
    remove_stopwords,
    stopwords_df,
)
from ..operators.rank import count_rank_format
from ..sources.readers import headlines_from_naive, read_csv_naive
from ..sources.sinks import write_text_single


def word_count(
    spark: SparkSession,
    input_path: str,
    stopwords_path: str | None = None,
) -> DataFrame:
    headlines = headlines_from_naive(read_csv_naive(spark, input_path))
    tokens = explode_tokens(headlines, "headline")
    stop = (
        load_stopwords_file(spark, stopwords_path)
        if stopwords_path
        else stopwords_df(spark)
    )
    kept = remove_stopwords(tokens, stop)
    # top-100 (O14)
    return count_rank_format(kept, "token", fmt="%d: %s\t%d", limit=100)


def main() -> None:
    argv = sys.argv[1:]
    if len(argv) not in (2, 3):
        raise SystemExit(
            "usage: python -m ...jobs.word_count <input> <output> [stopwords]"
        )
    from ..session import get_spark

    spark = get_spark("word-count")
    stop_path = argv[2] if len(argv) == 3 else None
    write_text_single(word_count(spark, argv[0], stop_path), argv[1])


if __name__ == "__main__":
    main()
