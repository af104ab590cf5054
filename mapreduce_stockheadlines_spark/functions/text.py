"""Text scalar functions (SURVEY.md §2.1 O5-O9).

Reproduces the reference WordCount mapper's text pipeline
(/root/reference/src/WordCount.java:41-61) as Catalyst column expressions —
everything stays JVM-side inside whole-stage codegen; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

# Engine stop-word list. The reference ships a 319-entry lowercase CRLF file
# (/root/reference/src/stop-word-list.txt, loaded with trim+lower at
# WordCount.java:34). The engine treats stop words as data (any DataFrame can
# be the side table); this built-in list is the common-English core used by
# the declared Q15 oracle so Spark and DuckDB filter identically.
STOPWORDS: tuple[str, ...] = (
    "a", "about", "above", "after", "again", "all", "an", "and", "any",
    "are", "as", "at", "be", "because", "been", "before", "being", "below",
    "between", "both", "but", "by", "can", "did", "do", "does", "doing",
    "down", "during", "each", "few", "for", "from", "further", "had", "has",
    "have", "having", "he", "her", "here", "hers", "him", "his", "how", "i",
    "if", "in", "into", "is", "it", "its", "just", "me", "more", "most",
    "my", "no", "nor", "not", "now", "of", "off", "on", "once", "only",
    "or", "other", "our", "out", "over", "own", "s", "same", "she", "so",
    "some", "such", "t", "than", "that", "the", "their", "them", "then",
    "there", "these", "they", "this", "those", "through", "to", "too",
    "under", "until", "up", "very", "was", "we", "were", "what", "when",
    "where", "which", "while", "who", "whom", "why", "will", "with", "you",
    "your", "yours", "yourself", "yourselves",
)

# Reference cleaning: lowercase FIRST, then every char outside [a-zA-Z ]
# becomes a space (WordCount.java:53). Order kept for parity. The class is
# written over the lowercased domain: lower() never outputs A-Z, so on its
# output [^a-z ] matches exactly the characters [^a-zA-Z ] does, and
# java.util.regex runs it far faster: regexp_replace(lower(text), ...) over
# 40k documents (sf0.1 x8, cached, local[4], OpenJDK 17) took 1.43 s with
# [^a-zA-Z ] and 0.19 s with [^a-z ], against 0.15 s for lower() alone.
CLEAN_PATTERN = "[^a-z ]"


def clean_text(col: Column | str) -> Column:
    """O6: case fold + punctuation strip (WordCount.java:53)."""
    return F.regexp_replace(F.lower(F.col(col) if isinstance(col, str) else col),
                            CLEAN_PATTERN, " ")


def tokens_array(col: Column | str) -> Column:
    """Cleaned text → array of non-empty lowercase tokens.

    O7 tokenize + O8 empty-token filter (WordCount.java:55-61). Empty
    tokens are dropped pre-explode so the Generate operator never emits
    empty rows; ``split`` never emits NULL elements, so the codegen
    ``array_remove(..., '')`` keeps exactly what ``filter(length > 0)``
    (an interpreted higher-order function) would.
    """
    return F.array_remove(F.split(clean_text(col), r"\s+"), "")


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams of a token array as space-joined strings.

    Linear-time: zip of ``n`` shifted slices of the array (per-position
    ``slice`` inside ``transform`` would be O(len) per element — measured
    and rejected, see operators/dedup). ``n=1`` returns the array as-is."""
    if n == 1:
        return tokens
    m = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    shifted = [F.slice(tokens, i + 1, m) for i in range(n)]
    return F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]),
    )


def normalized_text(col: Column | str) -> Column:
    """Cleaned text collapsed to single spaces and trimmed — the canonical
    form where ``split(nt, ' ')`` equals ``tokens_array`` and word n-grams
    are extractable straight from the string."""
    return F.trim(F.regexp_replace(clean_text(col), " +", " "))


def text_word_ngrams(norm: Column, n: int) -> Column:
    """Overlapping word n-grams straight from single-space-normalized text
    via a zero-width lookahead regex (``(?=\\b([a-z]+ [a-z]+))`` for n=2):
    the regex engine restarts at the next character after each zero-width
    match, so every token start yields one gram.

    This is a plain codegen string function — measured ~5x faster than the
    HOF pipeline (arrays_zip/transform are interpreted per element) and
    adds zero shuffle. Input MUST be ``normalized_text`` output."""
    if n == 1:
        # split('', ' ') yields [''] — guard so empty text gives [].
        return F.when(
            F.length(norm) > 0, F.split(norm, " ")
        ).otherwise(F.array().cast("array<string>"))
    pat = r"(?=\b(" + " ".join([r"[a-z]+"] * n) + r"))"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def explode_tokens(df: DataFrame, text_col: str, token_col: str = "token") -> DataFrame:
    """O7: one output row per token — Catalyst ``Generate`` (explode)."""
    return df.select(F.explode(tokens_array(text_col)).alias(token_col))


def stopwords_df(spark) -> DataFrame:
    """Stop-word side table. The reference re-reads the HDFS file in every
    mapper's ``setup`` (WordCount.java:25-38); here it is a tiny JVM-local
    table (``LocalTableScan``, no Python worker) shipped once via a
    broadcast join."""
    schema = T.StructType([T.StructField("word", T.StringType())])
    return local_frame(spark, [(w,) for w in STOPWORDS], schema)


def load_stopwords_file(spark, path: str) -> DataFrame:
    """Load a reference-style stop-word file: CRLF endings and a missing
    trailing newline are neutralized by trim+lower (WordCount.java:34
    behavior), blank lines dropped."""
    raw = spark.read.text(path)
    return (
        raw.select(F.lower(F.trim(F.col("value"))).alias("word"))
        .filter(F.length("word") > 0)
        .distinct()
    )


def remove_stopwords(tokens: DataFrame, stop: DataFrame,
                     token_col: str = "token") -> DataFrame:
    """O9: broadcast LEFT ANTI join against the stop-word table
    (WordCount.java:57 probe). BroadcastHashJoin(LeftAnti): the side table
    ships to every executor once; no shuffle of the token stream."""
    stop_b = F.broadcast(stop.withColumnRenamed(stop.columns[0], token_col))
    return tokens.join(stop_b, token_col, "left_anti")
