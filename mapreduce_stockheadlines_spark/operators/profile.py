"""Corpus profiling: the embedding-column sanity profile and token-
distribution drift (Jensen-Shannon divergence) between corpora — the
first checks run against a new drop before partitioning, quality gates
or mixing. Each is one scan feeding one aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_embeddings(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """One-row profile of an ``array<float>`` embedding column — the
    sanity pass before any similarity/quantization work: dimension
    consistency (a ragged corpus breaks every matmul kernel), null/empty
    counts, L2-norm quartiles (≈1.0 everywhere ⟹ vectors are
    pre-normalized and dot product IS cosine — the assumption the
    similarity operators document), and the fraction of zero vectors.

    One scan, one aggregation; the per-row norm is a codegen
    fold (functions/vectors.dot), no Python."""
    from ..functions.vectors import as_double, l2_norm

    vec = F.col(vec_col)
    # empty (size-0) non-null vectors ARE zero vectors: norm 0, counted
    # in both n_empty and zero_vec_frac's numerator AND denominator
    norm = F.when(
        vec.isNotNull() & (F.size(vec) > 0), F.round(l2_norm(as_double(vec)), 4)
    ).when(vec.isNotNull(), F.lit(0.0))
    dims = F.when(vec.isNotNull(), F.size(vec))
    # ONE percentile sketch for all three quartiles (three separate
    # calls each maintain their own summaries — 3x the update cost) and
    # approx distinct for dims: an exact count_distinct mixed into this
    # aggregate would plan an Expand over every scanned row — the cost
    # profile_table's docstring exists to warn about (dim cardinality is
    # tiny, so HLL is exact in practice anyway)
    q = F.percentile_approx(
        "_nrm", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return df.select(
        dims.alias("_d"), norm.alias("_nrm"), vec.isNull().alias("_isnull")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("_isnull").cast("int")).cast("bigint").alias("n_null"),
        F.sum(F.when(F.col("_d") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_empty"),
        F.approx_count_distinct("_d").cast("bigint").alias("n_distinct_dims"),
        F.min("_d").cast("int").alias("min_dim"),
        F.max("_d").cast("int").alias("max_dim"),
        F.round(q[0], 4).alias("norm_p25"),
        F.round(q[1], 4).alias("norm_p50"),
        F.round(q[2], 4).alias("norm_p75"),
        # fraction of NON-NULL vectors that are zero: null norms stay
        # null so avg() skips them (an otherwise(0) would silently count
        # null rows in the denominator)
        F.round(
            F.avg(
                F.when(F.col("_nrm") == 0.0, 1.0).when(
                    F.col("_nrm").isNotNull(), 0.0
                )
            ),
            4,
        ).alias("zero_vec_frac"),
    )


def token_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Per-term distribution drift between two corpora: the Jensen-
    Shannon divergence decomposition over unigram token distributions —
    the dataset-QA check run between corpus versions (did this crawl
    shift?), between train and eval (is the eval in-distribution?), or
    across sources before mixing.

    Output: one row per term in EITHER corpus with counts (``c_a``,
    ``c_b``), probabilities (``p_a``, ``p_b``), and ``js_contrib`` —
    the term's additive contribution to JS(P‖Q) with log base e, using
    the 0·ln(0/x) = 0 convention; ``SUM(js_contrib)`` is the corpus JS
    divergence, bounded by [0, ln 2] with 0 = identical distributions
    and ln 2 = disjoint vocabularies (pinned in tests); a token-less
    corpus is treated as the zero measure, giving the defined limit
    ln(2)/2 against any non-empty corpus. Order by
    ``js_contrib DESC`` for the terms that explain the drift.

    Scale shape: each corpus is one tokenize+explode + one term-keyed
    aggregation with map-side partials (the word_census shape, never
    the corpus again); the two vocab-sized count tables meet in ONE
    full-outer join on term; totals attach via bucketed two-level sums
    broadcast back (see ``census_divergence`` for the mechanism and why
    not a 1-row crossJoin). Nothing corpus-sized crosses the wire after the two
    censuses.
    """
    ca = token_census(df_a, text_col).withColumnRenamed("freq", "c_a")
    cb = token_census(df_b, text_col).withColumnRenamed("freq", "c_b")
    return census_divergence(ca, cb)


def token_census(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, freq) unigram census — one tokenize+explode + one
    term-keyed aggregation with map-side partials. ``report
    --save-census`` persists it (parquet) for later drift checks."""
    from ..functions.text import tokens_array

    return (
        df.select(F.explode(tokens_array(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def census_divergence(ca: DataFrame, cb: DataFrame) -> DataFrame:
    """``token_divergence`` from two PRE-BUILT censuses — (term, c_a)
    and (term, c_b) tables — for the artifact-vs-live comparisons where
    one side is a persisted ``token_census`` (``report --save-census``).
    Same output contract and zero-measure semantics.

    Totals attach via a BUCKETED two-level sum: each census aggregates
    per hash-bucket (256 rows, map-side partials), an unpartitioned
    window runs over only that 256-row table (the static bucket axis
    left-joins the sums so an EMPTY census still yields total 0 — the
    zero-measure case), and the per-bucket totals broadcast-equi-join
    back on the bucket key. No corpus- or vocab-sized table ever passes
    through one partition, and no plan contains the
    BroadcastNestedLoopJoin a 1-row crossJoin degrades to (Catalyst
    constant-folds literal-key equi-joins back to BNLJ — measured; the
    bucket key is hash-derived, so the join stays a BroadcastHashJoin).
    A token-less corpus has total 0 and probability 0 everywhere: every
    term of the other corpus contributes 0.5·q·ln 2 — the defined limit
    ln(2)/2."""
    from pyspark.sql import Window

    spark = ca.sparkSession
    n_buckets = 256
    bucket = lambda: F.pmod(F.xxhash64("term"), F.lit(n_buckets))  # noqa: E731
    axis = spark.range(n_buckets).select(F.col("id").alias("_b"))
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    def totals(cdf: DataFrame, count_col: str, alias: str) -> DataFrame:
        per_bucket = cdf.groupBy(bucket().alias("_b")).agg(
            F.sum(count_col).alias("_s")
        )
        full = axis.join(per_bucket, "_b", "left").na.fill({"_s": 0})
        return full.select("_b", F.sum("_s").over(w).alias(alias))

    tot = totals(ca, "c_a", "_ta").join(totals(cb, "c_b", "_tb"), "_b")
    joined = (
        ca.join(cb, "term", "full_outer")
        .na.fill({"c_a": 0, "c_b": 0})
        .withColumn("_b", bucket())
        .join(F.broadcast(tot), "_b")
        .drop("_b")
    )
    p = F.when(F.col("_ta") > 0, F.col("c_a") / F.col("_ta")).otherwise(0.0)
    q = F.when(F.col("_tb") > 0, F.col("c_b") / F.col("_tb")).otherwise(0.0)
    m = (p + q) / 2
    half_pl = F.when(
        F.col("c_a") > 0, 0.5 * p * F.log(p / m)
    ).otherwise(F.lit(0.0))
    half_ql = F.when(
        F.col("c_b") > 0, 0.5 * q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    return joined.select(
        "term",
        "c_a",
        "c_b",
        p.alias("p_a"),
        q.alias("p_b"),
        (half_pl + half_ql).alias("js_contrib"),
    )


def divergence_summary(div: DataFrame) -> DataFrame:
    """One row (``js_divergence``, ``vocab_jaccard``) summarizing a
    ``token_divergence``/``census_divergence`` table, 4dp — the SINGLE
    definition of the drift report's summary metrics. Empty-join
    defaults: two token-less corpora are identical nothing — 0
    divergence, full overlap."""
    both = F.when((F.col("c_a") > 0) & (F.col("c_b") > 0), 1.0).otherwise(0.0)
    return div.agg(
        F.round(F.coalesce(F.sum("js_contrib"), F.lit(0.0)), 4).alias(
            "js_divergence"
        ),
        F.round(F.coalesce(F.avg(both), F.lit(1.0)), 4).alias(
            "vocab_jaccard"
        ),
    )
