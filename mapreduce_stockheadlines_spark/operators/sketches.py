"""Mergeable sketch artifacts (Apache DataSketches HLL via Spark 4
builtins): incremental distinct-counting where day N's cost is day N's
data, never a rescan of history.

``count_distinct`` over 100 TB is exact but unrepeatable — every
dashboard refresh, backfill, or rolling-window query pays the full
scan again. An HLL sketch is a tiny (~KB) MERGEABLE summary: build one
per (group, period) as data lands, persist the sketch BYTES as an
artifact table, and answer any later union-of-periods question by
merging sketches (history never re-read). Merge is exact over the
sketch algebra: union-of-sketches == sketch-of-union by construction,
so an incrementally maintained artifact answers identically to a
from-scratch build (property-pinned in tests).

Scale shape: ``hll_sketch_agg`` partially aggregates map-side (the
shuffle carries one sketch per partition per group, never raw values);
the artifact table is (groups x periods) rows of KB-sized binary —
reading it back for a merge costs KBs where the raw data cost TBs.
DuckDB cannot parse DataSketches bytes, so cross-engine verification
uses the x16 tolerance contract: exact count alongside the estimate
with a relative-error bound assert (HLL with lgK=12 is ±~2.5% at 3σ).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .membership import bloom_positions

DEFAULT_LGK = 12  # 2^12 registers: ~1.6% RSE, ~2.5 KB per sketch


def distinct_sketches(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """One HLL sketch of ``value_col``'s distinct values per group —
    the artifact-build step. Output: group_cols + ``sketch`` (binary)
    + ``n_rows`` (exact row count, free at agg time and useful for
    artifact sanity checks)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(
            F.col(value_col).cast("string"), F.lit(DEFAULT_LGK)
        ).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def upsert_sketches(
    existing: DataFrame | None,
    incoming: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Fold a new period's sketches into a persisted artifact table:
    groups present in both merge (``hll_union``), new groups append.
    Pair with ``sources/versioned.write_table_version`` for an
    atomically-published, time-travelable artifact history."""
    if existing is None:
        return incoming
    both = existing.select(
        *group_cols,
        F.col("sketch").alias("_old"),
        F.col("n_rows").alias("_old_n"),
    ).join(incoming, group_cols, "full_outer")
    return both.select(
        *group_cols,
        F.when(
            F.col("_old").isNotNull() & F.col("sketch").isNotNull(),
            F.hll_union("_old", "sketch"),
        )
        .otherwise(F.coalesce("sketch", "_old"))
        .alias("sketch"),
        (
            F.coalesce(F.col("_old_n"), F.lit(0))
            + F.coalesce(F.col("n_rows"), F.lit(0))
        ).alias("n_rows"),
    )


# --- Count-Min frequency sketches (portable, exactly mergeable) -------------
#
# The frequency-side sibling of the HLL artifacts above: HLL answers
# "how many DISTINCT values", a Count-Min sketch answers "how often is
# THIS value" from a depth x width counter table that is bounded by
# the (depth, width) YOU chose, never by the vocabulary. Where the HLL
# bytes are opaque DataSketches state, this CMS is built from the same
# salted-md5 position primitive as the Bloom gate
# (membership.bloom_positions), so DuckDB re-derives the entire
# counter table AND every estimate bit-for-bit — the strongest pin the
# sketch family has. Counters ADD, so per-period CMS artifacts fold by
# summing cells and pair with sources/versioned.py history.
#
# Guarantees: estimate >= true count always (only hash collisions
# inflate, never deflate — pinned against an exact census); overshoot
# <= e/width * total_count with probability 1 - e^-depth.
#
# Scale shape: build is one posexplode(depth) + count census whose
# groupBy(d, w) partially aggregates map-side — the shuffle carries at
# most depth x width rows per partition however hot a value is (the
# same two-level absorption as the line-dedup census); estimate joins
# the probe set against a depth*width-bounded build side (AQE
# broadcasts it at the defaults: 4 x 4096 cells).

DEFAULT_CMS_DEPTH = 4  # P(overshoot > eps*N) <= e^-4 ~ 1.8%
DEFAULT_CMS_WIDTH = 1 << 12  # eps = e/4096 ~ 0.066% of total count
# position-hash salt: build and estimate must hash a value to the same
# cells
CMS_SALT = "cms"


def cms_build(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    depth: int = DEFAULT_CMS_DEPTH,
    width: int = DEFAULT_CMS_WIDTH,
) -> DataFrame:
    """Sparse CMS counter table per group: group_cols + (d, w, cnt),
    ≤ depth·min(width, #distinct) rows per group. One row of input
    lands in exactly one w per d (depth salted hashes mod width)."""
    group_cols = list(group_cols or [])
    cells = df.select(
        *group_cols,
        F.posexplode(
            F.array(*bloom_positions(value_col, width, depth, CMS_SALT))
        ).alias("d", "w"),
    )
    return cells.groupBy(*group_cols, "d", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    depth: int = DEFAULT_CMS_DEPTH,
    width: int = DEFAULT_CMS_WIDTH,
) -> DataFrame:
    """Frequency upper-bound per probe value: min over the depth
    counters (absent cell = 0). Output: group_cols + value_col +
    ``freq_estimate``. The join's build side is the depth·width-bounded
    sketch — broadcastable at any corpus size."""
    group_cols = list(group_cols or [])
    p = probes.select(
        *group_cols,
        value_col,
        F.posexplode(
            F.array(*bloom_positions(value_col, width, depth, CMS_SALT))
        ).alias("d", "w"),
    )
    joined = p.join(cms, [*group_cols, "d", "w"], "left")
    return joined.groupBy(*group_cols, value_col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).cast("bigint").alias("freq_estimate")
    )


# --- HDR-style quantile sketches (log2-bucketed, exactly mergeable) ----------
#
# The quantile-side third leg of the artifact family: HLL answers "how
# many DISTINCT", CMS answers "how often is THIS value", this answers
# "what is the p99" — from a bucket-count table bounded by the chosen
# precision, never by the data. Buckets are HdrHistogram-shaped: keep
# the top ``prec_bits`` bits of the value's magnitude (bucket width
# 2^(msb-prec), i.e. relative error < 2^(1-prec) — ~0.8% at the
# default 8 bits), derived with INTEGER ops only (msb = length of the
# binary string — no libm, no floats), so DuckDB re-derives the entire
# bucket table AND every quantile answer bit-for-bit, the same
# strongest-pin contract as the CMS. Counts ADD, so per-period
# quantile artifacts fold by summing buckets like the CMS ones and pair
# with sources/versioned.py history.
#
# Contract: values are integer-valued measures (token counts, byte
# sizes, latencies — cast to BIGINT; fixed-point-scale fractional
# measures first, e.g. round(quality*1e6)). NULLs are dropped (an
# unrankable row, token_budget_filter's convention); |v| = 2^63-1 is
# the magnitude ceiling (LONG_MIN would overflow abs() and ANSI mode
# fails loudly rather than mis-bucketing).
#
# Scale shape: build is one projection + count census whose
# groupBy(qb) partially aggregates map-side — the shuffle carries at
# most #buckets rows per partition (≤ 63·2^(prec-1) + 1 per sign —
# ~8 K cells at prec 8) however many rows share a bucket; quantile
# queries run windows over the KB-sized sketch, never the corpus.

DEFAULT_QSK_PREC_BITS = 8  # bucket width 2^(msb-8): <0.8% relative error


def _qsk_bucket(prec_bits: int) -> Column:
    """Signed bucket representative of ``_v``: the magnitude with all
    but its top ``prec_bits`` bits cleared, negated back for negative
    values (so qb <= v < qb + width for positives, qb - width < v <= qb
    for negatives — ordering by qb always preserves value order across
    buckets)."""
    s = f"greatest(length(bin(abs(_v))) - {prec_bits}, 0)"
    lo = f"shiftleft(shiftright(abs(_v), {s}), {s})"
    return F.expr(f"CASE WHEN _v < 0 THEN -{lo} ELSE {lo} END")


def qsk_build(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    prec_bits: int = DEFAULT_QSK_PREC_BITS,
) -> DataFrame:
    """Quantile-sketch bucket table per group: group_cols + (qb, cnt),
    ≤ ~2^prec_bits·63 rows per group regardless of corpus size."""
    group_cols = list(group_cols or [])
    rows = df.select(
        *group_cols, F.col(value_col).cast("bigint").alias("_v")
    ).filter(F.col("_v").isNotNull())
    return rows.select(
        *group_cols, _qsk_bucket(prec_bits).alias("qb")
    ).groupBy(*group_cols, "qb").agg(F.count(F.lit(1)).alias("cnt"))


def qsk_quantiles(
    sketch: DataFrame,
    quantiles: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Lower-quantile estimates per group: for each q, the bucket
    representative of the rank-⌈q·n⌉ value (q=0 → minimum bucket,
    q=1 → maximum). The estimate is the exact quantile's own bucket,
    so |estimate - true| < bucket width, i.e. relative error
    < 2^(1-prec_bits) in magnitude. Runs a cumulative window over the
    SKETCH (bucket-count-bounded — the empty-group window's
    SinglePartition is over KBs, the same post-aggregation class as a
    scalar subquery), never over the data."""
    from pyspark.sql import Window

    if not quantiles or any(not 0.0 <= q <= 1.0 for q in quantiles):
        # an out-of-range q would silently vanish from the output (its
        # rank exceeds every cumulative count) — a config error, not a
        # row to drop
        raise ValueError(
            f"qsk_quantiles: quantiles must be within [0, 1], got {quantiles}"
        )
    group_cols = list(group_cols or [])
    w_ord = Window.partitionBy(*group_cols).orderBy("qb")
    w_all = Window.partitionBy(*group_cols)
    c = sketch.withColumn("_cum", F.sum("cnt").over(w_ord)).withColumn(
        "_tot", F.sum("cnt").over(w_all)
    )
    q = F.explode(
        F.array(*[F.lit(float(x)) for x in quantiles])
    ).alias("q")
    return (
        c.select(*group_cols, "qb", "_cum", "_tot", q)
        .filter(F.col("_cum") >= F.ceil(F.col("q") * F.col("_tot")))
        .groupBy(*group_cols, "q")
        .agg(F.min("qb").alias("quantile_estimate"))
    )


# --- KMV / theta sketches (k-minimum-values: distinct + SET ALGEBRA) ----------
#
# The fourth leg of the artifact family closes the gap HLL leaves
# open: set EXPRESSIONS. An HLL union is exact over the sketch
# algebra, but intersections and differences ("users who clicked AND
# purchased", "docs in crawl N but not crawl N-1") have no HLL
# answer. A KMV sketch — keep the k SMALLEST salted-md5 hash values of
# the distinct keys — supports all three: under a common threshold
# theta = min(theta_a, theta_b), the surviving hashes are a uniform
# coordinated sample of the key space, so |A∩B|, |A∪B| and |A\B| all
# estimate as (matching hashes below theta) * SPACE / theta
# (Beyer et al., "On Synopses for Distinct-Value Estimation Under
# Multiset Operations", SIGMOD'07 — the theta-sketch construction).
#
# Portability is the strongest-pin kind, NOT the x16 tolerance
# contract: the hash is the same 60-bit md5 primitive as the Bloom /
# CMS cells, ranking and theta selection are integer comparisons, and
# the estimate is one exact integer multiply-and-floor-divide
# (DECIMAL(38,0) DIV on the Spark side, HUGEINT // on the DuckDB side
# — cross-checked operand-for-operand), so DuckDB re-derives the
# entire sketch AND every union/intersection/difference estimate
# bit-for-bit. An APPROXIMATE structure under an EXACT cross-engine
# pin, like the CMS and the quantile buckets.
#
# Exactness floor: an unsaturated sketch (fewer than k distinct keys)
# has theta = SPACE and its estimate is the EXACT distinct count —
# small groups pay no error at all.
#
# Scale shape: build is distinct-hash (map-side partial dedup absorbs
# duplicate keys before the shuffle) followed by the bucketed
# row_number construction (the vocabulary builder's pattern): a
# per-(group, hv mod B) top-k prunes to <= B*k rows per group WITHOUT
# a single-partition pass over the distinct set, then the global
# per-group top-k ranks the survivors. Merge re-ranks a union of
# k-sized inputs; estimates aggregate k-sized sketches — after the
# build, nothing ever touches the data again. Sketches merge exactly:
# kmv_merge(build(A), build(B)) == build(A UNION ALL B) row-for-row
# (pinned), so per-period KMV artifacts fold like the HLL/CMS/QSK ones
# and pair with sources/versioned.py history.

DEFAULT_KMV_K = 256  # RSE ~ 1/sqrt(k-2) ~ 6.3%
_KMV_SPACE = 1 << 60  # 15 md5 hex chars, the Bloom/CMS hash space
_KMV_BUCKETS = 32  # pre-prune fan-out for the bucketed row_number


def kmv_hash(value: Column | str) -> Column:
    """60-bit salted-md5 hash of a key (codegen, JVM-side). NULL keys
    hash as '' — the same stable-key convention as bloom_positions."""
    v = F.col(value) if isinstance(value, str) else value
    v = F.coalesce(v.cast("string"), F.lit(""))
    digest = F.md5(F.concat(F.lit("kmv:"), v).cast("binary"))
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint")


def kmv_build(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = DEFAULT_KMV_K,
) -> DataFrame:
    """KMV sketch per group: group_cols + ``hv`` rows, the <= k
    smallest distinct hash values. Two-level top-k (per-bucket then
    per-group) keeps the rank window off the full distinct set — the
    correctness argument is containment: the k smallest overall are
    each among the k smallest of their own bucket."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(f"kmv_build: k must be >= 2, got {k}")
    group_cols = list(group_cols or [])
    hv = df.select(
        *group_cols, kmv_hash(value_col).alias("hv")
    ).distinct()
    w_bucket = Window.partitionBy(
        *group_cols, F.pmod(F.col("hv"), F.lit(_KMV_BUCKETS))
    ).orderBy("hv")
    w_group = Window.partitionBy(*group_cols).orderBy("hv")
    pruned = (
        hv.withColumn("_r", F.row_number().over(w_bucket))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )
    return (
        pruned.withColumn("_r", F.row_number().over(w_group))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def kmv_merge(
    a: DataFrame,
    b: DataFrame,
    group_cols: list[str] | None = None,
    k: int = DEFAULT_KMV_K,
) -> DataFrame:
    """Fold two sketches built with the same k: union the hash
    sets and keep the k smallest again. EXACTLY build-of-union
    (pinned) — the upsert for per-period KMV artifacts."""
    from pyspark.sql import Window

    group_cols = list(group_cols or [])
    u = a.unionByName(b).distinct()
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        u.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def _kmv_div_est(n_below, theta) -> Column:
    """floor(n_below * SPACE / theta) as exact integer arithmetic —
    DECIMAL(38,0) keeps the ~2^80 intermediate exact; DuckDB's HUGEINT
    // is the cross-engine twin (operand-level checked)."""
    return F.expr(
        f"CAST((CAST({n_below} AS DECIMAL(38,0))"
        f" * CAST({_KMV_SPACE} AS DECIMAL(38,0)))"
        f" DIV CAST(greatest({theta}, 1) AS DECIMAL(38,0)) AS BIGINT)"
    )


def kmv_estimate(
    sketch: DataFrame,
    group_cols: list[str] | None = None,
    k: int = DEFAULT_KMV_K,
) -> DataFrame:
    """Distinct estimate per group: group_cols + ``theta`` +
    ``distinct_estimate``. theta is the k-th smallest hash when the
    sketch saturated, else SPACE; the sample is the hashes STRICTLY
    below theta (k-1 when saturated, all n when not), so the one
    formula n_below*SPACE div theta is exact for small groups and
    ~1/sqrt(k-2) relative error for large ones."""
    group_cols = list(group_cols or [])
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"), F.max("hv").alias("_mx")
    )
    theta = F.when(F.col("_n") < k, F.lit(_KMV_SPACE)).otherwise(
        F.col("_mx")
    )
    n_below = F.when(F.col("_n") < k, F.col("_n")).otherwise(F.lit(k - 1))
    return (
        agg.withColumn("theta", theta)
        .withColumn("_nb", n_below)
        .select(
            *group_cols,
            "theta",
            _kmv_div_est("_nb", "theta").alias("distinct_estimate"),
        )
    )


def kmv_set_estimates(
    a: DataFrame,
    b: DataFrame,
    on: list[str] | None = None,
    k: int = DEFAULT_KMV_K,
) -> DataFrame:
    """Theta-sketch set algebra between two sketch tables joined on
    ``on``: per key, ``union_estimate`` / ``intersect_estimate`` /
    ``diff_estimate`` (|A\\B|), all exact-integer decisions. Keys on
    one side only get the one-sided semantics (intersection 0, diff =
    A's own estimate, union = the present side). The common threshold
    theta = min(theta_a, theta_b) makes the two surviving hash sets a
    COORDINATED uniform sample, which is what licenses intersection
    estimation — plain independent samples would not."""
    on = list(on or [])
    drop_key = False
    if not on:
        # global (ungrouped) sketches: joins need at least one key —
        # a constant key makes the single-row path share the grouped code
        a = a.withColumn("_g", F.lit(1))
        b = b.withColumn("_g", F.lit(1))
        on, drop_key = ["_g"], True

    def _theta(s: DataFrame, tag: str) -> DataFrame:
        agg = s.groupBy(*on).agg(
            F.count(F.lit(1)).alias("_n"), F.max("hv").alias("_mx")
        )
        return agg.select(
            *on,
            F.when(F.col("_n") < k, F.lit(_KMV_SPACE))
            .otherwise(F.col("_mx"))
            .alias(f"theta_{tag}"),
        )
    thetas = _theta(a, "a").join(_theta(b, "b"), on, "full_outer")
    thetas = thetas.select(
        *on,
        F.least(
            F.coalesce("theta_a", F.lit(_KMV_SPACE)),
            F.coalesce("theta_b", F.lit(_KMV_SPACE)),
        ).alias("theta"),
    )

    def _sample(s: DataFrame) -> DataFrame:
        return s.join(thetas, on).filter(F.col("hv") < F.col("theta")).select(
            *on, "hv"
        )
    sa, sb = _sample(a), _sample(b)
    inter = sa.join(sb, [*on, "hv"]).groupBy(*on).agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    only_a = sa.join(sb, [*on, "hv"], "left_anti").groupBy(*on).agg(
        F.count(F.lit(1)).alias("n_only_a")
    )
    union = sa.unionByName(sb).distinct().groupBy(*on).agg(
        F.count(F.lit(1)).alias("n_union")
    )
    out = (
        thetas.join(union, on, "left")
        .join(inter, on, "left")
        .join(only_a, on, "left")
        .na.fill(0, ["n_union", "n_inter", "n_only_a"])
    )
    out = out.select(
        *on,
        "theta",
        _kmv_div_est("n_union", "theta").alias("union_estimate"),
        _kmv_div_est("n_inter", "theta").alias("intersect_estimate"),
        _kmv_div_est("n_only_a", "theta").alias("diff_estimate"),
    )
    return out.drop("_g") if drop_key else out
