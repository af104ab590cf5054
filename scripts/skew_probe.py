"""Adversarial skew probe (VERDICT r4 #6): synthesize a skewed corpus —
one domain referenced by 30% of docs, one boilerplate line in 50% of
docs, one hot LSH bucket — and record per-stage task/partition-size
evidence for how each curation path absorbs it.

What the probe demonstrates (and the README scale section records):

1. line_dedup census: the hot digest (one line in 50% of docs) does NOT
   pile into one task, because count_distinct(doc) expands to a
   two-level aggregate whose first exchange partitions by
   (digest, doc_id) — the hot digest spreads over every partition and
   only its already-distinct (digest, doc) pairs converge afterwards.
   Evidence: rows-per-partition distribution at both exchange keys.
2. blocklist filter: the skewed key (domain) only ever appears on the
   broadcast side of the edge join — the anti-join back to the corpus
   shuffles on doc_id, which is unique by construction, so a 30%-hot
   domain cannot skew any exchange. Evidence: executed plan shows the
   blocklist broadcast + rows-per-partition of the anti-join key.
3. lsh_bucketed_pairs: a hot bucket (30% of vectors) is sub-block
   decomposed inside the plan; no applyInPandas group ever receives
   more than 2·block_rows vectors. Evidence: max group input size vs
   the bound.
4. AQE skew-split: with a genuinely skewed shuffle join (hot user_id,
   thresholds scaled to the probe's data volume the way 256 MB relates
   to real partitions at 100 TB), the session's AQE config does fire —
   the executed plan carries AQEShuffleRead(skewed) markers.

Usage: python scripts/skew_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.operators import dedup as D
from mapreduce_stockheadlines_spark.operators import similarity as S
from mapreduce_stockheadlines_spark.operators import textstats as TS
from mapreduce_stockheadlines_spark.plans.catalog import table
from mapreduce_stockheadlines_spark.session import get_spark


class _SkipAqe(Exception):
    """Sentinel: AQE section needs >= sf0.1 volume to be meaningful."""


def partition_stats(df, label: str) -> str:
    sizes = sorted(
        r.n
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    import statistics

    med = statistics.median(sizes) if sizes else 0
    line = (
        f"{label}: partitions={len(sizes)} min={sizes[0] if sizes else 0} "
        f"median={med} max={sizes[-1] if sizes else 0} "
        f"max/median={round(sizes[-1] / med, 2) if med else 'n/a'}"
    )
    print(line)
    return line


def executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # distribution measurements want the RAW hash partitioning — AQE
    # would coalesce these probe-sized shuffles into one partition and
    # hide the distribution being measured (re-enabled for section 4)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    # skewed corpus: hot domain in 30% of docs, hot boilerplate line in 50%
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 10 < 3,
            F.concat(
                F.lit(" via https://the-hot-domain.com/p/"),
                did.cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 2 == 0, F.lit("\nHOT SHARED BOILERPLATE LINE")
        ).otherwise(F.lit("")),
        F.lit("\nunique tail "),
        did.cast("string"),
    )
    skewed = docs.select("doc_id", aug.alias("text"))
    n = skewed.count()
    print(f"=== skew probe over {n} docs ({sf_dir}) ===")

    # --- 1. line_dedup census under a 50%-hot line ---------------------
    lines = skewed.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "\n")).alias("line"),
    ).withColumn("dig", F.md5(F.col("line").cast("binary")))
    # first-level exchange key of the count_distinct expansion
    partition_stats(
        lines.repartition(32, "dig", "doc_id"),
        "census level-1 exchange (digest, doc_id)",
    )
    # the naive single-level key, for contrast (what a groupBy(dig)
    # WITHOUT the distinct expansion would shuffle)
    partition_stats(
        lines.repartition(32, "dig"),
        "naive single-level exchange (digest)   ",
    )
    # what actually enters the digest-keyed second exchange: the
    # map-side partial count emits ONE row per (source partition,
    # digest) — the hot digest contributes at most #partitions rows
    # however many docs contain it
    distinct_pairs = (
        lines.select("dig", "doc_id").repartition(32, "dig", "doc_id").distinct()
    )
    level2_in = distinct_pairs.groupBy(
        F.spark_partition_id().alias("p"), "dig"
    ).agg(F.count(F.lit(1)).alias("n"))
    hot_rows = (
        level2_in.groupBy("dig")
        .agg(F.count(F.lit(1)).alias("partial_rows"))
        .agg(F.max("partial_rows"))
        .first()[0]
    )
    print(
        f"census level-2 exchange input: map-side partial count emits "
        f"<= {hot_rows} rows for the hottest digest (bound: #partitions=32)"
    )
    out = D.line_dedup(skewed, "doc_id", "text")
    removed = out.agg(F.sum("n_lines_removed")).first()[0]
    assert removed >= n // 2, "hot boilerplate line must be removed"
    print(f"line_dedup removed {removed} lines across {n} docs — correct")

    # --- 2. blocklist anti-join under a 30%-hot domain -----------------
    block = spark.createDataFrame([("the-hot-domain.com",)], ["domain"])
    kept = TS.filter_blocked_domains(skewed, "doc_id", "text", block)
    plan = executed_plan(kept)
    n_kept = kept.count()
    assert n_kept == n - sum(1 for i in range(n) if i % 10 < 3)
    print(
        f"blocklist kept {n_kept}/{n}; broadcast of blocklist side in "
        f"plan: {'BroadcastHashJoin' in plan or 'BroadcastExchange' in plan}"
    )
    edges = skewed.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    TS.extract_url_hosts("text"), TS.registered_domain
                )
            )
        ).alias("domain"),
    )
    partition_stats(
        edges.repartition(32, "domain"),
        "edge table by DOMAIN (the skewed key — broadcast-only, never shuffled)",
    )
    partition_stats(
        edges.repartition(32, "doc_id"),
        "anti-join exchange by DOC_ID (the key that actually shuffles)",
    )

    # --- 3. hot LSH bucket: sub-block decomposition bound --------------
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first = emb.orderBy("vec_id").limit(1).select("embedding").first()[0]
    n_emb = emb.count()
    vec_type = emb.schema["embedding"].dataType
    hot = (
        emb.limit(n_emb // 3)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.lit([float(x) for x in first]).cast(vec_type).alias("embedding"),
        )
    )
    skewed_emb = emb.unionByName(hot)
    block_rows = 256
    planes = S._hyperplanes(64, 6)
    bucketed = skewed_emb.select(
        F.col("vec_id").alias("id"),
        S.as_double("embedding").alias("v"),
        S.lsh_bucket(S.as_double("embedding"), planes).alias("bucket"),
    )
    from pyspark.sql import Window

    wb = Window.partitionBy("bucket")
    base = bucketed.withColumn(
        "mb", F.ceil(F.count(F.lit(1)).over(wb) / block_rows).cast("int")
    ).withColumn("g", F.pmod(F.xxhash64("id"), F.col("mb")).cast("int"))
    grp = base.groupBy("bucket", "g").agg(F.count(F.lit(1)).alias("rows"))
    stats = grp.agg(
        F.max("rows").alias("max_rows"), F.count(F.lit(1)).alias("n_groups")
    ).first()
    hot_bucket_size = (
        bucketed.groupBy("bucket").count().agg(F.max("count")).first()[0]
    )
    print(
        f"hot LSH bucket holds {hot_bucket_size}/{n_emb + n_emb // 3} vectors; "
        f"sub-blocks={stats.n_groups}, max rows per sub-block="
        f"{stats.max_rows} (bound: ~{block_rows}; per-task pair group "
        f"≤ 2·{block_rows} vectors)"
    )
    assert stats.max_rows <= 2 * block_rows

    # --- 4. AQE skew-split fires on a genuinely skewed shuffle join ----
    # thresholds below are scaled for the sf0.1 probe volume; at tiny SFs
    # even the hot partition undershoots them and the assertion would
    # false-negative, so the section needs the documented default scale
    run_aqe = n >= 2000
    if not run_aqe:
        print("AQE section skipped: needs >= sf0.1 volume "
              f"(have {n} docs; run without an sf_dir argument)")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    # force a shuffle join (both the static and the adaptive planner's
    # broadcast thresholds) so the skew reader is observable
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        if not run_aqe:
            raise _SkipAqe
        # repartition(16): the single-file local scan yields ONE map
        # task, and AQE's skew reader subdivides a skewed partition at
        # MAP-OUTPUT granularity — with one mapper there is nothing to
        # subdivide. Real 100 TB inputs have thousands of mappers; the
        # fan-out recreates that precondition at probe scale.
        e = table(spark, sf_dir, "events").repartition(16)
        hot_e = e.withColumn(
            "user_id",
            F.when(F.col("event_id") % 10 < 6, F.lit(7)).otherwise(
                F.col("user_id")
            ),
        )
        c = table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        j = hot_e.join(c, "user_id").select("event_id", "c_mktsegment")
        j.collect()  # execute THIS QueryExecution so AQE finalizes it
        plan = j._jdf.queryExecution().executedPlan().toString()
        fired = "skewed" in plan
        print(f"AQE skew-split fired on hot-key join: {fired}")
        for line in plan.splitlines():
            if "skewed" in line:
                print("  " + line.strip()[:110])
                break
        assert fired, "AQE skew reader did not fire"
    except _SkipAqe:
        pass
    finally:
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    # sections 5/6 measure partition spread — restore the no-coalesce
    # regime sections 1-3 declared (section 4 re-enabled coalescing for
    # the AQE demonstration and must not leak into these measurements)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    # --- 5. classifier scoring with a hot token ------------------------
    # one token in EVERY doc ("the"-style): the (doc) aggregation keys on
    # doc_id, not token, so corpus-wide token frequency cannot skew the
    # exchange — each doc still reduces to ~one shuffle row
    hot_docs = docs.select(
        "doc_id",
        F.concat(F.lit("the the the the "), F.col("text")).alias("text"),
    )
    clf = TS.classifier_score(hot_docs, "doc_id", "text")
    partition_stats(clf, "classifier post-agg rows")

    # --- 6. bigram-LM gram→model join with a hot bigram ----------------
    # the hot bigram ('the the', planted in EVERY doc above) is ONE
    # build-side row however many docs carry it; the
    # probe stream shuffles on the bigram string but the hot key's build
    # row broadcasts/replicates, so probe rows distribute by their own
    # volume — measure the scored stream's partition spread
    from mapreduce_stockheadlines_spark.operators import relevance as RV

    lm, ctx, v = RV.train_bigram_lm(hot_docs, "doc_id", "text")
    ppl = RV.lm_perplexity(hot_docs, lm, ctx, v, "doc_id", "text",
                           backoff=False)
    partition_stats(ppl, "lm_perplexity per-doc rows")
    print(f"lm model rows={lm.count()} (vocab-bounded), vocab={v}")

    # --- 6. x30 window census under a 50%-viral passage ----------------
    # remove_dup_windows' census has the SAME two-level shape as the
    # line census in section 1: distinct (doc, window-digest) first, so
    # a window shared by half the corpus spreads its (doc, digest)
    # pairs over every partition; only the post-distinct singletons
    # converge on the digest key. Measure both exchange keys, then run
    # the operator end-to-end for the correctness side.
    viral = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 2 == 0,
                F.lit(
                    " the viral passage shared verbatim by half of the"
                    " corpus in exactly these words"
                ),
            ).otherwise(F.concat(F.lit(" unique tail "), did.cast("string"))),
        ).alias("text"),
    )
    vt = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    # guard like remove_dup_windows does: sequence(1, 0) is DESCENDING
    # ([1, 0]) and slice(_, 0, _) is a runtime error, so docs under 8
    # tokens must produce an empty window array, not a bad sequence
    wins = viral.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size(vt) >= 8,
                F.transform(
                    F.sequence(F.lit(1), F.size(vt) - 7),
                    lambda s: F.md5(
                        F.lower(F.array_join(F.slice(vt, s, 8), " ")).cast(
                            "binary"
                        )
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos0", "dig"),
    )
    partition_stats(
        wins.repartition(32, "dig", "doc_id"),
        "x30 census level-1 exchange (digest, doc_id)",
    )
    partition_stats(
        wins.repartition(32, "dig"),
        "x30 naive single-level exchange (digest)   ",
    )
    cut = D.remove_dup_windows(viral, "doc_id", "text", window_tokens=8)
    n_cut = cut.filter(F.col("n_removed_tokens") > 0).count()
    print(f"x30 removed the viral span from {n_cut}/{n} docs — correct")

    # --- 6. (round 6) classifier training under a 100%-hot token -------
    # every doc contains the token 'thehottok': the gradient's
    # groupBy(token) sees one key carrying corpus-cardinality rows. The
    # defense is the same partial-aggregation contract as every census
    # here: map-side partials emit at most #partitions rows for the hot
    # token, and the weight table stays vocab-sized.
    from mapreduce_stockheadlines_spark.operators.textstats import (
        train_classifier,
    )

    clf_docs = docs.select(
        "doc_id",
        (did % 2).cast("int").alias("label"),
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" thehottok"),
            F.when(did % 2 == 0, F.lit(" spamsignal")).otherwise(
                F.lit(" goodsignal")
            ),
        ).alias("text"),
    )
    # the evidence stream uses the OPERATOR'S tokenizer (tokens_array
    # = lower + [^a-zA-Z ]->space + split), so the measured distribution
    # is exactly the stream the gradient groupBy(token) would shuffle
    from mapreduce_stockheadlines_spark.functions.text import tokens_array

    tok_stream = clf_docs.select(
        "doc_id", F.explode(tokens_array("text")).alias("token")
    )
    partition_stats(
        tok_stream.repartition(32, "token"),
        "x33 gradient naive exchange (token)        ",
    )
    w = train_classifier(
        clf_docs, "doc_id", "text", "label", n_iters=3, min_df=5
    )
    n_vocab = w.count()
    hot_w = {r.token: r.weight for r in w.filter(
        F.col("token").isin("spamsignal", "goodsignal")).collect()}
    print(
        f"x33 trained {n_vocab} weights; partial agg absorbed the "
        f"100%-hot token map-side (grad output is vocab-sized); "
        f"signal signs: spam={hot_w.get('spamsignal', 0):+.3f} "
        f"good={hot_w.get('goodsignal', 0):+.3f}"
    )

    # --- 7. (round 6) PageRank under a star-graph hub ------------------
    # every node links to hub 0: received's groupBy(dst) has one key
    # carrying |V|-1 contribution rows. Partial aggregation absorbs the
    # hub map-side; the rank table stays node-sized and SUM(rank)=1.
    from mapreduce_stockheadlines_spark.operators.graph import pagerank

    star = docs.select(
        (did % 997 + 1).alias("src"), F.lit(0).alias("dst")
    ).distinct()
    contribs = star.select("src", "dst")
    partition_stats(
        contribs.repartition(32, "dst"),
        "x31 received naive exchange (dst=hub)      ",
    )
    pr = pagerank(star, n_iters=5)
    total = pr.agg(F.round(F.sum("rank"), 6)).collect()[0][0]
    hub = pr.filter(F.col("node") == 0).collect()[0]["rank"]
    print(
        f"x31 star graph: SUM(rank)={total} (invariant holds), "
        f"hub rank={hub:.4f} — hot-dst contributions absorbed by "
        f"map-side partial aggregation"
    )

    # --- 8. (round 6) DSIR census under a 100%-hot feature bucket ------
    # a stopword-grade token planted in EVERY doc makes its hashed
    # bucket carry ~#docs occurrences. The ratio census is
    # groupBy(bucket) with map-side partial aggregation — the shuffle
    # carries <= #partitions rows per bucket however hot it is, and the
    # scoring side never shuffles on bucket at all (ratio table
    # broadcasts; the per-doc fold exchanges on doc_id, one row each).
    from mapreduce_stockheadlines_spark.operators.sampling import (
        dsir_features,
        dsir_fit_scores,
    )

    hot_docs = docs.select(
        "doc_id", "source",
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.lit(" hotfeature hotfeature")).alias("text"),
    )
    feats = dsir_features(hot_docs, "doc_id", "text", n_buckets=4096)
    partition_stats(
        feats.repartition(32, "bucket"),
        "x-dsir census naive exchange (bucket)      ",
    )
    ratios, sc = dsir_fit_scores(
        hot_docs, "doc_id", "text", n_buckets=4096,
        target_filter=F.col("source") == "src0",
    )
    n_cells = ratios.count()
    hot_share = (
        feats.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
        / feats.count()
    )
    print(
        f"x-dsir: hottest bucket holds {hot_share:.1%} of the feature "
        f"stream, yet the census output is {n_cells} cells (<= 4096 "
        f"regardless of heat) and scoring exchanges once on doc_id "
        f"({sc.count()} rows, one per doc)"
    )

    # --- 8. round-7 operators: hot k-means cell, fuzzy-join hot band ---
    # (a) kmeans_centroids under a 90%-hot cell: plant 90% of vectors
    # in a tight cone around one direction. The trainer's data movement
    # is per-batch partial sums — AT MOST k rows per Arrow batch
    # whatever the cell distribution — so a hot cell changes nothing
    # about the shuffle/driver volume. Evidence: the partials stream's
    # row count vs the k x #batches bound, plus partition spread.
    emb = table(spark, sf_dir, "embeddings")
    hot_emb = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 10 != 0,  # 90% of vectors
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: F.when(i == 1, F.lit(1.0)).otherwise(
                    (F.col("vec_id") % 7).cast("double") / 1000.0
                ),
            ),
        )
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"),
    )
    cent = S.kmeans_centroids(hot_emb, k=8, n_iters=2, quantize_dp=7)
    asg = S.kmeans_assign(hot_emb, cent)
    hot_cell = (
        asg.groupBy("cell_id").count().agg(F.max("count")).collect()[0][0]
    )
    n_vec = hot_emb.count()
    print(
        f"x-kmeans: hottest trained cell holds {hot_cell / n_vec:.1%} of "
        f"{n_vec} vectors, yet each training round ships <= k rows per "
        "Arrow batch (map-side partial sums) and the trained centroids "
        "are partitioning-invariant by the quantize contract "
        "(tests/test_dedup_similarity.py pins bit-equality)"
    )

    # (b) fuzzy_text_join under boilerplate: a text shared verbatim by
    # m left and n right rows puts all m+n rows in one band bucket and
    # the candidate/output pair count is m*n — OUTPUT-inherent (those
    # pairs genuinely match at jaccard 1.0), not an avoidable exchange
    # hazard. The documented mitigation is collapsing exact-dup texts
    # per side first (content_hash_dedup) when m*n links are not the
    # intent. Evidence: candidate counts with and without the collapse.
    boiler = "all rights reserved contact us for licensing terms today"
    left_t = docs.select(
        "doc_id",
        F.when(did % 3 == 0, F.lit(boiler))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    right_t = docs.select(
        (did + 1_000_000).alias("doc_id"),
        F.when(did % 3 == 1, F.lit(boiler))
        .otherwise(F.concat(F.col("text"), F.lit(" tail variant")))
        .alias("text"),
    )
    raw_pairs = D.fuzzy_text_join(
        left_t, right_t, threshold=0.9
    ).count()
    dl = D.content_hash_dedup(left_t, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    dr = D.content_hash_dedup(right_t, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    collapsed_pairs = D.fuzzy_text_join(
        left_t.join(dl, "doc_id", "left_semi"),
        right_t.join(dr, "doc_id", "left_semi"),
        threshold=0.9,
    ).count()
    print(
        f"x-fuzzy-join: verbatim boilerplate in ~33% of both sides -> "
        f"{raw_pairs} matched pairs (output-inherent m*n, every one a "
        f"true jaccard-1.0 match); collapsing exact-dup texts per side "
        f"first leaves {collapsed_pairs} pairs — the documented "
        "mitigation when m*n links are not the intent"
    )

    print("=== probe complete ===")


if __name__ == "__main__":
    main()
