"""Deterministic sampling operators: reproducibility, disjointness,
fraction accuracy, and cross-engine portability of the hash primitive."""

from __future__ import annotations

import duckdb

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.operators.sampling import (
    hash_fraction,
    train_test_split,
)
from mapreduce_stockheadlines_spark.plans.catalog import table


def test_train_test_split_partitions_exactly(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    train, test = train_test_split(docs, "doc_id", test_fraction=0.2)
    tr = {r.doc_id for r in train.collect()}
    te = {r.doc_id for r in test.collect()}
    assert tr.isdisjoint(te)
    assert len(tr) + len(te) == docs.count()
    assert len(te) > 0


def test_split_membership_stable_under_growth(spark, sf_dir):
    """A row's side must not change when the corpus grows (no leakage on
    refresh): split of a subset agrees with split of the full set."""
    docs = table(spark, sf_dir, "documents")
    subset = docs.filter(F.col("doc_id") < 100)
    _, test_full = train_test_split(docs, "doc_id", 0.2)
    _, test_sub = train_test_split(subset, "doc_id", 0.2)
    full_ids = {r.doc_id for r in test_full.filter(F.col("doc_id") < 100).collect()}
    sub_ids = {r.doc_id for r in test_sub.collect()}
    assert full_ids == sub_ids


def test_hash_fraction_portable_to_duckdb(spark, sf_dir):
    """The sampler primitive is plain md5 hex — DuckDB computes the exact
    same membership, so a split made elsewhere agrees row-for-row."""
    docs = table(spark, sf_dir, "documents")
    spark_ids = sorted(
        r.doc_id
        for r in docs.filter(hash_fraction("doc_id", "s") < 0.25).collect()
    )
    con = duckdb.connect()
    duck_ids = [
        r[0]
        for r in con.execute(
            f"""
            SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')
            WHERE CAST(('0x' || substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) / 4294967296.0 < 0.25
            ORDER BY doc_id
            """
        ).fetchall()
    ]
    assert spark_ids == duck_ids and len(spark_ids) > 0


def test_deterministic_shuffle_is_stable_permutation(spark, sf_dir):
    from mapreduce_stockheadlines_spark.operators.sampling import (
        deterministic_shuffle,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    a = [r.doc_id for r in deterministic_shuffle(docs, "doc_id").collect()]
    b = [
        r.doc_id
        for r in deterministic_shuffle(docs.repartition(7), "doc_id").collect()
    ]
    assert a == b  # pure function of the data, not of partitioning
    assert sorted(a) == sorted(r.doc_id for r in docs.collect())  # permutation
    assert a != sorted(a)  # actually shuffled
    c = [
        r.doc_id
        for r in deterministic_shuffle(docs, "doc_id", salt="epoch2").collect()
    ]
    assert c != a and sorted(c) == sorted(a)  # new salt, new permutation


def test_quantile_threshold_filter(spark, sf_dir):
    from mapreduce_stockheadlines_spark.operators.sampling import (
        quantile_threshold_filter,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("double").alias("score")
    )
    kept = quantile_threshold_filter(docs, "score", keep_top=0.25)
    n, k = docs.count(), kept.count()
    assert 0.2 * n <= k <= 0.3 * n  # approx quantile: near the target rate
    # everything kept scores >= everything dropped
    min_kept = kept.agg(F.min("score")).first()[0]
    dropped = docs.join(kept.select("doc_id"), "doc_id", "left_anti")
    max_dropped = dropped.agg(F.max("score")).first()[0]
    assert min_kept >= max_dropped
    import pytest

    with pytest.raises(ValueError, match="keep_top"):
        quantile_threshold_filter(docs, "score", keep_top=0.0)


# --- stratified sampling ------------------------------------------------------


def test_stratified_exact_quota_per_stratum(spark, sf_dir):
    import math

    from mapreduce_stockheadlines_spark.operators.sampling import stratified_sample

    cust = table(spark, sf_dir, "customer")
    frac = 0.25
    out = stratified_sample(cust, "c_mktsegment", "c_custkey", frac)
    got = {r.c_mktsegment: r["count"] for r in out.groupBy("c_mktsegment").count().collect()}
    sizes = {
        r.c_mktsegment: r["count"]
        for r in cust.groupBy("c_mktsegment").count().collect()
    }
    # exact ceil(n * frac) per stratum; every stratum represented
    assert got == {k: math.ceil(n * frac) for k, n in sizes.items()}


def test_stratified_partition_invariant_and_vs_duckdb(spark, sf_dir):
    """Membership is a pure function of the data: repartitioning doesn't
    change it, and DuckDB ranking by the same md5 picks the same rows."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.sampling import stratified_sample

    cust = table(spark, sf_dir, "customer")
    a = sorted(
        r.c_custkey
        for r in stratified_sample(cust, "c_mktsegment", "c_custkey", 0.2).collect()
    )
    b = sorted(
        r.c_custkey
        for r in stratified_sample(
            cust.repartition(13), "c_mktsegment", "c_custkey", 0.2
        ).collect()
    )
    assert a == b and len(a) > 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{sf_dir}/customer.parquet')"
    )
    want = sorted(
        r[0]
        for r in con.execute(
            """
            SELECT c_custkey FROM (
              SELECT c_custkey,
                     row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY md5('strat:' || CAST(c_custkey AS VARCHAR)),
                                CAST(c_custkey AS VARCHAR)) AS rn,
                     count(*) OVER (PARTITION BY c_mktsegment) AS n
              FROM customer)
            WHERE rn <= ceil(n * 0.2)
            """
        ).fetchall()
    )
    assert a == want


def test_token_budget_filter(spark):
    """Budget-denominated quality cut: keeps best-score docs whose token
    mass fits the budget (never over), DuckDB-pinned threshold math;
    empty when even the best bin overflows; NULL scores drop."""
    import duckdb
    import pytest

    from mapreduce_stockheadlines_spark.operators.sampling import (
        token_budget_filter,
    )

    rows = [(i, i / 100.0, 10 * (1 + i % 3)) for i in range(100)]
    rows += [(900, None, 50)]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tok long")

    for budget in (100, 333, 1000, 10**6):
        kept = token_budget_filter(df, "score", "n_tok", budget).collect()
        tot = sum(r.n_tok for r in kept)
        assert tot <= budget
        # kept set is a top-score prefix: every kept score >= every
        # dropped non-null score's... (threshold semantics)
        if kept:
            thr = min(r.score for r in kept)
            dropped = [r for r in df.collect()
                       if r.score is not None and r.score < thr]
            assert all(r.score < thr for r in dropped)
            assert not any(r.doc_id == 900 for r in kept)
        # cross-engine pin of the kept id set via the same histogram
        # construction in DuckDB
        con = duckdb.connect()
        con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM (VALUES "
                    + ",".join(f"({i},{s if s is not None else 'NULL'},{n})"
                               for i, s, n in rows)
                    + ") v(doc_id, score, n_tok)")
        lo, hi = con.execute(
            "SELECT min(score), max(score) FROM t").fetchone()
        width = (hi - lo) / 1000 if hi > lo else 1.0
        hist = dict(con.execute(
            f"SELECT least(CAST(floor((score - {lo}) / {width}) AS INT), 999),"
            f" sum(n_tok) FROM t WHERE score IS NOT NULL GROUP BY 1"
        ).fetchall())
        running, cut = 0, 1000
        for b in range(999, -1, -1):
            m = int(hist.get(b, 0))
            if running + m > budget:
                break
            running += m
            cut = b
        want = set() if cut >= 1000 else {
            i for (i,) in con.execute(
                "SELECT doc_id FROM t WHERE score IS NOT NULL AND "
                f"least(CAST(floor((score - {lo}) / {width}) AS INT), 999)"
                f" >= {cut}"
            ).fetchall()
        }
        assert {r.doc_id for r in kept} == want, budget

    # tiny budget smaller than the best bin -> empty, not over budget
    assert token_budget_filter(df, "score", "n_tok", 5).count() == 0
    # NaN scores are unrankable like NULL: dropped, and they must not
    # poison the histogram range (max() is NaN-greatest in Spark)
    dfn = spark.createDataFrame(
        [(1, 0.1, 10), (2, 0.9, 10), (3, float("nan"), 10)],
        "doc_id long, score double, n_tok long",
    )
    kept_n = token_budget_filter(dfn, "score", "n_tok", 10).collect()
    assert [r.doc_id for r in kept_n] == [2]
    with pytest.raises(ValueError):
        token_budget_filter(df, "score", "n_tok", 0)


def test_epoch_upsample_multiplicity_and_determinism(spark, sf_dir):
    """Fractional epochs: floor(w) copies + hash-gated extra, expected
    multiplicity == w; a row's copy count is a pure function of
    (salt, key) — repartitioning never changes it; DuckDB reproduces
    the exact extra-epoch membership."""
    from mapreduce_stockheadlines_spark.operators.sampling import epoch_upsample

    docs = table(spark, sf_dir, "documents").withColumn(
        "src",
        F.when(F.col("doc_id") % 2 == 0, F.lit("wiki")).otherwise(F.lit("cc")),
    )
    n_wiki = docs.filter(F.col("src") == "wiki").count()
    n_cc = docs.count() - n_wiki
    out = epoch_upsample(docs, "src", "doc_id", {"wiki": 2.3, "cc": 0.5})
    counts = {
        r.src: r["cnt"]
        for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()
    }
    # every wiki row has >= 2 copies; extras push the mean toward 2.3
    assert counts["wiki"] >= 2 * n_wiki
    assert abs(counts["wiki"] / n_wiki - 2.3) < 0.15
    assert abs(counts["cc"] / n_cc - 0.5) < 0.15
    # per-row copy count: wiki in {2,3}, cc in {1} (0-copy rows gone)
    per = out.groupBy("src", "doc_id").agg(F.count("*").alias("k"))
    kinds = {(r.src, r.k) for r in per.collect()}
    assert kinds <= {("wiki", 2), ("wiki", 3), ("cc", 1)}
    # epoch is a dense 0..k-1 index per row
    mx = out.groupBy("doc_id").agg(
        F.count("*").alias("k"), F.max("epoch").alias("mx"),
        F.min("epoch").alias("mn"),
    )
    assert mx.filter(
        (F.col("mx") != F.col("k") - 1) | (F.col("mn") != 0)
    ).count() == 0
    # partitioning invariance
    again = epoch_upsample(
        docs.repartition(13), "src", "doc_id", {"wiki": 2.3, "cc": 0.5}
    )
    assert sorted(
        (r.doc_id, r.epoch) for r in again.select("doc_id", "epoch").collect()
    ) == sorted((r.doc_id, r.epoch) for r in out.select("doc_id", "epoch").collect())
    # DuckDB agrees on exactly WHICH wiki rows got the third epoch
    extra_ids = sorted(
        r.doc_id for r in per.filter("src = 'wiki' and k = 3").collect()
    )
    con = duckdb.connect()
    duck_ids = [
        r[0]
        for r in con.execute(
            f"""
            SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')
            WHERE doc_id % 2 = 0
              AND CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) / 4294967296.0 < 0.3
            ORDER BY doc_id
            """
        ).fetchall()
    ]
    assert extra_ids == duck_ids


def test_epoch_upsample_edge_weights(spark):
    """Integer weights give exact replication; 0 drops; unlisted
    sources drop; negative weight is a loud config error."""
    import pytest as _pytest

    from mapreduce_stockheadlines_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "zzz")], "id long, src string"
    )
    out = epoch_upsample(df, "src", "id", {"a": 3.0, "b": 0.0})
    got = sorted((r.id, r.epoch) for r in out.collect())
    assert got == [(1, 0), (1, 1), (1, 2), (2, 0), (2, 1), (2, 2)]
    with _pytest.raises(ValueError, match="negative"):
        epoch_upsample(df, "src", "id", {"a": -1.0})


def test_temperature_mix_rates_and_duckdb_membership(spark, sf_dir):
    """temperature_mix: alpha=1 keeps everything; alpha=0 equalizes
    expected source sizes (each source's keep-rate ∝ 1/n, scaled so the
    smallest source keeps all); membership is the md5 primitive, so
    DuckDB recomputes the exact row set from the same driver-computed
    rate literals."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.sampling import (
        temperature_mix,
    )

    docs = table(spark, sf_dir, "documents")
    n = docs.count()
    assert temperature_mix(docs, "source", "doc_id", alpha=1.0).count() == n
    # NULL source is a census group, not a silent drop: alpha=1 stays
    # the identity even for unlabeled rows
    with_null = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 3 == 0, None).otherwise(F.col("source")),
    )
    assert (
        temperature_mix(with_null, "source", "doc_id", alpha=1.0).count() == n
    )

    out = temperature_mix(docs, "source", "doc_id", alpha=0.0)
    got_ids = sorted(r.doc_id for r in out.select("doc_id").collect())
    # uniform 25-per-source corpus: alpha=0 rates are all 1.0 → identity
    assert len(got_ids) == n

    # skew the corpus: source 'big' 10x the rest, then alpha=0 keeps
    # ~1/10th of 'big' and all of 'small' — and DuckDB agrees row-level
    rows = [(i, "big" if i % 11 else "small") for i in range(1100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    mixed = temperature_mix(df, "source", "doc_id", alpha=0.0)
    got = sorted(r.doc_id for r in mixed.collect())
    n_big = sum(1 for _, s in rows if s == "big")
    n_small = len(rows) - n_big
    r_big, r_small = n_small / n_big, 1.0
    con = duckdb.connect()
    want = [
        i for i, s in rows
        if con.execute(
            "SELECT CAST(('0x' || substr(md5('tmix:' || CAST(? AS VARCHAR)),"
            " 1, 8)) AS BIGINT) / 4294967296.0 < ?",
            [i, r_big if s == "big" else r_small],
        ).fetchone()[0]
    ]
    assert got == sorted(want)
    kept_big = sum(1 for i in got if i % 11)
    assert abs(kept_big - n_big * r_big) < 30  # ~1/10 of 'big' survives
    assert sum(1 for i in got if i % 11 == 0) == n_small  # all of 'small'


def test_curate_cli_mix_alpha(spark, tmp_path, sf_dir):
    """--mix-alpha plumbs temperature_mix into curate after the gates:
    alpha=0 equalizes the per-source SURVIVOR counts (never adds rows,
    max/min source ratio shrinks vs the unmixed run), and the flag
    composes with --epoch-weights replication."""
    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    base_out = str(tmp_path / "base")
    mix_out = str(tmp_path / "mixed")
    # neutralize the default lang/quality gates so every source keeps
    # enough survivors for the ratio comparison to be meaningful
    lax = ["--min-quality", "0.0"]
    main([base_out, "--sf-dir", sf_dir, *lax])
    main([mix_out, "--sf-dir", sf_dir, *lax, "--mix-alpha", "0.0",
          "--epoch-weights", "src0=2.0"])

    def per_source(path):
        return {
            r.source: r.n
            for r in spark.read.parquet(path)
            .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    base, mixed = per_source(base_out), per_source(mix_out)
    # epochs only boost src0; normalize it back before the comparisons
    mixed_eq = dict(mixed)
    if "src0" in mixed_eq:
        dfm = spark.read.parquet(mix_out)
        mixed_eq["src0"] = (
            dfm.filter("source = 'src0' AND epoch = 0").count()
        )
    for src, n in mixed_eq.items():
        assert n <= base[src]  # a down-sampling mix never adds rows
    assert sum(mixed_eq.values()) < sum(base.values())  # and it does drop
    # membership is a subset of the unmixed survivors (pure hash gate —
    # the equalization-under-skew property is pinned at operator level,
    # where source sizes are large enough for the expectation to bind)
    base_ids = {r.doc_id for r in spark.read.parquet(base_out)
                .select("doc_id").collect()}
    mixed_ids = {r.doc_id for r in spark.read.parquet(mix_out)
                 .select("doc_id").collect()}
    assert mixed_ids <= base_ids
    # composition: src0's epoch-1 replica set matches its epoch-0 core
    dfm = spark.read.parquet(mix_out)
    e0 = {r.doc_id for r in dfm.filter(
        "source = 'src0' AND epoch = 0").select("doc_id").collect()}
    e1 = {r.doc_id for r in dfm.filter(
        "source = 'src0' AND epoch = 1").select("doc_id").collect()}
    assert e1 == e0 and e0  # exactly 2.0 epochs: full doubling


# --- DSIR: importance-resampling data selection ------------------------------


def _dsir_modules():
    from mapreduce_stockheadlines_spark.operators.sampling import (
        dsir_log_ratios,
        dsir_resample,
        dsir_scores,
    )

    return dsir_log_ratios, dsir_resample, dsir_scores


def test_dsir_scores_rank_target_like_docs(spark):
    """Docs sharing the target corpus's vocabulary must outscore docs
    that don't — the whole point of the estimator — and the score is a
    pure function of the data (partition-invariant)."""
    dsir_log_ratios, _, dsir_scores = _dsir_modules()
    target = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(20)],
        "doc_id int, text string",
    )
    raw = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(10)]
        + [(100 + i, "one two three four") for i in range(10)],
        "doc_id int, text string",
    )
    ratios = dsir_log_ratios(raw, target, "doc_id", "text", n_buckets=4096)
    scored = dsir_scores(raw, ratios, "doc_id", "text", n_buckets=4096)
    by_id = {r.doc_id: r.dsir_score for r in scored.collect()}
    assert len(by_id) == 20
    assert min(by_id[i] for i in range(10)) > max(
        by_id[100 + i] for i in range(10)
    )
    again = {
        r.doc_id: r.dsir_score
        for r in dsir_scores(
            raw.repartition(7), ratios, "doc_id", "text", n_buckets=4096
        ).collect()
    }
    assert again == by_id


def _dsir_subset_both_paths(spark, sf_dir):
    """(ratios, scores) twice over the same src0 subset target: first
    the two-census reference (``dsir_log_ratios`` with the subset as a
    separate ``target_df``, then ``dsir_scores``), then the single-stream
    ``dsir_fit_scores`` (one staged feature stream shared by both
    censuses and the probe)."""
    from mapreduce_stockheadlines_spark.operators.sampling import (
        dsir_fit_scores,
    )

    dsir_log_ratios, _, dsir_scores = _dsir_modules()
    docs = table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("text").isNotNull())
    tf = F.col("source") == "src0"
    nb = 4096
    ratios0 = dsir_log_ratios(
        raw, raw.filter(tf), "doc_id", "text", n_buckets=nb
    )
    scored0 = dsir_scores(raw, ratios0, "doc_id", "text", n_buckets=nb)
    ratios1, scored1 = dsir_fit_scores(
        raw, "doc_id", "text", n_buckets=nb, target_filter=tf
    )
    return (ratios0, scored0), (ratios1, scored1)


def test_dsir_fit_scores_matches_two_call_composition(spark, sf_dir):
    """The single-stream subset path must produce bit-identical scores
    to the two-census reference — integer counts, so exact equality."""
    (_, scored0), (_, scored1) = _dsir_subset_both_paths(spark, sf_dir)
    want = sorted(map(tuple, scored0.collect()))
    assert sorted(map(tuple, scored1.collect())) == want and want


def test_dsir_scores_match_duckdb(spark, sf_dir):
    """Full cross-engine pin: DuckDB re-derives features, censuses,
    fixed-point log-ratio table, and per-doc scores from the same
    parquet; (doc_id, dsir_score, n_features) must agree exactly."""
    dsir_log_ratios, _, dsir_scores = _dsir_modules()
    docs = table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("text").isNotNull())
    target = raw.filter(F.col("source") == "src0")
    nb, alpha = 4096, 1.0
    ratios = dsir_log_ratios(raw, target, "doc_id", "text", n_buckets=nb)
    got = sorted(
        (r.doc_id, r.dsir_score, r.n_features)
        for r in dsir_scores(raw, ratios, "doc_id", "text", n_buckets=nb).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(
        f"""
WITH tl AS (
  SELECT doc_id, source, list_filter(string_split_regex(
           regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+'),
           t -> length(t) > 0) AS toks
  FROM documents WHERE text IS NOT NULL),
tok AS (
  SELECT doc_id, source, unnest(toks) AS token,
         generate_subscripts(toks, 1) AS ord
  FROM tl),
grams AS (
  SELECT doc_id, source, token AS gram FROM tok
  UNION ALL
  SELECT doc_id, source, token || ' ' || lead(token, 1) OVER w AS gram
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
  QUALIFY lead(token, 1) OVER w IS NOT NULL),
feats AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('dsir:' || gram), 1, 8)) AS BIGINT)
           % {nb} AS bucket
  FROM grams),
rawc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS rc
         FROM feats GROUP BY bucket),
tgtc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tc
         FROM feats WHERE source = 'src0' GROUP BY bucket),
tot AS (SELECT CAST((SELECT SUM(rc) FROM rawc) AS DOUBLE) AS tr,
               CAST(COALESCE((SELECT SUM(tc) FROM tgtc), 0) AS DOUBLE) AS tt),
ratios AS (
  SELECT r.bucket,
         CAST(round(1000000.0 * (
           ln((COALESCE(t.tc, 0) + {alpha}) / (tot.tt + {alpha} * {nb}))
           - ln((r.rc + {alpha}) / (tot.tr + {alpha} * {nb})))) AS BIGINT)
           AS ratio_fp
  FROM rawc r LEFT JOIN tgtc t USING (bucket), tot)
SELECT f.doc_id,
       round(CAST(SUM(ratio_fp) AS DOUBLE) / COUNT(*) / 1000000.0, 4)
         AS dsir_score,
       CAST(COUNT(*) AS BIGINT) AS n_features
FROM feats f JOIN ratios USING (bucket)
GROUP BY f.doc_id ORDER BY f.doc_id
"""
    ).fetchall()
    assert got == [tuple(r) for r in want] and len(got) > 100


def test_dsir_resample_bound_and_determinism(spark, sf_dir):
    """Gumbel-top-k keeps at most n_keep docs, and membership is a pure
    function of (data, salt) — partition-invariant, new salt → new
    sample. (Score-bias is pinned separately on a wide-gap synthetic:
    at sf0.001 the corpus score spread ~0.01 is far below the Gumbel
    noise scale ~1.28, so near-uniform resampling here is the CORRECT
    DSIR behavior, not a property to assert against.)"""
    dsir_log_ratios, dsir_resample, dsir_scores = _dsir_modules()
    docs = table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("text").isNotNull())
    target = raw.filter(F.col("source") == "src0")
    ratios = dsir_log_ratios(raw, target, "doc_id", "text", n_buckets=4096)
    scored = dsir_scores(raw, ratios, "doc_id", "text", n_buckets=4096)
    n_total = scored.count()
    n_keep = n_total // 4
    kept = dsir_resample(scored, "doc_id", "dsir_score", n_keep)
    ids = sorted(r.doc_id for r in kept.collect())
    assert 0 < len(ids) <= n_keep
    assert kept.columns == scored.columns  # helper columns dropped
    again = sorted(
        r.doc_id
        for r in dsir_resample(
            scored.repartition(13), "doc_id", "dsir_score", n_keep
        ).collect()
    )
    assert again == ids
    other = sorted(
        r.doc_id
        for r in dsir_resample(
            scored, "doc_id", "dsir_score", n_keep, salt="epoch2"
        ).collect()
    )
    assert other != ids and 0 < len(other) <= n_keep


def test_dsir_resample_is_score_biased_when_gap_dominates(spark):
    """With a score gap (10.0) far above the Gumbel noise scale, the
    kept set must be essentially the high-score population: P(one low
    doc out-keys one high doc) = 1/(1+e^10) ≈ 4.5e-5, and the whole
    draw is deterministic given the salt, so this pins stably."""
    _, dsir_resample, _ = _dsir_modules()
    scored = spark.createDataFrame(
        [(i, 10.0) for i in range(200)] + [(1000 + i, 0.0) for i in range(200)],
        "doc_id int, dsir_score double",
    )
    kept = dsir_resample(scored, "doc_id", "dsir_score", 100)
    ids = [r.doc_id for r in kept.collect()]
    assert 0 < len(ids) <= 100
    n_high = sum(1 for i in ids if i < 1000)
    assert n_high >= 0.95 * len(ids)


def test_dsir_ratios_fused_subset_path_equals_two_census_path(spark, sf_dir):
    """The fused subset path (one conditional-count pass in
    ``dsir_fit_scores``) must produce the IDENTICAL ratio table as two
    censuses over a separate ``target_df`` when the target is the same
    subset — integer counts, so exact equality."""
    (ratios0, _), (ratios1, _) = _dsir_subset_both_paths(spark, sf_dir)
    two = sorted(map(tuple, ratios0.collect()))
    one = sorted(map(tuple, ratios1.collect()))
    assert one == two and len(one) > 100


def test_curate_cli_dsir(spark, tmp_path, sf_dir):
    """--dsir-target-source plumbs the DSIR stage into curate after the
    gates: the kept set is a subset of the unflagged run's survivors,
    its size respects the --dsir-keep-frac bound, and a keep-frac
    outside (0, 1] fails fast before any cluster work."""
    import pytest

    from mapreduce_stockheadlines_spark.jobs.pipeline import curate, main

    base_out = str(tmp_path / "base")
    dsir_out = str(tmp_path / "dsir")
    lax = ["--min-quality", "0.0"]
    main([base_out, "--sf-dir", sf_dir, *lax])
    main([dsir_out, "--sf-dir", sf_dir, *lax,
          "--dsir-target-source", "src0", "--dsir-keep-frac", "0.4"])
    base_ids = {r.doc_id for r in spark.read.parquet(base_out)
                .select("doc_id").collect()}
    dsir_ids = {r.doc_id for r in spark.read.parquet(dsir_out)
                .select("doc_id").collect()}
    assert dsir_ids and dsir_ids <= base_ids
    assert len(dsir_ids) <= max(int(len(base_ids) * 0.4), 1)
    with pytest.raises(ValueError, match="dsir_keep_frac"):
        curate(table(spark, sf_dir, "documents"),
               dsir_target_source="src0", dsir_keep_frac=1.5)


def test_dsir_resample_rejects_nonpositive_n_keep(spark):
    import pytest

    _, dsir_resample, _ = _dsir_modules()
    df = spark.createDataFrame([(1, 0.5)], "doc_id int, dsir_score double")
    with pytest.raises(ValueError, match="n_keep"):
        dsir_resample(df, "doc_id", "dsir_score", 0)


def test_curriculum_interleave_round_robin_no_global_sort(spark):
    """curriculum_interleave: reading back ordered by curriculum_pos
    round-robins the sources with best-score rows first within each
    source; positions are unique, residues identify sources, a shorter
    source simply stops appearing (positions intentionally non-dense),
    and the plan contains NO global range exchange — the total order is
    arithmetic, not a sort."""
    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.operators.sampling import (
        curriculum_interleave,
    )

    rows = [
        # (doc_id, source, score): b is the short source
        (1, "a", 10.0), (2, "a", 30.0), (3, "a", 20.0),
        (4, "b", 5.0), (5, "b", 50.0),
        (6, "c", 7.0), (7, "c", 7.0), (8, "c", 9.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = curriculum_interleave(df, "score", "source")
    got = {r.doc_id: r.curriculum_pos for r in out.collect()}
    # sources sorted: a=0, b=1, c=2; pos = (rank-1)*3 + idx
    assert got == {
        2: 0,   # a rank1 (30)
        5: 1,   # b rank1 (50)
        8: 2,   # c rank1 (9)
        3: 3,   # a rank2 (20)
        4: 4,   # b rank2 (5)
        6: 5,   # c rank2 (7, doc 6 before 7 on id tie)
        1: 6,   # a rank3 (10)
        7: 8,   # c rank3 — pos 7 is b's exhausted residue: non-dense
    }
    assert len(set(got.values())) == len(got)  # unique positions
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan  # no global sort anywhere


def test_pipeline_cli_curriculum(spark, tmp_path, sf_dir):
    """--curriculum attaches a unique global training-order position:
    within each source, quality is non-increasing along the position;
    across sources, positions interleave by residue."""
    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    out = str(tmp_path / "out")
    main([out, "--sf-dir", sf_dir, "--min-quality", "0.0",
          "--curriculum"])
    pdf = spark.read.parquet(out).toPandas()
    assert "curriculum_pos" in pdf.columns
    assert pdf.curriculum_pos.is_unique
    n_src = pdf.source.nunique()
    for src, grp in pdf.groupby("source"):
        g = grp.sort_values("curriculum_pos")
        # one residue class per source, best quality first
        assert g.curriculum_pos.nunique() == len(g)
        assert (g.curriculum_pos.to_numpy() % n_src
                == g.curriculum_pos.to_numpy()[0] % n_src).all()
        q = g.quality.to_numpy()
        assert (q[:-1] >= q[1:]).all()


def _doremi_python_reference(cen_rows, n_rounds, lr, add_k, qdp=6):
    """Pure-python re-derivation of doremi_weights from the same
    (source, bigram, count) census — same math, python sums."""
    import math
    from collections import defaultdict

    masses = defaultdict(int)
    for s, g, c in cen_rows:
        masses[s] += c
    sources = sorted(masses)
    n_tot = sum(masses.values())
    v = len({g for _, g, _ in cen_rows})
    denom = {s: masses[s] + add_k * v for s in sources}
    u = {s: add_k / denom[s] for s in sources}
    nll_own = defaultdict(float)
    for s, g, c in cen_rows:
        nll_own[s] -= c * math.log((c + add_k) / denom[s])
    ce_own = {s: round(nll_own[s] / masses[s], qdp) for s in sources}
    weights = {s: round(1.0 / len(sources), qdp) for s in sources}
    history = []
    for _ in range(n_rounds):
        floor = sum(weights[s] * u[s] for s in sources)
        mix = defaultdict(lambda: floor)
        for s, g, c in cen_rows:
            mix[g] += c * weights[s] / denom[s]
        nll_mix = defaultdict(float)
        for s, g, c in cen_rows:
            nll_mix[s] -= c * math.log(mix[g])
        ce_mix = {s: round(nll_mix[s] / masses[s], qdp) for s in sources}
        raw = {
            s: weights[s]
            * math.exp(lr * max(0.0, ce_mix[s] - ce_own[s]))
            for s in sources
        }
        z = sum(raw.values())
        weights = {s: round(raw[s] / z, qdp) for s in sources}
        history.append(dict(weights))
    return weights, history


def _doremi_corpus(spark):
    # A and B share a distribution; C is the odd domain a uniform
    # mixture covers worst
    rows = []
    for i in range(30):
        rows.append((f"a{i}", "A", "the quick brown fox jumps over the lazy dog"))
        rows.append((f"b{i}", "B", "the quick brown fox runs over the lazy cat"))
    for i in range(20):
        rows.append((f"c{i}", "C",
                     "zymurgy quark xenon plasma flux entropy vector"))
    return spark.createDataFrame(rows, "doc_id string, src string, text string")


def test_doremi_upweights_the_uncovered_domain(spark):
    """DoReMi dynamics: the domain with the largest excess loss under
    the uniform mixture (the one the mixture proxy covers worst) gains
    weight; weights stay a distribution; a single-source corpus is a
    fixed point at weight 1 (its mixture model IS its own model)."""
    from mapreduce_stockheadlines_spark.operators.sampling import (
        doremi_weights,
    )

    df = _doremi_corpus(spark)
    w, hist = doremi_weights(df, "src", "text", n_rounds=3, lr=1.0)
    assert set(w) == {"A", "B", "C"}
    assert abs(sum(w.values()) - 1.0) < 1e-4
    assert len(hist) == 3
    assert w["C"] > w["A"] and w["C"] > w["B"]
    assert abs(w["A"] - w["B"]) < 0.02  # near-identical domains stay close
    # monotone concentration on the hard domain across rounds
    assert hist[-1]["C"] >= hist[0]["C"]

    solo, shist = doremi_weights(
        df.filter("src = 'A'"), "src", "text", n_rounds=2
    )
    assert solo == {"A": 1.0}
    assert all(h == {"A": 1.0} for h in shist)


def test_doremi_deterministic_and_matches_python_reference(spark):
    """The distributed loop is reproducible across partitionings and
    equals a pure-python re-derivation from the same census after the
    quantize_dp rounding (the OPH python-reference pattern applied to
    the mixture trainer)."""
    from mapreduce_stockheadlines_spark.operators.relevance import (
        doc_bigrams,
    )
    from mapreduce_stockheadlines_spark.operators.sampling import (
        doremi_weights,
    )

    df = _doremi_corpus(spark)
    w1, h1 = doremi_weights(df, "src", "text", n_rounds=3, lr=0.7)
    w2, h2 = doremi_weights(
        df.repartition(7), "src", "text", n_rounds=3, lr=0.7
    )
    assert (w1, h1) == (w2, h2)

    cen_rows = [
        (r[0], r[1], int(r[2]))
        for r in doc_bigrams(df, "src", "text")
        .groupBy("src", "bigram")
        .count()
        .collect()
    ]
    wref, href = _doremi_python_reference(
        cen_rows, n_rounds=3, lr=0.7, add_k=0.5
    )
    assert w1 == wref
    assert h1 == href


def test_x32_strat_kept_nondegenerate(spark, sf_dir):
    """Round-8 promotion guard for the stratified_sample registry
    column: both membership values must occur at the checked SF."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x32 = ALL_QUERIES["x32_sampling"].builder(spark, sf_dir)
    assert_column_nondegenerate(x32, "strat_kept", f"at {sf_dir}")


def test_x32_doremi_w_nondegenerate(spark, sf_dir):
    """Round-9 promotion guard for the DoReMi registry column: the
    trained per-source weights must differ across sources at the
    checked SF (a constant column would hash-match even with the
    trainer broken), must be positive, and must sum to ~1 over the 20
    sources (renormalized each round)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x32 = ALL_QUERIES["x32_sampling"].builder(spark, sf_dir)
    assert_column_nondegenerate(x32, "doremi_w", f"at {sf_dir}")
    per_source = {
        r["source"]: r["doremi_w"]
        for r in x32.select("source", "doremi_w").distinct().collect()
    }
    assert all(w is not None and w > 0 for w in per_source.values())
    # mixed rows may not cover every source, so the sum over PRESENT
    # sources is <= 1 (+ rounding slack), and close to 1 when all 20
    # survive the token budget
    assert sum(per_source.values()) <= 1.0 + 1e-4


# --- UniMax budget allocation --------------------------------------------------


def test_unimax_hand_values(spark):
    """Water-filling with hand numbers: caps [4, 10, 10] (E=1),
    budget 18 → the small source saturates at 4, the other two share
    θ = 7 each; Σalloc == budget exactly here (θ integral)."""
    from mapreduce_stockheadlines_spark.operators.sampling import (
        unimax_allocation,
    )

    df = spark.createDataFrame(
        [("a", 4), ("b", 10), ("c", 10)], "source string, n long"
    )
    out = {
        r.source: r
        for r in unimax_allocation(df, "source", "n", 18, 1).collect()
    }
    assert out["a"].saturated and out["a"].alloc_tokens == 4
    assert out["a"].epochs_fp == 10**6  # exactly 1 epoch
    for s in ("b", "c"):
        assert not out[s].saturated
        assert out[s].alloc_tokens == 7
        assert out[s].epochs_fp == 700_000  # 0.7 epochs
    # rational epoch cap: E = 3/2 on n=4 → cap 6
    out2 = unimax_allocation(df, "source", "n", 100, 3, 2).collect()
    caps = {r.source: r.cap for r in out2}
    assert caps == {"a": 6, "b": 15, "c": 15}
    # budget >= Σcaps: everything saturates at its cap
    assert all(r.saturated and r.alloc_tokens == r.cap for r in out2)

    import pytest

    with pytest.raises(ValueError, match="budget"):
        unimax_allocation(df, "source", "n", -1, 1)


def test_unimax_waterfill_identity_and_fairness(spark):
    """Σ alloc_fp lands within (S−k) floor-quanta of the exact budget,
    and no unsaturated source is allocated less than any saturated
    cap (θ ≥ every saturated cap — the uniformity guarantee)."""
    from mapreduce_stockheadlines_spark.operators.sampling import (
        unimax_allocation,
    )

    rows = [(f"s{i}", 100 + 37 * i) for i in range(9)]
    df = spark.createDataFrame(rows, "source string, n long")
    budget = int(sum(n for _, n in rows) * 1.3)
    out = unimax_allocation(df, "source", "n", budget, 2).collect()
    total_alloc = sum(r.alloc_tokens for r in out)
    n_unsat = sum(not r.saturated for r in out)
    assert 0 < n_unsat < len(out)  # both arms live
    # whole-token floors lose < 1 token per unsaturated source
    assert budget - n_unsat < total_alloc <= budget
    theta = min(r.alloc_tokens for r in out if not r.saturated)
    assert all(r.cap <= theta for r in out if r.saturated)


def test_x32_unimax_columns_nondegenerate(spark, sf_dir):
    """Promotion guard: with cap = 2 epochs and budget = 1.9 epochs,
    source sizes straddle the mean, so both saturation arms populate
    and the fixed-point allocations vary."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x32 = ALL_QUERIES["x32_sampling"].builder(spark, sf_dir).cache()
    try:
        assert_column_nondegenerate(x32, "unimax_sat", f"at {sf_dir}")
        assert_column_nondegenerate(x32, "unimax_epochs_fp", f"at {sf_dir}")
        # saturated rows sit exactly at the 2-epoch cap
        two_ep = x32.filter(
            F.col("unimax_sat") & (F.col("unimax_epochs_fp") != 2 * 10**6)
        ).count()
        assert two_ep == 0
    finally:
        x32.unpersist()
