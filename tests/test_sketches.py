"""Mergeable HLL sketch artifacts (operators/sketches.py): the
union-of-sketches == sketch-of-union algebra that makes incremental
distinct-counting exact over the sketch, plus the tolerance contract
against exact counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.operators.sketches import (
    distinct_sketches,
    upsert_sketches,
)
from mapreduce_stockheadlines_spark.plans.catalog import table


def merge_sketches(sketches, group_cols):
    """Read an artifact table back over ``group_cols``: HLL union of the
    sketches, then group_cols + ``distinct_estimate`` + summed n_rows."""
    merged = sketches.groupBy(*group_cols).agg(
        F.hll_union_agg("sketch").alias("sketch"),
        F.sum("n_rows").alias("n_rows"),
    )
    return merged.select(
        *group_cols,
        F.hll_sketch_estimate("sketch").cast("bigint").alias(
            "distinct_estimate"
        ),
        "n_rows",
    )


def test_sketch_estimates_within_tolerance(spark, sf_dir):
    """Per-group estimates land within HLL's error bound of the exact
    distinct counts (lgK=12 → use a generous 5% gate)."""
    ev = table(spark, sf_dir, "events")
    sk = merge_sketches(
        distinct_sketches(ev, "user_id", ["event_type"]), ["event_type"]
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact")
    )
    rows = sk.join(exact, "event_type").collect()
    assert rows
    for r in rows:
        assert abs(r.distinct_estimate - r.exact) <= max(0.05 * r.exact, 2), (
            r.event_type, r.distinct_estimate, r.exact,
        )


def test_incremental_merge_equals_batch(spark, sf_dir):
    """The artifact property: building per-period sketches and folding
    them with upsert_sketches answers EXACTLY like one batch sketch
    over all data — merge loses nothing, and history is never re-read."""
    ev = table(spark, sf_dir, "events").withColumn(
        "period", (F.col("user_id") % 3).alias("period")
    )
    batch = merge_sketches(
        distinct_sketches(ev, "user_id", ["event_type"]), ["event_type"]
    )
    artifact = None
    for p in (0, 1, 2):
        day = distinct_sketches(
            ev.filter(F.col("period") == p), "user_id", ["event_type"]
        )
        artifact = upsert_sketches(artifact, day, ["event_type"])
    inc = merge_sketches(artifact, ["event_type"])
    got = {r.event_type: (r.distinct_estimate, r.n_rows) for r in inc.collect()}
    want = {r.event_type: (r.distinct_estimate, r.n_rows) for r in batch.collect()}
    assert got == want


def test_upsert_appends_new_groups_and_merges_existing(spark):
    """Full-outer fold semantics: overlapping group merges, new group
    appends, absent group survives untouched."""
    a = spark.createDataFrame(
        [("x", i) for i in range(50)] + [("y", i) for i in range(20)],
        "g string, v int",
    )
    b = spark.createDataFrame(
        [("x", i) for i in range(25, 75)] + [("z", i) for i in range(10)],
        "g string, v int",
    )
    art = upsert_sketches(
        distinct_sketches(a, "v", ["g"]),
        distinct_sketches(b, "v", ["g"]),
        ["g"],
    )
    got = {r.g: (r.distinct_estimate, r.n_rows) for r in merge_sketches(art, ["g"]).collect()}
    assert set(got) == {"x", "y", "z"}
    assert got["x"][1] == 100 and abs(got["x"][0] - 75) <= 4  # 50 ∪ [25,75)
    assert got["y"] == (20, 20) and got["z"] == (10, 10)


def test_sketch_artifact_is_small_and_persistable(spark, tmp_path, sf_dir):
    """The artifact round-trips through parquet and is KB-sized — the
    property that makes merge-time cost independent of history size."""
    ev = table(spark, sf_dir, "events")
    sk = distinct_sketches(ev, "user_id", ["event_type"])
    p = str(tmp_path / "artifact")
    sk.write.parquet(p)
    back = spark.read.parquet(p)
    est = merge_sketches(back, ["event_type"])
    assert est.count() == sk.count()
    max_len = sk.select(F.max(F.length("sketch"))).collect()[0][0]
    assert max_len < 16_384  # a few KB per sketch, never value-sized


def test_sketch_estimates_partitioning_invariant(spark, sf_dir):
    """HLL union is register-wise max — merge order and partitioning
    must never change an estimate (the property that makes a
    distributed artifact build deterministic)."""
    ev = table(spark, sf_dir, "events")
    a = merge_sketches(
        distinct_sketches(ev, "user_id", ["event_type"]), ["event_type"]
    )
    b = merge_sketches(
        distinct_sketches(ev.repartition(17), "user_id", ["event_type"]),
        ["event_type"],
    )
    got_a = {r.event_type: r.distinct_estimate for r in a.collect()}
    got_b = {r.event_type: r.distinct_estimate for r in b.collect()}
    assert got_a == got_b


# --- Count-Min frequency sketches -------------------------------------------


def _tokens(spark, sf_dir):
    from mapreduce_stockheadlines_spark.functions.text import tokens_array

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "source", F.explode(tokens_array("text")).alias("token")
    )


def test_cms_never_underestimates_and_is_tight_when_wide(spark, sf_dir):
    from mapreduce_stockheadlines_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    toks = _tokens(spark, sf_dir)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    probes = exact.select("token")
    # narrow sketch: estimates may collide upward, NEVER downward
    narrow = cms_estimate(
        cms_build(toks, "token", width=256), probes, "token", width=256
    )
    rows = narrow.join(exact, "token").collect()
    assert rows
    assert all(r.freq_estimate >= r.exact for r in rows)
    # wide sketch over a small vocab: collisions vanish, estimate exact
    wide = cms_estimate(
        cms_build(toks, "token", width=1 << 16), probes, "token", width=1 << 16
    )
    mism = wide.join(exact, "token").filter("freq_estimate != exact").count()
    assert mism == 0
    # never-seen probes estimate 0 on the wide sketch
    ghost = spark.createDataFrame(
        [("zzz-never-a-token-1",), ("zzz-never-a-token-2",)], "token string"
    )
    gh = cms_estimate(
        cms_build(toks, "token", width=1 << 16), ghost, "token", width=1 << 16
    )
    assert all(r.freq_estimate == 0 for r in gh.collect())


def test_cms_grouped_and_vs_duckdb(spark, sf_dir):
    """DuckDB re-derives the salted-md5 positions, the counter table
    AND the per-probe min-estimate bit-for-bit (grouped by source)."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    toks = _tokens(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    D, W = 4, 512
    cms = cms_build(toks, "token", ["source"], depth=D, width=W)
    probes = toks.select("source", "token").distinct().limit(200)
    est = cms_estimate(cms, probes, "token", ["source"], depth=D, width=W)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    con.execute(
        """
        CREATE VIEW toks AS
        SELECT doc_id, source, unnest(
          list_filter(string_split(regexp_replace(lower(coalesce(text,'')),
            '[^a-z ]', ' ', 'g'), ' '), t -> t <> '')) AS token
        FROM documents WHERE doc_id % 5 = 0
        """
    )
    cells_sql = f"""
        SELECT source, token, i.i AS d,
               CAST(('0x' || substr(md5('cms:' || i.i || ':' || token), 1, 15))
                    AS BIGINT) % {W} AS w
        FROM toks CROSS JOIN (SELECT unnest(range({D})) AS i) i
    """
    duck_cms = con.execute(
        f"""
        SELECT source, CAST(d AS INT), CAST(w AS INT),
               CAST(count(*) AS BIGINT)
        FROM ({cells_sql}) GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """
    ).fetchall()
    assert duck_cms == sorted(map(tuple, cms.collect()))

    probe_rows = sorted(map(tuple, probes.collect()))
    con.execute(
        "CREATE TABLE probe_vals (source VARCHAR, token VARCHAR)"
    )
    con.executemany("INSERT INTO probe_vals VALUES (?, ?)", probe_rows)
    duck_est = con.execute(
        f"""
        WITH sketch AS (
            SELECT source, d, w, count(*) AS cnt FROM ({cells_sql})
            GROUP BY 1, 2, 3
        ), ppos AS (
            SELECT p.source, p.token, i.i AS d,
                   CAST(('0x' || substr(md5('cms:' || i.i || ':' || p.token), 1, 15))
                        AS BIGINT) % {W} AS w
            FROM probe_vals p CROSS JOIN (SELECT unnest(range({D})) AS i) i
        )
        SELECT ppos.source, ppos.token,
               CAST(min(coalesce(s.cnt, 0)) AS BIGINT)
        FROM ppos LEFT JOIN sketch s
          ON s.source = ppos.source AND s.d = ppos.d AND s.w = ppos.w
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    assert duck_est == sorted(map(tuple, est.collect()))


# --- quantile sketches -------------------------------------------------------


def test_qsk_buckets_and_quantiles_vs_duckdb_and_error_bound(spark, sf_dir):
    """DuckDB re-derives the integer bucket table AND every quantile
    answer bit-for-bit (no libm anywhere in the construction), and the
    estimates sit within the 2^(1-prec) relative-error bound of the
    EXACT rank-⌈q·n⌉ quantile."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.sketches import (
        qsk_build,
        qsk_quantiles,
    )

    prec = 8
    qs = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    sk = qsk_build(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        "n_chars",
        ["source"],
        prec_bits=prec,
    )
    est = qsk_quantiles(sk, qs, ["source"])

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    bucket_sql = f"""
        SELECT source,
               CASE WHEN v < 0
                    THEN -((abs(v) >> s) << s)
                    ELSE (abs(v) >> s) << s END AS qb
        FROM (SELECT source, CAST(n_chars AS BIGINT) AS v,
                     greatest(length(bin(abs(CAST(n_chars AS BIGINT)))) - {prec},
                              0) AS s
              FROM documents WHERE n_chars IS NOT NULL)
    """
    duck_sk = con.execute(
        f"SELECT source, qb, CAST(count(*) AS BIGINT) FROM ({bucket_sql}) "
        f"GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    assert duck_sk == sorted(map(tuple, sk.collect()))

    duck_est = con.execute(
        f"""
        WITH sk AS (
          SELECT source, qb, count(*) AS cnt FROM ({bucket_sql}) GROUP BY 1, 2),
        c AS (
          SELECT source, qb,
                 sum(cnt) OVER (PARTITION BY source ORDER BY qb) AS cum,
                 sum(cnt) OVER (PARTITION BY source) AS tot
          FROM sk)
        SELECT source, CAST(q AS DOUBLE) AS q, min(qb)
        FROM c CROSS JOIN (SELECT unnest({qs!r}) AS q) qq
        WHERE cum >= ceil(q * tot)
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    got = sorted(
        (r.source, r.q, r.quantile_estimate) for r in est.collect()
    )
    assert got == [tuple(r) for r in duck_est]

    # error bound vs the EXACT rank-ceil(q*n) quantile (same rank rule)
    truth = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            f"""
            WITH v AS (
              SELECT source, CAST(n_chars AS BIGINT) AS v,
                     row_number() OVER (PARTITION BY source ORDER BY n_chars)
                       AS rn,
                     count(*) OVER (PARTITION BY source) AS n
              FROM documents WHERE n_chars IS NOT NULL)
            SELECT source, CAST(q AS DOUBLE) AS q, min(v)
            FROM v CROSS JOIN (SELECT unnest({qs!r}) AS q) qq
            WHERE rn >= greatest(ceil(q * n), 1)
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    for src, q, e in got:
        t = truth[(src, q)]
        assert abs(e - t) <= abs(t) * 2 ** (1 - prec), (src, q, e, t)


def test_qsk_handles_negatives_and_is_partition_invariant(spark):
    from mapreduce_stockheadlines_spark.operators.sketches import (
        qsk_build,
        qsk_quantiles,
    )

    vals = [(-1000,), (-999,), (-10,), (0,), (3,), (1000,), (123456789,)]
    df = spark.createDataFrame(vals, "v bigint")
    sk = sorted(map(tuple, qsk_build(df, "v").collect()))
    sk2 = sorted(map(tuple, qsk_build(df.repartition(5), "v").collect()))
    assert sk == sk2
    q = {
        r.q: r.quantile_estimate
        for r in qsk_quantiles(qsk_build(df, "v"), [0.0, 0.5, 1.0]).collect()
    }
    # min bucket of -1000 at prec 8 is exact (magnitude < 2^8 untouched
    # only below 256 — here width 4: -1000 rounds toward zero to -1000)
    assert q[0.0] <= -996 and q[1.0] <= 123456789 <= q[1.0] * (1 + 2**-7)
    assert -10 <= q[0.5] <= 0  # rank ceil(0.5*7)=4 → value 0's bucket


def test_qsk_quantiles_rejects_out_of_range_q(spark):
    import pytest

    from mapreduce_stockheadlines_spark.operators.sketches import (
        qsk_build,
        qsk_quantiles,
    )

    sk = qsk_build(spark.createDataFrame([(1,)], "v bigint"), "v")
    for bad in ([], [1.5], [-0.1, 0.5]):
        with pytest.raises(ValueError, match="quantiles"):
            qsk_quantiles(sk, bad)


# --- KMV / theta sketches ----------------------------------------------------


def _kmv_duck_hv_sql(value_expr: str, salt: str = "kmv") -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}:' || "
        f"coalesce(CAST({value_expr} AS VARCHAR), '')), 1, 15)) AS BIGINT)"
    )


def test_kmv_merge_exactly_equals_build_of_union(spark, sf_dir):
    from mapreduce_stockheadlines_spark.operators.sketches import (
        kmv_build,
        kmv_merge,
    )

    e = table(spark, sf_dir, "events")
    a = e.filter(F.col("event_id") % 2 == 0)
    b = e.filter(F.col("event_id") % 2 != 0)
    k = 32
    merged = kmv_merge(
        kmv_build(a, "user_id", ["event_type"], k=k),
        kmv_build(b, "user_id", ["event_type"], k=k),
        ["event_type"],
        k=k,
    )
    whole = kmv_build(e, "user_id", ["event_type"], k=k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_kmv_exact_when_unsaturated_and_partition_invariant(spark, sf_dir):
    """A sketch with fewer than k distinct keys carries theta = SPACE
    and an EXACT distinct count; the sketch itself is a set, so input
    partitioning cannot move it."""
    from mapreduce_stockheadlines_spark.operators.sketches import (
        _KMV_SPACE,
        kmv_build,
        kmv_estimate,
    )

    e = table(spark, sf_dir, "events")
    k = 10_000
    sk = kmv_build(e, "user_id", ["event_type"], k=k)
    sk13 = kmv_build(e.repartition(13), "user_id", ["event_type"], k=k)
    assert sorted(map(tuple, sk.collect())) == sorted(
        map(tuple, sk13.collect())
    )
    est = {
        r["event_type"]: (r["theta"], r["distinct_estimate"])
        for r in kmv_estimate(sk, ["event_type"], k=k).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for et, (theta, d) in est.items():
        assert theta == _KMV_SPACE
        assert d == exact[et]


def test_kmv_estimate_error_bound_when_saturated(spark):
    """Saturated estimate lands within 5x the ~1/sqrt(k-2) RSE of the
    true distinct count (deterministic given the md5 hash, so this is
    a fixed regression pin, not a flaky statistical gate)."""
    from mapreduce_stockheadlines_spark.operators.sketches import (
        kmv_build,
        kmv_estimate,
    )

    n, k = 5000, 128
    df = spark.range(n).select(F.concat(F.lit("u"), "id").alias("key"))
    est = kmv_estimate(kmv_build(df, "key", k=k), k=k).collect()[0]
    rel = abs(est["distinct_estimate"] - n) / n
    assert rel <= 5.0 / (k - 2) ** 0.5, (est["distinct_estimate"], n)


def test_kmv_build_estimate_vs_duckdb(spark, sf_dir):
    """DuckDB re-derives the salted-md5 hashes, the per-group k-smallest
    ranking, theta selection AND the integer floor-divide estimate
    bit-for-bit — the strongest-pin contract, not a tolerance gate."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.sketches import (
        _KMV_SPACE,
        kmv_build,
        kmv_estimate,
    )

    k = 32
    e = table(spark, sf_dir, "events")
    sk = kmv_build(e, "user_id", ["event_type"], k=k)
    est = kmv_estimate(sk, ["event_type"], k=k)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    hv = _kmv_duck_hv_sql("user_id")
    duck_sk = con.execute(
        f"""
        WITH hv AS (SELECT DISTINCT event_type, {hv} AS hv FROM events),
        rk AS (SELECT event_type, hv,
                      row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
               FROM hv)
        SELECT event_type, hv FROM rk WHERE r <= {k} ORDER BY 1, 2
        """
    ).fetchall()
    assert duck_sk == sorted(map(tuple, sk.collect()))
    duck_est = con.execute(
        f"""
        WITH hv AS (SELECT DISTINCT event_type, {hv} AS hv FROM events),
        rk AS (SELECT event_type, hv,
                      row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
               FROM hv),
        sk AS (SELECT event_type, hv FROM rk WHERE r <= {k}),
        agg AS (SELECT event_type, count(*) AS n, max(hv) AS mx
                FROM sk GROUP BY 1)
        SELECT event_type,
               CASE WHEN n < {k} THEN {_KMV_SPACE} ELSE mx END AS theta,
               CAST(((CASE WHEN n < {k} THEN n ELSE {k - 1} END)::HUGEINT
                     * {_KMV_SPACE}::HUGEINT)
                    // greatest(CASE WHEN n < {k} THEN {_KMV_SPACE} ELSE mx END,
                                1)::HUGEINT AS BIGINT) AS est
        FROM agg ORDER BY 1
        """
    ).fetchall()
    assert duck_est == sorted(map(tuple, est.collect()))


def test_kmv_set_estimates_semantics_and_vs_duckdb(spark, sf_dir):
    """Set algebra under the common theta: exact when both sides are
    unsaturated, and the saturated path's union/intersect/difference
    decisions re-derive bit-for-bit in DuckDB."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.sketches import (
        kmv_build,
        kmv_set_estimates,
    )

    e = table(spark, sf_dir, "events")
    a_raw = e.filter(F.col("event_type").isin("click", "view"))
    b_raw = e.filter(F.col("event_type").isin("purchase", "view"))

    # exact arm: unsaturated on both sides → plain set cardinalities
    big_k = 10_000
    ex = kmv_set_estimates(
        kmv_build(a_raw, "user_id", k=big_k),
        kmv_build(b_raw, "user_id", k=big_k),
        k=big_k,
    ).collect()[0]
    ua = {r[0] for r in a_raw.select("user_id").distinct().collect()}
    ub = {r[0] for r in b_raw.select("user_id").distinct().collect()}
    assert ex["union_estimate"] == len(ua | ub)
    assert ex["intersect_estimate"] == len(ua & ub)
    assert ex["diff_estimate"] == len(ua - ub)

    # saturated arm: DuckDB re-derives every decision bit-for-bit
    k = 16
    est = kmv_set_estimates(
        kmv_build(a_raw.withColumn("g", F.lit(1)), "user_id", ["g"], k=k),
        kmv_build(b_raw.withColumn("g", F.lit(1)), "user_id", ["g"], k=k),
        ["g"],
        k=k,
    )
    rows = sorted(map(tuple, est.collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    hv = _kmv_duck_hv_sql("user_id")
    duck = con.execute(
        f"""
        WITH hva AS (SELECT DISTINCT {hv} AS hv FROM events
                     WHERE event_type IN ('click', 'view')),
        hvb AS (SELECT DISTINCT {hv} AS hv FROM events
                WHERE event_type IN ('purchase', 'view')),
        ska AS (SELECT hv FROM (
                  SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM hva)
                WHERE r <= {k}),
        skb AS (SELECT hv FROM (
                  SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM hvb)
                WHERE r <= {k}),
        th AS (SELECT least(
                 (SELECT CASE WHEN count(*) < {k} THEN {1 << 60}
                         ELSE max(hv) END FROM ska),
                 (SELECT CASE WHEN count(*) < {k} THEN {1 << 60}
                         ELSE max(hv) END FROM skb)) AS theta),
        sa AS (SELECT hv FROM ska, th WHERE hv < theta),
        sb AS (SELECT hv FROM skb, th WHERE hv < theta),
        c AS (SELECT
                (SELECT count(*) FROM (SELECT hv FROM sa UNION SELECT hv FROM sb)) AS nu,
                (SELECT count(*) FROM sa WHERE hv IN (SELECT hv FROM sb)) AS ni,
                (SELECT count(*) FROM sa WHERE hv NOT IN (SELECT hv FROM sb)) AS nd)
        SELECT 1 AS g, theta,
               CAST((nu::HUGEINT * {1 << 60}::HUGEINT)
                    // greatest(theta, 1)::HUGEINT AS BIGINT) AS u,
               CAST((ni::HUGEINT * {1 << 60}::HUGEINT)
                    // greatest(theta, 1)::HUGEINT AS BIGINT) AS i,
               CAST((nd::HUGEINT * {1 << 60}::HUGEINT)
                    // greatest(theta, 1)::HUGEINT AS BIGINT) AS d
        FROM th, c
        """
    ).fetchall()
    assert duck == rows


def test_x16_kmv_columns_nondegenerate(spark, sf_dir):
    """Promotion guard for the round-9 KMV columns: per-type user-DAY
    sets differ (user SETS are generator-identical — the reason the
    key is user:epoch-day), and k=8 saturates at every SF, so theta,
    the distinct estimate and both set-algebra estimates must all
    vary across event types."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x16_approx_aggregates,
    )

    x16 = x16_approx_aggregates(spark, sf_dir).cache()
    try:
        for col in (
            "kmv_theta",
            "kmv_user_days",
            "kmv_inter_click",
            "kmv_diff_click",
        ):
            assert_column_nondegenerate(x16, col, f"at {sf_dir}")
    finally:
        x16.unpersist()

