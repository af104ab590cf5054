"""Bloom membership gate: no-false-negative invariant, bounded bitmap,
Arrow-vs-codegen twin equality, gated-anti-join ==
plain-anti-join, and a full DuckDB re-derivation of the bitmap and
every membership decision."""

from __future__ import annotations

import duckdb

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.operators.membership import (
    bloom_build,
    bloom_gated_anti_join,
    bloom_lookup,
    bloom_lookup_join,
)
from mapreduce_stockheadlines_spark.plans.catalog import table

M = 1 << 16  # 64 Kbit test bitmap
K = 5


def _digests(spark, sf_dir):
    """(doc_id, digest) over the documents table — NULL text hashes as
    a stable digest via the md5(coalesce) convention."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias("digest"),
    )


def test_no_false_negatives_and_bounded_fpr(spark, sf_dir):
    docs = _digests(spark, sf_dir)
    inserted = docs.filter(F.col("doc_id") % 2 == 0)
    bloom = bloom_build(inserted, "digest", M, K)
    # every inserted key tests positive — FN impossible
    flagged = bloom_lookup(docs, "digest", bloom, M, K)
    ins = flagged.filter(F.col("doc_id") % 2 == 0)
    assert ins.filter(~F.col("might_contain")).count() == 0
    # disjoint synthetic keys: FPR stays near theory (~0.2% at this
    # fill; allow 2% to keep the assert noise-proof)
    absent = spark.range(4000).select(
        F.concat(F.lit("never-inserted-"), F.col("id").cast("string")).alias("digest")
    )
    fp = (
        bloom_lookup(absent, "digest", bloom, M, K)
        .filter(F.col("might_contain"))
        .count()
    )
    assert fp < 0.02 * 4000


def test_bitmap_bounded(spark, sf_dir):
    whole = bloom_build(_digests(spark, sf_dir), "digest", M, K)
    assert whole.count() <= M // 32


def test_arrow_and_join_twins_agree(spark, sf_dir):
    docs = _digests(spark, sf_dir)
    bloom = bloom_build(docs.filter(F.col("doc_id") % 2 == 0), "digest", M, K)
    arrow = bloom_lookup(docs, "digest", bloom, M, K).select(
        "doc_id", "might_contain"
    )
    join = bloom_lookup_join(docs, "digest", "doc_id", bloom, M, K).select(
        "doc_id", "might_contain"
    )
    assert sorted(map(tuple, arrow.collect())) == sorted(map(tuple, join.collect()))


def test_gated_anti_join_equals_plain_anti_join(spark, sf_dir):
    docs = _digests(spark, sf_dir)
    index = docs.filter(F.col("doc_id") % 4 == 0).select("digest")
    bloom = bloom_build(index, "digest", M, K)
    gated = bloom_gated_anti_join(docs, "digest", index, bloom, m_bits=M, k=K)
    plain = docs.join(index.distinct(), "digest", "left_anti")
    assert sorted(r.doc_id for r in gated.collect()) == sorted(
        r.doc_id for r in plain.collect()
    )
    # stale-but-superset bitmap stays correct: bloom built over MORE
    # keys than the index only sends extra rows down the exact path
    superset_bloom = bloom_build(docs, "digest", M, K)
    gated2 = bloom_gated_anti_join(
        docs, "digest", index, superset_bloom, m_bits=M, k=K
    )
    assert sorted(r.doc_id for r in gated2.collect()) == sorted(
        r.doc_id for r in plain.collect()
    )


def test_null_key_is_stable_not_null(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None)], "id long, key string"
    )
    bloom = bloom_build(df.filter("id = 1"), "key", M, K)
    out = {
        r.id: r.might_contain
        for r in bloom_lookup(df, "key", bloom, M, K).collect()
    }
    assert out[1] is True and out[3] is True  # NULL hashes as '' both sides


def test_m_bits_validation():
    import pytest

    from mapreduce_stockheadlines_spark.operators.membership import _check_m

    for bad in (0, 100, 33, 1 << 29):
        with pytest.raises(ValueError):
            _check_m(bad)
    _check_m(1 << 16)


def test_bitmap_and_decisions_match_duckdb(spark, sf_dir):
    """DuckDB re-derives the k salted-md5 positions, the 32-bit word
    packing, the bit_or bitmap AND every membership decision —
    bit-for-bit, not tolerance-gated."""
    docs = _digests(spark, sf_dir)
    inserted = docs.filter(F.col("doc_id") % 2 == 0)
    bloom = bloom_build(inserted, "digest", M, K)
    decisions = bloom_lookup(docs, "digest", bloom, M, K)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    con.execute(
        f"""
        CREATE VIEW digests AS
        SELECT doc_id, md5(coalesce(text, '')) AS digest FROM documents
        """
    )
    pos_sql = f"""
        SELECT d.doc_id, d.digest,
               CAST(('0x' || substr(md5('bloom:' || i.i || ':' || d.digest), 1, 15))
                    AS BIGINT) % {M} AS pos
        FROM digests d CROSS JOIN (SELECT unnest(range({K})) AS i) i
    """
    duck_bitmap = con.execute(
        f"""
        SELECT CAST(pos // 32 AS INT) AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
        FROM ({pos_sql}) WHERE doc_id % 2 = 0
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    assert duck_bitmap == sorted(map(tuple, bloom.collect()))

    duck_decisions = con.execute(
        f"""
        WITH bitmap AS (
            SELECT CAST(pos // 32 AS INT) AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
            FROM ({pos_sql}) WHERE doc_id % 2 = 0 GROUP BY 1
        )
        SELECT p.doc_id,
               bool_and(coalesce(b.bits, 0)
                        & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT)) != 0)
        FROM ({pos_sql}) p
        LEFT JOIN bitmap b ON b.word_idx = CAST(p.pos // 32 AS INT)
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    spark_decisions = sorted(
        (r.doc_id, r.might_contain) for r in decisions.collect()
    )
    assert duck_decisions == spark_decisions
