"""Corpus profiling operators: the embedding profile and token
divergence, each pinned against DuckDB."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F


def test_profile_embeddings_matches_duckdb(spark, sf_dir):
    """Embedding-column profile pinned against DuckDB over the real
    table, plus hand-checked edge rows (null / empty / zero vector)."""
    from mapreduce_stockheadlines_spark.operators.profile import (
        profile_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = profile_embeddings(emb, "embedding").collect()[0]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = con.sql(
        """
        WITH n AS (SELECT CASE WHEN embedding IS NOT NULL
                                AND len(embedding) > 0
                   THEN round(sqrt(list_sum(list_transform(
                          CAST(embedding AS DOUBLE[]), x -> x * x))), 4)
                   END AS nrm,
                   CASE WHEN embedding IS NOT NULL THEN len(embedding) END AS d
            FROM embeddings)
        SELECT count(*) AS n_rows,
               CAST(count(DISTINCT d) AS BIGINT) AS n_distinct_dims,
               CAST(min(d) AS INTEGER) AS min_dim,
               round(quantile_cont(nrm, 0.5), 4) AS norm_p50
        FROM n
        """
    ).fetchone()
    assert got.n_rows == want[0]
    assert got.n_distinct_dims == want[1]
    assert got.min_dim == want[2]
    # percentile_approx vs quantile_cont: same to within the sketch's
    # resolution on a smooth norm distribution
    assert abs(got.norm_p50 - want[3]) < 0.05
    assert got.n_null == 0 and got.zero_vec_frac == 0.0

    edge = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None), (3, [3.0, 4.0]), (4, [])],
        "vec_id long, embedding array<double>",
    )
    e = profile_embeddings(edge, "embedding").collect()[0]
    assert (e.n_rows, e.n_null, e.n_empty) == (4, 1, 1)
    # empty vectors count as zero vectors: 2 of the 3 non-null rows
    assert e.zero_vec_frac == round(2 / 3, 4)
    assert e.norm_p75 == 5.0  # the 3-4-5 vector
    assert e.min_dim == 0  # the empty vector


def test_token_divergence_identical_and_disjoint(spark):
    import math

    from mapreduce_stockheadlines_spark.operators.profile import (
        token_divergence,
    )

    a = spark.createDataFrame(
        [(1, "alpha beta beta gamma")], ["doc_id", "text"]
    )
    same = token_divergence(a, a).agg(F.sum("js_contrib")).collect()[0][0]
    assert same == pytest.approx(0.0, abs=1e-12)

    b = spark.createDataFrame([(1, "delta epsilon")], ["doc_id", "text"])
    disjoint = token_divergence(a, b).agg(F.sum("js_contrib")).collect()[0][0]
    assert disjoint == pytest.approx(math.log(2), abs=1e-12)

    # symmetry: JS(a,b) == JS(b,a)
    c = spark.createDataFrame(
        [(1, "alpha alpha beta zeta")], ["doc_id", "text"]
    )
    ab = token_divergence(a, c).agg(F.sum("js_contrib")).collect()[0][0]
    ba = token_divergence(c, a).agg(F.sum("js_contrib")).collect()[0][0]
    assert 0 < ab < math.log(2)
    assert ab == pytest.approx(ba, abs=1e-12)


def test_token_divergence_matches_duckdb(spark, sf_dir):
    """Full per-term decomposition vs an independent DuckDB
    reimplementation over an even/odd doc_id split of documents."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.profile import (
        token_divergence,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = token_divergence(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )
    got = {
        r["term"]: (r["c_a"], r["c_b"], r["js_contrib"])
        for r in out.collect()
    }
    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH toks AS (
          SELECT doc_id % 2 AS side, unnest(string_split_regex(
            regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'),
            '\\s+')) AS term
          FROM read_parquet('{sf_dir}/documents.parquet')
        ), counts AS (
          SELECT term,
                 CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
                 CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
          FROM toks WHERE term <> '' GROUP BY term
        ), tot AS (
          SELECT sum(c_a) AS ta, sum(c_b) AS tb FROM counts
        )
        SELECT term, c_a, c_b,
               (CASE WHEN c_a > 0 THEN 0.5 * (c_a / ta) *
                  ln((c_a / ta) / ((c_a / ta + c_b / tb) / 2)) ELSE 0 END)
             + (CASE WHEN c_b > 0 THEN 0.5 * (c_b / tb) *
                  ln((c_b / tb) / ((c_a / ta + c_b / tb) / 2)) ELSE 0 END)
          AS js_contrib
        FROM counts, tot
        """
    ).fetchall()
    assert len(want) == len(got)
    for term, c_a, c_b, js in want:
        g = got[term]
        assert (g[0], g[1]) == (c_a, c_b), term
        assert g[2] == pytest.approx(js, abs=1e-12), term
