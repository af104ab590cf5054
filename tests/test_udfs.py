"""Scalar pandas UDF surface: Unicode normalization checked against
DuckDB's normalization functions."""

from __future__ import annotations


def test_normalize_unicode_matches_duckdb(spark):
    """NFC normalization and accent stripping agree with DuckDB's
    nfc_normalize/strip_accents on combining-accent text; NFKC folds
    full-width compatibility forms; NULL passes through."""
    import duckdb

    from mapreduce_stockheadlines_spark.functions.udfs import (
        normalize_unicode,
    )

    rows = [
        (1, "café naïve"),     # decomposed accents
        (2, "café naïve"),        # precomposed, same text
        (3, "ＡＢＣ １２"),  # full-width ABC 12
        (4, "plain ascii"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    nfc = {
        r.id: r.n
        for r in df.select("id", normalize_unicode("t", "NFC").alias("n")).collect()
    }
    stripped = {
        r.id: r.n
        for r in df.select(
            "id", normalize_unicode("t", "NFC", strip_accents=True).alias("n")
        ).collect()
    }
    con = duckdb.connect()
    for i, t in rows:
        if t is None:
            assert nfc[i] is None and stripped[i] is None
            continue
        want_nfc, want_strip = con.execute(
            "SELECT nfc_normalize(?), strip_accents(nfc_normalize(?))",
            [t, t],
        ).fetchone()
        assert nfc[i] == want_nfc, i
        assert stripped[i] == want_strip, i
    # NFC unifies rows 1 and 2; strip makes them plain ascii
    assert nfc[1] == nfc[2]
    assert stripped[1] == stripped[2] == "cafe naive"
    # NFKC folds full-width to ASCII (NFC alone does not)
    nfkc = {
        r.id: r.n
        for r in df.select(
            "id", normalize_unicode("t", "NFKC").alias("n")
        ).collect()
    }
    assert nfkc[3] == "ABC 12" and nfc[3] != "ABC 12"


def test_normalize_unicode_preserves_decomposed_forms(spark):
    """An NFD caller gets NFD output even with strip_accents (Hangul
    Jamo survive the mark strip and must NOT recompose)."""
    import unicodedata

    from mapreduce_stockheadlines_spark.functions.udfs import (
        normalize_unicode,
    )

    df = spark.createDataFrame([(1, "한 café")], "id long, t string")
    out = df.select(
        normalize_unicode("t", "NFD", strip_accents=True).alias("n")
    ).collect()[0].n
    assert out == unicodedata.normalize("NFD", "한 cafe")
    assert out != unicodedata.normalize("NFC", "한 cafe")
