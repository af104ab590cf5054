"""Broadcast Bloom-filter membership gate: day-N ingest dedup that
never joins history.

A persistent digest index answers "have we seen this content before?"
with an exact anti-join — day N pays a join of day-N digests against an
index that GROWS with history. A Bloom filter is the scale complement:
an m-bit bitmap summarizing the index (MBs for billions of keys at ~1%
FPR) that is broadcast once and gates the corpus with ZERO shuffle and
ZERO join. "Definitely new" rows (the
overwhelming majority of a crawl day) bypass the exact join entirely;
only might-contain rows (true dups plus the ~FPR sliver) probe the
index. False negatives are impossible by construction, so
``bloom_gated_anti_join`` returns EXACTLY the plain anti-join's rows
(pinned in tests).

Portability: the k positions are independent salted md5 hashes mod m
(the same md5 primitive as ``sampling.hash_fraction``) and the bitmap
is packed 32 bits per BIGINT word, so DuckDB re-derives the bitmap and
every membership decision bit-for-bit — 32-bit masks keep every
intermediate positive, dodging engine-specific signed-shift edges that
64-bit packing would hit at bit 63.

Scale shape: build is one explode(k) + ``bit_or`` census keyed by
word index — output ≤ m/32 rows, bounded by the m YOU chose, never by
the data. Lookup computes the k positions in codegen (JVM md5), then a
single Arrow ``pandas_udf`` does pure numpy bitmap indexing against
the broadcast array — no shuffle, no join; Python never hashes, it
only indexes. A JVM-only twin (``bloom_lookup_join``: explode +
broadcast join + ``bool_and``) is pinned equal for plans that must
stay Python-free; it costs the k-rows-per-doc groupBy the Arrow path
avoids. Bitmaps are mergeable cell by cell (``bit_or``), so
per-period bloom artifacts pair with ``sources/versioned.py`` for
atomically-published artifact history.

Sizing: FPR ~= (1 - e^(-k*n/m))^k. With k=5 and m = 10 bits/key the
rate is ~0.9%; the default m of 2^23 bits (1 MB) covers ~840 K keys at
that rate. The hard cap of 2^28 bits keeps the driver/broadcast copy
<= 32 MB — the same bounded-build-side contract as ``cosine_topk``'s
query panel (the collect here is of the ≤ m/32-row bitmap, never data).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_M_BITS = 1 << 23  # 1 MB bitmap: ~840 K keys at ~1% FPR with k=5
DEFAULT_K = 5
# one salt for every Bloom build and probe: a bitmap answers only for
# positions hashed with the salt it was built with
BLOOM_SALT = "bloom"
_MAX_M_BITS = 1 << 28  # 32 MB driver/broadcast bitmap cap
_WORD = 32  # bits packed per BIGINT word (positive masks in every engine)


def _check_m(m_bits: int) -> None:
    if m_bits % _WORD != 0 or m_bits < 1024 or m_bits > _MAX_M_BITS:
        raise ValueError(
            f"m_bits must be a multiple of {_WORD} in [1024, {_MAX_M_BITS}], "
            f"got {m_bits}"
        )


def bloom_positions(
    value: Column | str, m_bits: int, k: int = DEFAULT_K, salt: str = BLOOM_SALT
) -> list[Column]:
    """The k md5-derived bit positions for one key (codegen, JVM-side).

    NULL keys hash as '' — the same NULL-collapses-to-empty convention
    as ``line_dedup`` — so a NULL is a *stable* key, not a NULL
    decision. 15 hex chars = 60 bits, safely inside BIGINT before the
    mod.
    """
    v = F.col(value) if isinstance(value, str) else value
    v = F.coalesce(v.cast("string"), F.lit(""))
    out = []
    for i in range(k):
        digest = F.md5(F.concat(F.lit(f"{salt}:{i}:"), v).cast("binary"))
        pos = F.pmod(
            F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint"),
            F.lit(m_bits),
        )
        out.append(pos)
    return out


def _cells(pos_rows: DataFrame, *carry: str) -> DataFrame:
    """(pos) → (word_idx, mask) with any carried id columns."""
    return pos_rows.select(
        *carry,
        F.expr(f"CAST(pos DIV {_WORD} AS INT) AS word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD} AS INT)) AS mask"),
    )


def bloom_build(
    df: DataFrame,
    value_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Build the sparse bitmap: (word_idx int, bits bigint), ≤ m/32
    rows regardless of input size. ``bit_or`` partially aggregates
    map-side, so the shuffle carries at most m/32 rows per partition.
    """
    _check_m(m_bits)
    pos_rows = df.select(
        F.explode(F.array(*bloom_positions(value_col, m_bits, k))).alias("pos")
    )
    return _cells(pos_rows).groupBy("word_idx").agg(F.bit_or("mask").alias("bits"))


def _bitmap_array(bloom_df: DataFrame, m_bits: int) -> np.ndarray:
    """Densify the sparse bitmap into an int64 numpy array (values all
    < 2^32). Bounded at m/32 words by ``_check_m`` — ≤ 32 MB at the
    cap; this is a bitmap collect, never a data collect."""
    arr = np.zeros(m_bits // _WORD, dtype=np.int64)
    pdf = bloom_df.select("word_idx", "bits").toPandas()
    if len(pdf):
        arr[pdf["word_idx"].to_numpy()] = pdf["bits"].to_numpy()
    return arr


def bloom_lookup(
    df: DataFrame,
    value_col: str,
    bloom_df: DataFrame,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    out_col: str = "might_contain",
) -> DataFrame:
    """df + boolean ``out_col``: False means DEFINITELY absent from the
    built key set; True means present-or-false-positive. Positions are
    computed JVM-side; the Arrow UDF only indexes the broadcast bitmap
    (vectorized, no shuffle)."""
    _check_m(m_bits)
    bc = df.sparkSession.sparkContext.broadcast(_bitmap_array(bloom_df, m_bits))

    @F.pandas_udf("boolean")
    def _all_bits_set(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        bitmap = bc.value
        mat = np.asarray(pos.tolist(), dtype=np.int64)  # n x k
        hits = (bitmap[mat >> 5] & (np.int64(1) << (mat & (_WORD - 1)))) != 0
        return pd.Series(hits.all(axis=1))

    return df.withColumn(
        out_col,
        _all_bits_set(F.array(*bloom_positions(value_col, m_bits, k))),
    )


def bloom_lookup_join(
    df: DataFrame,
    value_col: str,
    id_col: str,
    bloom_df: DataFrame,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    out_col: str = "might_contain",
) -> DataFrame:
    """JVM-only codegen twin of ``bloom_lookup`` (pinned equal in
    tests): explode the k positions, broadcast-join the ≤ m/32-row
    bitmap, ``bool_and`` the bit tests per id. Keeps the plan
    Python-free at the cost of a k-rows-per-doc groupBy shuffle the
    Arrow path avoids — the fallback, not the default."""
    _check_m(m_bits)
    pos_rows = df.select(
        id_col,
        F.explode(F.array(*bloom_positions(value_col, m_bits, k))).alias("pos"),
    )
    tests = _cells(pos_rows, id_col).join(
        F.broadcast(bloom_df), "word_idx", "left"
    )
    per_id = tests.groupBy(id_col).agg(
        F.bool_and(
            F.coalesce("bits", F.lit(0)).bitwiseAND(F.col("mask")) != 0
        ).alias(out_col)
    )
    return df.join(per_id, id_col)


def bloom_gated_anti_join(
    new_df: DataFrame,
    key_col: str,
    index_df: DataFrame,
    bloom_df: DataFrame,
    index_key_col: str | None = None,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Rows of ``new_df`` whose key is NOT in ``index_df`` — exactly
    ``new_df`` LEFT ANTI ``index_df`` (pinned), but the anti-join's
    probe side shrinks from all of day N to just the might-contain
    sliver. ``bloom_df`` must have been built (or unioned up) from the
    index's keys with the same (m, k); a stale-but-superset
    bitmap stays correct, only less selective."""
    index_key_col = index_key_col or key_col
    flagged = bloom_lookup(
        new_df, key_col, bloom_df, m_bits, k, out_col="__mc"
    )
    fresh = flagged.filter(~F.col("__mc"))
    candidates = flagged.filter(F.col("__mc")).join(
        index_df.select(F.col(index_key_col).alias(key_col)).distinct(),
        key_col,
        "left_anti",
    )
    return fresh.unionByName(candidates).drop("__mc")
