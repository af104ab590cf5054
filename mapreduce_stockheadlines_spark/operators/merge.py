"""Incremental table maintenance: MERGE (upsert) and snapshot diff (CDC
extraction).

The reference recomputes its outputs from scratch on every run
(/root/reference/src/StockCount.java:70-82 — one batch job, no notion of
applying a delta); a 100 TB corpus cannot be rebuilt per batch, so the
engine needs the standard incremental pair:

- ``merge_upsert``: SQL MERGE semantics (update matched / insert new /
  optionally delete flagged) as ONE full-outer shuffle join on the key —
  the changes side is a delta (usually orders of magnitude smaller than
  the target), and nothing else in the target is rewritten or shuffled
  twice.
- ``snapshot_diff``: classify rows as inserted / deleted / updated
  between two table versions via a null-safe full-outer compare — the
  standard way to extract a CDC stream when the source can't emit one.

Both are pure DataFrame compositions (codegen, AQE-eligible) and
deterministic, so each is DuckDB-oracle-checked in tests/test_merge.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """SQL MERGE: rows matched on ``keys`` take the source's values
    (WHEN MATCHED THEN UPDATE), unmatched source rows are inserted
    (WHEN NOT MATCHED THEN INSERT), unmatched target rows pass through.
    If ``delete_col`` names a boolean column of ``source``, flagged rows
    are deleted instead of upserted (and never inserted).

    The source must be unique per key (a MERGE precondition — SQL raises
    on multi-match; pre-aggregate the delta upstream, e.g. latest change
    per key via a row_number window).

    Scale shape: ONE full-outer join on the key. With join-key hashing
    both sides co-locate in a single exchange each; the target is never
    scanned twice and no per-row Python runs. Output column order equals
    the target's.
    """
    value_cols = [c for c in target.columns if c not in keys]
    src = source
    if delete_col is not None:
        src = src.withColumn("_del", F.col(delete_col).cast("boolean"))
        if delete_col not in keys:
            src = src.drop(delete_col)
    for c in value_cols:
        src = src.withColumnRenamed(c, f"_s_{c}")
    src = src.withColumn("_in_src", F.lit(1))
    tgt = target.withColumn("_in_tgt", F.lit(1))

    joined = tgt.join(src, keys, "full_outer")
    if delete_col is not None:
        joined = joined.filter(~F.coalesce(F.col("_del"), F.lit(False)))

    matched = F.col("_in_src") == 1
    out = [
        *(F.col(k) for k in keys),
        *(
            F.when(matched, F.col(f"_s_{c}")).otherwise(F.col(c)).alias(c)
            for c in value_cols
        ),
    ]
    return joined.select(*out)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
) -> DataFrame:
    """CDC extraction from two table versions: one output row per changed
    key with ``change`` ∈ {'I','U','D'}, the old values as ``old_<col>``
    and the new values as ``new_<col>`` (NULL slots on the absent side).
    Unchanged rows (all value columns null-safe-equal) are not emitted.

    Both versions must be unique per key. Scale shape: one full-outer
    join on the key; the null-safe comparison is a codegen projection,
    so cost is the two scans plus one co-partitioning exchange per side.
    """
    value_cols = [c for c in old.columns if c not in keys]
    o = old.withColumn("_in_old", F.lit(1))
    n = new.withColumn("_in_new", F.lit(1))
    for c in value_cols:
        o = o.withColumnRenamed(c, f"_o_{c}")
        n = n.withColumnRenamed(c, f"_n_{c}")
    joined = o.join(n, keys, "full_outer")

    same = F.lit(True)
    for c in value_cols:
        same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("I"))
        .when(F.col("_in_new").isNull(), F.lit("D"))
        .when(~same, F.lit("U"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *keys,
            "change",
            *(F.col(f"_o_{c}").alias(f"old_{c}") for c in value_cols),
            *(F.col(f"_n_{c}").alias(f"new_{c}") for c in value_cols),
        )
    )
