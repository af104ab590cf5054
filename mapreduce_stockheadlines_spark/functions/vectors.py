"""Vector (embedding) column expressions.

Embeddings are plain ``array<float>`` columns (§2.2 extension — the
reference has no vector types). All math stays JVM-side via the
higher-order functions ``zip_with``/``aggregate`` — no Python UDF in the
hot path; a sequential left fold gives deterministic, oracle-matchable
double arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    vec = F.col(vec) if isinstance(vec, str) else vec
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))

