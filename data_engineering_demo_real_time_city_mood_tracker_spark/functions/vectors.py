"""Vector math over ``array<float>`` columns — pure higher-order
functions (``zip_with``/``aggregate``), evaluated JVM-side.

At 100 TB scale these run inside codegen next to the parquet scan; no
Arrow transfer, no Python. A Pandas-UDF variant exists for cases where
numpy batch math wins (very high dims) — see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def sign_bucket(a: Column, nbits: int) -> Column:
    """Axis-aligned hyperplane LSH: bucket id from the sign bits of the
    first ``nbits`` dimensions. Deterministic, engine-portable, and a
    genuine locality-sensitive hash for cosine distance.
    """
    bits = F.transform(
        F.slice(a, 1, nbits), lambda x: F.when(x > 0, F.lit(1)).otherwise(F.lit(0))
    )
    return F.aggregate(bits, F.lit(0), lambda acc, b: acc * 2 + b)


def sign_bucket_sql(a: str, nbits: int) -> str:
    """DuckDB rendering of :func:`sign_bucket`."""
    terms = " + ".join(
        f"(CASE WHEN {a}[{i + 1}] > 0 THEN {1 << (nbits - 1 - i)} ELSE 0 END)"
        for i in range(nbits)
    )
    return f"({terms})"
