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


def f64_sql(x) -> str:
    """exact double literal: repr is the shortest round-trip form, so
    ``CAST('repr' AS DOUBLE)`` restores every bit."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def i64_sql(x) -> str:
    """BIGINT literal."""
    return f"{int(x)}L"


def str_sql(x) -> str:
    """STRING literal. Spark SQL reads backslash escapes inside string
    literals, so ``\\`` and ``'`` are escaped."""
    return "'" + str(x).replace("\\", "\\\\").replace("'", "\\'") + "'"


def array_sql(values, elem=f64_sql) -> str:
    """(nested) list of numbers or strings as ONE literal ``array(...)``
    SQL string, each leaf written by ``elem``. Parsed JVM-side in one
    ``F.expr`` call, where nested F.lit/F.array would cost one py4j
    round-trip per element (~1 s per plan at 8×64)."""
    if isinstance(values, (list, tuple)):
        return "array(" + ",".join(array_sql(v, elem) for v in values) + ")"
    return elem(values)


def sign_bucket_sql(a: str, nbits: int) -> str:
    """DuckDB rendering of :func:`sign_bucket`."""
    terms = " + ".join(
        f"(CASE WHEN {a}[{i + 1}] > 0 THEN {1 << (nbits - 1 - i)} ELSE 0 END)"
        for i in range(nbits)
    )
    return f"({terms})"
