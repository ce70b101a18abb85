"""Vector math over ``array<float>`` embedding columns.

Uses ``F.zip_with``/``F.aggregate`` (JVM-side higher-order functions) — no
Python UDF, no collect; scales as a plain narrow projection.  The dot
product is fixed-point (floor-quantized products summed as int64), so the
result is order-independent and bit-identical to the DuckDB oracle (see
functions.exact for the rationale).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCALE = 9
_Q = float(10**_SCALE)


def exact_dot(a: Column, b: Column) -> Column:
    """Order-independent, engine-stable dot product: per-element double
    product quantized with floor(x*1e9) (exact on doubles in both engines),
    summed as int64 (64-dim embeddings: |sum| < 1e13, no overflow), scaled
    back to double."""
    prods = F.zip_with(
        a, b,
        lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(_Q)),
    )
    return (
        F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v).cast("double")
        / F.lit(_Q)
    )


def norm(a: Column) -> Column:
    return F.sqrt(exact_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine: :func:`exact_dot` over the product of the two norms."""
    return exact_dot(a, b) / (norm(a) * norm(b))


def exact_dot_sql(a: str, b: str) -> str:
    """Oracle mirror of :func:`exact_dot` (DuckDB list lambdas)."""
    return (
        f"(CAST(list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * {_Q:.1f}) AS BIGINT)), "
        f"'sum') AS DOUBLE) / {_Q:.1f})"
    )


def cosine_sql(a: str, b: str) -> str:
    """Oracle mirror of :func:`cosine`."""
    return (
        f"{exact_dot_sql(a, b)} / (sqrt({exact_dot_sql(a, a)})"
        f" * sqrt({exact_dot_sql(b, b)}))"
    )
