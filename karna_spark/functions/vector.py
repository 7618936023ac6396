"""Vector column expressions (SURVEY.md §2.7 F8) over
ArrayType(Float/Double) embedding columns.

Pure SQL higher-order functions — `zip_with` for elementwise product,
`aggregate` for the fold — so the math stays JVM-side inside codegen:
no Python, no UDF, works at any scale the scan works at. The fold is
sequential within a row, which also makes results bit-deterministic
(same input array → same double, on every executor).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ (double)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_l2(a: Column) -> Column:
    """‖a‖₂."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero vectors (returns NULL via
    division by zero → NaN guarded to NULL)."""
    d = dot(a, b)
    n = norm_l2(a) * norm_l2(b)
    return F.when(n > 0, d / n)


def scale(a: Column, s: Column | float) -> Column:
    s = F.lit(s) if not isinstance(s, Column) else s
    return F.transform(_as_double(a), lambda x: x * s)


def add(a: Column, b: Column) -> Column:
    return F.zip_with(_as_double(a), _as_double(b), lambda x, y: x + y)


def normalize(a: Column) -> Column:
    """Unit-norm copy (NULL for zero vectors)."""
    n = norm_l2(a)
    return F.when(n > 0, F.transform(_as_double(a), lambda x: x / n))
