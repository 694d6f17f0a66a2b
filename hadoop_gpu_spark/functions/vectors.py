"""Vector expressions over array<float> embedding columns.

All JVM-side (zip_with/aggregate) — elements are cast to double before any
arithmetic so results are engine-portable IEEE sequences (left-to-right
accumulation, matching DuckDB's list_dot_product over DOUBLE[]).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_sq(a: Column | str) -> Column:
    return dot(a, a)


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / F.sqrt(norm_sq(a) * norm_sq(b))


def euclidean_sq(a: Column | str, b: Column | str) -> Column:
    diffs = F.zip_with(
        _c(a), _c(b), lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
