"""Vector math over array<float> embedding columns.

Pure higher-order built-ins (``zip_with`` + ``aggregate``): JVM-side,
codegen'd, no Python. Floats are cast to double *before* multiplying
and both engines fold left-to-right, which makes the results bitwise
identical between Spark and DuckDB (verified empirically — max abs
diff 0.0 over all sf0.001 pairs), so similarity queries can be
hash-checked against the oracle.

Reference parity: this replaces the reference's per-row numpy
euclidean distance (src/prediction_producer.py:314-325) with columnar
expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def dot_spark(a: Column, b: Column) -> Column:
    return _sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def dot_duck(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )


def l2_spark(a: Column) -> Column:
    return F.sqrt(_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def l2_duck(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def cosine_normed(a: Column, an: Column, b: Column, bn: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their l2 norms ``an`` and ``bn``.
    Over norm columns projected once per row with :func:`l2_spark` it
    is bitwise-identical to :func:`cosine_spark` (the same fold over
    the same vector yields the same bits), so a scorer pays the norm
    folds per row instead of per scored pair."""
    # try_divide: a zero-norm vector yields NULL instead of an ANSI
    # divide-by-zero error; identical to plain division otherwise
    return F.try_divide(dot_spark(a, b), an * bn)


def cosine_spark(a: Column, b: Column) -> Column:
    return cosine_normed(a, l2_spark(a), b, l2_spark(b))


def cosine_duck(a: str, b: str) -> str:
    return f"({dot_duck(a, b)} / ({l2_duck(a)} * {l2_duck(b)}))"


def euclid_spark(a: Column, b: Column) -> Column:
    """sqrt(sum((a-b)^2)) — the reference's face-match metric
    (src/prediction_producer.py:314-325), as a codegen'd fold."""
    d = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(_sum(d))


def euclid_duck(a: str, b: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(list_zip({a}, {b}), "
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
        "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))))"
    )
