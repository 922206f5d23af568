"""Vector math over array<float> embedding columns — pure Column expressions.

Everything here runs JVM-side via higher-order functions (zip_with /
aggregate): no serialization to Python, vectorizable by codegen, and —
critical for oracle checking — *sequential left-to-right accumulation* in
array order, which matches DuckDB's list_sum evaluation, so double results are
bit-identical across engines.

Elements are widened float→double *before* multiplication (exact), so the only
rounding is the IEEE double ops themselves, identical everywhere. The integer
kernels (``int_dot``, ``int_l2_sq``, ``matches``) are exact in any order.

Every array kernel of the package lives here: a query that needs a dot,
distance or agreement count calls one of these instead of writing its own
``zip_with`` fold.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _acc_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with per-element double widening.

    SQL mirror: ``list_sum(list_transform(list_zip(a, b),
    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))``.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _acc_sum(prods)


def norm2(a: Column) -> Column:
    """Euclidean norm. SQL mirror: ``sqrt(list_sum(list_transform(a,
    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))``."""
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(_acc_sum(sq))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity dot(a,b) / (‖a‖·‖b‖)."""
    return dot(a, b) / (norm2(a) * norm2(b))


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance with per-element double widening.

    SQL mirror: ``list_sum(list_transform(list_zip(a, b),
    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))``.
    """
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return _acc_sum(diffs)


def _int_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact bigint Σ aᵢ·bᵢ over integer (e.g. 64×-quantized) vectors.

    SQL mirror: ``list_sum(list_transform(list_zip(a, b),
    x -> x[1] * x[2]))``.
    """
    return _int_sum(F.zip_with(a, b, lambda x, y: x * y))


def int_l2_sq(a: Column | str, b: Column | str) -> Column:
    """Exact bigint squared L2 distance over integer vectors.

    SQL mirror: ``list_sum(list_transform(list_zip(a, b),
    x -> (x[1] - x[2]) * (x[1] - x[2])))``.
    """
    return _int_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def matches(a: Column | str, b: Column | str) -> Column:
    """Number of positions where a and b hold equal values (int), e.g. the
    agreeing slots of two MinHash signatures.

    SQL mirror: ``list_sum(list_transform(list_zip(a, b),
    x -> CAST(x[1] = x[2] AS INTEGER)))``.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
