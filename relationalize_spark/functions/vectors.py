"""Vector math over ``array<float|double>`` columns, JVM-side.

Everything here compiles to Catalyst higher-order functions
(``zip_with`` / ``aggregate``) — no Python UDFs, so it runs inside
whole-stage codegen and scales with the executors. The fold is
sequential left-to-right over the array, which matches how DuckDB's
list functions accumulate — important for bit-exact oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def int8_scale(v: Column) -> Column:
    """Per-vector symmetric quantization scale: max|x| / 127."""
    return F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)


def int8_quantize(v: Column, scale: Column) -> Column:
    """array<double> -> array<tinyint> with round(x / scale); the
    zero vector (scale 0) quantizes to zeros."""
    zeros = F.transform(v, lambda x: F.lit(0).cast("tinyint"))
    return F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("tinyint")),
    ).otherwise(zeros)


def int8_dequantize(q: Column, scale: Column) -> Column:
    return F.transform(q, lambda x: x.cast("double") * scale)
