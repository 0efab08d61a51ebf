"""Vector (embedding) column functions over ``array<float|double>``.

Pure higher-order-function expressions (``zip_with`` + ``aggregate``) so
dot products and norms run JVM-side without serializing vectors to
Python.  These back the similarity-search operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product of two numeric arrays (double)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def sql_dot_fold(a: str, b: str) -> str:
    """SQL text of :func:`dot` — the zip_with/aggregate left fold with
    the same per-element DOUBLE casts, seed, and accumulation lambda,
    for call sites that assemble one parsed expression instead of a
    py4j-built Column tree (round-12: q_semantic_decontam's
    per-benchmark cosines).  Parsing this text yields the IDENTICAL
    expression tree :func:`dot` builds."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))
