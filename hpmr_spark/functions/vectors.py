"""Vector math over embedding columns (array<float>), as Catalyst
higher-order functions — JVM-side, no Python in the hot path.

Determinism note: dot products fold left-to-right via F.aggregate; the DuckDB
oracles use list_sum(list_transform(...)) with explicit DOUBLE casts — the
same IEEE operation sequence, so values are bit-identical (see
operators/similarity_queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sql_dot(a: str, b: str, dim: int) -> str:
    """DuckDB twin of dot(): same left-to-right fold over double products."""
    return (
        f"list_sum(list_transform(range({dim}), i -> "
        f"CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
    )


def sql_cosine(a: str, b: str, dim: int) -> str:
    return (
        f"({sql_dot(a, b, dim)} / "
        f"(sqrt({sql_dot(a, a, dim)}) * sqrt({sql_dot(b, b, dim)})))"
    )
