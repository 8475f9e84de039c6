"""Expression helpers shared by the operator modules.

``cents`` is the money discipline of catalog.py as a Spark column: round a
DOUBLE amount to integer cents once per row, so sums are exact BIGINTs.
``el_spark``/``el_duck`` index an array by a 1-based SQL expression in each
engine's dialect; an aggregate fold's text is generated once per engine
with the matching indexer, and ``to_duck`` rewrites its array literals."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column) -> Column:
    return F.round(col * 100).cast("long")


def el_spark(a: str, i: str) -> str:
    return f"element_at({a}, CAST({i} AS INT))"


def el_duck(a: str, i: str) -> str:
    return f"list_extract({a}, CAST({i} AS INT))"


def to_duck(fold_text: str) -> str:
    """DuckDB has no array(...) constructor — swap for list_value(...)."""
    return fold_text.replace("array(", "list_value(")
