"""Literal in-memory tables as LocalRelations (r12, guide §4).

`spark.createDataFrame(<python rows>)` builds a PythonRDD-backed plan: the
local rows are pickled into a ParallelCollectionRDD with defaultParallelism
slices and EVERY slice launches/feeds a Python worker — measured 32 tasks ×
~1.9 s cold (worker launch + imports) for a 27-row grid inside
unigram_viterbi's broadcast build, ~60 s of task-time for zero data. A SQL
`VALUES` table is a Catalyst LocalRelation instead: no RDD, no job, no
Python boundary; broadcasts over it build driver-side and constant folding
can see the values.

Use for PLAN-TIME-CONSTANT literal tables in query paths (grids, tau lists,
seed rows, driver-computed result rows). Values must be Python ints,
floats (NaN and ±inf included), bools, strings, None, or lists of these for
an ``array<…>`` column.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        # repr round-trips doubles exactly through the Spark parser (r6)
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        if "${" in v:
            # spark.sql and F.expr substitute ${...} references before
            # parsing, with no escape; a hex literal carries the text past it
            return f"CAST(X'{v.encode().hex()}' AS STRING)"
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, list):
        return "array(" + ", ".join(_sql_lit(x) for x in v) + ")"
    raise TypeError(f"unsupported literal type {type(v).__name__}")


def _split_ddl(schema: str) -> list[tuple[str, str]]:
    """`name type, ...` → [(name, type)], splitting only on top-level commas
    so `decimal(10,2)`, `array<…>` and `map<k, v>` stay whole."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            fields.append(schema[start:i])
            start = i + 1
    cols = []
    for field in fields:
        name, _, typ = field.strip().partition(" ")
        cols.append((name, typ.strip()))
    return cols


def values_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """LocalRelation drop-in for `spark.createDataFrame(rows, schema)` with
    a `name type, name type, ...` DDL schema and rows of literals
    (tuples/lists, or bare scalars for a 1-column table). A VALUES list
    cannot be empty, so empty `rows` raise ValueError."""
    cols = _split_ddl(schema)
    vals = []
    for row in rows:
        if not isinstance(row, (tuple, list)):
            row = (row,)
        vals.append("(" + ", ".join(_sql_lit(v) for v in row) + ")")
    if not vals:
        raise ValueError(f"values_df needs at least one row (schema: {schema})")
    inner = ", ".join(f"_c{i}" for i in range(len(cols)))
    outer = ", ".join(
        f"CAST(_c{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(cols)
    )
    return spark.sql(
        f"SELECT {outer} FROM (VALUES {', '.join(vals)} AS _lit({inner}))"
    )
