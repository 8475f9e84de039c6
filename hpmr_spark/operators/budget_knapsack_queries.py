"""Round-12 second sitting, wave 7: knapsack_source_selection — exact 0/1
knapsack over the corpus sources (the data-mixing-under-token-budget
planning problem): weights = per-source token counts scaled to 64 budget
units (ceil), values = per-source DISTINCT-token richness (the
selection_richness family's utility), solved by the classic DP over
budget units as ONE in-row fold (the Huffman/OSA bounded-DP class).

State = dp[0..64] ++ mask[0..64] (130 doubles): dp u-th slot holds the
max value within u−1 units, mask the committed canonical argmax subset
as a bitmask (bit = source's name-rank). Items fold in name-rank order;
at each cell the tie-break takes (value DESC, mask ASC) — values are
EXACTLY optimal; masks are the committed deterministic optimum among
per-step choices. Emits the full value curve (65 rows: budget_units,
best_value, subset mask, subset size) — the entire budget/quality
frontier in one query.

Scale: the source rollup is one fact agg; the DP folds a ≤20-element
list in one row. Model test pins the dp value against a 2^n brute force.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.exprs import el_duck, el_spark

_KS_UNITS = 64  # budget grid (committed)


def _ks_fold(engine: str, el) -> str:
    """acc = dp[1..65] ++ mask[66..130]; element = [bit, w, v]."""
    tr = "list_transform" if engine == "duck" else "transform"
    seq = "range(1, 66)" if engine == "duck" else "sequence(1, 65)"
    cat = "list_concat" if engine == "duck" else "concat"
    bit, w, v = el("e", "1"), el("e", "2"), el("e", "3")
    dp_u = el("acc", "_u")
    mask_u = el("acc", "_u + 65")
    dp_uw = el("acc", f"_u - CAST({w} AS INT)")
    mask_uw = el("acc", f"_u - CAST({w} AS INT) + 65")
    cand = f"({dp_uw} + {v})"
    nmask = f"({mask_uw} + {bit})"
    better = (
        f"CASE WHEN _u > {w} THEN"
        f" ({cand} > {dp_u} OR ({cand} = {dp_u} AND {nmask} < {mask_u}))"
        f" ELSE false END"
    )
    dp_new = f"CASE WHEN {better} THEN {cand} ELSE {dp_u} END"
    mask_new = f"CASE WHEN {better} THEN {nmask} ELSE {mask_u} END"
    return (
        f"(acc, e) -> {cat}("
        f"{tr}({seq}, _u -> {dp_new}),"
        f" {tr}({seq}, _u -> {mask_new}))"
    )


_KS_INIT_SPARK = (
    "array(" + ", ".join(["0.0e0"] * 130) + ")"
)
_KS_INIT_DUCK = "[" + ", ".join(["0.0"] * 130) + "]"

# popcount over the ≤2^20 mask (exact in doubles): committed expression
# shared by both engines via el()


def _popcount(engine: str) -> str:
    """popcount of the _MVAL placeholder (≤2^20 masks, exact)."""
    tr = "list_transform" if engine == "duck" else "transform"
    seq = "range(0, 20)" if engine == "duck" else "sequence(0, 19)"
    if engine == "duck":
        return (
            f"list_sum({tr}({seq}, _b -> CAST(CAST(_MVAL AS BIGINT)"
            f" // (CAST(1 AS BIGINT) << CAST(_b AS INT)) % 2 AS BIGINT)))"
        )
    return (
        f"aggregate({tr}({seq}, _b -> CAST(CAST(_MVAL AS BIGINT)"
        f" div shiftleft(CAST(1 AS BIGINT), _b) % 2 AS BIGINT)),"
        f" CAST(0 AS BIGINT), (_pa, _px) -> _pa + _px)"
    )


def _ks_oracle() -> str:
    el = el_duck
    fold = _ks_fold("duck", el).replace("array(", "list_value(")
    pc = _popcount("duck").replace("_MVAL", f"({el('st', 'u + 66')})")
    return f"""
    WITH src AS (
      SELECT source,
             CAST(SUM(tf) AS BIGINT) AS toks,
             CAST(COUNT(*) AS BIGINT) AS rich
      FROM (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w <> '' GROUP BY source, w
      ) GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS t FROM src),
    items AS (
      SELECT a.source,
             CAST((SELECT COUNT(*) FROM src b WHERE b.source < a.source)
               AS BIGINT) AS rk,
             (a.toks * {_KS_UNITS} + t.t - 1) // t.t AS w,
             a.rich AS v
      FROM src a, tot t
    ),
    folded AS (
      SELECT list_reduce(list_prepend({_KS_INIT_DUCK},
               list([CAST(CAST(1 AS BIGINT) << CAST(rk AS INT) AS DOUBLE),
                     CAST(w AS DOUBLE), CAST(v AS DOUBLE)]
                    ORDER BY rk)),
               {fold}) AS st
      FROM items
    )
    SELECT CAST(u AS BIGINT) AS budget_units,
           CAST({el('st', 'u + 1')} AS BIGINT) AS best_value,
           CAST({el('st', 'u + 66')} AS BIGINT) AS subset_mask,
           CAST({pc} AS BIGINT) AS subset_size
    FROM folded, (SELECT unnest(range(0, {_KS_UNITS} + 1)) AS u)
"""


@register("knapsack_source_selection", _ks_oracle())
def knapsack_source_selection(spark, sf_dir):
    """Exact 0/1 knapsack over corpus sources — see module docstring.
    Emits the full 65-point budget/value frontier with canonical argmax
    subsets (bitmask by source name-rank)."""
    d = _t(spark, sf_dir, "documents")
    src = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .groupBy("source")
        .agg(
            F.sum("tf").cast("long").alias("toks"),
            F.count(F.lit(1)).cast("long").alias("rich"),
        )
    )
    tot = src.agg(F.sum("toks").cast("long").alias("t"))
    b = src.select(F.col("source").alias("bsrc"))
    ranks = (
        src.crossJoin(F.broadcast(b))
        .where(F.col("bsrc") < F.col("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("rk"))
    )
    items = (
        src.join(ranks, "source", "left")
        .withColumn("rk", F.coalesce(F.col("rk"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "rk",
            F.expr(
                f"(toks * {_KS_UNITS} + t - 1) div t"
            ).alias("w"),
            F.col("rich").alias("v"),
        )
    )
    el = el_spark
    folded = items.groupBy().agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(rk,"
            " CAST(shiftleft(CAST(1 AS BIGINT), CAST(rk AS INT)) AS DOUBLE)"
            " AS bitv, CAST(w AS DOUBLE) AS wv, CAST(v AS DOUBLE) AS vv))),"
            " p -> array(p.bitv, p.wv, p.vv)),"
            f" {_KS_INIT_SPARK}, {_ks_fold('spark', el)})"
        ).alias("st")
    )
    grid = folded.crossJoin(
        F.broadcast(
            folded.sparkSession.range(_KS_UNITS + 1).select(
                F.col("id").cast("int").alias("u")
            )
        )
    )
    pc = _popcount("spark").replace("_MVAL", f"({el('st', 'u + 66')})")
    return grid.select(
        F.col("u").cast("long").alias("budget_units"),
        F.expr(f"CAST({el('st', 'u + 1')} AS BIGINT)").alias("best_value"),
        F.expr(f"CAST({el('st', 'u + 66')} AS BIGINT)").alias("subset_mask"),
        F.expr(f"CAST({pc} AS BIGINT)").alias("subset_size"),
    )
