"""Round-12 wave 6: gale_shapley_stable_match — the deferred-acceptance
algorithm (Gale & Shapley 1962; the Shapley/Roth 2012 Nobel citation) on
a data-derived bipartite market: 8 customer nations ("proposers") × 8
supplier nations ("reviewers"), both sides ranking the other by pairwise
trade volume (cents, ties → lower id; missing pairs = 0).

Shape: the 8×8 volume matrix gathers into ONE row (64-long BIGINT array
via a generated-grid left join — complete, ordered); preference arrays
precompute OUTSIDE the fold (prefs[m·8+r] = m's r-th choice; wrank[w·8+m]
= w's rank of m — each entry an exact 8-term comparison count); the
proposal loop is an in-row fold over a CONSTANT 64-step sequence (n² is
the classic proposal bound) whose state is [next₀..next₇, eng₀..eng₇].
Each step the LOWEST free proposer with choices left proposes to his
next choice; she accepts if free or if she ranks him above her fiancé.
Steps after convergence are no-ops. Identical fold text in both engines
(element accessor + array constructor differ); all comparisons are exact
integers riding as doubles far below 2^53.

Classic-correctness pins (tests/test_round12b_models.py): the emitted
matching is verified STABLE (no blocking pair) and equal to a textbook
Python Gale-Shapley on the same matrix.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import register
from hpmr_spark.functions.exprs import el_duck, el_spark
from hpmr_spark.sources.derived import SQL_TRADE_PAIRS_CTE, trade_pairs

_N = 8  # market size per side (committed)


def _seq(engine: str, a: int, b: int) -> str:
    """inclusive integer sequence a..b"""
    if engine == "duck":
        return f"range({a}, {b + 1})"
    return f"sequence({a}, {b})"


def _sum8(engine: str, var: str, body: str) -> str:
    """Σ over var in 0..7 of body (exact integer)."""
    if engine == "duck":
        return f"list_sum(list_transform({_seq('duck', 0, 7)}, {var} -> {body}))"
    return (
        f"aggregate(transform({_seq('spark', 0, 7)}, {var} -> {body}),"
        f" 0, (_sa, _sx) -> _sa + _sx)"
    )


def _mrank(engine: str, el, m: str, w: str) -> str:
    """m's rank of woman w (0-based): #women strictly preferred to w —
    higher volume wins, ties to the lower id."""
    vmw = el("vol", f"{m} * 8 + {w} + 1")
    vmw2 = el("vol", f"{m} * 8 + _w2 + 1")
    return _sum8(
        engine,
        "_w2",
        f"CASE WHEN {vmw2} > {vmw}"
        f" OR ({vmw2} = {vmw} AND _w2 < {w}) THEN 1 ELSE 0 END",
    )


def _wrank_entry(engine: str, el, w: str, m: str) -> str:
    """w's rank of man m (0-based), same total order transposed."""
    vwm = el("vol", f"{m} * 8 + {w} + 1")
    vwm2 = el("vol", f"_m2 * 8 + {w} + 1")
    return _sum8(
        engine,
        "_m2",
        f"CASE WHEN {vwm2} > {vwm}"
        f" OR ({vwm2} = {vwm} AND _m2 < {m}) THEN 1 ELSE 0 END",
    )


def _prefs_expr(engine: str, el) -> str:
    """prefs[m·8+r+1] = the woman with rank r in m's order."""
    tr = "list_transform" if engine == "duck" else "transform"
    fl = "list_filter" if engine == "duck" else "filter"
    rank = _mrank(engine, el, "(_i div 8)" if engine == "spark" else "(_i // 8)", "_w")
    return (
        f"{tr}({_seq(engine, 0, 63)}, _i -> CAST("
        f"{el(f'{fl}({_seq(engine, 0, 7)}, _w -> {rank} = (_i % 8))', '1')}"
        f" AS DOUBLE))"
    )


def _wrank_expr(engine: str, el) -> str:
    """wrank[w·8+m+1] = w's rank of man m."""
    tr = "list_transform" if engine == "duck" else "transform"
    body = _wrank_entry(
        engine,
        el,
        "(_i div 8)" if engine == "spark" else "(_i // 8)",
        "(_i % 8)",
    )
    return f"{tr}({_seq(engine, 0, 63)}, _i -> CAST({body} AS DOUBLE))"


def _gs_fold(engine: str, el) -> str:
    """acc = [next0..next7, eng0..eng7] (doubles; eng = -1 when free).
    One proposal per step by the lowest free man with next < 8."""
    # free(m): next[m] < 8 AND m not engaged (not any eng slot = m)
    def free(m: int) -> str:
        not_eng = " AND ".join(
            f"{el('acc', str(8 + w + 1))} <> {m}.0e0" for w in range(_N)
        )
        return f"({el('acc', str(m + 1))} < 8.0e0 AND {not_eng})"

    # one CASE chain: the FIRST true free(m) wins — CASE takes the first
    # matching branch, so "lowest free proposer" needs no separate argmin
    branches = []
    for m in range(_N):
        nxt = el("acc", str(m + 1))
        wstar = el("prefs", f"{m} * 8 + CAST({nxt} AS INT) + 1")
        cur = el("acc", f"CAST(8 + {wstar} + 1 AS INT)")
        my_rank = el("wrank", f"CAST({wstar} * 8 + {m} + 1 AS INT)")
        cur_rank = el("wrank", f"CAST({wstar} * 8 + {cur} + 1 AS INT)")
        # CASE (not OR): a free reviewer has cur = -1 and the cur_rank
        # index would be out of bounds — ANSI element_at throws, and OR
        # does not guarantee short-circuit; CASE does (round-6 rule)
        accept = (
            f"CASE WHEN {cur} = -1.0e0 THEN true"
            f" ELSE {my_rank} < {cur_rank} END"
        )
        slots = []
        for i in range(_N):  # next slots
            v = el("acc", str(i + 1))
            slots.append(
                f"CASE WHEN {i} = {m} THEN {v} + 1.0e0 ELSE {v} END"
            )
        for w in range(_N):  # eng slots
            v = el("acc", str(8 + w + 1))
            slots.append(
                f"CASE WHEN {wstar} = {w}.0e0 AND ({accept})"
                f" THEN {m}.0e0 ELSE {v} END"
            )
        branches.append(f"WHEN {free(m)} THEN array({', '.join(slots)})")

    return f"(acc, _st) -> CASE {' '.join(branches)} ELSE acc END"


_GS_INIT = (
    "array("
    + ", ".join(["0.0e0"] * _N)
    + ", "
    + ", ".join(["-1.0e0"] * _N)
    + ")"
)


def _gs_oracle() -> str:
    el = el_duck
    fold = _gs_fold("duck", el).replace("array(", "list_value(")
    prefs = _prefs_expr("duck", el)
    wrank = _wrank_expr("duck", el)
    init = "[" + ", ".join(["0.0"] * _N) + ", " + ", ".join(["-1.0"] * _N) + "]"
    return f"""
    WITH {SQL_TRADE_PAIRS_CTE},
    pn AS (SELECT * FROM pe WHERE src < {_N} AND dst < {_N}),
    grid AS (
      SELECT i, i // 8 AS m, i % 8 AS w
      FROM (SELECT unnest(range(0, 64)) AS i)
    ),
    volrow AS MATERIALIZED (
      SELECT list(COALESCE(pe.v, 0) ORDER BY grid.i) AS vol
      FROM grid LEFT JOIN pn pe ON pe.src = grid.m AND pe.dst = grid.w
    ),
    arrs AS MATERIALIZED (
      SELECT vol, {prefs} AS prefs, {wrank} AS wrank FROM volrow
    ),
    folded AS (
      SELECT vol, wrank,
             list_reduce(list_prepend({init},
               list_transform(range(1, 65), _s -> [CAST(_s AS DOUBLE)])),
               {fold}) AS st
      FROM arrs
    )
    SELECT w AS reviewer,
           CAST({el('st', '8 + w + 1')} AS BIGINT) AS proposer,
           {el('vol', f"CAST({el('st', '8 + w + 1')} AS BIGINT) * 8 + w + 1")}
             AS vol_cents,
           CAST({el('wrank',
                    f"w * 8 + CAST({el('st', '8 + w + 1')} AS BIGINT) + 1")}
             AS BIGINT) AS reviewer_rank
    FROM folded, (SELECT unnest(range(0, 8)) AS w)
"""


@register("gale_shapley_stable_match", _gs_oracle())
def gale_shapley_stable_match(spark, sf_dir):
    """Gale-Shapley deferred acceptance (1962) — see module docstring.
    Emits the stable matching: (reviewer nation, matched proposer
    nation, their trade volume, the reviewer's rank of the match)."""
    pe = trade_pairs(spark, sf_dir).where((F.col("src") < _N) & (F.col("dst") < _N))
    grid = spark.range(64).select(
        F.col("id").alias("i"),
        F.expr("id div 8").alias("m"),
        (F.col("id") % 8).alias("w"),
    )
    volrow = (
        grid.join(
            F.broadcast(pe),
            (F.col("src") == F.col("m")) & (F.col("dst") == F.col("w")),
            "left",
        )
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i,"
                " COALESCE(v, CAST(0 AS BIGINT)) AS vv))), p -> p.vv)"
            ).alias("vol")
        )
    )
    el = el_spark
    arrs = volrow.select(
        "vol",
        F.expr(_prefs_expr("spark", el)).alias("prefs"),
        F.expr(_wrank_expr("spark", el)).alias("wrank"),
    )
    folded = arrs.select(
        "vol",
        "wrank",
        F.expr(
            f"aggregate(transform(sequence(1, 64), _s ->"
            f" array(CAST(_s AS DOUBLE))), {_GS_INIT},"
            f" {_gs_fold('spark', el)})"
        ).alias("st"),
    )
    out = folded.select(
        "vol",
        "wrank",
        F.posexplode(F.expr("slice(st, 9, 8)")).alias("w", "m_d"),
    )
    return out.select(
        F.col("w").cast("long").alias("reviewer"),
        F.col("m_d").cast("long").alias("proposer"),
        F.expr(
            "element_at(vol,"
            " CAST(CAST(m_d AS BIGINT) * 8 + w + 1 AS INT))"
        ).alias("vol_cents"),
        F.expr(
            "CAST(element_at(wrank,"
            " CAST(w * 8 + CAST(m_d AS BIGINT) + 1 AS INT)) AS BIGINT)"
        ).alias("reviewer_rank"),
    )
