"""Holt-Winters additive seasonal forecast (round 6): level + trend +
weekly seasonal state over the last 182 days of daily revenue, 7-day
forecast — completing the forecasting family (seasonal-naive backtest →
Holt linear → Holt-Winters).

Committed recurrence (α = β = γ = 1/4, EXACT integer cents, Python-floor
division; w = (d+3)%7 is the engine-neutral weekday so calendar gaps
never shift the seasonal index):
  l_t = ⌊(y_t − s_w + 3·(l + b)) / 4⌋
  b_t = ⌊(l_t − l_prev + 3·b) / 4⌋
  s_w = ⌊(y_t − l_t + 3·s_w) / 4⌋   (other weekdays carry)
  init after the first 7 observed days: l = ⌊Σy/7⌋, b = 0, s_w = y − l
  for the LAST of the first 7 days with weekday w (absent weekdays 0).
Forecast h ∈ 1..7: f_h = l + h·b + s_{(dmax+h+3)%7}.

Engine shape: the recurrence is irreducibly sequential → grouped-pandas
fold over the CALENDAR-BOUNDED day frame (≤182 rows at any fact scale —
the holt/token-bucket pattern); the oracle walks the identical integer
recurrence as a recursive CTE carrying the 7 seasonal states as columns,
with SIGN-SPLIT floors (levels/trends/seasonals go negative; DuckDB //
truncates where Python floors). Fewer than 8 observed days ⇒ empty
result on BOTH engines (no committed init state reaches the final rn).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import register
from hpmr_spark.sources.derived import SQL_DAILY_REVENUE, daily_revenue

_WINDOW_DAYS = 182
_H = 7


def _pf4(x: str) -> str:
    """Python-floor ⌊x/4⌋ in SQL (sign-split: DuckDB // truncates)."""
    return (
        f"CASE WHEN ({x}) >= 0 THEN ({x}) // 4"
        f" ELSE 0 - ((0 - ({x}) + 3) // 4) END"
    )


def _hw_oracle() -> str:
    s_cur = (
        "(CASE cur.w "
        + " ".join(f"WHEN {w} THEN k.s{w}" for w in range(7))
        + " END)"
    )
    l_new = _pf4(f"cur.y - {s_cur} + 3 * (k.l + k.b)")
    s_cols_step = ", ".join(
        f"CASE WHEN cur.w = {w} THEN "
        + _pf4(f"cur.y - ({l_new}) + 3 * k.s{w}")
        + f" ELSE k.s{w} END"
        for w in range(7)
    )
    s_init = ", ".join(
        f"CAST(COALESCE((SELECT e.y FROM e WHERE e.rn <= 7 AND e.w = {w}"
        f" ORDER BY e.rn DESC LIMIT 1) - i.l7, 0) AS BIGINT) AS s{w}"
        for w in range(7)
    )
    fc = " UNION ALL ".join(
        f"SELECT CAST({h} AS BIGINT) AS h,"
        f" CAST(bo.dmax + {h} AS BIGINT) AS target_d,"
        f" CAST((bo.dmax + {h} + 3) % 7 AS BIGINT) AS wd,"
        f" CAST(k.l + {h} * k.b + (CASE (bo.dmax + {h} + 3) % 7 "
        + " ".join(f"WHEN {w} THEN k.s{w}" for w in range(7))
        + " END) AS BIGINT) AS forecast_cents"
        f" FROM fin k, bounds bo"
        for h in range(1, _H + 1)
    )
    return f"""
    WITH RECURSIVE day AS MATERIALIZED (
      SELECT d, cents AS y FROM ({SQL_DAILY_REVENUE})
    ),
    bounds AS MATERIALIZED (SELECT MAX(d) AS dmax FROM day),
    e AS MATERIALIZED (
      SELECT d, y, (d + 3) % 7 AS w,
             ROW_NUMBER() OVER (ORDER BY d) AS rn
      FROM day, bounds WHERE d > dmax - {_WINDOW_DAYS}
    ),
    n AS (SELECT CAST(MAX(rn) AS BIGINT) AS nmax FROM e),
    init AS (
      SELECT CAST(7 AS BIGINT) AS rn, CAST(i.l7 AS BIGINT) AS l,
             CAST(0 AS BIGINT) AS b, {s_init}
      FROM (SELECT CAST(SUM(y) // 7 AS BIGINT) AS l7
            FROM e WHERE rn <= 7) i
    ),
    walk(rn, l, b, s0, s1, s2, s3, s4, s5, s6) AS (
      SELECT rn, l, b, s0, s1, s2, s3, s4, s5, s6 FROM init
      UNION ALL
      SELECT k.rn + 1,
             CAST({l_new} AS BIGINT),
             CAST({_pf4(f"({l_new}) - k.l + 3 * k.b")} AS BIGINT),
             {s_cols_step}
      FROM walk k JOIN e cur ON cur.rn = k.rn + 1
    ),
    fin AS (SELECT k.* FROM walk k, n WHERE k.rn = n.nmax)
    {fc}
    """


@register("holt_winters_daily_forecast", _hw_oracle())
def holt_winters_daily_forecast(spark, sf_dir):
    """Holt-Winters additive forecast — see module docstring. Output: 7
    rows (h, target day index, weekday, forecast cents)."""
    import pandas as pd

    day = daily_revenue(spark, sf_dir).select("d", F.col("cents").alias("y"))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(zip(pdf["d"].tolist(), pdf["y"].tolist()))
        dmax = rows[-1][0]
        rows = [(d, y) for d, y in rows if d > dmax - _WINDOW_DAYS]
        if len(rows) < 8:
            return pd.DataFrame(
                columns=["h", "target_d", "wd", "forecast_cents"]
            ).astype("int64")
        first7 = rows[:7]
        l = sum(y for _, y in first7) // 7
        b = 0
        s = [0] * 7
        seen = {}
        for d, y in first7:  # LAST of the first 7 per weekday wins
            seen[(d + 3) % 7] = y - l
        for w, v in seen.items():
            s[w] = v
        for d, y in rows[7:]:
            w = (d + 3) % 7
            l_new = (y - s[w] + 3 * (l + b)) // 4
            b = (l_new - l + 3 * b) // 4
            s[w] = (y - l_new + 3 * s[w]) // 4
            l = l_new
        out = [
            (
                h,
                dmax + h,
                (dmax + h + 3) % 7,
                l + h * b + s[(dmax + h + 3) % 7],
            )
            for h in range(1, _H + 1)
        ]
        return pd.DataFrame(
            out, columns=["h", "target_d", "wd", "forecast_cents"]
        )

    return (
        day.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(
            lambda pdf: fold(pdf),
            schema="h long, target_d long, wd long, forecast_cents long",
        )
        .orderBy("h")
    )
