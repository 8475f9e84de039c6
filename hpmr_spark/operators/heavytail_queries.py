"""Heavy-tail / burstiness / diffusion diagnostics (round 6, wave 6):

- hill_tail_index: the Hill estimator of the order-total tail index
  over the top-17 order statistics (k = 16): α̂ = k / Σ ln(x_i / x_17).
  The top-17 VALUE multiset is deterministic (sorted by value alone);
  each log ratio is floored to nanos elementwise (LN parity pinned),
  the sum is exact BIGINT, and α̂ is one final double expression.
- influence_cascade_reach: deterministic independent-cascade diffusion
  on the undirected nation trade graph of sources/derived.py:
  an edge is ACTIVE iff hash60('ic|u|w') % 4 = 0 (committed 25%
  activation), the seed is the nation with the largest total outflow
  (tie: lowest key), and the output is the BFS frontier profile over
  3 hops on active edges — (hop, n_new, nodes_csv).
- event_burstiness_fano: the Fano factor (variance/mean) of per-hour
  event counts per event type over the GLOBAL observed hour span
  (zero hours count): fano_ppm = (H·Σn² − (Σn)²)·1e6 div (H·Σn),
  all exact integer cross-multiplication in int128.

Scale notes (100 TB): hill is a top-k selection + 16-row tail; the
cascade runs on the bounded nation graph after one 4-table rollup;
fano is one (type, hour) rollup + a types-sized aggregate.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.sources.derived import (
    SQL_UNDIRECTED_CTE,
    trade_edges,
    trade_pairs,
    undirected,
)
from hpmr_spark.sources.tables import load_events

# ---------------------------------------------------------------------------
# Hill tail-index estimator over the top-17 order totals.
# ---------------------------------------------------------------------------

_HILL_K = 16

_HILL_ORACLE = f"""
    WITH r AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    top AS MATERIALIZED (
      SELECT cents FROM r ORDER BY cents DESC LIMIT {_HILL_K + 1}
    ),
    thr AS (SELECT CAST(MIN(cents) AS BIGINT) AS x_k1 FROM top),
    lns AS (
      SELECT CAST(FLOOR(LN(CAST(top.cents AS DOUBLE)
                          / CAST(thr.x_k1 AS DOUBLE)) * 1000000000)
                  AS BIGINT) AS l
      FROM top, thr WHERE top.cents > thr.x_k1
    ),
    m AS (
      SELECT CAST(COALESCE(SUM(l), 0) AS BIGINT) AS sum_ln_nano,
             CAST(COUNT(*) AS BIGINT) AS n_above
      FROM lns
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           thr.x_k1 AS threshold_cents,
           m.n_above, m.sum_ln_nano,
           CASE WHEN m.sum_ln_nano > 0
                THEN CAST({_HILL_K} AS DOUBLE)
                     / (CAST(m.sum_ln_nano AS DOUBLE) / 1000000000.0)
                ELSE CAST(0 AS DOUBLE) END AS hill_alpha
    FROM m, thr
"""


@register("hill_tail_index", _HILL_ORACLE)
def hill_tail_index(spark, sf_dir):
    """Hill tail-index estimator (k = 16) of order totals — see module
    docstring. Output: one row (k, threshold_cents, n_above,
    sum_ln_nano, hill_alpha)."""
    o = _t(spark, sf_dir, "orders")
    r = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    top = materialize(
        r.orderBy(F.col("cents").desc()).limit(_HILL_K + 1),
        StorageLevel.MEMORY_AND_DISK,  # threshold + log-sum consumers
    )
    thr = top.agg(F.min("cents").cast("long").alias("x_k1"))
    lns = (
        top.crossJoin(F.broadcast(thr))
        .where(F.col("cents") > F.col("x_k1"))
        .select(
            F.expr(
                "CAST(FLOOR(LN(CAST(cents AS DOUBLE)"
                " / CAST(x_k1 AS DOUBLE)) * 1000000000) AS BIGINT)"
            ).alias("l")
        )
    )
    m = lns.agg(
        F.coalesce(F.sum("l"), F.lit(0)).cast("long").alias("sum_ln_nano"),
        F.count(F.lit(1)).cast("long").alias("n_above"),
    )
    return m.crossJoin(F.broadcast(thr)).select(
        F.lit(_HILL_K).cast("long").alias("k"),
        F.col("x_k1").alias("threshold_cents"),
        "n_above",
        "sum_ln_nano",
        F.expr(
            f"CASE WHEN sum_ln_nano > 0"
            f" THEN CAST({_HILL_K} AS DOUBLE)"
            f" / (CAST(sum_ln_nano AS DOUBLE) / 1000000000.0)"
            f" ELSE CAST(0 AS DOUBLE) END"
        ).alias("hill_alpha"),
    )


# ---------------------------------------------------------------------------
# Independent-cascade reach on the nation trade graph (3 hops).
# ---------------------------------------------------------------------------

_IC_ACTIVE_SQL = (
    sql_hash60(
        "'ic|' || CAST(u AS VARCHAR) || '|' || CAST(w AS VARCHAR)"
    )
    + " % 4 = 0"
)

_IC_ORACLE = f"""
    WITH {SQL_UNDIRECTED_CTE},
    act AS MATERIALIZED (
      SELECT u, w FROM und WHERE {_IC_ACTIVE_SQL}
    ),
    sym AS MATERIALIZED (
      SELECT u AS a, w AS b FROM act UNION ALL SELECT w, u FROM act
    ),
    seed AS MATERIALIZED (
      SELECT src AS node FROM pe
      GROUP BY src ORDER BY SUM(v) DESC, src ASC LIMIT 1
    ),
    h0 AS (SELECT node FROM seed),
    h1 AS MATERIALIZED (
      SELECT DISTINCT s.b AS node FROM sym s JOIN h0 ON h0.node = s.a
      WHERE s.b NOT IN (SELECT node FROM h0)
    ),
    h2 AS MATERIALIZED (
      SELECT DISTINCT s.b AS node FROM sym s JOIN h1 ON h1.node = s.a
      WHERE s.b NOT IN (SELECT node FROM h0)
        AND s.b NOT IN (SELECT node FROM h1)
    ),
    h3 AS MATERIALIZED (
      SELECT DISTINCT s.b AS node FROM sym s JOIN h2 ON h2.node = s.a
      WHERE s.b NOT IN (SELECT node FROM h0)
        AND s.b NOT IN (SELECT node FROM h1)
        AND s.b NOT IN (SELECT node FROM h2)
    )
    SELECT CAST(0 AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_new,
           array_to_string(list_sort(list(CAST(node AS VARCHAR))), ',')
             AS nodes_csv
    FROM h0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT),
           COALESCE(array_to_string(list_sort(list(CAST(node AS VARCHAR))), ','), '')
    FROM h1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           COALESCE(array_to_string(list_sort(list(CAST(node AS VARCHAR))), ','), '')
    FROM h2
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT),
           COALESCE(array_to_string(list_sort(list(CAST(node AS VARCHAR))), ','), '')
    FROM h3
"""


@register("influence_cascade_reach", _IC_ORACLE)
def influence_cascade_reach(spark, sf_dir):
    """Deterministic independent-cascade BFS profile over 3 hops — see
    module docstring. Output: 4 rows (hop, n_new, nodes_csv)."""
    pe = materialize(
        trade_pairs(spark, sf_dir), StorageLevel.MEMORY_AND_DISK  # und + seed consumers
    )
    und = undirected(trade_edges(pe))
    act = und.where(
        hash60(
            F.concat(
                F.lit("ic|"),
                F.col("u").cast("string"),
                F.lit("|"),
                F.col("w").cast("string"),
            )
        )
        % 4
        == 0
    )
    sym = materialize(act.select(F.col("u").alias("a"), F.col("w").alias("b")).unionAll(
        act.select(F.col("w").alias("a"), F.col("u").alias("b"))
    ), StorageLevel.MEMORY_AND_DISK)  # 3 hop expansions
    seed = (
        pe.groupBy("src")
        .agg(F.sum("v").alias("sv"))
        .orderBy(F.col("sv").desc(), F.col("src"))
        .limit(1)
        .select(F.col("src").alias("node"))
    )
    hops = [materialize(seed, StorageLevel.MEMORY_AND_DISK)]
    for _ in range(3):
        prev_all = hops[0]
        for h in hops[1:]:
            prev_all = prev_all.unionAll(h)
        nxt = materialize(
            sym.join(hops[-1].select(F.col("node").alias("a")), "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(prev_all, "node", "left_anti"),
            StorageLevel.MEMORY_AND_DISK,
        )
        hops.append(nxt)
    out = None
    for i, h in enumerate(hops):
        row = h.agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.coalesce(
                F.array_join(
                    F.sort_array(F.collect_list(F.col("node").cast("string"))), ","
                ),
                F.lit(""),
            ).alias("nodes_csv"),
        ).select(
            F.lit(i).cast("long").alias("hop"), F.col("n_new"), F.col("nodes_csv")
        )
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# Fano factor (burstiness) of per-hour event counts per event type.
# ---------------------------------------------------------------------------

_FANO_ORACLE = """
    WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hr FROM events
    ),
    span AS (
      SELECT CAST(MAX(hr) - MIN(hr) + 1 AS BIGINT) AS h FROM e
    ),
    c AS (
      SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY event_type, hr
    ),
    m AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS sn,
             CAST(SUM(n * n) AS BIGINT) AS snn,
             CAST(COUNT(*) AS BIGINT) AS observed_hours
      FROM c GROUP BY event_type
    )
    SELECT m.event_type, m.sn AS n_events, m.observed_hours, span.h AS span_hours,
           CAST((CAST(span.h AS HUGEINT) * m.snn - CAST(m.sn AS HUGEINT) * m.sn)
                * 1000000
                // (CAST(span.h AS HUGEINT) * m.sn) AS BIGINT) AS fano_ppm
    FROM m, span
"""


@register("event_burstiness_fano", _FANO_ORACLE)
def event_burstiness_fano(spark, sf_dir):
    """Fano factor of hourly event counts per type (zero hours inside
    the global span count) — see module docstring. Output: one row per
    event type."""
    ev = load_events(spark, sf_dir)
    e = ev.select(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").alias("hr"),
    )
    span = e.agg((F.max("hr") - F.min("hr") + 1).cast("long").alias("h"))
    cfr = e.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = cfr.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.expr("n * n")).cast("long").alias("snn"),
        F.count(F.lit(1)).cast("long").alias("observed_hours"),
    )
    return m.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.col("sn").alias("n_events"),
        "observed_hours",
        F.col("h").alias("span_hours"),
        F.expr(
            "CAST((CAST(h AS DECIMAL(38,0)) * snn - CAST(sn AS DECIMAL(38,0)) * sn)"
            " * 1000000 div (CAST(h AS DECIMAL(38,0)) * sn) AS BIGINT)"
        ).alias("fano_ppm"),
    )
