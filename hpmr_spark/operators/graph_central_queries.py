"""Centrality / sequential-decision / information-rate operators
(round 6, wave 6, final batch):

- closeness_harmonic_h12: harmonic closeness centrality on the nation
  trade graph (the LPA edge construction). All-pairs shortest paths
  come from FOUR synchronous min-plus relaxation rounds over the
  bounded (s, t, d) frame (diameter ≤ 4 on this graph; unreachable
  pairs simply stay absent); harmonic closeness is EXACT integers:
  h12(s) = Σ_t 12/d(s,t) with d ∈ {1,2,3,4} (12 = lcm(1..4)).
- secretary_rule_success: the classic optimal-stopping (secretary)
  rule evaluated per user over their event stream in (ts, event_id)
  order — skip the first k = n div 3 events, then accept the FIRST
  event whose value-cents strictly exceeds the first-k maximum;
  success = the accepted event is the overall strict maximum. All
  ranks are per-user PARTITIONED windows (never global); ties are
  resolved by the (value, ts, event_id) total order. Output: evaluable
  users (n ≥ 3, unique strict max), successes, rate ppm.
- markov_entropy_rate_nano: the empirical entropy rate of the
  event-type Markov chain: H = −Σ_ij (c_ij/N)·ln(c_ij/c_i·), each
  transition's term floored to nanos elementwise over exact counts
  (LN parity pinned) and summed exactly; the final rate is one int128
  floor div by N. Output: n_transitions, n_states, h_rate_nano.

Scale notes (100 TB): closeness runs entirely on the ≤ 25-node graph
after one 4-table rollup; secretary is one user-keyed shuffle with
per-user windows; entropy rate is a 25-cell rollup.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.sources.tables import load_events

# ---------------------------------------------------------------------------
# Harmonic closeness via 4 min-plus relaxation rounds.
# ---------------------------------------------------------------------------


def _relax_sql(prev: str, cur: str) -> str:
    return f""",
    {cur} AS MATERIALIZED (
      SELECT s, t, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT s, t, d FROM {prev}
        UNION ALL
        SELECT p.s, e.b AS t, p.d + 1 AS d
        FROM {prev} p JOIN sym e ON e.a = p.t
        WHERE e.b <> p.s
      ) GROUP BY s, t
    )"""


_CLOSENESS_ORACLE = (
    """
    WITH pe AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(v) AS BIGINT) AS t FROM pe),
    und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS w
      FROM pe, tot WHERE v * 625 > t AND src <> dst
    ),
    sym AS MATERIALIZED (
      SELECT u AS a, w AS b FROM und UNION ALL SELECT w, u FROM und
    ),
    d0 AS MATERIALIZED (
      SELECT a AS s, b AS t, CAST(1 AS BIGINT) AS d FROM sym
    )"""
    + _relax_sql("d0", "d1")
    + _relax_sql("d1", "d2")
    + _relax_sql("d2", "d3")
    + """
    SELECT CAST(s AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_reach,
           CAST(SUM(12 // d) AS BIGINT) AS h12
    FROM d3 GROUP BY s
"""
)


@register("closeness_harmonic_h12", _CLOSENESS_ORACLE)
def closeness_harmonic_h12(spark, sf_dir):
    """Harmonic closeness (×12) on the trade graph — see module
    docstring. Output: one row per reachable node (node, n_reach, h12)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    pe = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("v"),
        )
    )
    tot = pe.agg(F.sum("v").cast("long").alias("t"))
    und = (
        pe.crossJoin(F.broadcast(tot))
        .where((F.col("v") * 625 > F.col("t")) & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("w"))
        .distinct()
    )
    sym = materialize(und.select(F.col("u").alias("a"), F.col("w").alias("b")).unionAll(
        und.select(F.col("w").alias("a"), F.col("u").alias("b"))
    ), StorageLevel.MEMORY_AND_DISK)  # 3 relaxation rounds
    d = sym.select(F.col("a").alias("s"), F.col("b").alias("t"), F.lit(1).cast("long").alias("d"))
    for _ in range(3):
        ext = (
            d.join(sym.select(F.col("a").alias("t"), F.col("b").alias("t2")), "t")
            .where(F.col("t2") != F.col("s"))
            .select("s", F.col("t2").alias("t"), (F.col("d") + 1).alias("d"))
        )
        d = materialize(
            d.unionAll(ext)
            .groupBy("s", "t")
            .agg(F.min("d").cast("long").alias("d")),
            StorageLevel.MEMORY_AND_DISK,
        )
    return d.groupBy(F.col("s").cast("long").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("n_reach"),
        F.sum(F.expr("12 div d")).cast("long").alias("h12"),
    )


# ---------------------------------------------------------------------------
# Secretary (optimal stopping) rule success rate over user event streams.
# ---------------------------------------------------------------------------

_SECRETARY_ORACLE = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM e
    ),
    stats AS (
      SELECT user_id, MAX(n) AS n,
             CAST(MAX(CASE WHEN rn <= n // 3 THEN cents END) AS BIGINT)
               AS m1,
             CAST(MAX(cents) AS BIGINT) AS mall,
             CAST(SUM(CASE WHEN cents = (SELECT MAX(cents) FROM r r2
                                         WHERE r2.user_id = r.user_id)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_at_max
      FROM r GROUP BY user_id
    ),
    eligible AS (
      SELECT user_id, n, m1, mall FROM stats
      WHERE n >= 3 AND n_at_max = 1 AND m1 IS NOT NULL
    ),
    accepted AS (
      SELECT el.user_id, el.mall,
             CAST(MIN(r.rn) AS BIGINT) AS acc_rn
      FROM eligible el
      JOIN r ON r.user_id = el.user_id
            AND r.rn > el.n // 3 AND r.cents > el.m1
      GROUP BY el.user_id, el.mall
    ),
    outcome AS (
      SELECT el.user_id,
             CASE WHEN a.acc_rn IS NOT NULL
                   AND (SELECT r3.cents FROM r r3
                        WHERE r3.user_id = el.user_id AND r3.rn = a.acc_rn)
                       = el.mall
                  THEN 1 ELSE 0 END AS success
      FROM eligible el LEFT JOIN accepted a ON a.user_id = el.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users_eval,
           CAST(SUM(success) AS BIGINT) AS n_success,
           CAST(CAST(SUM(success) AS HUGEINT) * 1000000
                // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS success_ppm
    FROM outcome
"""


@register("secretary_rule_success", _SECRETARY_ORACLE)
def secretary_rule_success(spark, sf_dir):
    """Secretary-rule (skip n div 3, take first record-beater) success
    rate over user event streams — see module docstring. Output: one
    row (n_users_eval, n_success, success_ppm)."""
    ev = load_events(spark, sf_dir)
    e = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wu = Window.partitionBy("user_id")
    r = e.withColumn(
        "rn", F.row_number().over(wu.orderBy("us", "event_id"))
    ).withColumn("n", F.count(F.lit(1)).over(wu).cast("long"))
    stats = r.groupBy("user_id").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") <= F.expr("n div 3"), F.col("cents")))
        .cast("long")
        .alias("m1"),
        F.max("cents").cast("long").alias("mall"),
    )
    # count of rows at the max, for the unique-strict-max eligibility
    atmax = (
        r.join(
            stats.select("user_id", F.col("mall").alias("m2")), "user_id"
        )
        .where(F.col("cents") == F.col("m2"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_at_max"))
    )
    eligible = (
        stats.join(atmax, "user_id")
        .where(
            (F.col("n") >= 3) & (F.col("n_at_max") == 1) & F.col("m1").isNotNull()
        )
        .select("user_id", "n", "m1", "mall")
    )
    # eligible is ~one row per user (an unbounded dimension at 100 TB), so
    # it must NOT be broadcast — a user_id-keyed shuffle join keeps the
    # plan valid at any user count (ADVICE r6).
    cand = r.drop("n").join(eligible, "user_id").where(
        (F.col("rn") > F.expr("n div 3")) & (F.col("cents") > F.col("m1"))
    )
    accepted = cand.groupBy("user_id", "mall").agg(
        F.min_by("cents", "rn").cast("long").alias("acc_cents")
    )
    outcome = eligible.join(accepted, ["user_id", "mall"], "left").select(
        F.when(
            F.col("acc_cents").isNotNull() & (F.col("acc_cents") == F.col("mall")),
            1,
        )
        .otherwise(0)
        .alias("success")
    )
    return outcome.agg(
        F.count(F.lit(1)).cast("long").alias("n_users_eval"),
        F.sum("success").cast("long").alias("n_success"),
        F.expr(
            "CAST(CAST(SUM(success) AS DECIMAL(38,0)) * 1000000"
            " div CAST(COUNT(*) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("success_ppm"),
    )


# ---------------------------------------------------------------------------
# Entropy rate of the event-type Markov chain.
# ---------------------------------------------------------------------------

_MER_TERM = (
    "CAST(FLOOR(CAST(cij AS DOUBLE)"
    " * LN(CAST(ci AS DOUBLE) / CAST(cij AS DOUBLE)) * 1000000000)"
    " AS BIGINT)"
)

_MER_ORACLE = f"""
    WITH e AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    tr AS (
      SELECT a.event_type AS s1, b.event_type AS s2,
             CAST(COUNT(*) AS BIGINT) AS cij
      FROM e a JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      GROUP BY 1, 2
    ),
    rowc AS (SELECT s1, CAST(SUM(cij) AS BIGINT) AS ci FROM tr GROUP BY s1),
    terms AS (
      SELECT tr.cij, {_MER_TERM} AS term
      FROM tr JOIN rowc ON rowc.s1 = tr.s1
    )
    SELECT CAST(SUM(cij) AS BIGINT) AS n_transitions,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rowc) AS n_states,
           CAST(CAST(SUM(term) AS HUGEINT)
                // CAST(SUM(cij) AS HUGEINT) AS BIGINT) AS h_rate_nano
    FROM terms
"""


@register("markov_entropy_rate_nano", _MER_ORACLE)
def markov_entropy_rate_nano(spark, sf_dir):
    """Empirical entropy rate of the per-user event-type chain — see
    module docstring. Output: one row (n_transitions, n_states,
    h_rate_nano)."""
    ev = load_events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), F.col("event_id")
    )
    e = ev.select("user_id", "event_type", F.row_number().over(wu).alias("rn"))
    b = e.select(
        F.col("user_id").alias("u2"),
        F.col("event_type").alias("s2"),
        (F.col("rn") - 1).alias("rn2"),
    )
    tr = (
        e.join(b, (F.col("user_id") == F.col("u2")) & (F.col("rn") == F.col("rn2")))
        .groupBy(F.col("event_type").alias("s1"), F.col("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("cij"))
    )
    rowc = tr.groupBy("s1").agg(F.sum("cij").cast("long").alias("ci"))
    ns = rowc.agg(F.count(F.lit(1)).cast("long").alias("n_states"))
    terms = tr.join(F.broadcast(rowc), "s1").select(
        "cij", F.expr(_MER_TERM).alias("term")
    )
    return (
        terms.agg(
            F.sum("cij").cast("long").alias("n_transitions"),
            F.expr(
                "CAST(CAST(SUM(term) AS DECIMAL(38,0))"
                " div CAST(SUM(cij) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("h_rate_nano"),
        )
        .crossJoin(F.broadcast(ns))
        .select("n_transitions", "n_states", "h_rate_nano")
    )
