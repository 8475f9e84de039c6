"""Round-10 wave 7: RL advantage estimation, social-choice rank
aggregation, and distributed-training memory planning (named published
recipes absent from the registry):

- gae_advantage_replay: Generalized Advantage Estimation (Schulman et
  al. 2015): per-user event trajectories (first 16 events, exact
  (ts, event_id) order), committed hash-derived value baseline,
  TD residuals δ_t = r_t + γV_{t+1} − V_t, and the backward recursion
  A_t = δ_t + γλ·A_{t+1} at the committed γ = 0.9, λ = 0.95 — run as
  ONE in-row fold over the reversed residual array.
- condorcet_copeland_winner: Condorcet pairwise-majority analysis with
  Copeland scores (Copeland 1951) — regions rank the 5 order priorities
  by count; a priority beats another if a strict majority of regions
  rank it higher. The social-choice upgrade of borda_rank_aggregation.
- parallelism_memory_plan: the ZeRO memory-partitioning planning table
  (Rajbhandari et al. 2020): per committed (model size × TP × ZeRO-3)
  grid on a 64-GPU cluster, bytes/GPU from the 2+2+12 bytes-per-param
  decomposition, Chinchilla-budget steps, and epochs over THIS corpus.

Integer discipline (CLAUDE.md): GAE doubles are deterministic identical
elementwise text (libm-parity commitment) with per-step nano floors that
stay exact in double (< 2^53); every planning number is an exact integer
floor division; pairwise wins are integer majority cross-mults.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.littables import values_df
from hpmr_spark.functions.hashing import sql_hash60, spark_sql_hash60
from hpmr_spark.sources.tables import load_events

# ---------------------------------------------------------------------------
# Generalized Advantage Estimation replay
# ---------------------------------------------------------------------------

_GAE_CAP = 16  # committed trajectory cap
_GAE_G = "CAST(0.9 AS DOUBLE)"  # γ
_GAE_GL = "CAST(0.855 AS DOUBLE)"  # γλ with λ = 0.95


def _gae_deltas(el) -> str:
    """δ_t array from rs (reward cents) and vs (baseline cents), both
    BIGINT arrays of length n: δ_t = r_t + γ·V_{t+1} − V_t (V beyond the
    trajectory is 0)."""
    rt = el("rs", "t")
    vt = el("vs", "t")
    vn = el("vs", "t + 1")
    return (
        f"transform(sequence(1, n), t -> CAST({rt} AS DOUBLE)"
        f" + {_GAE_G} * (CASE WHEN t < n THEN CAST({vn} AS DOUBLE)"
        f" ELSE CAST(0 AS DOUBLE) END) - CAST({vt} AS DOUBLE))"
    )


# fold acc = [A (double), Σ floor(A·1e9) (exact-in-double int)]; elements
# are the REVERSED deltas, so the final A is A_0.
_GAE_FOLD_SPARK = (
    "aggregate(reverse(ds), array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),"
    " (acc, d) -> array(d + {gl} * element_at(acc, 1),"
    " element_at(acc, 2)"
    " + FLOOR((d + {gl} * element_at(acc, 1)) * 1000000000)))"
).format(gl=_GAE_GL)

_GAE_FOLD_DUCK = (
    "list_reduce(list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],"
    " list_transform(list_reverse(ds), _d -> [_d])),"
    " (_acc, _e) -> [_e[1] + {gl} * _acc[1],"
    " _acc[2] + FLOOR((_e[1] + {gl} * _acc[1]) * 1000000000)])"
).format(gl=_GAE_GL)


def _gae_v(engine_hash) -> str:
    return "(" + engine_hash("'vf:' || CAST(event_id AS STRING)") + " % 1000)"


_GAE_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS tu, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END AS r,
             {_gae_v(sql_hash60)} AS v
      FROM events
    ),
    traj AS (
      SELECT user_id,
             list_slice(list_transform(
               list_sort(list({{'tu': tu, 'eid': event_id, 'r': r, 'v': v}})),
               _p -> {{'r': _p['r'], 'v': _p['v']}}), 1, {_GAE_CAP}) AS tr
      FROM ev GROUP BY user_id
    ),
    arrs AS (
      SELECT user_id, len(tr) AS n,
             list_transform(tr, _p -> _p['r']) AS rs,
             list_transform(tr, _p -> _p['v']) AS vs
      FROM traj
    ),
    ds AS (
      SELECT user_id, n,
             list_transform(range(1, n + 1), t -> CAST(rs[t] AS DOUBLE)
               + {_GAE_G} * (CASE WHEN t < n THEN CAST(vs[t + 1] AS DOUBLE)
                             ELSE CAST(0 AS DOUBLE) END)
               - CAST(vs[t] AS DOUBLE)) AS ds
      FROM arrs
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_steps,
           CAST(FLOOR(({_GAE_FOLD_DUCK})[1] * 1000000000) AS BIGINT)
             AS a0_nano,
           CAST(({_GAE_FOLD_DUCK})[2] AS BIGINT) AS asum_nano
    FROM ds
"""


@register("gae_advantage_replay", _GAE_ORACLE)
def gae_advantage_replay(spark, sf_dir):
    """Generalized Advantage Estimation (Schulman et al. 2015) replayed
    over user event trajectories: rewards are purchase cents, the value
    baseline is a committed hash of the event id (cents), and
    A_t = δ_t + γλ·A_{t+1} runs as ONE in-row backward fold over the
    reversed TD-residual array (γ = 0.9, λ = 0.95 — every double op is
    identical elementwise text both engines; each A_t is nano-floored
    inside the fold, and floored nanos < 2^53 stay exact in the double
    accumulator). Emits per user the first-step advantage A₀ and the
    floored-advantage sum — the advantage-replay table an RLHF/bandit
    pipeline logs.

    Spark shape: one event scan, one user agg (sorted capped trajectory
    — arrays bounded by the committed 16-step cap after an exact
    (ts, event_id) sort), all folds in-row. Linear at any scale."""
    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("tu"),
        "event_id",
        F.expr(
            "CASE WHEN event_type = 'purchase'"
            " THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END"
        ).alias("r"),
        F.expr(_gae_v(spark_sql_hash60)).alias("v"),
    )
    traj = ev.groupBy("user_id").agg(
        F.expr(
            f"slice(transform(array_sort(collect_list("
            f"struct(tu, event_id, r, v))), p -> struct(p.r AS r, p.v AS v)),"
            f" 1, {_GAE_CAP})"
        ).alias("tr")
    )
    arrs = traj.select(
        "user_id",
        F.size("tr").alias("n"),
        F.expr("transform(tr, p -> p.r)").alias("rs"),
        F.expr("transform(tr, p -> p.v)").alias("vs"),
    )
    ds = arrs.select(
        "user_id",
        "n",
        F.expr(
            _gae_deltas(lambda a, i: f"element_at({a}, CAST({i} AS INT))")
        ).alias("ds"),
    )
    return ds.select(
        "user_id",
        F.col("n").cast("long").alias("n_steps"),
        F.expr(
            f"CAST(FLOOR(element_at({_GAE_FOLD_SPARK}, 1) * 1000000000)"
            f" AS BIGINT)"
        ).alias("a0_nano"),
        F.expr(
            f"CAST(element_at({_GAE_FOLD_SPARK}, 2) AS BIGINT)"
        ).alias("asum_nano"),
    )


# ---------------------------------------------------------------------------
# Condorcet / Copeland over regional priority rankings
# ---------------------------------------------------------------------------

_CW_ORACLE = """
    WITH cnts AS (
      SELECT n.n_regionkey AS region, o.o_orderpriority AS p,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_regionkey, o.o_orderpriority
    ),
    ranked AS (
      SELECT region, p,
             ROW_NUMBER() OVER (PARTITION BY region
                                ORDER BY cnt DESC, p) AS rk
      FROM cnts
    ),
    nr AS (SELECT CAST(COUNT(DISTINCT region) AS BIGINT) AS n FROM ranked),
    pairs AS (
      SELECT a.p AS pa, b.p AS pb,
             CAST(SUM(CASE WHEN a.rk < b.rk THEN 1 ELSE 0 END) AS BIGINT)
               AS wins
      FROM ranked a JOIN ranked b
        ON a.region = b.region AND a.p <> b.p
      GROUP BY a.p, b.p
    ),
    beats AS (
      SELECT pa, pb,
             CASE WHEN wins * 2 > nr.n THEN 1 ELSE 0 END AS beat,
             CASE WHEN wins * 2 < nr.n THEN 1 ELSE 0 END AS lose
      FROM pairs, nr
    )
    SELECT pa AS priority,
           CAST(SUM(beat) - SUM(lose) AS BIGINT) AS copeland,
           CAST(SUM(beat) AS BIGINT) AS n_beats,
           CAST(CASE WHEN SUM(beat) = COUNT(*) THEN 1 ELSE 0 END AS BIGINT)
             AS is_condorcet
    FROM beats GROUP BY pa
"""


@register("condorcet_copeland_winner", _CW_ORACLE)
def condorcet_copeland_winner(spark, sf_dir):
    """Condorcet pairwise-majority analysis with Copeland scores
    (Copeland 1951): each region is a voter ranking the 5 order
    priorities by order count ((cnt DESC, priority) total order); a
    priority BEATS another when a strict majority of regions rank it
    higher (integer 2·wins > n cross-mult). Emits per priority the
    Copeland score (wins − losses), win count, and the Condorcet-winner
    flag (beats ALL others) — the social-choice view next to
    borda_rank_aggregation's positional one; they can disagree, which is
    exactly why both belong on a rank-aggregation dashboard.

    Spark shape: one fact agg to the BOUNDED (region × priority) frame
    (25 rows at any scale), region-partitioned window rank (never
    global), one 25×25-bounded pair join, two tiny aggs."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nt = _t(spark, sf_dir, "nation")
    cnts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(nt, c.c_nationkey == nt.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # persisted: nr + both pair-join sides consume the windowed frame
    # (multi-consumer rule; bounded 25 rows)
    ranked = materialize(
        cnts.select(
            "region",
            "p",
            F.row_number()
            .over(
                Window.partitionBy("region").orderBy(F.desc("cnt"), F.asc("p"))
            )
            .alias("rk"),
        )
    )
    nr = ranked.agg(
        F.countDistinct("region").cast("long").alias("n")
    )
    a = ranked.select(
        F.col("region").alias("ra"), F.col("p").alias("pa"), F.col("rk").alias("ka")
    )
    b = ranked.select(
        F.col("region").alias("rb"), F.col("p").alias("pb"), F.col("rk").alias("kb")
    )
    pairs = (
        a.join(b, (F.col("ra") == F.col("rb")) & (F.col("pa") != F.col("pb")))
        .groupBy("pa", "pb")
        .agg(
            F.sum(F.when(F.col("ka") < F.col("kb"), 1).otherwise(0))
            .cast("long")
            .alias("wins")
        )
    )
    beats = pairs.crossJoin(F.broadcast(nr)).select(
        "pa",
        F.when(F.col("wins") * 2 > F.col("n"), 1).otherwise(0).alias("beat"),
        F.when(F.col("wins") * 2 < F.col("n"), 1).otherwise(0).alias("lose"),
    )
    return beats.groupBy(F.col("pa").alias("priority")).agg(
        (F.sum("beat") - F.sum("lose")).cast("long").alias("copeland"),
        F.sum("beat").cast("long").alias("n_beats"),
        F.when(F.sum("beat") == F.count(F.lit(1)), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_condorcet"),
    )


# ---------------------------------------------------------------------------
# ZeRO parallelism memory plan
# ---------------------------------------------------------------------------

_PM_SIZES = (10**9, 10**10, 10**11)
_PM_GPUS = 64
_PM_BATCH_TOKENS = 4194304  # committed global batch (2^22 tokens)

_PM_GRID = ", ".join(
    f"({n}, {tp}, {z})"
    for n in _PM_SIZES
    for tp in (1, 8)
    for z in (0, 1)
)

_PM_ORACLE = f"""
    WITH corpus AS (
      SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ct
      FROM documents
    ),
    grid AS (SELECT * FROM (VALUES {_PM_GRID}) g(n, tp, z))
    SELECT CAST(grid.n AS BIGINT) AS params,
           CAST(grid.tp AS BIGINT) AS tp,
           CAST(grid.z AS BIGINT) AS zero3,
           CAST({_PM_GPUS} // grid.tp AS BIGINT) AS dp_ways,
           CAST(16 * grid.n * 1000
                // (CAST(grid.tp AS BIGINT)
                    * (CASE WHEN grid.z = 1 THEN {_PM_GPUS} // grid.tp
                       ELSE 1 END))
                // 1073741824 AS BIGINT) AS mem_gb_milli,
           CAST(20 * grid.n // {_PM_BATCH_TOKENS} AS BIGINT) AS train_steps,
           CAST((20 * grid.n + corpus.ct - 1) // corpus.ct AS BIGINT)
             AS corpus_epochs
    FROM grid, corpus
"""


@register("parallelism_memory_plan", _PM_ORACLE)
def parallelism_memory_plan(spark, sf_dir):
    """ZeRO memory-partitioning plan (Rajbhandari et al. 2020): per
    committed (model size × tensor-parallel × ZeRO-3) cell on a 64-GPU
    cluster, bytes/GPU from the standard 16-bytes-per-parameter
    decomposition (2 bf16 params + 2 grads + 12 Adam states), divided by
    TP and — under ZeRO-3 — by the data-parallel ways; plus the
    Chinchilla-budget step count (20N tokens at the committed 2²² global
    batch) and epochs over THIS corpus. The go/no-go memory table every
    training-infra plan starts from (read next to chinchilla_data_budget
    — the compute and memory halves of the same plan).

    Spark shape: one corpus agg crossed with a 12-row literal grid —
    everything integer floor divisions."""
    d = _t(spark, sf_dir, "documents")
    corpus = d.agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("ct")
    )
    grid = values_df(spark, 
        [
            (n, tp, z)
            for n in _PM_SIZES
            for tp in (1, 8)
            for z in (0, 1)
        ],
        "n long, tp long, z long",
    )
    return grid.crossJoin(F.broadcast(corpus)).select(
        F.col("n").alias("params"),
        F.col("tp").alias("tp"),
        F.col("z").alias("zero3"),
        F.expr(f"{_PM_GPUS} div tp").cast("long").alias("dp_ways"),
        F.expr(
            f"CAST(16 * n * 1000"
            f" div (tp * (CASE WHEN z = 1 THEN {_PM_GPUS} div tp"
            f" ELSE 1 END)) div 1073741824 AS BIGINT)"
        ).alias("mem_gb_milli"),
        F.expr(f"CAST(20 * n div {_PM_BATCH_TOKENS} AS BIGINT)").alias(
            "train_steps"
        ),
        F.expr("CAST((20 * n + ct - 1) div ct AS BIGINT)").alias(
            "corpus_epochs"
        ),
    )
