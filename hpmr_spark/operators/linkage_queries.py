"""Entity resolution + operational replay (round 4): Fellegi-Sunter
probabilistic record linkage with blocking, and an exact token-bucket
rate-limiter replay (arbitrary stateful fold via Arrow-batched grouped
pandas — the engine's escape hatch for genuinely sequential per-entity
state, mirrored by a recursive-CTE oracle walking the same integer fold).

Cross-engine disciplines: the linkage weights ln(m/u) are COMMITTED
integer-nano literals (computed once, embedded in both texts — same class
of commitment as MINHASH_A/B); the token bucket runs in exact integer
micro-tokens (floor refill Δus div 600) so the Python fold and the SQL
recursion execute the identical arithmetic.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.sources.tables import load_events

# Fellegi-Sunter agreement weights, nano-nats: wa = ⌊ln(m/u)·1e9⌋,
# wd = ⌊ln((1−m)/(1−u))·1e9⌋ for committed (m, u) per comparator:
#   segment:  m=0.95, u=0.20   (5 segments)
#   balance:  m=0.90, u=0.01   (|Δcents| ≤ 1)
#   decade:   m=0.85, u=1/7    (custkey mod-10 class)
_W_SEG_A, _W_SEG_D = 1558144618, -2772588723
_W_BAL_A, _W_BAL_D = 4499809670, -2292534758
_W_DEC_A, _W_DEC_D = 1783392219, -1742969472
_FS_THRESHOLD = 2_000_000_000  # 2.0 nats


@register(
    "record_linkage_fs",
    f"""
    WITH base AS (
      SELECT c_custkey AS a_key, c_nationkey AS nation,
             c_mktsegment AS seg,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ),
    twin AS (
      SELECT c_custkey AS b_key, c_nationkey AS nation,
             CASE WHEN c_custkey % 7 = 0 THEN 'SHIFTED'
                  ELSE c_mktsegment END AS seg,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) + (c_custkey % 3) - 1
               AS bal
      FROM customer
    ),
    scored AS (
      SELECT base.a_key, twin.b_key,
             CAST(CASE WHEN base.seg = twin.seg
                  THEN {_W_SEG_A} ELSE {_W_SEG_D} END
                + CASE WHEN ABS(base.bal - twin.bal) <= 1
                  THEN {_W_BAL_A} ELSE {_W_BAL_D} END
                + CASE WHEN base.a_key % 10 = twin.b_key % 10
                  THEN {_W_DEC_A} ELSE {_W_DEC_D} END AS BIGINT) AS score_nano
      FROM base JOIN twin ON base.nation = twin.nation
    )
    SELECT a_key, b_key, score_nano
    FROM scored WHERE score_nano >= {_FS_THRESHOLD}
    """,
)
def record_linkage_fs(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage against a
    deterministically perturbed twin source (balance jittered ±1 cent by
    custkey mod 3; every 7th twin's segment corrupted — the planted-noise
    discipline): candidate pairs come from BLOCKING on nation (per-block
    quadratic, never corpus² — at 100 TB use finer composite blocks or
    LSH keys, same plan shape), each pair scores Σ agree/disagree
    log-likelihood weights in committed integer nano-nats, and pairs
    clearing 2.0 nats are emitted. True twins score ≈ 7.8 nats (all three
    comparators agree); random same-nation pairs need a rare triple
    agreement to clear the threshold — and when they do, BOTH engines
    emit the identical extra pair (exact arithmetic, no probabilistic
    divergence)."""
    c = _t(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    twin = c.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_nationkey").alias("nation"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("SHIFTED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        (
            F.round(F.col("c_acctbal") * 100).cast("long")
            + (F.col("c_custkey") % 3)
            - 1
        ).alias("bal"),
    )
    a, b = base.alias("a"), twin.alias("b")
    scored = a.join(b, F.col("a.nation") == F.col("b.nation")).select(
        F.col("a.a_key").alias("a_key"),
        F.col("b.b_key").alias("b_key"),
        (
            F.when(F.col("a.seg") == F.col("b.seg"), F.lit(_W_SEG_A)).otherwise(
                F.lit(_W_SEG_D)
            )
            + F.when(
                F.abs(F.col("a.bal") - F.col("b.bal")) <= 1, F.lit(_W_BAL_A)
            ).otherwise(F.lit(_W_BAL_D))
            + F.when(
                F.col("a.a_key") % 10 == F.col("b.b_key") % 10, F.lit(_W_DEC_A)
            ).otherwise(F.lit(_W_DEC_D))
        )
        .cast("long")
        .alias("score_nano"),
    )
    return scored.where(F.col("score_nano") >= _FS_THRESHOLD)


# ---------------------------------------------------------------------------
# Token-bucket rate-limiter replay: exact integer fold per user.
# ---------------------------------------------------------------------------
_TB_CAP = 5_000_000  # 5 tokens in micro-tokens
_TB_COST = 1_000_000  # 1 token per event
_TB_DIV = 600  # refill: Δus div 600 == 1 token per 10 minutes


# shared with the streaming twin (operators/streaming_queries.py
# registers streaming_token_bucket against the SAME walk)
TOKEN_BUCKET_ORACLE_SQL = f"""
    WITH RECURSIVE e AS (
      SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    mx AS (SELECT user_id, CAST(MAX(rn) AS BIGINT) AS n FROM e GROUP BY user_id),
    walk(user_id, rn, tokens, n_allowed, n_denied) AS (
      SELECT user_id, rn,
             CAST({_TB_CAP} - {_TB_COST} AS BIGINT),
             CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      FROM e WHERE rn = 1
      UNION ALL
      SELECT w.user_id, w.rn + 1,
             CASE WHEN LEAST({_TB_CAP}, w.tokens
                       + (cur.ts_us - prv.ts_us) // {_TB_DIV}) >= {_TB_COST}
                  THEN LEAST({_TB_CAP}, w.tokens
                       + (cur.ts_us - prv.ts_us) // {_TB_DIV}) - {_TB_COST}
                  ELSE LEAST({_TB_CAP}, w.tokens
                       + (cur.ts_us - prv.ts_us) // {_TB_DIV}) END,
             w.n_allowed + CASE WHEN LEAST({_TB_CAP}, w.tokens
                       + (cur.ts_us - prv.ts_us) // {_TB_DIV}) >= {_TB_COST}
                  THEN 1 ELSE 0 END,
             w.n_denied + CASE WHEN LEAST({_TB_CAP}, w.tokens
                       + (cur.ts_us - prv.ts_us) // {_TB_DIV}) >= {_TB_COST}
                  THEN 0 ELSE 1 END
      FROM walk w
      JOIN e cur ON cur.user_id = w.user_id AND cur.rn = w.rn + 1
      JOIN e prv ON prv.user_id = w.user_id AND prv.rn = w.rn
    )
    SELECT walk.user_id,
           CAST(walk.n_allowed AS BIGINT) AS n_allowed,
           CAST(walk.n_denied AS BIGINT) AS n_denied,
           CAST(walk.tokens AS BIGINT) AS end_tokens_micro
    FROM walk JOIN mx ON walk.user_id = mx.user_id AND walk.rn = mx.n
    """


@register("token_bucket_replay", TOKEN_BUCKET_ORACLE_SQL)
def token_bucket_replay(spark, sf_dir):
    """Replay a per-user token-bucket rate limiter (cap 5 tokens, cost 1
    per event, refill 1 per 10 min as EXACT integer micro-tokens:
    Δus div 600 — the floor IS the committed contract) over the event
    history: how many events each user's limiter would have allowed vs
    denied, plus the final bucket level. The fold is genuinely sequential
    per user (min-clamping kills any closed form — unlike EWMA's dyadic
    algebra) and runs as the repo's in-row array fold: sort_array over
    collect_list((ts_us, event_id)) then one aggregate() HOF walking the
    IDENTICAL integer recurrence the oracle's recursive CTE walks.
    First event: full bucket, always allowed.

    r12 (guide §4.1): this replaces the r4-era grouped-pandas fold. The
    per-row arithmetic is trivial integer work; the measured cost was
    the Python boundary itself — ~32 ms PER GROUP of Arrow round-trip +
    pandas construction, 32 s of task-time for ~1k users at sf0.1
    (task-time ranking, now tools/observe.py). The in-row fold is pure codegen
    (task-time ~1 s), needs no explicit repartition (the r11
    AQE-coalescing workaround existed only to spread pandas groups),
    and holds the same O(events-per-user) worker memory applyInPandas
    already held (a group arrived as ONE pandas frame)."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    arr = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts_us", "event_id"))).alias("_evs")
    )
    fold = (
        "aggregate(_evs, "
        f"named_struct('tokens', CAST({_TB_CAP} AS BIGINT), "
        "'allowed', CAST(0 AS BIGINT), 'denied', CAST(0 AS BIGINT), "
        "'prev', CAST(NULL AS BIGINT)), "
        "(_a, _e) -> "
        f"named_struct('tokens', "
        f" CASE WHEN IF(_a.prev IS NULL, _a.tokens, LEAST(CAST({_TB_CAP} AS BIGINT), _a.tokens + (_e.ts_us - _a.prev) div {_TB_DIV})) >= {_TB_COST}"
        f" THEN IF(_a.prev IS NULL, _a.tokens, LEAST(CAST({_TB_CAP} AS BIGINT), _a.tokens + (_e.ts_us - _a.prev) div {_TB_DIV})) - {_TB_COST}"
        f" ELSE IF(_a.prev IS NULL, _a.tokens, LEAST(CAST({_TB_CAP} AS BIGINT), _a.tokens + (_e.ts_us - _a.prev) div {_TB_DIV})) END, "
        f"'allowed', _a.allowed + IF(IF(_a.prev IS NULL, _a.tokens, LEAST(CAST({_TB_CAP} AS BIGINT), _a.tokens + (_e.ts_us - _a.prev) div {_TB_DIV})) >= {_TB_COST}, 1, 0), "
        f"'denied', _a.denied + IF(IF(_a.prev IS NULL, _a.tokens, LEAST(CAST({_TB_CAP} AS BIGINT), _a.tokens + (_e.ts_us - _a.prev) div {_TB_DIV})) >= {_TB_COST}, 0, 1), "
        "'prev', _e.ts_us))"
    )
    # fold evaluated ONCE (CollapseProject does not inline a non-cheap
    # producer referenced three times)
    return arr.select("user_id", F.expr(fold).alias("_st")).select(
        "user_id",
        F.col("_st.allowed").alias("n_allowed"),
        F.col("_st.denied").alias("n_denied"),
        F.col("_st.tokens").alias("end_tokens_micro"),
    )
