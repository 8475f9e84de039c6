"""Round-10 wave 5: tokenization, MoE routing, attention cost modeling,
and doubly-robust off-policy evaluation (each a named published recipe
absent from the registry):

- wordpiece_maxmatch_tokenize: WordPiece greedy longest-match-first
  tokenization (Wu et al. 2016; the BERT tokenizer) with a data-derived
  committed vocab (top-20 token-weighted character 2-grams + top-10
  3-grams; single characters are always available, so no UNK) —
  completes the subword trio next to bpe_train_8_merges (merge-based)
  and unigram_viterbi_segment (likelihood-based): THE three production
  tokenizer families, now all three cross-engine-verified.
- moe_router_load_balance: the Switch-Transformer router census (Fedus
  et al. 2021): committed 8-expert hash logits per token, integer
  argmax routing, softmax router probabilities (EXP over committed
  milli-logits — the libm-parity commitment) — per-expert token
  fraction f_i and mean router probability P̄_i, the two factors of the
  load-balancing auxiliary loss.
- attention_io_cost_model: the FlashAttention HBM-IO planning table
  (Dao et al. 2022, Thm 2): per power-of-two sequence-length bucket of
  THIS corpus, exact-integer FLOPs (4N²d), standard-attention IO
  (4Nd + 2N²) vs tiled IO (4Nd + 2N²d²/M), and the speedup ratio.
- doubly_robust_ope: the doubly-robust off-policy estimator (Dudík et
  al. 2011) on the SAME committed logging/target policies as
  ips_offpolicy_value, plus a committed direct-method reward model —
  emits DM, IPS, and DR side by side: the estimator comparison table
  from the paper.

Integer discipline (CLAUDE.md): routing argmax and vocab selection are
integer with full tie-breaks; router probabilities are elementwise
nano-floored doubles from identical expression text; every IO/FLOP count
is exact integer; DR sums can go negative — truncation-toward-zero
division, identical both engines.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60, spark_sql_hash60
from hpmr_spark.sources.tables import load_events

# ---------------------------------------------------------------------------
# WordPiece greedy longest-match-first
# ---------------------------------------------------------------------------

_WP_N2 = 20  # committed vocab sizes
_WP_N3 = 10
_WP_STEPS = 8  # max word length in this corpus (probed: 8)


def _wp_fold_spark(v2: str, v3: str) -> str:
    """[pos, n_pieces] fold over ≤ 8 greedy steps; vocab arrays inline.
    Spark element access is element_at (1-based) — bare [] is 0-based."""
    pos = "element_at(acc, 1)"
    np = "element_at(acc, 2)"
    adv = (
        f"CASE WHEN array_contains({v3}, substring(w, CAST({pos} AS INT), 3))"
        f" THEN 3"
        f" WHEN array_contains({v2}, substring(w, CAST({pos} AS INT), 2))"
        f" THEN 2 ELSE 1 END"
    )
    return (
        f"element_at(aggregate(sequence(1, {_WP_STEPS}),"
        f" array(CAST(1 AS BIGINT), CAST(0 AS BIGINT)),"
        f" (acc, k) -> CASE WHEN {pos} > length(w) THEN acc"
        f" ELSE array({pos} + {adv}, {np} + 1) END), 2)"
    )


def _wp_fold_duck(v2: str, v3: str) -> str:
    adv = (
        f"CASE WHEN list_contains({v3}, substr(w, CAST(_acc[1] AS INT), 3))"
        f" THEN 3"
        f" WHEN list_contains({v2}, substr(w, CAST(_acc[1] AS INT), 2))"
        f" THEN 2 ELSE 1 END"
    )
    return (
        f"list_reduce(list_prepend([CAST(1 AS BIGINT), CAST(0 AS BIGINT)],"
        f" list_transform(range({_WP_STEPS}), _k -> [CAST(0 AS BIGINT)])),"
        f" (_acc, _e) -> CASE WHEN _acc[1] > length(w) THEN _acc"
        f" ELSE [_acc[1] + {adv}, _acc[2] + 1] END)[2]"
    )


_WP_ORACLE = f"""
    WITH toks AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    g2 AS (
      SELECT g, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        SELECT unnest(list_transform(range(1, len(w)), _i ->
                 substr(w, CAST(_i AS INT), 2))) AS g, cnt
        FROM toks WHERE len(w) >= 2) GROUP BY g
      QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, g) <= {_WP_N2}
    ),
    g3 AS (
      SELECT g, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        SELECT unnest(list_transform(range(1, len(w) - 1), _i ->
                 substr(w, CAST(_i AS INT), 3))) AS g, cnt
        FROM toks WHERE len(w) >= 3) GROUP BY g
      QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, g) <= {_WP_N3}
    ),
    vocab AS MATERIALIZED (
      SELECT (SELECT list(g ORDER BY g) FROM g2) AS v2,
             (SELECT list(g ORDER BY g) FROM g3) AS v3
    ),
    pieces AS (
      SELECT lang, {_wp_fold_duck("vocab.v2", "vocab.v3")} AS np
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents), vocab
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(np) AS BIGINT) AS n_pieces,
           CAST(CAST(SUM(np) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
             AS fertility_ppm
    FROM pieces GROUP BY lang
"""


@register("wordpiece_maxmatch_tokenize", _WP_ORACLE)
def wordpiece_maxmatch_tokenize(spark, sf_dir):
    """WordPiece greedy maximal-munch tokenization (Wu et al. 2016; the
    BERT tokenizer family): the committed vocab is data-derived — the
    top-20 token-weighted character 2-grams and top-10 3-grams under the
    exact (count DESC, gram ASC) tie-break — and every word is walked
    left-to-right taking the LONGEST vocab piece at each position
    (single chars always match, so no UNK and ≤ 8 steps: the corpus max
    word length). Emits per-lang word/piece counts and fertility — read
    next to tokenizer_fertility_by_lang (whitespace) and
    bpe_apply_compression_report (merge-based): the three tokenizer
    families now all report the same dashboard.

    Spark shape: the vocab is two bounded TakeOrdered collects (≤ 30
    literals — the committed-constant pattern); the greedy walk is an
    in-row [pos, pieces] array fold (JVM-side `aggregate` HOF / DuckDB
    list_reduce over 1-long dummy lists). One token pass + one lang agg.
    Collects at build ⟹ plan_snapshot SKIP."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("w")).groupBy(
        "w"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))

    def top_grams(size: int, k: int) -> list[str]:
        rows = (
            toks.where(F.length("w") >= size)
            .select(
                F.explode(
                    F.expr(
                        f"transform(sequence(1, length(w) - {size - 1}),"
                        f" i -> substring(w, CAST(i AS INT), {size}))"
                    )
                ).alias("g"),
                "cnt",
            )
            .groupBy("g")
            .agg(F.sum("cnt").cast("long").alias("c"))
            .orderBy(F.desc("c"), F.asc("g"))
            .limit(k)
            .collect()
        )
        return sorted(r["g"] for r in rows)

    v2 = top_grams(2, _WP_N2)
    v3 = top_grams(3, _WP_N3)
    lit2 = "array(" + ",".join(f"'{g}'" for g in v2) + ")"
    lit3 = "array(" + ",".join(f"'{g}'" for g in v3) + ")"
    pieces = d.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    ).select("lang", F.expr(_wp_fold_spark(lit2, lit3)).alias("np"))
    return pieces.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("np").cast("long").alias("n_pieces"),
        F.expr(
            "CAST(CAST(SUM(np) AS DECIMAL(38,0)) * 1000000 div COUNT(*)"
            " AS BIGINT)"
        ).alias("fertility_ppm"),
    )


# ---------------------------------------------------------------------------
# MoE router load balance (Switch Transformer)
# ---------------------------------------------------------------------------

_MOE_E = 8  # committed expert count


_MOE_LOGIT_SPARK = spark_sql_hash60(
    "'moe:' || CAST(e AS STRING) || ':' || w"
)
_MOE_LOGIT_DUCK = sql_hash60("'moe:' || CAST(e AS STRING) || ':' || w")

_MOE_ORACLE = f"""
    WITH toks AS (
      SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w
                     FROM documents)
    ),
    lg AS (
      SELECT w, list_transform(range(0, {_MOE_E}), e ->
               ({_MOE_LOGIT_DUCK} % 1000)) AS la
      FROM toks
    ),
    ex AS (
      SELECT la,
             list_transform(la, _l -> EXP(CAST(_l AS DOUBLE) / 1000.0)) AS ea
      FROM lg
    ),
    pr AS (
      SELECT la, ea,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ea),
                         (_a, _b) -> _a + _b) AS s,
             list_aggregate(list_transform(range(0, {_MOE_E}), _e ->
               {{'l': la[_e + 1], 'nege': 0 - _e}}), 'max') AS mx
      FROM ex
    ),
    rows_ AS (
      SELECT e, CAST(FLOOR(ea[e + 1] / s * 1000000000) AS BIGINT) AS p_nano,
             CASE WHEN la[e + 1] = mx.l AND 0 - e = mx.nege
                  THEN 1 ELSE 0 END AS routed
      FROM pr, (SELECT unnest(range(0, {_MOE_E})) AS e)
    ),
    g AS (
      SELECT e, CAST(SUM(routed) AS BIGINT) AS n_routed,
             CAST(SUM(p_nano) AS BIGINT) AS p_sum
      FROM rows_ GROUP BY e
    ),
    tot AS (SELECT CAST(SUM(n_routed) AS BIGINT) AS n FROM g)
    SELECT CAST(g.e AS BIGINT) AS expert, g.n_routed,
           g.n_routed * 1000000 // tot.n AS f_ppm,
           CAST(CAST(g.p_sum AS HUGEINT) // tot.n AS BIGINT) AS p_mean_nano
    FROM g, tot
"""


@register("moe_router_load_balance", _MOE_ORACLE)
def moe_router_load_balance(spark, sf_dir):
    """Switch-Transformer router load-balance census (Fedus et al. 2021):
    every corpus token carries committed 8-expert milli-logits
    (hash-derived ints); routing is the integer argmax (tie → lowest
    expert); router probabilities are the softmax over logits/1000 —
    EXP/division as identical elementwise text both engines, floored to
    nanos BEFORE any sum (the libm-parity commitment). Emits per expert
    the routed-token count, fraction f_ppm and mean router probability
    P̄ (nano) — the two factors of the paper's auxiliary loss
    E·Σᵢ fᵢ·P̄ᵢ, readable straight off the table.

    Spark shape: one token scan; logits/softmax/argmax all in-row
    (array HOFs, JVM-side); one posexplode (×8) + expert agg. The 8-row
    census is persisted (totals + final consumers — multi-consumer rule)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("w"))
    lg = toks.select(
        "w",
        F.expr(
            f"transform(sequence(0, {_MOE_E - 1}),"
            f" e -> ({_MOE_LOGIT_SPARK} % 1000))"
        ).alias("la"),
    )
    pr = lg.select(
        "la",
        F.expr(
            "transform(la, l -> EXP(CAST(l AS DOUBLE) / 1000.0))"
        ).alias("ea"),
    ).select(
        "la",
        "ea",
        F.expr(
            "aggregate(ea, CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("s"),
        F.expr(
            f"array_max(transform(sequence(0, {_MOE_E - 1}), e ->"
            f" named_struct('l', element_at(la, CAST(e + 1 AS INT)),"
            f" 'nege', 0 - e)))"
        ).alias("mx"),
    )
    rows = pr.select(
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_MOE_E - 1}), e -> named_struct("
                f"'p_nano', CAST(FLOOR(element_at(ea, CAST(e + 1 AS INT)) / s"
                f" * 1000000000) AS BIGINT),"
                f"'routed', CASE WHEN element_at(la, CAST(e + 1 AS INT)) = mx.l"
                f" AND 0 - e = mx.nege THEN 1 ELSE 0 END))"
            )
        ).alias("e", "st")
    ).select("e", F.col("st.p_nano").alias("p_nano"), F.col("st.routed").alias("routed"))
    g = materialize(
        rows.groupBy("e")
        .agg(
            F.sum("routed").cast("long").alias("n_routed"),
            F.sum("p_nano").cast("long").alias("p_sum"),
        )
    )
    tot = g.agg(F.sum("n_routed").cast("long").alias("n"))
    return g.crossJoin(F.broadcast(tot)).select(
        F.col("e").cast("long").alias("expert"),
        "n_routed",
        F.expr("n_routed * 1000000 div n").alias("f_ppm"),
        F.expr("CAST(CAST(p_sum AS DECIMAL(38,0)) div n AS BIGINT)").alias(
            "p_mean_nano"
        ),
    )


# ---------------------------------------------------------------------------
# FlashAttention IO cost model
# ---------------------------------------------------------------------------

_ATT_D = 64  # committed head dimension
_ATT_M = 131072  # committed SRAM size (elements)
_ATT_CAP = 1 << 20  # sequence-length bucket ceiling

_ATT_POWS = ", ".join(str(1 << p) for p in range(0, 21))

_ATT_ORACLE = f"""
    WITH docs AS (
      SELECT COALESCE(list_min(list_filter([{_ATT_POWS}],
               _x -> _x >= len(string_split(text, ' ')))), {_ATT_CAP})
             AS nb
      FROM documents
    ),
    b AS (
      SELECT CAST(nb AS BIGINT) AS nb, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM docs GROUP BY nb
    )
    SELECT CAST(nb AS BIGINT) AS seq_bucket, n_docs,
           4 * nb * nb * {_ATT_D} AS flops_per_doc,
           4 * nb * {_ATT_D} + 2 * nb * nb AS io_standard,
           4 * nb * {_ATT_D}
             + 2 * (nb * nb * {_ATT_D * _ATT_D} // {_ATT_M}) AS io_flash,
           (4 * nb * {_ATT_D} + 2 * nb * nb) * 1000000
             // (4 * nb * {_ATT_D}
                 + 2 * (nb * nb * {_ATT_D * _ATT_D} // {_ATT_M}))
             AS speedup_ppm
    FROM b
"""


@register("attention_io_cost_model", _ATT_ORACLE)
def attention_io_cost_model(spark, sf_dir):
    """FlashAttention HBM-IO planning table (Dao et al. 2022, Theorem 2):
    for each power-of-two sequence-length bucket of THIS corpus (ceiling
    2²⁰), the exact-integer forward-attention FLOPs 4N²d, the standard
    IO 4Nd + 2N² (materializing S and P), the tiled IO
    4Nd + 2·⌊N²d²/M⌋ at the committed d = 64, M = 2¹⁷-element SRAM, and
    the IO speedup ratio — the table that decides which kernel a serving
    stack should pick per bucket (read next to
    seqlen_bucket_padding_waste: same bucketing, the memory-vs-compute
    views).

    Spark shape: in-row bucket lookup (array-literal min-power-≥-n — no
    shifts, engine-identical), one bucket agg. Linear, one shuffle."""
    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        F.expr(
            f"CAST(COALESCE(array_min(filter(array({_ATT_POWS}),"
            f" x -> x >= size(split(text, ' ')))), {_ATT_CAP}) AS BIGINT)"
        ).alias("nb")
    )
    b = docs.groupBy("nb").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    dd = _ATT_D * _ATT_D
    return b.select(
        F.col("nb").cast("long").alias("seq_bucket"),
        "n_docs",
        F.expr(f"4 * nb * nb * {_ATT_D}").cast("long").alias("flops_per_doc"),
        F.expr(f"4 * nb * {_ATT_D} + 2 * nb * nb")
        .cast("long")
        .alias("io_standard"),
        F.expr(
            f"4 * nb * {_ATT_D} + 2 * (nb * nb * {dd} div {_ATT_M})"
        )
        .cast("long")
        .alias("io_flash"),
        F.expr(
            f"(4 * nb * {_ATT_D} + 2 * nb * nb) * 1000000"
            f" div (4 * nb * {_ATT_D} + 2 * (nb * nb * {dd} div {_ATT_M}))"
        )
        .cast("long")
        .alias("speedup_ppm"),
    )


# ---------------------------------------------------------------------------
# Doubly-robust off-policy evaluation
# ---------------------------------------------------------------------------


def _dr_g(engine_hash, user: str) -> str:
    """Committed direct-method reward model for the purchase arm (cents)."""
    return "(" + engine_hash(f"'gm:' || CAST({user} AS STRING)") + " % 5000)"


_DR_ORACLE = f"""
    WITH lg AS (
      SELECT user_id, event_type AS a,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END AS r,
             CASE CAST({sql_hash60("'pi:' || CAST(user_id AS VARCHAR)")} % 5
                  AS BIGINT)
               WHEN 0 THEN 'view' WHEN 1 THEN 'click' WHEN 2 THEN 'purchase'
               WHEN 3 THEN 'signup' ELSE 'error' END AS pi,
             {_dr_g(sql_hash60, "user_id")} AS gm
      FROM events
    ),
    terms AS (
      SELECT CASE WHEN pi = 'purchase' THEN gm ELSE 0 END AS g_pi,
             CASE WHEN a = pi THEN
               5 * (r - CASE WHEN a = 'purchase' THEN gm ELSE 0 END)
             ELSE 0 END AS corr,
             CASE WHEN a = pi THEN 5 * r ELSE 0 END AS ips
      FROM lg
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(g_pi) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
             AS dm_value_microcents,
           CAST(CAST(SUM(ips) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
             AS ips_value_microcents,
           CAST(CASE WHEN SUM(g_pi + corr) >= 0
             THEN CAST(SUM(g_pi + corr) AS HUGEINT) * 1000000 // COUNT(*)
             ELSE 0 - ((0 - CAST(SUM(g_pi + corr) AS HUGEINT)) * 1000000
                       // COUNT(*)) END AS BIGINT)
             AS dr_value_microcents
    FROM terms
"""


@register("doubly_robust_ope", _DR_ORACLE)
def doubly_robust_ope(spark, sf_dir):
    """Doubly-robust off-policy evaluation (Dudík et al. 2011) on the
    SAME committed uniform logging policy (weight exactly 5) and
    hash-derived deterministic target policy as ips_offpolicy_value,
    plus a committed direct-method reward model ĝ (purchase-arm cents):
    V̂_DR = mean[ĝ(x, π(x)) + w·(r − ĝ(x, a))·𝟙(a = π(x))] — unbiased if
    EITHER the model or the propensities are right. Emits DM, IPS, and
    DR side by side (the paper's comparison table). The DR sum can go
    negative ⟹ the mean division is sign-split to match Spark div ≡
    DuckDB // truncation exactly.

    Spark shape: one event scan, one aggregate — identical to the IPS
    query it extends; everything integer cents."""
    ev = load_events(spark, sf_dir)
    arms = ["view", "click", "purchase", "signup", "error"]
    arm_expr = F.element_at(
        F.array(*[F.lit(a) for a in arms]),
        (
            hash60(F.concat(F.lit("pi:"), F.col("user_id").cast("string"))) % 5
        ).cast("int")
        + 1,
    )
    lg = ev.select(
        F.col("event_type").alias("a"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(0)
        .alias("r"),
        arm_expr.alias("pi"),
        F.expr(_dr_g(spark_sql_hash60, "user_id")).alias("gm"),
    )
    terms = lg.select(
        F.expr("CASE WHEN pi = 'purchase' THEN gm ELSE 0 END").alias("g_pi"),
        F.expr(
            "CASE WHEN a = pi THEN"
            " 5 * (r - CASE WHEN a = 'purchase' THEN gm ELSE 0 END)"
            " ELSE 0 END"
        ).alias("corr"),
        F.expr("CASE WHEN a = pi THEN 5 * r ELSE 0 END").alias("ips"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            "CAST(CAST(SUM(g_pi) AS DECIMAL(38,0)) * 1000000 div COUNT(1)"
            " AS BIGINT)"
        ).alias("dm_value_microcents"),
        F.expr(
            "CAST(CAST(SUM(ips) AS DECIMAL(38,0)) * 1000000 div COUNT(1)"
            " AS BIGINT)"
        ).alias("ips_value_microcents"),
        F.expr(
            "CAST(CASE WHEN SUM(g_pi + corr) >= 0"
            " THEN CAST(SUM(g_pi + corr) AS DECIMAL(38,0)) * 1000000"
            " div COUNT(1)"
            " ELSE 0 - ((0 - CAST(SUM(g_pi + corr) AS DECIMAL(38,0)))"
            " * 1000000 div COUNT(1)) END AS BIGINT)"
        ).alias("dr_value_microcents"),
    )
