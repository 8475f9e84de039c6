"""Round-9 fifth wave: beam decoding, the matrix profile, and a sketch
honesty measurement (each a named published algorithm absent from the
registry):

- lm_beam_search_decode: beam search (width 2, 5 steps) over the corpus
  bigram LM — the standard decoding algorithm next to the registry's
  greedy twin (lm_greedy_decode_steps); additive LN-nano scores, full
  (score DESC, sequence ASC) tie-break, per-step checkpointed 2-row
  beam (the epoch-lineage rule).
- matrix_profile_daily: the matrix profile (Yeh et al. 2016) of the daily
  revenue series — for every complete 7-day window, the z-normalized
  distance to its nearest non-overlapping neighbor window and that
  neighbor's day. THE modern time-series-motif/discord primitive; the
  all-pairs computation is CALENDAR-BOUNDED (~2.4k windows at every
  corpus scale) so the quadratic cost is a constant, not a scale risk.
- minhash_estimate_error: sketch honesty for the committed MinHash: on
  the LSH candidate pairs, the signature-agreement Jaccard estimate
  (matches/N_PERM) vs the exact shingle-set Jaccard, with the absolute
  error — the measurement behind the banding S-curve commitments.

Integer discipline (CLAUDE.md): LN scores floored to nanos elementwise
before any chaining; matrix-profile moments are exact BIGINT dollars (a
committed div-100 downscale keeps every product inside 2^53 so the one
final double expression is exact text both engines — int64 ceiling
documented in the docstring); the z-distance is floored to nanos before
the MIN so parallel reduction order cannot decide the argmin.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hpmr_spark.catalog import _t, register
from hpmr_spark.dedup.minhash import lsh_candidate_pairs, signatures_from_shingles
from hpmr_spark.dedup.shingles import SQL_SHINGLE_CTE, shingle_sets
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import MINHASH_A, MINHASH_B, N_PERM, P32, sql_hash60
from hpmr_spark.functions.ranking import bounded_rank

# ---------------------------------------------------------------------------
# Beam-search decoding over the corpus bigram LM.
# ---------------------------------------------------------------------------

_BEAM_SEED = "scan"  # committed seed word (present in the corpus vocab)
_BEAM_W = 2  # committed beam width
_BEAM_STEPS = 5  # committed decode depth

_BEAM_STEP_NANO = (
    "CAST(FLOOR(LN(CAST(n AS DOUBLE) / CAST(ctx AS DOUBLE))"
    " * 1000000000) AS BIGINT)"
)


def _beam_oracle() -> str:
    ctes = [
        """
    pairs AS MATERIALIZED (
      -- positions unnest in the SELECT list of the inner subquery (the
      -- cross-joined-subquery binder trap, CLAUDE.md round-9)
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT toks[CAST(i AS BIGINT)] AS w1,
               toks[CAST(i + 1 AS BIGINT)] AS w2
        FROM (SELECT toks,
                     unnest(generate_series(1,
                       CAST(len(toks) AS BIGINT) - 1)) AS i
              FROM (SELECT string_split(text, ' ') AS toks FROM documents))
      ) GROUP BY w1, w2
    )""",
        """
    cj AS MATERIALIZED (
      SELECT p.w1, p.w2, p.n, cx.ctx
      FROM pairs p
      JOIN (SELECT w1, CAST(SUM(n) AS BIGINT) AS ctx FROM pairs GROUP BY w1)
        cx ON cx.w1 = p.w1
    )""",
        f"""
    b0 AS (SELECT '{_BEAM_SEED}' AS seq, '{_BEAM_SEED}' AS last,
                  CAST(0 AS BIGINT) AS score)""",
    ]
    for k in range(1, _BEAM_STEPS + 1):
        ctes.append(
            f"""
    c{k} AS (
      SELECT b.seq || ' ' || cj.w2 AS seq, cj.w2 AS last,
             b.score + {_BEAM_STEP_NANO} AS score
      FROM b{k - 1} b JOIN cj ON cj.w1 = b.last
    ),
    b{k} AS (
      SELECT seq, last, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, seq) AS rk
      FROM c{k} QUALIFY rk <= {_BEAM_W}
    )"""
        )
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, CAST(rk AS BIGINT) AS rank,"
        f" seq, last AS last_word, CAST(score AS BIGINT) AS score_nano"
        f" FROM b{k}"
        for k in range(1, _BEAM_STEPS + 1)
    )
    return f"WITH {','.join(ctes)}\n    {selects}"


@register("lm_beam_search_decode", _beam_oracle())
def lm_beam_search_decode(spark, sf_dir):
    """Beam-search decoding (width 2, 5 steps) from the committed seed over
    the corpus bigram LM: each step expands every beam hypothesis with all
    continuations, scores additively with the LN-nano'd bigram MLE
    ln(c(w1,w2)/c(w1,*)), and keeps the top-2 under the full
    (score DESC, sequence ASC) tie-break. Per step a bounded candidate
    frame (beam x vocab <= 62 rows) is TakeOrdered-topped and the 2-row
    beam localCheckpoint'ed (lineage cut — see the inline comment), then
    ranked via the broadcast bounded_rank self-join (never a global
    window); the persisted bigram frame is vocab^2-bounded."""
    d = _t(spark, sf_dir, "documents").select(F.split("text", " ").alias("a"))
    pairs = d.select(
        F.explode(
            F.expr(
                "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),"
                " (x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ctx = c.groupBy("w1").agg(F.sum("n").cast("long").alias("ctx"))
    cj = materialize(
        c.join(ctx, "w1")
        .select("w1", "w2", "n", "ctx"),
        StorageLevel.MEMORY_AND_DISK,
    )
    beam = None
    outs = []
    for k in range(1, _BEAM_STEPS + 1):
        if beam is None:
            cand = cj.where(F.col("w1") == _BEAM_SEED).select(
                F.concat(F.lit(_BEAM_SEED), F.lit(" "), F.col("w2")).alias("seq"),
                F.col("w2").alias("last"),
                F.expr(_BEAM_STEP_NANO).alias("score"),
            )
        else:
            cand = (
                cj.join(
                    F.broadcast(
                        beam.select("seq", "score", F.col("last").alias("w1"))
                    ),
                    "w1",
                )
                .select(
                    F.concat(F.col("seq"), F.lit(" "), F.col("w2")).alias("seq"),
                    F.col("w2").alias("last"),
                    (F.col("score") + F.expr(_BEAM_STEP_NANO)).alias("score"),
                )
            )
        # TakeOrdered top-W, then localCheckpoint the 2-row beam: without
        # the lineage cut each step's plan embeds the previous beam several
        # times (bounded_rank self-join + the union) and analysis/broadcast
        # cost grows exponentially — the set_batch epoch-lineage class
        # (first build measured 161 s; checkpointed, ~3 s). Build-time side
        # effect => plan_snapshot SKIP.
        top = (
            cand.orderBy(F.desc("score"), F.asc("seq"))
            .limit(_BEAM_W)
            .localCheckpoint()
        )
        beam = bounded_rank(top, "score", "seq", primary_desc=True, out="rk")
        outs.append(
            beam.select(
                F.lit(k).cast("long").alias("step"),
                F.col("rk").cast("long").alias("rank"),
                "seq",
                F.col("last").alias("last_word"),
                F.col("score").cast("long").alias("score_nano"),
            )
        )
    return reduce(lambda x, y: x.unionByName(y), outs)


# ---------------------------------------------------------------------------
# Matrix profile of the daily revenue series.
# ---------------------------------------------------------------------------

_MP_W = 7  # committed window length (days)


_MP_ORACLE = f"""
    WITH day AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS v
      FROM orders GROUP BY 1
    ),
    win AS MATERIALIZED (
      SELECT a.d,
             CAST(SUM(b.v) AS BIGINT) AS s1,
             CAST(SUM(b.v * b.v) AS BIGINT) AS s2,
             list(b.v ORDER BY b.d) AS vec
      FROM day a JOIN day b ON b.d BETWEEN a.d AND a.d + {_MP_W - 1}
      GROUP BY a.d
      HAVING COUNT(*) = {_MP_W}
         AND {_MP_W} * CAST(SUM(b.v * b.v) AS BIGINT)
             - CAST(SUM(b.v) AS BIGINT) * CAST(SUM(b.v) AS BIGINT) > 0
    ),
    pairs AS (
      SELECT a.d,
             CAST(FLOOR(({2 * _MP_W}.0 * (1.0 -
               CAST({_MP_W} * list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range({_MP_W}), k ->
                        a.vec[CAST(k + 1 AS BIGINT)]
                        * b.vec[CAST(k + 1 AS BIGINT)])),
                      (x, y) -> x + y)
                    - a.s1 * b.s1 AS DOUBLE)
               / SQRT(CAST({_MP_W} * a.s2 - a.s1 * a.s1 AS DOUBLE)
                      * CAST({_MP_W} * b.s2 - b.s1 * b.s1 AS DOUBLE))))
               * 1000000000) AS BIGINT) AS d2_nano,
             b.d AS bd
      FROM win a JOIN win b ON ABS(a.d - b.d) >= {_MP_W}
    )
    SELECT d,
           MIN({{'d2': d2_nano, 'j': bd}})['d2'] AS mp_d2_nano,
           MIN({{'d2': d2_nano, 'j': bd}})['j'] AS mp_nn_day
    FROM pairs
    GROUP BY d
"""


@register("matrix_profile_daily", _MP_ORACLE)
def matrix_profile_daily(spark, sf_dir):
    """Matrix profile (Yeh et al. 2016) of daily revenue: for every
    complete {W}-consecutive-day window, the z-normalized squared distance
    2w(1-corr) to its nearest NON-OVERLAPPING window (|start gap| >= w,
    the standard exclusion zone) and that neighbor's day — low profile =
    motif, high = discord. Moments are exact BIGINT daily DOLLARS (the
    committed div-100 downscale keeps w*dot and s1a*s1b inside 2^53
    through sf10-scale daily volumes — ceiling documented here; beyond it
    the moments need the int128 idiom); corr enters ONE final double
    expression, identical text both engines, floored to nanos BEFORE the
    MIN, whose (d2, neighbor-day) struct ordering makes the argmin exact.
    Scale shape: one fact-scale day rollup; windows and the pair join are
    CALENDAR-BOUNDED (~2.4k rows / 5.7M pairs at ANY corpus size) and ride
    broadcast joins — the quadratic is a constant, not a scale term.
    Zero-variance windows are excluded by a committed integer predicate
    (they have no z-normalization).""".replace("{W}", str(_MP_W))
    o = _t(spark, sf_dir, "orders")
    day = materialize(
        o.groupBy(
            F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("d")
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("v"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    a = day.select(F.col("d").alias("ad"))
    b = day.select(F.col("d").alias("bd"), F.col("v").alias("bv"))
    win = (
        a.join(
            F.broadcast(b),
            (F.col("bd") >= F.col("ad"))
            & (F.col("bd") <= F.col("ad") + _MP_W - 1),
        )
        .groupBy(F.col("ad").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bv").cast("long").alias("s1"),
            F.sum(F.col("bv") * F.col("bv")).cast("long").alias("s2"),
            F.expr("transform(array_sort(collect_list(struct(bd, bv))),"
                   " x -> x.bv)").alias("vec"),
        )
        .where(
            (F.col("n") == _MP_W)
            & (
                F.lit(_MP_W) * F.col("s2") - F.col("s1") * F.col("s1") > 0
            )
        )
        .drop("n")
    )
    wa = win.select(
        F.col("d"), F.col("s1").alias("s1a"), F.col("s2").alias("s2a"),
        F.col("vec").alias("veca"),
    )
    wb = win.select(
        F.col("d").alias("bd"), F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"), F.col("vec").alias("vecb"),
    )
    pairs = wa.join(
        F.broadcast(wb), F.abs(F.col("d") - F.col("bd")) >= _MP_W
    ).select(
        "d",
        "bd",
        F.expr(
            f"CAST(FLOOR(({2 * _MP_W}.0 * (1.0 -"
            f" CAST({_MP_W} * aggregate(zip_with(veca, vecb,"
            " (x, y) -> x * y), 0L, (acc, t) -> acc + t)"
            " - s1a * s1b AS DOUBLE)"
            f" / SQRT(CAST({_MP_W} * s2a - s1a * s1a AS DOUBLE)"
            f" * CAST({_MP_W} * s2b - s1b * s1b AS DOUBLE))))"
            " * 1000000000) AS BIGINT)"
        ).alias("d2_nano"),
    )
    m = pairs.groupBy("d").agg(
        F.min(F.struct(F.col("d2_nano").alias("d2"), F.col("bd").alias("j")))
        .alias("m")
    )
    return m.select(
        "d",
        F.col("m.d2").cast("long").alias("mp_d2_nano"),
        F.col("m.j").cast("long").alias("mp_nn_day"),
    )


# ---------------------------------------------------------------------------
# MinHash estimate-vs-exact Jaccard error on the LSH candidate pairs.
# ---------------------------------------------------------------------------


def _mh_err_oracle() -> str:
    h32 = f"({sql_hash60('_s')} % {P32})"
    sig_exprs = ", ".join(
        f"list_min(list_transform(h32, _h -> ({MINHASH_A[j]} * _h"
        f" + {MINHASH_B[j]}) % {P32}))"
        for j in range(N_PERM)
    )
    band_pred = " OR ".join(
        f"(a.sig[{2 * bi + 1}] = b.sig[{2 * bi + 1}]"
        f" AND a.sig[{2 * bi + 2}] = b.sig[{2 * bi + 2}])"
        for bi in range(N_PERM // 2)
    )
    matches = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range({N_PERM}), j ->"
        " CASE WHEN a.sig[CAST(j + 1 AS BIGINT)]"
        " = b.sig[CAST(j + 1 AS BIGINT)]"
        " THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),"
        " (x, y) -> x + y)"
    )
    return f"""
    WITH {SQL_SHINGLE_CTE},
    sigs AS MATERIALIZED (
      SELECT doc_id, sh, [{sig_exprs}] AS sig
      FROM (SELECT doc_id, sh,
                   list_transform(sh, _s -> {h32}) AS h32
            FROM shingled)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {matches} * 1000000 // {N_PERM} AS est_ppm,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000
             // CAST(len(a.sh) + len(b.sh)
                     - len(list_intersect(a.sh, b.sh)) AS BIGINT)
             AS exact_ppm,
           ABS({matches} * 1000000 // {N_PERM}
               - CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000
                 // CAST(len(a.sh) + len(b.sh)
                         - len(list_intersect(a.sh, b.sh)) AS BIGINT))
             AS abs_err_ppm
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ({band_pred})
    """


@register("minhash_estimate_error", _mh_err_oracle())
def minhash_estimate_error(spark, sf_dir):
    """Sketch honesty for the committed MinHash: on exactly the LSH
    candidate pairs (16 bands x 2 rows — same banding as
    dedup_minhash_lsh), the signature-agreement Jaccard estimate
    (matching permutations / N_PERM, the unbiased MinHash estimator) next
    to the exact shingle-set Jaccard and their absolute error — the
    measurement that justifies the banding S-curve commitments. The
    oracle recomputes signatures from the committed (A_j, B_j) integer
    permutations brute-force over all pairs; the engine reproduces it
    through the map-only signature build + banded join. Scale shape:
    signatures are map-only; candidate and verify joins are merge-pinned
    corpus-frame joins (r7 rule; candidates track collisions, never
    n^2)."""
    docs = _t(spark, sf_dir, "documents")
    sh = shingle_sets(docs)
    sigs = signatures_from_shingles(sh)
    sig_arr = F.array(*[F.col(f"sig_{j}") for j in range(N_PERM)])
    cands = lsh_candidate_pairs(sigs)  # n_docs unknown here -> merge plans
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), sig_arr.alias("siga")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), sig_arr.alias("sigb")
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    j = (
        cands.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .join(sha.hint("merge"), "doc_a")
        .join(shb.hint("merge"), "doc_b")
    )
    est = F.expr(
        "aggregate(zip_with(siga, sigb, (x, y) ->"
        " CASE WHEN x = y THEN 1L ELSE 0L END),"
        " 0L, (acc, t) -> acc + t)"
        f" * 1000000 div {N_PERM}"
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("long")
    uni = (
        F.size("sha").cast("long") + F.size("shb").cast("long") - inter
    )
    return j.select(
        "doc_a",
        "doc_b",
        est.alias("est_ppm"),
        F.expr(
            "CAST(size(array_intersect(sha, shb)) AS BIGINT) * 1000000"
            " div CAST(size(sha) + size(shb)"
            " - size(array_intersect(sha, shb)) AS BIGINT)"
        ).alias("exact_ppm"),
        F.abs(
            est
            - F.expr(
                "CAST(size(array_intersect(sha, shb)) AS BIGINT) * 1000000"
                " div CAST(size(sha) + size(shb)"
                " - size(array_intersect(sha, shb)) AS BIGINT)"
            )
        ).alias("abs_err_ppm"),
    )
