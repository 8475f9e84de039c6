"""Round-10 wave 3: symbolic time-series mining, tokenizer-quality
information theory, multiple-testing control, and stratified
epidemiology-style association (each a named published recipe absent from
the registry):

- sax_symbolic_motifs: SAX — Symbolic Aggregate approXimation (Lin et
  al. 2003): PAA over 7-day windows of daily revenue, rank-based
  (equi-depth) 4-letter discretization, sliding 4-symbol words, motif
  counts — the classic symbolic motif-mining pipeline.
- renyi_efficiency_alpha2: Rényi entropy efficiency of the token
  distribution at α = 2 (collision entropy), the tokenizer-quality
  metric of Zouhar et al. 2023 ("Tokenization and the Noiseless
  Channel"): H₂ = 2·ln N − ln Σc², efficiency = H₂ / ln V.
- bh_fdr_control: Benjamini-Hochberg FDR step-up control (Benjamini &
  Hochberg 1995) at α = 0.05 over the (lang, source) hypothesis grid
  with committed planted-signal p-values — the multiple-testing gate
  every eval sweep needs.
- mantel_haenszel_pooled_or: the Mantel-Haenszel pooled odds ratio
  (Mantel & Haenszel 1959) for high-priority ⇒ returned-order
  association stratified by customer region — confounder-adjusted
  association, all-integer (per-stratum nano floors, int128).

Integer discipline (CLAUDE.md): PAA means and symbols are truncating
integer divisions; the BH comparison is an integer cross-multiplication;
MH rides per-stratum ⌊a·d·10⁹/n⌋ floors summed exactly (int128
engine-split idiom); Rényi is LN-over-exact-BIGINTs in ONE final double
expression floored once (test_libm_parity commitment).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import sql_hash60, spark_sql_hash60
from hpmr_spark.functions.ranking import bounded_rank

# ---------------------------------------------------------------------------
# SAX symbolic motifs
# ---------------------------------------------------------------------------

_SAX_W = 7  # calendar days per PAA bucket
_SAX_WORD = 4  # symbols per motif word

_SAX_ORACLE = f"""
    WITH days AS (
      SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS ed,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    paa AS (
      SELECT ed // {_SAX_W} AS b,
             CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
      FROM days GROUP BY ed // {_SAX_W}
    ),
    sym AS (
      SELECT b,
             (ROW_NUMBER() OVER (ORDER BY m, b) - 1) * 4
               // (CAST(COUNT(*) OVER () AS BIGINT)) AS s
      FROM paa
    ),
    arr AS (SELECT list(CAST(s AS STRING) ORDER BY b) AS a FROM sym),
    words AS (
      SELECT unnest(list_transform(range(1, len(a) - {_SAX_WORD - 2}),
               _i -> a[_i] || a[_i + 1] || a[_i + 2] || a[_i + 3])) AS word
      FROM arr
    )
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM words GROUP BY word
"""


@register("sax_symbolic_motifs", _SAX_ORACLE)
def sax_symbolic_motifs(spark, sf_dir):
    """SAX symbolic motif mining (Lin et al. 2003): daily revenue →
    7-day PAA means (truncating integer division) → 4-letter EQUI-DEPTH
    discretization (symbol = (rank−1)·4 div n over the exact
    (mean, bucket) total order — rank-based breakpoints instead of the
    paper's Gaussian ones keep every comparison integer) → sliding
    4-symbol words → motif frequency table. Read next to
    matrix_profile_daily: same series, the symbolic vs numeric motif
    views.

    Spark shape: one fact-keyed day agg collapses everything to the
    CALENDAR-BOUNDED PAA frame (~350 rows at EVERY corpus scale — the
    bounded-rollup pattern, persisted); ranking is
    the broadcast bounded_rank self-join (never a global window); the
    word walk runs in-row over the one collected symbol array."""
    o = _t(spark, sf_dir, "orders")
    paa = materialize(
        o.groupBy(
            F.expr(
                f"datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
                f" div {_SAX_W}"
            ).alias("b")
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
                " div COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)"
            ).alias("m"),
        )
    )
    n = paa.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    ranked = bounded_rank(paa, "m", "b", primary_desc=False, out="rk")
    sym = ranked.crossJoin(F.broadcast(n)).select(
        "b", F.expr("(rk - 1) * 4 div nb").alias("s")
    )
    arr = sym.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(b, s))),"
            " p -> CAST(p.s AS STRING))"
        ).alias("a")
    )
    words = arr.select(
        F.explode(
            F.expr(
                f"CASE WHEN size(a) >= {_SAX_WORD} THEN"
                f" transform(sequence(1, size(a) - {_SAX_WORD - 1}),"
                f" i -> concat(element_at(a, i), element_at(a, i + 1),"
                f" element_at(a, i + 2), element_at(a, i + 3)))"
                f" ELSE array() END"
            )
        ).alias("word")
    )
    return words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


# ---------------------------------------------------------------------------
# Rényi efficiency (α = 2)
# ---------------------------------------------------------------------------

# ONE final double expression over exact integer moments (n, s2, v):
# H₂ = 2 ln n − ln s2 (collision entropy, nats); efficiency = H₂ / ln V.
_RENYI_EXPR = (
    "CAST(FLOOR((2 * LN(CAST(n AS DOUBLE)) - LN(CAST(s2 AS DOUBLE)))"
    " * 1000000000) AS BIGINT)"
)
_RENYI_EFF = (
    "CAST(FLOOR((2 * LN(CAST(n AS DOUBLE)) - LN(CAST(s2 AS DOUBLE)))"
    " / LN(CAST(v AS DOUBLE)) * 1000000) AS BIGINT)"
)

_RENYI_ORACLE = f"""
    WITH wc AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY lang, w
    ),
    m AS (
      SELECT lang,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * c) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM wc GROUP BY lang
    )
    SELECT lang, n AS n_tokens, v AS n_types,
           {_RENYI_EXPR} AS h2_nano,
           {_RENYI_EFF} AS renyi_eff_ppm
    FROM m
"""


@register("renyi_efficiency_alpha2", _RENYI_ORACLE)
def renyi_efficiency_alpha2(spark, sf_dir):
    """Rényi efficiency at α = 2 (Zouhar et al. 2023): the tokenizer
    quality metric that predicts downstream BLEU better than fertility —
    collision entropy H₂ = −ln Σp² = 2·ln N − ln Σc² of the per-language
    token distribution, normalized by the max-entropy ln V. α = 2 is the
    one Rényi order whose power sum is EXACT integer arithmetic (Σc²),
    so the whole statistic is one final double expression over exact
    moments (the libm-parity commitment), floored once.

    Spark shape: two chained groupBys (the yule_k_richness shape — one
    fact shuffle + rollup); nothing quadratic at any scale."""
    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    m = wc.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    return m.select(
        "lang",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.expr(_RENYI_EXPR).alias("h2_nano"),
        F.expr(_RENYI_EFF).alias("renyi_eff_ppm"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR control
# ---------------------------------------------------------------------------

_BH_ALPHA_PPM = 50000  # α = 0.05


def _bh_p(engine_hash, lang: str, source: str) -> str:
    key = f"CAST({lang} AS STRING) || ':' || CAST({source} AS STRING)"
    base = "(" + engine_hash(f"'bh:' || {key}") + " % 1000000)"
    sig = "(" + engine_hash(f"'bhsig:' || {key}") + " % 5)"
    # planted signals: ~1/5 of cells get a 100x smaller p-value
    return f"CASE WHEN {sig} = 0 THEN {base} {{d}} 100 ELSE {base} END"


_BH_ORACLE = f"""
    WITH cells AS (
      SELECT lang, source,
             {_bh_p(sql_hash60, "lang", "source").format(d="//")} AS p_ppm
      FROM documents GROUP BY lang, source
    ),
    ranked AS (
      SELECT lang, source, p_ppm,
             ROW_NUMBER() OVER (ORDER BY p_ppm, lang || ':' || source) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM cells
    ),
    kstar AS (
      SELECT COALESCE(MAX(CASE WHEN p_ppm * m <= rk * {_BH_ALPHA_PPM}
                          THEN rk END), 0) AS k
      FROM ranked
    )
    SELECT r.lang, r.source, r.p_ppm, CAST(r.rk AS BIGINT) AS rk,
           CAST(CASE WHEN r.rk <= kstar.k THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM ranked r, kstar
"""


@register("bh_fdr_control", _BH_ORACLE)
def bh_fdr_control(spark, sf_dir):
    """Benjamini-Hochberg step-up FDR control (Benjamini & Hochberg 1995)
    at α = 0.05 over the (lang, source) hypothesis grid: committed
    hash-derived p-values with ~1/5 planted signals (100× smaller), the
    step-up rule k* = max{{k : p_(k) ≤ k·α/m}} as the pure-integer
    cross-multiplication p_ppm·m ≤ k·α_ppm, reject ranks ≤ k*. The
    procedure — not the p-values — is the operator under test; it is the
    gate any many-cells eval sweep (per-language, per-source) needs.

    Spark shape: one grid agg (the hypothesis frame is BOUNDED by the
    lang×source domain at every corpus scale — persisted), broadcast
    bounded_rank (never a global window), one tiny k*
    agg broadcast back."""
    d = _t(spark, sf_dir, "documents")
    cells = materialize(
        d.select("lang", "source")
        .distinct()
        .select(
            "lang",
            "source",
            F.expr(
                _bh_p(spark_sql_hash60, "lang", "source").format(d="div")
            ).alias("p_ppm"),
        )
    )
    ranked = bounded_rank(
        cells.withColumn(
            "tb", F.expr("CAST(lang AS STRING) || ':' || CAST(source AS STRING)")
        ),
        "p_ppm",
        "tb",
        primary_desc=False,
        out="rk",
    )
    m = cells.agg(F.count(F.lit(1)).cast("long").alias("m"))
    rm = ranked.crossJoin(F.broadcast(m))
    kstar = rm.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_ppm") * F.col("m")
                    <= F.col("rk") * F.lit(_BH_ALPHA_PPM),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return rm.crossJoin(F.broadcast(kstar)).select(
        "lang",
        "source",
        "p_ppm",
        F.col("rk").cast("long").alias("rk"),
        F.when(F.col("rk") <= F.col("k"), 1)
        .otherwise(0)
        .cast("long")
        .alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Mantel-Haenszel pooled odds ratio
# ---------------------------------------------------------------------------

_MH_ORACLE = """
    WITH ret AS (
      SELECT l_orderkey,
             MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM lineitem GROUP BY l_orderkey
    ),
    obs AS (
      SELECT n.n_regionkey AS region,
             CASE WHEN o.o_orderpriority LIKE '1-%'
                    OR o.o_orderpriority LIKE '2-%' THEN 1 ELSE 0 END AS exp,
             COALESCE(r.ret, 0) AS ret
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      LEFT JOIN ret r ON o.o_orderkey = r.l_orderkey
    ),
    strata AS (
      SELECT region,
             CAST(SUM(exp * ret) AS BIGINT) AS a,
             CAST(SUM(exp * (1 - ret)) AS BIGINT) AS b,
             CAST(SUM((1 - exp) * ret) AS BIGINT) AS c,
             CAST(SUM((1 - exp) * (1 - ret)) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM obs GROUP BY region
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb,
             CAST(SUM(c) AS BIGINT) AS tc, CAST(SUM(d) AS BIGINT) AS td,
             CAST(SUM(CAST(a AS HUGEINT) * d * 1000000 // n) AS HUGEINT)
               AS num,
             CAST(SUM(CAST(b AS HUGEINT) * c * 1000000 // n) AS HUGEINT)
               AS den
      FROM strata
    )
    SELECT n_strata, ta, tb, tc, td,
           CASE WHEN den > 0
                THEN CAST(num * 1000000 // den AS BIGINT) END AS mh_or_ppm
    FROM pooled
"""


@register("mantel_haenszel_pooled_or", _MH_ORACLE)
def mantel_haenszel_pooled_or(spark, sf_dir):
    """Mantel-Haenszel pooled odds ratio (Mantel & Haenszel 1959): the
    confounder-adjusted association between high order priority
    (1-URGENT/2-HIGH) and having a returned lineitem, stratified by the
    customer's region — OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ). Each stratum
    term is floored to micros in int128 BEFORE the sums (the committed
    all-integer form: no float ratio ever crosses a partition boundary),
    and the single ppm division happens once, guarded against an empty
    denominator (NULL, identical both engines).

    Spark shape: one lineitem rollup (map-side combine), the standard
    TPC-H dim chain, one stratum agg (5 rows) + one 1-row pooled agg.
    Linear at any scale; the per-stratum nano products ride
    DECIMAL(38,0)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nt = _t(spark, sf_dir, "nation")
    ret = li.groupBy("l_orderkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("ret")
    )
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(nt, c.c_nationkey == nt.n_nationkey)
        .join(ret, o.o_orderkey == ret.l_orderkey, "left")
        .select(
            F.col("n_regionkey").alias("region"),
            F.expr(
                "CASE WHEN o_orderpriority LIKE '1-%'"
                " OR o_orderpriority LIKE '2-%' THEN 1 ELSE 0 END"
            ).alias("exp"),
            F.coalesce(F.col("ret"), F.lit(0)).alias("ret"),
        )
    )
    strata = obs.groupBy("region").agg(
        F.sum(F.col("exp") * F.col("ret")).cast("long").alias("a"),
        F.sum(F.col("exp") * (1 - F.col("ret"))).cast("long").alias("b"),
        F.sum((1 - F.col("exp")) * F.col("ret")).cast("long").alias("c"),
        F.sum((1 - F.col("exp")) * (1 - F.col("ret"))).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    pooled = strata.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
        F.sum("c").cast("long").alias("tc"),
        F.sum("d").cast("long").alias("td"),
        F.sum(
            F.expr("CAST(a AS DECIMAL(38,0)) * d * 1000000 div n")
        ).alias("num"),
        F.sum(
            F.expr("CAST(b AS DECIMAL(38,0)) * c * 1000000 div n")
        ).alias("den"),
    )
    return pooled.select(
        "n_strata",
        "ta",
        "tb",
        "tc",
        "td",
        F.expr(
            "CASE WHEN den > 0"
            " THEN CAST(CAST(num AS DECIMAL(38,0)) * 1000000 div den"
            " AS BIGINT) END"
        ).alias("mh_or_ppm"),
    )
