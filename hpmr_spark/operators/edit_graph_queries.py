"""Round-9 wave 6: Katz centrality and OSA edit distance — two more
named-algorithm gaps:

- katz_centrality_trade: Katz (1953) centrality of the committed trade
  graph, truncated at K=8 hops with α=1/8 — path counts are EXACT
  integers and α^k denominators are powers of 8, so the whole series is
  one exact rational: Σ_k paths_k(n)·8^(K−k), emitted with an int128
  micro division. Unrolled as 8 chained broadcast joins over the
  25-node edge list — pure plan, no collects.
- osa_vocab_pair_distance: Optimal String Alignment distance (the
  restricted Damerau-Levenshtein: Boytsov 2011 survey §2) between all
  vocabulary word pairs — the full DP table runs as an in-row array fold
  (the ROUGE 81-cell idiom) with the adjacent-transposition case. OSA is
  the classic spell-check/fuzzy-join distance one transposition stronger
  than plain Levenshtein (already in the registry).

Both pure-integer; identical fold/series text in both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

# ---------------------------------------------------------------- Katz

_KATZ_K = 8  # committed truncation depth
_KATZ_DEN = 8 ** _KATZ_K  # alpha = 1/8 -> common denominator 8^K

_KATZ_ORACLE = f"""
    WITH RECURSIVE pe AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS v
      FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(v) AS BIGINT) AS t FROM pe),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS w
      FROM pe, tot WHERE v * 625 > t AND src <> dst
    ),
    sym AS MATERIALIZED (
      SELECT u AS a, w AS b FROM und UNION ALL SELECT w, u FROM und
    ),
    el AS MATERIALIZED (SELECT list({{'a': a, 'b': b}}) AS es FROM sym),
    nds AS MATERIALIZED (SELECT list_sort(list(DISTINCT a)) AS ns FROM sym),
    paths(k, pl) AS (
      SELECT 0, list_transform(nds.ns, x -> CAST(1 AS BIGINT)) FROM nds
      UNION ALL
      SELECT k + 1,
             list_transform(range(1, len(nds.ns) + 1), i ->
               CAST(COALESCE(list_sum(list_transform(
                 list_filter(el.es,
                   e -> e.b = list_extract(nds.ns, CAST(i AS INT))),
                 e -> list_extract(pl,
                   CAST(list_position(nds.ns, e.a) AS INT)))), 0) AS BIGINT))
      FROM paths, el, nds WHERE k < {_KATZ_K}
    ),
    series AS (
      SELECT list_extract(nds.ns, CAST(i AS INT)) AS node,
             CAST(SUM(list_extract(pl, CAST(i AS INT))
               * CAST(power(8, {_KATZ_K} - k) AS BIGINT)) AS BIGINT) AS num
      FROM paths, nds, (SELECT unnest(range(1, 26)) AS i)
      WHERE k >= 1 AND i <= len(nds.ns)
      GROUP BY 1
    )
    SELECT CAST(node AS BIGINT) AS nationkey,
           num AS katz_num,
           CAST(CAST(num AS HUGEINT) * 1000000 // {_KATZ_DEN} AS BIGINT)
             AS katz_micro
    FROM series
"""


@register("katz_centrality_trade", _KATZ_ORACLE)
def katz_centrality_trade(spark, sf_dir):
    """Katz centrality (Katz 1953) truncated at K=8 hops, α=1/8, over
    the committed trade graph: Σ_{k=1..8} α^k · (#k-step walks ending at
    n). Walk counts are exact BIGINTs (≤25⁸ ≈ 1.5e11 here) and α^k is a
    power of 8, so the series is ONE exact rational — the numerator in
    units of 8⁻⁸ is emitted plus its int128 micro division. Spark shape:
    8 unrolled broadcast joins over the tiny symmetric edge list (at real
    graph scale each hop is the standard message-passing shuffle); no
    collects, no windows. Complements pagerank (damped stationary) with
    the truncated-walk centrality family."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    pe = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"),
                 F.col("s_nationkey").alias("dst"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .alias("v")
        )
    )
    pe = materialize(pe)
    tot = pe.agg(F.sum("v").cast("long").alias("t"))
    und = (
        pe.crossJoin(F.broadcast(tot))
        .where((F.col("v") * 625 > F.col("t")) & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("w"))
        .distinct()
    )
    sym = materialize(
        und.select(F.col("u").alias("a"), F.col("w").alias("b"))
        .unionAll(und.select(F.col("w").alias("a"), F.col("u").alias("b")))
    )
    v = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "p", F.lit(1).cast("long")
    )
    terms = []
    for k in range(1, _KATZ_K + 1):
        v = (
            v.join(F.broadcast(sym), v.node == sym.a)
            .groupBy(F.col("b").alias("node"))
            .agg(F.sum("p").cast("long").alias("p"))
        )
        terms.append(
            v.select(
                "node",
                (F.col("p") * F.lit(8 ** (_KATZ_K - k)).cast("long")).alias(
                    "term"
                ),
            )
        )
    allt = terms[0]
    for t in terms[1:]:
        allt = allt.unionByName(t.select("node", "term"))
    series = allt.groupBy("node").agg(
        F.sum("term").cast("long").alias("num")
    )
    return series.select(
        F.col("node").cast("long").alias("nationkey"),
        F.col("num").alias("katz_num"),
        F.expr(
            f"CAST(CAST(num AS DECIMAL(38,0)) * 1000000"
            f" div {_KATZ_DEN} AS BIGINT)"
        ).alias("katz_micro"),
    )


# ----------------------------------------------------------------- OSA

_OSA_MAXLEN = 12  # committed word-length cap (vocab words are short)


def _osa_fold(engine: str) -> str:
    """acc = flat (la+1)×(lb+1) DP table, row-major; element = cell index
    k (Spark: a scalar; DuckDB: a 1-long list, per the acc-type =
    element-type rule — the accessor is baked in below). Border cells
    pass through (pre-initialized); interior cells take the OSA minimum
    including the adjacent transposition. la/lb/wa/wb are outer
    columns."""
    el = (
        (lambda a, i: f"element_at({a}, CAST({i} AS INT))")
        if engine == "spark"
        else (lambda a, i: f"list_extract({a}, CAST({i} AS INT))")
    )
    tf = "transform" if engine == "spark" else "list_transform"
    seq = (
        "sequence(1, size(acc))"
        if engine == "spark"
        else "range(1, len(acc) + 1)"
    )
    dv = " div " if engine == "spark" else " // "
    row = f"(k{dv}(lb + 1))"
    col = f"(k % (lb + 1))"
    # 1-based list index of table cell (r, c) = r*(lb+1) + c + 1
    def cell(r: str, c: str) -> str:
        return el("acc", f"({r}) * (lb + 1) + ({c}) + 1")

    cost = (
        f"CASE WHEN substr(wa, CAST({row} AS INT), 1)"
        f" = substr(wb, CAST({col} AS INT), 1) THEN 0 ELSE 1 END"
    )
    base = (
        f"least({cell(f'{row} - 1', col)} + 1,"
        f" {cell(row, f'{col} - 1')} + 1,"
        f" {cell(f'{row} - 1', f'{col} - 1')} + {cost})"
    )
    trans = (
        f"CASE WHEN {row} > 1 AND {col} > 1"
        f" AND substr(wa, CAST({row} AS INT), 1)"
        f"  = substr(wb, CAST({col} - 1 AS INT), 1)"
        f" AND substr(wa, CAST({row} - 1 AS INT), 1)"
        f"  = substr(wb, CAST({col} AS INT), 1)"
        f" THEN least({base}, {cell(f'{row} - 2', f'{col} - 2')} + 1)"
        f" ELSE {base} END"
    )
    if engine == "spark":
        body = (
            f"CASE WHEN {row} = 0 OR {col} = 0 THEN acc"
            f" ELSE {tf}({seq}, t -> CASE WHEN t = k + 1 THEN {trans}"
            f" ELSE {el('acc', 't')} END) END"
        )
        return f"(acc, k) -> {body}"
    # DuckDB: rebuild via the 2-arg (value, 1-based index) list_transform
    # over acc itself — the rouge-proven shape. range() INSIDE the reduce
    # lambda is the shape that flakes NULL / segfaults DuckDB 1.0 under
    # threads (probed live this round); never generate it.
    import re

    body = (
        f"CASE WHEN {row} = 0 OR {col} = 0 THEN acc"
        f" ELSE list_transform(acc, (_v, _x) ->"
        f" CASE WHEN _x = k + 1 THEN {trans} ELSE _v END) END"
    )
    return "(acc, e) -> " + re.sub(r"\bk\b", "list_extract(e, 1)", body)


def _osa_init(engine: str) -> str:
    tf = "transform" if engine == "spark" else "list_transform"
    seq = (
        "sequence(0, (la + 1) * (lb + 1) - 1)"
        if engine == "spark"
        else "range(0, (la + 1) * (lb + 1))"
    )
    dv = " div " if engine == "spark" else " // "
    return (
        f"{tf}({seq}, k -> CASE WHEN k % (lb + 1) = 0 THEN k{dv}(lb + 1)"
        f" WHEN k{dv}(lb + 1) = 0 THEN k % (lb + 1)"
        f" ELSE CAST(0 AS BIGINT) END)"
    )


_OSA_ORACLE = f"""
    WITH words AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                w -> w <> '')) AS w
      FROM documents
    ),
    -- single-row list gather before the self-join: feeding the cross
    -- join straight from the parallel parquet/unnest scan makes DuckDB
    -- 1.0's list_reduce flake NULLs (and once segfault) under threads —
    -- probed live; the 1-row MATERIALIZED gather serializes the input
    vl AS MATERIALIZED (SELECT list_sort(list(DISTINCT w)) AS ws
                        FROM words),
    vv AS (SELECT unnest(ws) AS w FROM vl
           WHERE TRUE) ,
    vvf AS (SELECT w FROM vv WHERE length(w) <= {_OSA_MAXLEN}),
    pairs AS (
      SELECT a.w AS wa, b.w AS wb,
             CAST(length(a.w) AS BIGINT) AS la,
             CAST(length(b.w) AS BIGINT) AS lb
      FROM vvf a, vvf b WHERE a.w < b.w
    ),
    folded AS (
      SELECT wa, wb, la, lb,
             list_reduce(
               list_prepend({_osa_init('duck')},
                 list_transform(range(0, (la + 1) * (lb + 1)),
                                k -> [CAST(k AS BIGINT)])),
               {_osa_fold('duck')}) AS t
      FROM pairs
    )
    SELECT wa AS word_a, wb AS word_b,
           CAST(list_extract(t, CAST((la + 1) * (lb + 1) AS INT)) AS BIGINT)
             AS osa_dist
    FROM folded
"""


@register("osa_vocab_pair_distance", _OSA_ORACLE)
def osa_vocab_pair_distance(spark, sf_dir):
    """Optimal String Alignment (restricted Damerau-Levenshtein) distance
    between every vocabulary word pair: the full (la+1)×(lb+1) DP table
    runs as ONE in-row array fold per pair (the ROUGE idiom — row-major
    cell updates with O(cells) rebuild each), extending the registry's
    plain levenshtein with the adjacent-transposition edit. Pure integer
    DP; committed {cap}-char word cap bounds the accumulator. The vocab
    self-join is bounded by distinct types (31 here) — at corpus scale
    the same fold runs behind a length/prefix blocking join."""
    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(
            F.explode(
                F.expr("filter(split(text, ' '), w -> w <> '')")
            ).alias("w")
        )
        .distinct()
        .where(F.length("w") <= _OSA_MAXLEN)
    )
    a = vocab.select(F.col("w").alias("wa"))
    b = vocab.select(F.col("w").alias("wb"))
    pairs = (
        a.join(F.broadcast(b), F.col("wa") < F.col("wb"))
        .withColumn("la", F.length("wa").cast("long"))
        .withColumn("lb", F.length("wb").cast("long"))
    )
    folded = pairs.select(
        "wa",
        "wb",
        "la",
        "lb",
        F.expr(
            f"aggregate(sequence(0, (la + 1) * (lb + 1) - 1),"
            f" {_osa_init('spark')}, {_osa_fold('spark')})"
        ).alias("t"),
    )
    return folded.select(
        F.col("wa").alias("word_a"),
        F.col("wb").alias("word_b"),
        F.expr(
            "CAST(element_at(t, CAST((la + 1) * (lb + 1) AS INT)) AS BIGINT)"
        ).alias("osa_dist"),
    )


osa_vocab_pair_distance.__doc__ = osa_vocab_pair_distance.__doc__.format(
    cap=_OSA_MAXLEN
)
