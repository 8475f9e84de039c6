"""Round-9 wave 5: entropy coding, online learning, and graph mixing —
three classic named algorithms plus one Spark-4 SQL-surface row:

- huffman_code_lengths: exact Huffman tree (Huffman 1952) over the word
  vocabulary as an ALL-INTEGER in-row fold — masks are disjoint bit
  partitions so OR is addition, weights/lengths are exact counts; the
  optimal code-length census that pairs with the LZ78 row.
- perceptron_online_epoch: one epoch of Rosenblatt's perceptron (1958)
  over vec_id-ordered integer-micros embeddings (binary label = label%2)
  — weights stay EXACT BIGINT micros (updates add ±x), so the entire
  online pass needs no float commitment at all.
- assortativity_degree_trade: Newman's degree assortativity (2002) over
  the committed trade graph — Pearson r of end-point degrees over
  directed edge orientations, exact integer moments, one final double.
- identifier_dynamic_table: the Spark 4 IDENTIFIER() clause resolving a
  dynamic table name inside SQL — API-surface parity row.

Scale: Huffman folds a ≤62-symbol vocabulary census (the corpus scan is
one groupBy); the perceptron folds a committed bounded sample list (the
documented big-data path is parallel SGD averaging — this row pins the
sequential semantics); assortativity is three tiny aggregates over the
25-node graph.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

# ------------------------------------------------------------ Huffman

_HUF_SENT = 1 << 62  # merged-out weight sentinel
_HUF_MAXV = 62  # bitmask capacity cap (BIGINT)


def _huf_el(engine: str):
    if engine == "spark":
        return lambda a, i: f"element_at({a}, CAST({i} AS INT))"
    return lambda a, i: f"list_extract({a}, CAST({i} AS INT))"


def _huf_pow2(engine: str) -> str:
    lits = ",".join(str(1 << b) for b in range(_HUF_MAXV))
    if engine == "spark":
        return f"array({lits})"
    return f"[{lits}]"


def _huf_fold(engine: str) -> str:
    """acc (BIGINT list) = [len_1..len_V, w_1, m_1, ..., w_V, m_V];
    element = step index (unused). One Huffman merge per step: take the
    two (w, m)-lexicographically smallest active pairs (mask encodes the
    committed (count desc, word) rank, so ties are total), +1 the code
    length of every member of the union, merge into (w1+w2, m1+m2) and
    sentinel out the second pair. Disjoint masks ⟹ OR ≡ addition."""
    el = _huf_el(engine)
    v = "(size(acc) div 3)" if engine == "spark" else "(len(acc) // 3)"
    seq = "sequence(1, {n})" if engine == "spark" else "range(1, ({n}) + 1)"
    tf = "transform" if engine == "spark" else "list_transform"
    flt = "filter" if engine == "spark" else "list_filter"
    p2 = _huf_pow2(engine)
    pairs = (
        f"{tf}({seq.format(n=v)}, j -> named_struct("
        f"'w', {el('acc', f'{v} + 2 * j - 1')},"
        f" 'm', {el('acc', f'{v} + 2 * j')}))"
    )
    if engine == "duck":
        pairs = (
            f"{tf}({seq.format(n=v)}, j -> {{'w': {el('acc', f'{v} + 2 * j - 1')},"
            f" 'm': {el('acc', f'{v} + 2 * j')}}})"
        )
    if engine == "spark":
        m1 = f"array_min({pairs})"
    else:
        m1 = f"list_aggregate({pairs}, 'min')"
    rest = f"{flt}({pairs}, p -> NOT (p.w = M1.w AND p.m = M1.m))"
    if engine == "spark":
        m2 = f"array_min({rest})"
    else:
        m2 = f"list_aggregate({rest}, 'min')"
    # new acc: k <= V -> length slot; else pair slots
    body = (
        f"{tf}({seq.format(n=('size(acc)' if engine == 'spark' else 'len(acc)'))},"
        f" k -> CASE"
        f" WHEN k <= {v} THEN {el('acc', 'k')}"
        f" + CASE WHEN (M1.m + M2.m) div {el(p2, 'k - 1 + 1')} % 2 = 1"
        f" THEN 1 ELSE 0 END"
        f" WHEN (k - {v}) % 2 = 1 THEN"  # weight slot of pair j
        f" CASE WHEN {el('acc', 'k')} = M1.w AND {el('acc', 'k + 1')} = M1.m"
        f" THEN M1.w + M2.w"
        f" WHEN {el('acc', 'k')} = M2.w AND {el('acc', 'k + 1')} = M2.m"
        f" THEN CAST({_HUF_SENT} AS BIGINT)"
        f" ELSE {el('acc', 'k')} END"
        f" ELSE"  # mask slot of pair j
        f" CASE WHEN {el('acc', 'k - 1')} = M1.w AND {el('acc', 'k')} = M1.m"
        f" THEN M1.m + M2.m"
        f" ELSE {el('acc', 'k')} END"
        f" END)"
    )
    if engine == "duck":
        body = body.replace(" div ", " // ")
    # bind M1/M2 by textual inlining (SQL lambdas have no let): replace
    # M1/M2 field refs with full expressions
    body = body.replace("M1.w", f"({m1}).w").replace("M1.m", f"({m1}).m")
    body = body.replace("M2.w", f"({m2}).w").replace("M2.m", f"({m2}).m")
    # M2's rest-filter itself references M1 fields
    body = body.replace("M1.w", f"({m1}).w").replace("M1.m", f"({m1}).m")
    return f"(acc, stp) -> {body}"


def _huf_init(engine: str) -> str:
    """initial acc from the (count desc, word) ranked vocab arrays wcnt
    (counts) — lengths all 0, pair j = (count_j, 2^(j-1))."""
    el = _huf_el(engine)
    v = "size(wcnt)" if engine == "spark" else "len(wcnt)"
    tf = "transform" if engine == "spark" else "list_transform"
    seq = "sequence(1, {n})" if engine == "spark" else "range(1, ({n}) + 1)"
    p2 = _huf_pow2(engine)
    expr = (
        f"{tf}({seq.format(n=f'3 * {v}')}, k -> CASE"
        f" WHEN k <= {v} THEN CAST(0 AS BIGINT)"
        f" WHEN (k - {v}) % 2 = 1 THEN {el('wcnt', f'(k - {v} + 1) div 2')}"
        f" ELSE {el(p2, f'(k - {v}) div 2 - 1 + 1')} END)"
    )
    if engine == "duck":
        expr = expr.replace(" div ", " // ")
    return expr


_HUF_ORACLE = f"""
    WITH words AS (
      SELECT unnest(list_filter(string_split(text, ' '), w -> w <> ''))
               AS w
      FROM documents
    ),
    vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM words GROUP BY w
    ),
    ranked AS (
      SELECT list_transform(list(w ORDER BY cnt DESC, w), x -> x) AS wv,
             list_transform(list(cnt ORDER BY cnt DESC, w), x -> x) AS wcnt
      FROM (SELECT w, cnt FROM vocab
            ORDER BY cnt DESC, w LIMIT {_HUF_MAXV})
    ),
    folded AS (
      SELECT wv, wcnt,
             list_reduce(
               list_prepend({_huf_init('duck')},
                            list_transform(range(1, len(wcnt)),
                                           s -> [CAST(s AS BIGINT)])),
               {_huf_fold('duck')}) AS acc
      FROM ranked
    )
    SELECT list_extract(wv, CAST(j AS INT)) AS word,
           list_extract(wcnt, CAST(j AS INT)) AS cnt,
           CAST(list_extract(acc, CAST(j AS INT)) AS BIGINT) AS code_len
    FROM folded, (SELECT unnest(range(1, {_HUF_MAXV} + 1)) AS j)
    WHERE j <= len(wcnt)
"""


@register("huffman_code_lengths", _HUF_ORACLE)
def huffman_code_lengths(spark, sf_dir):
    """Exact Huffman coding (Huffman 1952) of the word vocabulary: the
    greedy two-smallest merge runs as ONE all-integer in-row fold — the
    state carries per-symbol code lengths plus (weight, bitmask) pairs;
    masks partition the symbols so set-union is plain addition, and the
    (weight, mask) lexicographic minimum gives a total committed
    tie-break. Emits each word's frequency and optimal code length (the
    entropy-coding storage advisor that pairs with the LZ78 census).
    Vocabulary capped at the top {cap} (count desc, word) symbols —
    BIGINT mask capacity; this corpus has ~31 types."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.expr("filter(split(text, ' '), w -> w <> '')")
        ).alias("w")
    )
    vocab = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    top = vocab.orderBy(F.desc("cnt"), F.asc("w")).limit(_HUF_MAXV)
    ranked = top.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-cnt AS nc, w, cnt))),"
            " p -> p.w)"
        ).alias("wv"),
        F.expr(
            "transform(array_sort(collect_list(struct(-cnt AS nc, w, cnt))),"
            " p -> p.cnt)"
        ).alias("wcnt"),
    )
    folded = ranked.select(
        "wv",
        "wcnt",
        # descending-sequence guard (CLAUDE.md round-6 rule): a 1-word vocab
        # would make sequence(1, 0) = [1, 0] and run two bogus merge steps,
        # while DuckDB's range(1, 1) is empty — return the init unfolded.
        F.expr(
            f"CASE WHEN size(wcnt) >= 2 THEN"
            f" aggregate(sequence(1, size(wcnt) - 1),"
            f" {_huf_init('spark')}, {_huf_fold('spark')})"
            f" ELSE {_huf_init('spark')} END"
        ).alias("acc"),
    )
    return folded.select(
        F.posexplode(F.expr("slice(acc, 1, size(wcnt))")).alias(
            "j0", "code_len"
        ),
        "wv",
        "wcnt",
    ).select(
        F.expr("element_at(wv, CAST(j0 + 1 AS INT))").alias("word"),
        F.expr("element_at(wcnt, CAST(j0 + 1 AS INT))").alias("cnt"),
        F.col("code_len").cast("long").alias("code_len"),
    )


huffman_code_lengths.__doc__ = huffman_code_lengths.__doc__.format(
    cap=_HUF_MAXV
)

# --------------------------------------------------------------- perceptron


def _perc_el(engine: str):
    if engine == "spark":
        return lambda a, i: f"element_at({a}, CAST({i} AS INT))"
    return lambda a, i: f"list_extract({a}, CAST({i} AS INT))"


def _perc_fold(engine: str) -> str:
    """acc = [w_1..w_64, bias, mistakes] BIGINT; element = [x_1..x_64, y].
    Activation = w·x + bias·10⁶; predict sign (0 → −1); on mistake add
    y·x to w, y·10⁶ to bias."""
    el = _perc_el(engine)
    tf = "transform" if engine == "spark" else "list_transform"
    seq = "sequence(1, {n})" if engine == "spark" else "range(1, ({n}) + 1)"
    agg = (
        "aggregate({lst}, CAST(0 AS BIGINT), (s, x) -> s + x)"
        if engine == "spark"
        else "list_sum({lst})"
    )
    dot_terms = (
        f"{tf}({seq.format(n='64')}, i -> {el('acc', 'i')} * {el('e', 'i')})"
    )
    act = (
        f"(CAST({agg.format(lst=dot_terms)} AS BIGINT)"
        f" + {el('acc', '65')} * 1000000)"
    )
    yv = el("e", "65")
    pred = f"CASE WHEN {act} > 0 THEN 1 ELSE -1 END"
    upd = (
        f"{tf}({seq.format(n='66')}, k -> CASE"
        f" WHEN k <= 64 THEN {el('acc', 'k')} + {yv} * {el('e', 'k')}"
        f" WHEN k = 65 THEN {el('acc', 'k')} + {yv} * 1000000"
        f" ELSE {el('acc', 'k')} + 1 END)"
    )
    return f"(acc, e) -> CASE WHEN {pred} = {yv} THEN acc ELSE {upd} END"


def _perc_init(engine: str) -> str:
    if engine == "spark":
        return "transform(sequence(1, 66), k -> CAST(0 AS BIGINT))"
    return "list_transform(range(66), k -> CAST(0 AS BIGINT))"


_PERC_ORACLE = f"""
    WITH samples AS (
      SELECT vec_id,
             list_concat(
               list_transform(range(1, 65), i ->
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000)
                   AS BIGINT)),
               [CAST(2 * (label % 2) - 1 AS BIGINT)]) AS e
      FROM embeddings
    ),
    folded AS (
      SELECT list_reduce(
               list_prepend({_perc_init('duck')},
                            list_transform(list(e ORDER BY vec_id), x -> x)),
               {_perc_fold('duck')}) AS acc,
             CAST(COUNT(*) AS BIGINT) AS n_samples
      FROM samples
    ),
    final AS (
      SELECT acc, n_samples,
             CAST(list_extract(acc, 66) AS BIGINT) AS mistakes,
             CAST(list_extract(acc, 65) AS BIGINT) AS bias_micro
      FROM folded
    )
    SELECT n_samples, mistakes, bias_micro,
           CAST(list_sum(list_transform(range(1, 65), i ->
             abs(list_extract(acc, CAST(i AS INT))))) AS BIGINT)
             AS weight_l1_micro,
           CAST((SELECT COUNT(*) FROM samples s, final f
                 WHERE (CASE WHEN CAST(list_sum(list_transform(range(1, 65),
                         i -> list_extract(f.acc, CAST(i AS INT))
                              * list_extract(s.e, CAST(i AS INT))))
                         AS BIGINT) + list_extract(f.acc, 65) * 1000000 > 0
                        THEN 1 ELSE -1 END) = list_extract(s.e, 65))
             AS BIGINT) AS train_correct
    FROM final
"""


@register("perceptron_online_epoch", _PERC_ORACLE)
def perceptron_online_epoch(spark, sf_dir):
    """One epoch of Rosenblatt's online perceptron (1958) over the
    vec_id-ordered embeddings (binary task: label parity; x = exact
    integer micros): weights only ever add ±x, so the ENTIRE learner is
    exact BIGINT arithmetic — no float commitment anywhere. Emits the
    mistake count, bias, L1 weight mass, and the post-epoch training
    accuracy (a second exact pass with the final weights). The committed
    bounded sample list pins sequential semantics; the documented
    unbounded-data path is parallel-SGD averaging of per-partition
    epochs."""
    e = _t(spark, sf_dir, "embeddings")
    samples = e.select(
        "vec_id",
        F.expr(
            "concat(transform(sequence(1, 64), i ->"
            " CAST(FLOOR(CAST(element_at(embedding, i) AS DOUBLE)"
            " * 1000000) AS BIGINT)),"
            " array(CAST(2 * (label % 2) - 1 AS BIGINT)))"
        ).alias("e"),
    )
    folded = samples.agg(
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(vec_id, e))), p -> p.e),"
            f" {_perc_init('spark')}, {_perc_fold('spark')})"
        ).alias("acc"),
        F.count(F.lit(1)).cast("long").alias("n_samples"),
    )
    folded = folded.localCheckpoint(eager=True)  # 1 row; feeds 2 consumers
    stats = folded.select(
        "n_samples",
        F.expr("CAST(element_at(acc, 66) AS BIGINT)").alias("mistakes"),
        F.expr("CAST(element_at(acc, 65) AS BIGINT)").alias("bias_micro"),
        F.expr(
            "CAST(aggregate(transform(sequence(1, 64), i ->"
            " abs(element_at(acc, i))), CAST(0 AS BIGINT),"
            " (s, x) -> s + x) AS BIGINT)"
        ).alias("weight_l1_micro"),
        "acc",
    )
    correct = (
        samples.crossJoin(F.broadcast(folded.select("acc")))
        .where(
            F.expr(
                "(CASE WHEN CAST(aggregate(transform(sequence(1, 64), i ->"
                " element_at(acc, i) * element_at(e, i)),"
                " CAST(0 AS BIGINT), (s, x) -> s + x) AS BIGINT)"
                " + element_at(acc, 65) * 1000000 > 0 THEN 1 ELSE -1 END)"
                " = element_at(e, 65)"
            )
        )
        .agg(F.count(F.lit(1)).cast("long").alias("train_correct"))
    )
    return stats.crossJoin(F.broadcast(correct)).select(
        "n_samples", "mistakes", "bias_micro", "weight_l1_micro",
        "train_correct",
    )


# ------------------------------------------------------------ assortativity

_ASSORT_ORACLE = """
    WITH pe AS (
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
    sym AS (SELECT u AS a, w AS b FROM und UNION ALL SELECT w, u FROM und),
    deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM sym GROUP BY a),
    ends AS (
      SELECT da.d AS x, db.d AS y
      FROM sym JOIN deg da ON da.node = sym.a JOIN deg db ON db.node = sym.b
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM ends
    )
    SELECT m AS n_directed_edges,
           CAST(FLOOR(
             (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1000000000.0e0) AS BIGINT) AS assortativity_nano
    FROM mom
"""


@register("assortativity_degree_trade", _ASSORT_ORACLE)
def assortativity_degree_trade(spark, sf_dir):
    """Newman's degree assortativity coefficient (2002) of the committed
    trade graph: Pearson correlation of end-point degrees over all
    directed edge orientations — exact BIGINT moments, ONE final double
    expression floored to nanos (the exact-moment discipline). Negative
    values = hubs attach to leaves; the standard graph-mixing summary
    the registry's centrality family lacked."""
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
    sym = materialize(und.select(F.col("u").alias("a"), F.col("w").alias("b")).unionAll(
        und.select(F.col("w").alias("a"), F.col("u").alias("b"))
    ))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("x"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("y"))
    ends = sym.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    mom = ends.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return mom.select(
        F.col("m").alias("n_directed_edges"),
        F.expr(
            "CAST(FLOOR((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
            " * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
            " * 1000000000.0e0) AS BIGINT)"
        ).alias("assortativity_nano"),
    )


# ----------------------------------------------------- IDENTIFIER() surface

_IDENT_ORACLE = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY o_orderstatus
"""


@register("identifier_dynamic_table", _IDENT_ORACLE)
def identifier_dynamic_table(spark, sf_dir):
    """Spark 4 IDENTIFIER() clause: the table name arrives as a BOUND
    PARAMETER and is resolved as an identifier inside SQL — the
    injection-safe dynamic-table pattern (catalog-driven pipelines pick
    tables at run time without string-splicing SQL). Must plan and
    optimize exactly like the static query."""
    view = "ident_orders_v"
    _t(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
        FROM IDENTIFIER(:tbl) GROUP BY o_orderstatus
        """,
        args={"tbl": view},
    )
