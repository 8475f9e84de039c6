"""Round-9 wave 4: training-data valuation and distribution-free
calibration — two modern data-centric recipes the registry lacked:

- knn_shapley_values: the EXACT closed-form Shapley value of every
  training point under the KNN utility (Jia et al. 2019, Theorem 1) —
  the O(N log N) recurrence that makes exact data valuation tractable
  (naive Shapley is exponential). Committed bounded train/test split
  (train = vec_id in [20, 500), test = vec_id < 20) so the per-test fold
  state is constant at every SF; the documented scale path for unbounded
  corpora is an ANN-shortlist approximation of the same recurrence.
- conformal_aps_label_sets: split-conformal Adaptive Prediction Sets
  (Romano, Sesia & Candès 2020): class scores are a committed softmax of
  10·cosine(x, label centroid); the calibration quantile q̂ is the
  ⌈(n+1)(1−α)⌉-th smallest APS score (α=0.1), and each test example's
  prediction set (over the 10 labels) grows in descending-probability
  order until its mass reaches q̂. Emits per-test-example set size + coverage boolean.

Float discipline: both recurrences are +,*,/ (and EXP for softmax —
parity-pinned) over identical expression text; every emitted or compared
value floors to integer nanos first (the APS quantile is selected on the
FLOORED integers, so rank selection is exact). Scale: the Shapley fold
carries an O(N_train) array per test row — bounded by the committed
split; APS is two scans + a TakeOrdered quantile, no global window.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register

_KNN_K = 5  # committed K
_TEST_MAX = 20  # test = vec_id < 20
_TRAIN_MAX = 500  # train = 20 <= vec_id < 500 (bounded at every SF)


def _el(a: str, i: str) -> str:
    return f"element_at({a}, CAST({i} AS INT))"


def _eld(a: str, i: str) -> str:
    return f"list_extract({a}, CAST({i} AS INT))"


def _shap_fold(el, n: str) -> str:
    """acc = [m_prev, s_farthest, ..., s_last]; element = [d2, id, match].
    Processes the train list FARTHEST-first; position p = size(acc) (the
    sentinel occupies slot 1), nearest-rank i = n - p + 1."""
    m = el("e", "3")
    sz = "size(acc)" if el is _el else "len(acc)"
    last = el("acc", sz)
    mp = el("acc", "1")
    i = f"({n} - {sz} + 1.0e0)"
    new_s = (
        f"CASE WHEN {sz} = 1 THEN {m} / {n}"
        f" ELSE {last} + ({m} - {mp}) / {float(_KNN_K)}e0"
        f" * least({float(_KNN_K)}e0, {i}) / {i} END"
    )
    if el is _el:
        return (
            f"(acc, e) -> concat(array({m}),"
            f" slice(acc, 2, size(acc) - 1), array({new_s}))"
        )
    return (
        f"(acc, e) -> list_concat(list_concat([{m}],"
        f" list_slice(acc, 2, len(acc))), [{new_s}])"
    )


_SHAP_ORACLE = f"""
    WITH test AS (
      SELECT vec_id AS tid, embedding AS tv, CAST(label AS BIGINT) AS ty
      FROM embeddings WHERE vec_id < {_TEST_MAX}
    ),
    train AS (
      SELECT vec_id AS rid, embedding AS rv, CAST(label AS BIGINT) AS ry
      FROM embeddings
      WHERE vec_id >= {_TEST_MAX} AND vec_id < {_TRAIN_MAX}
    ),
    pairs AS (
      SELECT t.tid, r.rid,
             CAST(list_sum(list_transform(range(1, 65), i ->
               (CAST(FLOOR(CAST(t.tv[i] AS DOUBLE) * 1000000) AS BIGINT)
                - CAST(FLOOR(CAST(r.rv[i] AS DOUBLE) * 1000000) AS BIGINT))
               * (CAST(FLOOR(CAST(t.tv[i] AS DOUBLE) * 1000000) AS BIGINT)
                - CAST(FLOOR(CAST(r.rv[i] AS DOUBLE) * 1000000) AS BIGINT))
             )) AS BIGINT) AS d2,
             CASE WHEN t.ty = r.ry THEN 1.0e0 ELSE 0.0e0 END AS m
      FROM test t, train r
    ),
    per_test AS (
      SELECT tid,
             list_transform(list([CAST(d2 AS DOUBLE), CAST(rid AS DOUBLE), m]
                                 ORDER BY d2 DESC, rid DESC),
                            x -> x) AS arr,
             CAST(COUNT(*) AS DOUBLE) AS n_train
      FROM pairs GROUP BY tid
    ),
    folded AS (
      SELECT tid, arr, n_train,
             list_reduce(list_prepend([-1.0], arr),
                         {_shap_fold(_eld, 'n_train')}) AS acc
      FROM per_test
    ),
    exploded AS (
      SELECT tid,
             CAST(list_extract(list_extract(arr, CAST(p AS INT)), 2)
               AS BIGINT) AS rid,
             CAST(FLOOR(list_extract(acc, CAST(p + 1 AS INT))
               * 1000000000.0e0) AS BIGINT) AS s_nano
      FROM folded, (SELECT unnest(range(1, {_TRAIN_MAX})) AS p)
      WHERE p <= len(arr)
    )
    SELECT rid AS train_vec_id,
           CAST(SUM(s_nano) AS BIGINT) AS shapley_nano_total,
           CAST(COUNT(*) AS BIGINT) AS n_tests
    FROM exploded GROUP BY rid
"""


@register("knn_shapley_values", _SHAP_ORACLE)
def knn_shapley_values(spark, sf_dir):
    """Exact KNN-Shapley data valuation (Jia et al. 2019, Theorem 1,
    K=5): for each test point, sort the committed bounded train set by
    exact integer-micros L2² (ties to the smaller id), then the backward
    recurrence s_N = 1[y_N=y]/N, s_i = s_{i+1} + (1[y_i=y] −
    1[y_{i+1}=y])/K · min(K,i)/i runs as ONE in-row fold whose identical
    double arithmetic both engines replay; each per-(test, train) value
    floors to nanos BEFORE the exact integer per-train-point sum. The
    canonical 'which training examples helped' census."""
    e = _t(spark, sf_dir, "embeddings")
    test = e.where(F.col("vec_id") < _TEST_MAX).select(
        F.col("vec_id").alias("tid"),
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
            " * 1000000) AS BIGINT))"
        ).alias("tv"),
        F.col("label").cast("long").alias("ty"),
    )
    train = e.where(
        (F.col("vec_id") >= _TEST_MAX) & (F.col("vec_id") < _TRAIN_MAX)
    ).select(
        F.col("vec_id").alias("rid"),
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
            " * 1000000) AS BIGINT))"
        ).alias("rv"),
        F.col("label").cast("long").alias("ry"),
    )
    pairs = F.broadcast(test).crossJoin(train).select(
        "tid",
        "rid",
        F.expr(
            "CAST(aggregate(zip_with(tv, rv, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)"
        ).alias("d2"),
        F.expr(
            "CASE WHEN ty = ry THEN 1.0e0 ELSE 0.0e0 END"
        ).alias("m"),
    )
    per_test = pairs.groupBy("tid").agg(
        F.expr(
            "reverse(sort_array(collect_list(array(CAST(d2 AS DOUBLE),"
            " CAST(rid AS DOUBLE), m))))"
        ).alias("arr"),
        F.count(F.lit(1)).cast("double").alias("n_train"),
    )
    folded = per_test.select(
        "tid",
        "arr",
        F.expr(
            f"aggregate(arr, array(-1.0e0), {_shap_fold(_el, 'n_train')})"
        ).alias("acc"),
    )
    exploded = folded.select(
        "tid",
        F.posexplode(F.expr("slice(acc, 2, size(acc) - 1)")).alias(
            "p0", "s"
        ),
        F.col("arr"),
    ).select(
        F.expr(
            "CAST(element_at(element_at(arr, CAST(p0 + 1 AS INT)), 2)"
            " AS BIGINT)"
        ).alias("train_vec_id"),
        F.expr("CAST(FLOOR(s * 1000000000.0e0) AS BIGINT)").alias("s_nano"),
    )
    return exploded.groupBy("train_vec_id").agg(
        F.sum("s_nano").cast("long").alias("shapley_nano_total"),
        F.count(F.lit(1)).cast("long").alias("n_tests"),
    )


# ----------------------------------------------------------- conformal APS

_APS_ALPHA_PCT = 10  # alpha = 0.10


def _aps_softmax(el) -> str:
    """scores over 10 labels: softmax of 10·cos(x, centroid_c) — `sims` is
    a 10-long double array column; returns the prob array expression."""
    total = "aggregate(sims, 0.0e0, (acc, x) -> acc + exp(10.0e0 * x))"
    if el is _eld:
        total = (
            "list_sum(list_transform(sims, x -> exp(10.0e0 * x)))"
        )
        return f"list_transform(sims, x -> exp(10.0e0 * x) / ({total}))"
    return f"transform(sims, x -> exp(10.0e0 * x) / ({total}))"


def _aps_score(el, probs: str, y: str) -> str:
    """APS calibration score: cumulative prob mass, classes in
    (prob desc, label asc) order, up to AND including the true label.
    probs = 10-long array; exact commitment: sum p_c over classes with
    (p_c, -c) lexicographically >= (p_y, -y)."""
    py = el(probs, f"{y} + 1")
    if el is _eld:
        return (
            f"list_sum(list_transform(range(1, 11), c -> CASE WHEN"
            f" list_extract({probs}, CAST(c AS INT)) > {py}"
            f" OR (list_extract({probs}, CAST(c AS INT)) = {py}"
            f" AND c - 1 <= {y}) THEN"
            f" list_extract({probs}, CAST(c AS INT)) ELSE 0.0e0 END))"
        )
    return (
        f"aggregate(transform(sequence(1, 10), c -> CASE WHEN"
        f" element_at({probs}, CAST(c AS INT)) > {py}"
        f" OR (element_at({probs}, CAST(c AS INT)) = {py}"
        f" AND c - 1 <= {y}) THEN"
        f" element_at({probs}, CAST(c AS INT)) ELSE 0.0e0 END),"
        f" 0.0e0, (acc, x) -> acc + x)"
    )


def _aps_setsize(el, probs: str, q: str) -> str:
    """Prediction-set size: classes in (prob desc, label asc) order until
    cumulative mass >= qhat — i.e. 1 + #classes whose strict-prefix mass
    stays below qhat, capped at 10. prefix(c) = mass of classes ranked
    strictly before c; computed per class then counted."""
    if el is _eld:
        prefix = (
            "list_sum(list_transform(range(1, 11), k -> CASE WHEN"
            " list_extract(PR, CAST(k AS INT)) > list_extract(PR, CAST(c AS INT))"
            " OR (list_extract(PR, CAST(k AS INT)) = list_extract(PR, CAST(c AS INT))"
            " AND k < c) THEN list_extract(PR, CAST(k AS INT)) ELSE 0.0e0 END))"
        )
        inc = (
            f"CAST(FLOOR(({prefix} + list_extract(PR, CAST(c AS INT)))"
            " * 1000000000.0e0) AS BIGINT)"
        )
        return (
            f"least(CAST(10 AS BIGINT),"
            f" CAST(1 + len(list_filter(list_transform(range(1, 11), c ->"
            f" {inc}), s -> s < {q})) AS BIGINT))"
        ).replace("PR", probs)
    prefix = (
        "aggregate(transform(sequence(1, 10), k -> CASE WHEN"
        " element_at(PR, CAST(k AS INT)) > element_at(PR, CAST(c AS INT))"
        " OR (element_at(PR, CAST(k AS INT)) = element_at(PR, CAST(c AS INT))"
        " AND k < c) THEN element_at(PR, CAST(k AS INT)) ELSE 0.0e0 END),"
        " 0.0e0, (acc, x) -> acc + x)"
    )
    inc = (
        f"CAST(FLOOR(({prefix} + element_at(PR, CAST(c AS INT)))"
        " * 1000000000.0e0) AS BIGINT)"
    )
    return (
        f"least(CAST(10 AS BIGINT),"
        f" CAST(1 + size(filter(transform(sequence(1, 10), c -> {inc}),"
        f" s -> s < {q})) AS BIGINT))"
    ).replace("PR", probs)


def _aps_rank(el, probs: str, y: str) -> str:
    """1-based rank of the true label in (prob desc, label asc) order:
    1 + #classes strictly before it. `covered` = rank <= set_size is the
    literal "true label is in the emitted set" predicate — the score<qhat
    form misclassified the rank-1 class whose inclusive mass floors >=
    qhat (ADVICE r9)."""
    py = el(probs, f"{y} + 1")
    if el is _eld:
        return (
            f"(1 + list_sum(list_transform(range(1, 11), c -> CASE WHEN"
            f" list_extract({probs}, CAST(c AS INT)) > {py}"
            f" OR (list_extract({probs}, CAST(c AS INT)) = {py}"
            f" AND c - 1 < {y}) THEN 1 ELSE 0 END)))"
        )
    return (
        f"(1 + aggregate(transform(sequence(1, 10), c -> CASE WHEN"
        f" element_at({probs}, CAST(c AS INT)) > {py}"
        f" OR (element_at({probs}, CAST(c AS INT)) = {py}"
        f" AND c - 1 < {y}) THEN 1 ELSE 0 END),"
        f" 0, (acc, x) -> acc + x))"
    )


def _aps_oracle() -> str:
    probs = _aps_softmax(_eld)
    score = _aps_score(_eld, "probs", "ty")
    setsize = _aps_setsize(_eld, "probs", "qhat")
    rank = _aps_rank(_eld, "probs", "ty")
    return f"""
    WITH vi AS (
      SELECT vec_id, CAST(label AS BIGINT) AS lab,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
               AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ),
    cent AS (
      SELECT lab AS clab, dim,
             CAST(SUM(v) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS c
      FROM vi GROUP BY lab, dim
    ),
    simrows AS (
      SELECT vi.vec_id, vi.lab AS ty, cent.clab,
             CAST(CAST(SUM(vi.v * cent.c) AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(CAST(SUM(vi.v * vi.v) AS BIGINT) AS DOUBLE))
                  * sqrt(CAST(CAST(SUM(cent.c * cent.c) AS BIGINT) AS DOUBLE)))
               AS sim
      FROM vi JOIN cent ON vi.dim = cent.dim
      GROUP BY vi.vec_id, vi.lab, cent.clab
    ),
    persim AS (
      SELECT vec_id, ty, list_transform(list(sim ORDER BY clab), x -> x)
               AS sims
      FROM simrows GROUP BY vec_id, ty
    ),
    probd AS (
      SELECT vec_id, ty, {probs} AS probs FROM persim
    ),
    calib AS (
      SELECT CAST(FLOOR(({score}) * 1000000000.0e0) AS BIGINT) AS sc
      FROM probd WHERE vec_id % 2 = 1
    ),
    qsel AS (
      SELECT MIN(sc) AS qhat FROM (
        SELECT sc, ROW_NUMBER() OVER (ORDER BY sc) AS rn FROM calib)
      WHERE rn >= (SELECT CAST(CEIL((COUNT(*) + 1)
        * (100 - {_APS_ALPHA_PCT}) / 100.0e0) AS BIGINT) FROM calib)
    )
    SELECT vec_id, ty AS true_label,
           {setsize} AS set_size,
           {rank} <= {setsize} AS covered
    FROM probd, qsel
    WHERE vec_id % 2 = 0
"""


@register("conformal_aps_label_sets", _aps_oracle())
def conformal_aps_label_sets(spark, sf_dir):
    """Split-conformal Adaptive Prediction Sets (Romano, Sesia & Candès
    2020): class probabilities are a committed softmax of 10·cosine(x,
    integer-micros label centroid); odd vec_ids calibrate (APS score =
    descending-prob mass through the true label, floored to nanos), q̂ is
    the exact ⌈(n+1)(1−α)⌉-th smallest integer score (α=0.1, TakeOrdered
    rank selection — no global window), and even vec_ids report their
    prediction-set size plus the coverage boolean. The distribution-free
    classification companion of the regression conformal row."""
    e = _t(spark, sf_dir, "embeddings")
    vi = e.select(
        "vec_id",
        F.col("label").cast("long").alias("ty"),
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
            " * 1000000) AS BIGINT))"
        ).alias("v"),
    )
    cent = (
        vi.select("ty", F.posexplode("v").alias("dim0", "val"))
        .groupBy(F.col("ty").alias("clab"), "dim0")
        .agg(
            F.expr(
                "CAST(SUM(val) AS BIGINT) div CAST(COUNT(1) AS BIGINT)"
            ).alias("c")
        )
        .groupBy("clab")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim0, c))),"
                " p -> p.c)"
            ).alias("cv")
        )
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(clab, cv))),"
                " p -> p.cv)"
            ).alias("cents")
        )
    )
    probd = vi.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "ty",
        F.expr(
            "transform(cents, cv ->"
            " CAST(aggregate(zip_with(v, cv, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)"
            " / (sqrt(CAST(aggregate(zip_with(v, v, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE))"
            " * sqrt(CAST(aggregate(zip_with(cv, cv, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE))))"
        ).alias("sims"),
    ).select(
        "vec_id", "ty", F.expr(_aps_softmax(_el)).alias("probs")
    )
    score = _aps_score(_el, "probs", "ty")
    calib = probd.where(F.col("vec_id") % 2 == 1).select(
        F.expr(f"CAST(FLOOR(({score}) * 1000000000.0e0) AS BIGINT)").alias(
            "sc"
        )
    )
    import math

    from hpmr_spark.sources.tables import table_rows

    n_emb = table_rows(sf_dir, "embeddings")
    if n_emb is not None:
        n_cal = n_emb // 2  # odd vec_ids of 0..n-1
    else:  # unknown footer: one bounded count job
        n_cal = calib.count()
    k = math.ceil((n_cal + 1) * (100 - _APS_ALPHA_PCT) / 100.0)
    qsel = (
        calib.orderBy(F.asc("sc"))
        .limit(int(k))
        .agg(F.max("sc").alias("qhat"))
    )
    setsize = _aps_setsize(_el, "probs", "qhat")
    rank = _aps_rank(_el, "probs", "ty")
    return (
        probd.where(F.col("vec_id") % 2 == 0)
        .crossJoin(F.broadcast(qsel))
        .select(
            "vec_id",
            F.col("ty").alias("true_label"),
            F.expr(setsize).alias("set_size"),
            F.expr(f"{rank} <= {setsize}").alias("covered"),
        )
    )
