"""Round-12 wave 5: reservoir_sample_fold — Vitter's Algorithm R
(Vitter 1985, CACM "Random Sampling with a Reservoir"), replayed exactly
per lang with committed hash-derived randomness: the t-th stream element
(docs in doc_id order) lands in slot j = h(doc) mod t when j < k.

The ONLINE sequential counterpart of the registry's rank-based
deterministic samplers (sample_fixed_k_per_lang: a shuffle-then-top-k;
uniform_sample_hash_rank: hash-rank selection) — this one replays the
classic streaming algorithm whose state is the bounded k-slot reservoir,
as an in-row array fold (one groupBy shuffle, fold map-side, ≡ DuckDB
list_reduce twin).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.exprs import el_duck, el_spark
from hpmr_spark.functions.hashing import spark_sql_hash60, sql_hash60

_RSV_K = 5  # reservoir slots (committed)


def _rsv_fold(el) -> str:
    """acc = [slot1..slotK, t]; element = [doc_id, h]. t is the 1-based
    count AFTER this element. For t <= K fill slot t; else j = h mod t
    replaces slot j+1 when j < K. Pure integer arithmetic (doubles carry
    exact ints far below 2^53)."""
    t_new = f"({el('acc', str(_RSV_K + 1))} + 1.0e0)"
    did, h = el("e", "1"), el("e", "2")
    j = f"(CAST({h} AS BIGINT) % CAST({t_new} AS BIGINT))"
    slots = []
    for s in range(1, _RSV_K + 1):
        cur = el("acc", str(s))
        slots.append(
            f"CASE WHEN {t_new} <= {_RSV_K}.0e0 THEN"
            f" (CASE WHEN {t_new} = {s}.0e0 THEN {did} ELSE {cur} END)"
            f" WHEN {j} = {s - 1} THEN {did} ELSE {cur} END"
        )
    return f"(acc, e) -> array({','.join(slots)}, {t_new})"


def _rsv_oracle() -> str:
    h = sql_hash60("'rsv:' || CAST(doc_id AS VARCHAR)")
    init = "[" + ", ".join(["-1.0"] * _RSV_K) + ", 0.0]"
    fold = _rsv_fold(el_duck).replace("array(", "list_value(")
    exts = ", ".join(
        f"CAST(list_extract(s, {i}) AS BIGINT) AS slot{i}"
        for i in range(1, _RSV_K + 1)
    )
    return f"""
    WITH g AS (
      SELECT lang, CAST(doc_id AS DOUBLE) AS did,
             CAST({h} % 1099511627776 AS DOUBLE) AS h
      FROM documents
    ),
    folded AS (
      SELECT lang,
             list_reduce(list_prepend({init},
                                      list([did, h] ORDER BY did)),
                         {fold}) AS s
      FROM g GROUP BY lang
    )
    SELECT lang, CAST(list_extract(s, {_RSV_K + 1}) AS BIGINT) AS n_seen,
           {exts}
    FROM folded
"""


@register("reservoir_sample_fold", _rsv_oracle())
def reservoir_sample_fold(spark, sf_dir):
    """Vitter's Algorithm R reservoir sample (k={_RSV_K}) per lang,
    replayed EXACTLY: docs stream in doc_id order; element t replaces
    slot (h mod t) when that lands under k, where h is the committed
    md5-derived 60-bit hash — deterministic "randomness", so both
    engines (and any partitioning) reproduce the identical reservoir.
    The h values ride the fold as exact doubles (< 2^60 hashes are NOT
    below 2^53 — so h is pre-reduced mod 2^40 before folding, keeping
    the modulo arithmetic exact; committed). One groupBy shuffle, state
    = k slots + counter."""
    d = _t(spark, sf_dir, "documents")
    h = spark_sql_hash60("concat('rsv:', CAST(doc_id AS STRING))")
    g = d.select(
        "lang",
        F.expr("CAST(doc_id AS DOUBLE)").alias("did"),
        F.expr(f"CAST({h} % 1099511627776 AS DOUBLE)").alias("h"),
    )
    init = "array(" + ", ".join(["-1.0e0"] * _RSV_K) + ", 0.0e0)"
    folded = g.groupBy("lang").agg(
        F.expr(
            f"aggregate(sort_array(collect_list(array(did, h))), {init},"
            f" {_rsv_fold(el_spark)})"
        ).alias("s")
    )
    cols = [
        F.expr(f"CAST({el_spark('s', str(i))} AS BIGINT)").alias(f"slot{i}")
        for i in range(1, _RSV_K + 1)
    ]
    return folded.select(
        "lang",
        F.expr(f"CAST({el_spark('s', str(_RSV_K + 1))} AS BIGINT)").alias(
            "n_seen"
        ),
        *cols,
    )


reservoir_sample_fold.__doc__ = reservoir_sample_fold.__doc__.replace(
    "{_RSV_K}", str(_RSV_K)
)
