"""Sketch + UDAF batch: pandas GROUPED_AGG UDAF (completing the Python UDF
matrix: scalar pandas_udf / grouped-map applyInPandas / mapInPandas /
mapInArrow / UDTF / and now grouped-agg), count-min sketch gating via
df.stat, single-scan time-hierarchy rollup, and fixed-budget deterministic
per-group sampling.

Reference parity: the GROUPED_AGG UDAF is the closest Spark analog to the
reference's user-defined reducer slot (/root/reference/src/reducer.h:25 —
an arbitrary merge function over a key's values); the count-min gate
mirrors the probe-length watchdog discipline (bounded-error introspection
of a hashed structure, src/bare_hash_container.h:135-148).

Determinism: medians are lower-medians over integer cents; sketch output
is reduced to exact values + bounded-error booleans (the sketch-gating
pattern, CLAUDE.md); sampling is content-hash ranked, never random.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.functions.littables import values_df
from hpmr_spark.functions.hashing import hash60, sql_hash60


# ---------------------------------------------------------------------------
# pandas GROUPED_AGG UDAF: holistic aggregate as a first-class agg function.
# ---------------------------------------------------------------------------
@register(
    "pandas_udaf_median_qty",
    """
    WITH c AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY CAST(ROUND(l_quantity * 100) AS BIGINT),
                                         l_orderkey, l_linenumber,
                                         l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN qty_c END) AS BIGINT)
             AS median_qty_cents
    FROM c GROUP BY l_returnflag
    """,
)
def pandas_udaf_median_qty(spark, sf_dir):
    """Grouped-aggregate pandas UDF: unlike applyInPandas (group in → frame
    out) this is a real aggregate function — usable inside .agg() next to
    built-ins, one scalar per group. The UDAF computes the lower-median of
    integer quantity-cents, a holistic statistic no distributive Catalyst
    aggregate expresses. Tie-break-free because the median is over the
    VALUE multiset (duplicates included), so only the value ordering
    matters. Scale note: each group's values stream to one Arrow batch
    sequence — for 100 TB groups switch to percentile_approx or the
    two-level (group, shard) pre-reduce; the UDAF shape itself is the
    honest holistic path. Built lazily (session-less import rule)."""
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar type hints make these grouped-aggregate UDFs
    @pandas_udf("bigint")
    def median_cents(v: pd.Series) -> int:
        a = v.sort_values().to_numpy()
        return int(a[(len(a) + 1) // 2 - 1])

    # Spark disallows mixing pandas and JVM aggregates in one .agg()
    # (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a second pandas
    # UDAF — both run in the same grouped Arrow pass.
    @pandas_udf("bigint")
    def n_values(v: pd.Series) -> int:
        return len(v)

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
    )
    return li.groupBy("l_returnflag").agg(
        n_values("qty_c").alias("n_rows"),
        median_cents("qty_c").alias("median_qty_cents"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch gating: bounded-error frequency estimates, hash-checked.
# ---------------------------------------------------------------------------
@register(
    "sketch_countmin_status",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS exact_n,
           TRUE AS cms_ge_exact,
           TRUE AS cms_within_eps
    FROM orders GROUP BY o_orderstatus
    """,
)
def sketch_countmin_status(spark, sf_dir):
    """Count-min sketch frequency estimates with the sketch-gating pattern:
    the sketch is built distributed (JVM-side partial sketches, merged by
    cell-wise addition — commutative, so partitioning-invariant), then each
    status's estimate is checked against the exact count. CMS guarantees
    est ≥ exact always, and est ≤ exact + ε·N with probability 1−δ; both
    are emitted as booleans the oracle pins to TRUE (ε=0.001, δ=0.01,
    seed=42 are commitments — CLAUDE.md LSH-parameter rule). The driver-
    side estimateCount loop runs over the DISTINCT key set (3 statuses),
    not the data — bounded like KeyedMap.to_dict. PySpark exposes no
    countMinSketch binding (Scala-only DataFrameStatFunctions), so the
    call goes through the py4j bridge — same JVM distributed agg."""
    o = _t(spark, sf_dir, "orders")
    eps = 0.001
    cms = o.select("o_orderstatus")._jdf.stat().countMinSketch(
        "o_orderstatus", eps, 0.99, 42
    )
    exact = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("exact_n"))
    total = o.count()
    rows = [
        (
            r["o_orderstatus"],
            r["exact_n"],
            int(cms.estimateCount(r["o_orderstatus"])),
        )
        for r in exact.collect()
    ]
    out = values_df(spark, rows, "o_orderstatus string, exact_n bigint, est bigint")
    bound = int(eps * total) + 1
    return out.select(
        "o_orderstatus",
        "exact_n",
        (F.col("est") >= F.col("exact_n")).alias("cms_ge_exact"),
        (F.col("est") <= F.col("exact_n") + F.lit(bound)).alias("cms_within_eps"),
    )


# ---------------------------------------------------------------------------
# Single-scan time-hierarchy rollup (year → month pre-aggregation cube).
# ---------------------------------------------------------------------------
@register(
    "rollup_time_hierarchy",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
    """,
)
def rollup_time_hierarchy(spark, sf_dir):
    """Hypertable-style hierarchical time rollup: one scan produces the
    (year, month), (year), and grand-total aggregation levels via ROLLUP —
    the continuous-aggregate / materialized-rollup pattern where coarse
    levels are derived in the same Expand pass instead of re-scanning the
    fact table per granularity. Money stays integer cents per row before
    any SUM (parallel-sum discipline). NULL level markers are the rollup
    contract in both engines, so no grouping_id translation is needed."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    return base.rollup("y", "m").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price_c").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Fixed-budget deterministic per-group sampling (k smallest content hashes).
# ---------------------------------------------------------------------------
_FIXEDK_ORACLE = """
    WITH h AS (
      SELECT lang, doc_id, {h} AS hv
      FROM documents
    ),
    r AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rn
      FROM h
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS docid_checksum
    FROM r WHERE rn <= 5 GROUP BY lang
""".format(h=sql_hash60("CAST(doc_id AS VARCHAR)"))


@register("sample_fixed_k_per_lang", _FIXEDK_ORACLE)
def sample_fixed_k_per_lang(spark, sf_dir):
    """Fixed-budget per-stratum sampling: exactly k=5 documents per
    language, chosen as the k SMALLEST content hashes — a deterministic
    stand-in for per-group reservoir sampling that is reproducible under
    any partitioning, retry, or data order (hash rank is a property of the
    row, not the scan). Hash60 is injective here (distinct doc_ids), so
    the rank has no ties. At scale the rank window is per-group top-k —
    bounded state per group, map-side prunable to k candidates per
    partition. docid_checksum pins the exact chosen set."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select(
        "lang", "doc_id", hash60(F.col("doc_id").cast("string")).alias("hv")
    )
    w = Window.partitionBy("lang").orderBy("hv")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("docid_checksum"),
        )
    )
