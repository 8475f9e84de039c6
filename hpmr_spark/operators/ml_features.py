"""ML feature operators: feature hashing (the hashing trick), modality
joins, quantile bucketing."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.functions.ranking import exact_ntile, global_row_number
from hpmr_spark.functions.text import tokens
from hpmr_spark.functions.vectors import sql_dot
from hpmr_spark.sources.tables import table_rows

DIMS = 64


@register(
    "text_feature_hashing",
    f"""
    SELECT doc_id,
           CAST(({sql_hash60('tok')}) % {DIMS} AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS weight
    FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text),
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS tok
          FROM documents)
    GROUP BY doc_id, dim
    """,
)
def text_feature_hashing(spark, sf_dir):
    """Feature hashing: tokens → 64-dim sparse count vector in long format
    (doc_id, dim, weight) — the standard trick for turning unbounded vocab
    into fixed-width features with zero vocabulary state. One explode + one
    keyed agg; at 100 TB this is a single shuffle on (doc_id, dim)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    return (
        toks.select("doc_id", (hash60(F.col("tok")) % DIMS).alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


@register(
    "multimodal_text_vector_join",
    f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(MIN(sqrt({sql_dot('embedding', 'embedding', 64)})), 6) AS min_norm,
           ROUND(MAX(sqrt({sql_dot('embedding', 'embedding', 64)})), 6) AS max_norm
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY lang
    """,
)
def multimodal_text_vector_join(spark, sf_dir):
    """Cross-modality join (text metadata ⋈ embedding vectors on shared id):
    per-language embedding-norm envelope. min/max are order-free, so doubles
    are safe; norms are identical IEEE expressions in both engines."""
    from hpmr_spark.functions.vectors import norm

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return (
        d.join(e, "doc_id")
        .select("lang", norm(F.col("embedding")).alias("nrm"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


_TOKRE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


@register(
    "text_tfidf_scaled",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_TOKRE_SQL}')) AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok,
           CAST(tf.tf AS BIGINT) AS tf,
           CAST(tf.tf * ((n.n_docs * 1000) // df.df) AS BIGINT) AS tfidf_scaled
    FROM tf JOIN df ON tf.tok = df.tok, n
    """,
)
def text_tfidf_scaled(spark, sf_dir):
    """TF-IDF with integer-scaled IDF: idf_scaled = (N·1000) div df —
    deterministic integer arithmetic instead of log(), whose last-ulp libm
    differences would make cross-engine hashes flaky. Monotone in 1/df, so
    ranking behavior is preserved; swap in log-idf when consuming the
    weights numerically."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = table_rows(sf_dir, "documents")
    if n_docs is None:  # unknown footer: one bounded count job
        n_docs = d.count()
    idf = dfreq.select(
        "tok", F.floor(F.lit(n_docs * 1000) / F.col("df")).alias("idf_scaled")
    )
    return tf.join(idf, "tok").select(
        "doc_id",
        "tok",
        F.col("tf").cast("long").alias("tf"),
        (F.col("tf") * F.col("idf_scaled")).cast("long").alias("tfidf_scaled"),
    )


def _ws_token_count_pandas():
    """Scalar Pandas UDF (Arrow-batched, vectorized pandas str ops) — the
    10-100× faster alternative to a row-at-a-time Python UDF. Matches
    functions.text.whitespace_token_count exactly.

    Constructed lazily: the @pandas_udf decorator parses its return type
    against an active SparkContext, so decorating at module import would
    break session-less imports of the query registry."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ws_count(text: pd.Series) -> pd.Series:
        stripped = text.str.strip()
        counts = stripped.str.split(r"\s+").str.len()
        return counts.where(stripped != "", 0).astype("int64")

    return ws_count


@register(
    "pandas_udf_token_count",
    """
    SELECT doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def pandas_udf_token_count(spark, sf_dir):
    """The scalar @pandas_udf path, oracle-verified against the same
    whitespace tokenization the JVM expression computes."""
    d = _t(spark, sf_dir, "documents")
    udf = _ws_token_count_pandas()
    return d.select("doc_id", udf(F.col("text")).alias("n_ws_tokens"))


@register(
    "posexplode_tokens",
    f"""
    SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i+1] AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '{_TOKRE_SQL}') AS toks
          FROM documents WHERE doc_id < 20),
         unnest(range(len(toks))) t(i)
    """,
)
def posexplode_tokens(spark, sf_dir):
    """Lateral view with ordinality (posexplode): position-indexed token
    stream — the UDTF shape (1 row → n rows with position)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")


@register(
    "unpivot_quantity_metrics",
    """
    SELECT l_returnflag, metric, CAST(value AS BIGINT) AS value
    FROM (SELECT l_returnflag,
                 CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                 CAST(MIN(l_quantity) AS BIGINT) AS min_qty,
                 CAST(MAX(l_quantity) AS BIGINT) AS max_qty
          FROM lineitem GROUP BY l_returnflag)
    UNPIVOT (value FOR metric IN (sum_qty, min_qty, max_qty))
    """,
)
def unpivot_quantity_metrics(spark, sf_dir):
    """Wide→long unpivot (melt): one row per (group, metric)."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.min("l_quantity").cast("long").alias("min_qty"),
        F.max("l_quantity").cast("long").alias("max_qty"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "min_qty", "max_qty"], "metric", "value"
    )


@register(
    "ntile_price_deciles",
    """
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM (SELECT o_totalprice,
                 NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
          FROM orders)
    GROUP BY decile
    """,
)
def ntile_price_deciles(spark, sf_dir):
    """Decile bucketing with NTILE semantics but NO single-partition window:
    two-pass range-partitioned global row_number (functions/ranking.py) + the
    exact integer NTILE formula against a broadcast total count. Identical
    output to `NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)` (full
    tie-break), but every stage is parallel — the 100 TB shape."""
    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    r = global_row_number(o, ["o_totalprice", "o_orderkey"], out="rn")
    t = o.agg(F.count(F.lit(1)).alias("n"))
    return (
        r.crossJoin(F.broadcast(t))
        .select(
            "o_totalprice",
            exact_ntile(F.col("rn"), F.col("n"), 10).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )
    )
