"""Spark 4 surface batch: custom Python DataSource connector + SQL pipe
syntax.

The connector (sources/pydatasource.py) is the engine's extensible-source
story — the reference's Range source (/root/reference/src/hpmr.h:1-10)
generalized to a partition-planning Python reader. Pipe syntax is the
Spark 4 query-authoring surface; semantics are identical to the nested
SQL the oracles use, so these also pin that the pipe planner produces the
same results as the classic planner."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.engine import scratch_dir
from hpmr_spark.sources.pydatasource import (
    SEQ_MOD,
    SEQ_MULT,
    SEQ_N,
    register_seq_source,
)


@register(
    "pydatasource_seq_agg",
    f"""
    SELECT (i * {SEQ_MULT} % 4294967296) % {SEQ_MOD} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(i) AS BIGINT) AS sum_i
    FROM range({SEQ_N}) t(i)
    GROUP BY 1
    """,
)
def pydatasource_seq_agg(spark, sf_dir):
    """Reads through the custom Python DataSource (8 planned partitions →
    8 parallel reader tasks) and aggregates per bucket. The committed
    multiplicative-hash generator makes every row reproducible by the SQL
    oracle, turning a connector smoke test into a value-hash-checked one.
    The Python reader is the honest cost (rows cross Arrow once); the agg
    itself is Catalyst. At scale, partitions() maps 1:1 onto backend
    splits — that's the whole connector contract."""
    register_seq_source(spark)
    df = spark.read.format("hpmr_seq").load()
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("i").alias("sum_i")
    )


@register(
    "pipe_syntax_orders_summary",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def pipe_syntax_orders_summary(spark, sf_dir):
    """SQL pipe syntax (Spark 4): linear FROM → WHERE → EXTEND → AGGREGATE
    flow. Same logical plan as the nested-SQL oracle — Catalyst canonical-
    izes both — so this pins pipe-planner parity, money discipline
    included (per-row integer cents before the distributed SUM)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> EXTEND CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                     CAST(SUM(cents) AS BIGINT) AS total_cents
           GROUP BY o_orderpriority
        """
    )


@register(
    "pipe_syntax_top_nations",
    """
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_customers DESC, n_name
    LIMIT 5
    """,
)
def pipe_syntax_top_nations(spark, sf_dir):
    """Pipe-syntax join + aggregate + deterministic top-k (full tie-break
    on n_name). The 25-row dimension broadcasts; the ORDER BY runs on the
    25-row aggregate, not the fact table."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        FROM customer
        |> JOIN nation ON c_nationkey = n_nationkey
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_customers GROUP BY n_name
        |> ORDER BY n_customers DESC, n_name
        |> LIMIT 5
        """
    )


@register(
    "pydatasource_sink_roundtrip",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pydatasource_sink_roundtrip(spark, sf_dir):
    """Full custom-connector loop: orders projected to integer cents, written
    through the Python DataSourceWriter (one JSON-lines shard per partition,
    written BY EXECUTORS — the write() contract), read back with Spark's
    native JSON reader under an explicit schema, then aggregated. The oracle
    recomputes from the source table, so a lost/duplicated/corrupted row in
    the custom sink fails the value hash. At scale the same writer surface
    wraps any internal service; shard-per-partition is the parallelism
    contract."""
    from hpmr_spark.sources.pydatasource import register_jsonlines_sink

    register_jsonlines_sink(spark)
    d = os.path.join(scratch_dir("jsonl"), "out")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    o.write.format("hpmr_jsonlines").option("path", d).mode("append").save()
    back = spark.read.schema(
        "o_orderkey bigint, o_orderpriority string, cents bigint"
    ).json(d)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "sql_sugar_group_by_all",
    """
    WITH base AS (
      SELECT * EXCLUDE (o_orderdate, o_totalprice),
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM base
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_sugar_group_by_all(spark, sf_dir):
    """Modern SQL sugar parity: SELECT * EXCEPT (Spark) / EXCLUDE (DuckDB)
    star-pruning plus GROUP BY ALL + ORDER BY ALL — both engines infer the
    grouping and ordering keys from the select list, and Catalyst plans
    the same partial-aggregated shuffle as the explicit form (column
    pruning still reaches the scan: the excluded columns never load). The
    analyst-facing dialect a migrating user writes on day one."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_sugar")
    return spark.sql(
        """
        WITH base AS (
          SELECT * EXCEPT (o_orderdate, o_totalprice),
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders_sugar
        )
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM base
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL UDFs (CREATE FUNCTION ... RETURN expr) — catalog-level
# reusable scalar logic, inlined by Catalyst.
# ---------------------------------------------------------------------------
@register(
    "sql_udf_quality_report",
    """
    WITH t AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars * 1000 // GREATEST(n_tok, 1)) AS BIGINT)
             AS sum_cpt_ppt,
           CAST(SUM(CASE WHEN n_chars * 1000 // GREATEST(n_tok, 1)
                         BETWEEN 3000 AND 9000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_plausible
    FROM t GROUP BY lang
    """,
)
def sql_udf_quality_report(spark, sf_dir):
    """Spark 4 SQL UDFs: `CREATE TEMPORARY FUNCTION f(...) RETURNS ...
    RETURN expr` registers catalog-level scalar logic that Catalyst INLINES
    into the plan (no Python boundary, full codegen — the opposite of a
    py-UDF), so shared business definitions live in one place without a
    perf tax. Here per-mille chars-per-token and a plausibility band are
    SQL UDFs applied per row; the oracle inlines the same expressions.
    Session-scoped: created inside the query fn (session-less import
    rule)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cpt_ppt(chars BIGINT, toks BIGINT)"
        " RETURNS BIGINT RETURN chars * 1000 div GREATEST(toks, 1)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION is_plausible(ppt BIGINT)"
        " RETURNS BOOLEAN RETURN ppt BETWEEN 3000 AND 9000"
    )
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("docs_sqludf")
    return spark.sql(
        """
        WITH t AS (
          SELECT lang,
                 CAST(size(split(text, ' ')) AS BIGINT) AS n_tok,
                 CAST(n_chars AS BIGINT) AS n_chars
          FROM docs_sqludf
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(cpt_ppt(n_chars, n_tok)) AS BIGINT) AS sum_cpt_ppt,
               CAST(SUM(CASE WHEN is_plausible(cpt_ppt(n_chars, n_tok))
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_plausible
        FROM t GROUP BY lang
        """
    )


_SESSION_VAR_ORACLE = """
    WITH bounds AS (
      SELECT CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS dmax
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders, bounds
    WHERE CAST(o_orderdate AS DATE) >= dmax - 90
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register("sql_session_variables", _SESSION_VAR_ORACLE)
def sql_session_variables(spark, sf_dir):
    """Spark 4 SQL session variables + EXECUTE IMMEDIATE: DECLARE a
    session variable, SET it from a scalar subquery over the data (the
    max order date), then run the report through EXECUTE IMMEDIATE with
    a USING parameter — the scripting surface (DECLARE/SET VAR/EXECUTE
    IMMEDIATE) driven end to end with a deterministic, oracle-checked
    result (the oracle inlines the variable as a scalar subquery).
    Variables are session-scoped config, not data: the report itself is
    the same one-aggregate plan Catalyst would build from the inlined
    text."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("DECLARE OR REPLACE VARIABLE report_dmax DATE")
    spark.sql(
        "SET VAR report_dmax ="
        " (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority,
                CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS revenue_cents
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= ? - 90
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority'
        USING report_dmax
        """
    )


_PARAM_ORACLE = """
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
"""


@register("sql_parameterized_markers", _PARAM_ORACLE)
def sql_parameterized_markers(spark, sf_dir):
    """Spark 4 parameterized SQL: named parameter markers (:minp, :st —
    values bound via spark.sql(..., args={...}), never string-spliced)
    plus an IDENTIFIER(:grp) clause that parameterizes the GROUP BY
    column and a dataframe template argument ({o}) that binds the table
    without a temp view. The markers are the injection-safe query API a
    multi-tenant engine exposes; Catalyst folds the bound literals into
    the same plan the inlined oracle text produces."""
    o = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
        FROM {o}
        WHERE o_totalprice > :minp AND o_orderstatus = :st
        GROUP BY IDENTIFIER(:grp)
        """,
        args={"grp": "o_orderpriority", "minp": 150000.0, "st": "F"},
        o=o,
    )
