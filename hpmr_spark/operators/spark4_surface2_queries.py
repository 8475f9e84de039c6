"""Round-13 wave C: two more Spark-4 engine surfaces, each driven through
the oracle gate like the round-3/6 surface rows (pipe syntax, session
variables, VARIANT, UDTF, collation):

- sql_scripting_isqrt_loop: SQL SCRIPTING (Spark 4.0 BEGIN…END compound
  statements — SPARK-48338): DECLARE + scalar-subquery SET + a WHILE
  loop running exact integer Newton iteration x ← (x + n div x) div 2
  to the integer square root of the total order value in cents. The
  script's control flow runs engine-side; every step is exact BIGINT
  arithmetic, so a DuckDB recursive CTE walking the identical recurrence
  hash-matches.
- streaming_statestore_read: the State Store Data Source (Spark 4 /
  SPARK-45511, `spark.read.format("statestore")`): run a stateful
  aggregation stream (AvailableNow, checkpointed to a scratch dir)
  and then read the resulting state store AS A DATAFRAME — the
  state-inspection / debugging surface. After AvailableNow drains the
  full input, the state equals the batch aggregate, so the state read is
  oracle-checked against plain GROUP BY over events. Runs the stream at
  build time → tools/plan_snapshot.py SKIP (the streaming convention).

Scale: the script's loop is O(log n) driver-coordinated statements over
1-row frames; the state read is one scan of state files (per-partition,
no shuffle).
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register

_ctr = itertools.count()

_ISQRT_ORACLE = """
    WITH RECURSIVE t AS (
      SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        AS n
      FROM orders
    ),
    it AS (
      SELECT n AS x, (n + 1) // 2 AS y FROM t
      UNION ALL
      SELECT y AS x, (y + (SELECT n FROM t) // y) // 2 AS y
      FROM it WHERE y < x
    )
    SELECT (SELECT n FROM t) AS total_cents, x AS isqrt_cents
    FROM it WHERE y >= x
"""


@register("sql_scripting_isqrt_loop", _ISQRT_ORACLE)
def sql_scripting_isqrt_loop(spark, sf_dir):
    """SQL-scripting WHILE loop computing isqrt(total order cents) by
    exact integer Newton — see module docstring. The classic recurrence
    (x = n; y = (x+1) div 2; while y < x: x = y; y = (x + n div x) div 2)
    terminates at floor(sqrt(n)); cents via the committed
    ROUND(price·100) rule, so both engines iterate identical BIGINTs."""
    o = _t(spark, sf_dir, "orders")
    view = f"orders_isqrt_{next(_ctr)}"
    o.createOrReplaceTempView(view)
    return spark.sql(f"""
BEGIN
  DECLARE total BIGINT DEFAULT 0;
  DECLARE x BIGINT DEFAULT 0;
  DECLARE y BIGINT DEFAULT 0;
  SET total = (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) FROM {view});
  SET x = total;
  SET y = (x + 1) DIV 2;
  WHILE y < x DO
    SET x = y;
    SET y = (x + total DIV x) DIV 2;
  END WHILE;
  SELECT total AS total_cents, x AS isqrt_cents;
END
""")


_SS_ORACLE = """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events_state
    FROM events GROUP BY event_type
"""


@register("streaming_statestore_read", _SS_ORACLE)
def streaming_statestore_read(spark, sf_dir):
    """Run a count-by-event-type stateful stream to completion
    (AvailableNow), then read its STATE STORE back as a DataFrame via
    the Spark 4 statestore source — the state-inspection surface. State
    after a drained AvailableNow run equals the batch aggregate, which
    is the oracle. The stream runs through the shared memory-sink runner
    (partition-count invariant) with a fresh checkpoint dir per call
    (double-build safe)."""
    from hpmr_spark.engine import scratch_dir
    from hpmr_spark.streaming.windows import _events_stream, _run_to_table

    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    cp = scratch_dir("statestore_cp")
    _run_to_table(agg, "ssread", "update", checkpoint=cp)
    st = spark.read.format("statestore").load(cp)
    # the state value struct carries the PHYSICAL aggregate name
    # ("count"), not the query alias — schema probed live
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events_state"),
    )
