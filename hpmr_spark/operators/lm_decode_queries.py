"""Greedy LM decoding as a relational plan: 5 argmax steps over the corpus
bigram model — the generation-side counterpart of the perplexity/LM-score
operators (an 'inference' pass expressed as chained 1-row subplans, no
driver loop).

Determinism: each step's argmax carries a full (count DESC, word ASC)
tie-break, so the decoded sequence is unique; counts are exact BIGINTs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

_SEED = "join"
_STEPS = 5


def _decode_oracle() -> str:
    ctes = []
    prev = None
    for k in range(1, _STEPS + 1):
        src = f"WHERE w1 = '{_SEED}'" if k == 1 else f"JOIN s{k-1} ON c.w1 = s{k-1}.w2"
        if k == 1:
            body = f"SELECT w2, n FROM c {src} ORDER BY n DESC, w2 LIMIT 1"
        else:
            body = (
                f"SELECT c.w2, c.n FROM c {src} ORDER BY c.n DESC, c.w2 LIMIT 1"
            )
        ctes.append(f"s{k} AS ({body})")
        prev = f"s{k}"
    steps_sql = ",\n    ".join(ctes)
    selects = "\n    UNION ALL ".join(
        f"SELECT {k} AS step, w2 AS word, n FROM s{k}" for k in range(1, _STEPS + 1)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    c AS (
      SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS n
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY a.w, b.w
    ),
    {steps_sql}
    SELECT CAST(step AS BIGINT) AS step, word, n FROM ({selects})
    """


@register("lm_greedy_decode_steps", _decode_oracle())
def lm_greedy_decode_steps(spark, sf_dir):
    """Greedy decoding from the corpus bigram LM: starting at the committed
    seed word, each of 5 steps picks argmax_{w2} count(cur, w2) under a
    full (count DESC, word ASC) tie-break. The decode is a CHAIN of 1-row
    subplans over the persisted bigram frame — each step is a filtered
    top-1 (sort-limit pushes down to TakeOrderedAndProject), and the five
    steps union into the decoded sequence; no driver-side loop state, so
    the whole generation is one lazy plan. At 100 TB the LM frame is
    vocab²-bounded (built once from the corpus stream); per-step cost is
    an index-grade filtered top-1. The oracle chains the same five CTEs."""
    d = _t(spark, sf_dir, "documents").select(F.split("text", " ").alias("a"))
    pairs = d.select(
        F.explode(
            F.expr(
                "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), "
                "(x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("n"))
    c = materialize(c)

    steps = []
    cur = None
    for k in range(1, _STEPS + 1):
        if k == 1:
            cand = c.where(F.col("w1") == _SEED)
        else:
            cand = c.join(
                F.broadcast(cur.select(F.col("word").alias("w1"))), "w1"
            )
        step = (
            cand.orderBy(F.desc("n"), F.asc("w2"))
            .limit(1)
            .select(F.lit(k).cast("long").alias("step"), F.col("w2").alias("word"), "n")
        )
        steps.append(step)
        cur = step
    return reduce(lambda a, b: a.unionByName(b), steps)
