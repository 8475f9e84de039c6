"""Physical-plan introspection — the engine's scale-regression tooling.

At 100 TB the difference between a right and wrong plan is the job: a scan
that reads all columns, a filter that didn't push down, a dim join that
shuffles instead of broadcasting. These helpers turn `.explain("formatted")`
into assertions so tests/test_plans.py locks the good plans in.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def scan_info(df: DataFrame) -> list[dict]:
    """Per parquet scan: pushed filters + read schema (column pruning)."""
    plan = formatted_plan(df)
    scans = []
    for block in re.split(r"\n\n", plan):
        if "Scan parquet" in block or "PushedFilters" in block:
            pushed = re.search(r"PushedFilters: \[(.*?)\]", block)
            schema = re.search(r"ReadSchema: struct<(.*?)>", block)
            if pushed or schema:
                scans.append(
                    {
                        "pushed_filters": pushed.group(1) if pushed else "",
                        "read_columns": [
                            c.split(":")[0] for c in schema.group(1).split(",") if c
                        ]
                        if schema
                        else [],
                    }
                )
    return scans


def n_shuffles(df: DataFrame) -> int:
    """Count Exchange operators (each is one shuffle stage boundary)."""
    plan = formatted_plan(df)
    # formatted output shows each operator in the tree AND as a "(n) Op"
    # detail block — count detail headers only, excluding broadcasts
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def plan_pins(df: DataFrame) -> dict:
    """The plan-shape metrics plans_golden.json pins for one built query."""
    return {
        "n_shuffles": n_shuffles(df),
        "broadcast_join": has_broadcast_join(df),
        "codegen_spans": whole_stage_codegen_spans(df),
        "n_global_windows": n_single_partition_windows(df),
    }


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


def n_single_partition_windows(df: DataFrame) -> int:
    """Count Window operators whose input collapses to ONE partition — the
    `Window.orderBy(...)` with no partitionBy shape ("No Partition Defined
    for Window operation" at runtime), THE scale-killer at 100 TB. Detected
    in the simple plan as a Window node whose child chain (Sort) feeds from
    an `Exchange SinglePartition`. Scale-safe replacements live in
    functions/ranking.py; tests/test_plan_regression.py pins this to 0 for
    fact-scale frames (a small allowlist covers tiny aggregated frames)."""
    lines = simple_plan(df).splitlines()
    n = 0
    for i, line in enumerate(lines):
        if re.search(r"\bWindow(GroupLimit)? \[", line):
            for nxt in lines[i + 1 : i + 3]:
                if "Exchange SinglePartition" in nxt:
                    n += 1
                    break
    return n


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Distinct whole-stage-codegen subtrees. NOTE: with AQE enabled the
    formatted plan of an unexecuted AdaptiveSparkPlan carries NO codegen
    markers (always 0) — measure on a plan built with
    spark.sql.adaptive.enabled=false, where nodes carry
    `[codegen id : N]` annotations."""
    plan = formatted_plan(df)
    ids = re.findall(r"WholeStageCodegen \((\d+)\)|codegen id : (\d+)", plan)
    return len({a or b for a, b in ids})
