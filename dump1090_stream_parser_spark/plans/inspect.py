"""Physical-plan inspection helpers (SURVEY.md §4.2 scale discipline).

The optimizer work here is *config, not code* -- but that only holds if
the plans actually come out right. These helpers make plan properties
assertable in tests and greppable during tuning:

- filters pushed to the parquet scan (PushedFilters),
- column pruning (ReadSchema),
- join strategy (BroadcastHashJoin vs SortMerge),
- whole-stage codegen coverage.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters lines of every scan in the plan."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def read_schemas(df: DataFrame) -> str:
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    )


def join_strategies(df: DataFrame) -> list[str]:
    out = []
    for line in formatted_plan(df).splitlines():
        for strat in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        ):
            if strat in line:
                out.append(strat)
    return out


def spread_exchange_count(plan: str) -> int:
    """Exchanges injected by tables.scan_spread (the scale-adaptive
    input rebalance for unsplittable inputs, round 13): a repartition
    hashed on xxhash64 of the leading column -- the deterministic
    synthetic key that needs no sort-before-repartition (earlier form:
    round-robin, still recognized). These are absent at production
    split counts -- scan_spread only fires when the scan yields fewer
    splits than cores -- so plan-shape pins count them separately from
    the keyed exchanges that define an operator's true shuffle
    posture."""
    return plan.count(
        "Arguments: RoundRobinPartitioning"
    ) + plan.count("Arguments: hashpartitioning(xxhash64(")


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE) physical plan; executes the query to get it.

    With AQE on, the pre-execution plan is a placeholder
    (isFinalPlan=false) and shows no codegen spans -- only the executed
    plan tells the truth about whole-stage codegen coverage. Must
    execute through the DataFrame's own QueryExecution (collect), not a
    writer: ``df.write`` wraps the plan in a fresh QueryExecution, so
    the original AdaptiveSparkPlan would never finalize.
    """
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans in the final plan.

    The executed plan's toString renders codegen'd operators with a
    ``*(id)`` prefix rather than a WholeStageCodegen node wrapper, so
    count distinct ids (and accept either rendering).
    """
    plan = executed_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    ids = set(re.findall(r"\*\((\d+)\)", final))
    return max(len(ids), final.count("WholeStageCodegen"))
