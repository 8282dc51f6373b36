"""Physical plan inspection utilities."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Formatted physical plan string (what .explain('formatted')
    prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan
    (broadcast exchanges excluded) — the scale cost driver.

    Matches both plan styles: the formatted explain's numbered
    nodes ("(9) Exchange" — BroadcastExchange prints as its own
    node name, ReusedExchange likewise, so plain "Exchange" is
    exactly the shuffle set) and the simple-string style
    ("Exchange hashpartitioning(...)")."""
    plan = physical_plan(df)
    n = len(re.findall(r"\(\d+\) Exchange\b", plan))
    if n == 0:
        n = len(
            re.findall(
                r"\bExchange (?:hash|range|SinglePartition)", plan
            )
        )
    return n


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters lines from the scan nodes."""
    plan = physical_plan(df)
    return "\n".join(
        line.strip() for line in plan.splitlines() if "PushedFilters" in line
    )


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (ReadSchema) — verifies
    column pruning."""
    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(
            c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()
        )
    return sorted(set(cols))


def has_wholestage_codegen(df: DataFrame) -> bool:
    """True if the executed plan contains WholeStageCodegen stages.
    Under AQE the final plan only exists after execution, so this
    materializes the frame (cheap at test scale) and inspects the
    post-execution plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators print with a "*(stageId)" prefix.  Note:
    # under AQE the pre-execution plan hides codegen — build the
    # frame with spark.sql.adaptive.enabled=false when asserting
    # this (see tests/test_plans.py).
    return "WholeStageCodegen" in plan or re.search(r"\*\(\d+\)", plan) is not None
