"""Physical-plan inspection utilities.

The 100 TB story rests on plan properties, not code style: filters
reaching the parquet scan, small sides broadcasting, aggregates
running partial-then-final, whole-stage codegen covering the hot
path. These helpers make those properties assertable in tests
(tests/test_plan_quality.py) so a regression that silently turns a
broadcast join into a 100 TB shuffle fails CI instead of a cluster.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `.explain("formatted")` text of the final (AQE-initial)
    physical plan."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry in the scan nodes."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line[len("PushedFilters:"):].strip())
    return out


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return any(fragment in p for p in pushed_filters(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — for column-pruning assertions."""
    return [
        line.strip()[len("ReadSchema:"):].strip()
        for line in formatted_plan(df).splitlines()
        if line.strip().startswith("ReadSchema:")
    ]


def join_kinds(df: DataFrame) -> list[str]:
    """Physical join operators in the plan (BroadcastHashJoin,
    SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin...)."""
    kinds = []
    for line in formatted_plan(df).splitlines():
        s = line.strip().lstrip("*+- (0123456789)").strip()
        for k in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        ):
            if s.startswith(k):
                kinds.append(k)
    return kinds


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes (excludes broadcast
    exchanges). Counts only the detail-section headers `(N) Exchange`
    — each node appears exactly once there, whereas the tree section
    repeats it and would double-count."""
    return sum(
        1
        for line in formatted_plan(df).splitlines()
        if _re.match(r"\(\d+\) Exchange\b", line.strip())
    )
