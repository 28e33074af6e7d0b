"""Physical-plan inspection.

The reference asserts EXPLAIN output shapes in golden files
(integration_tests/cases/common/optimizer/optimizer.sql — ProjectionExec /
AggregateExec mode=Partial → RepartitionExec → mode=FinalPartitioned;
cases/env/local/ddl/query-plan.sql — scan pruning via explain analyze).
Spark plan strings are version-volatile, so our tests assert *properties*
(SURVEY §7.5): filters were pushed to the scan, the scan schema is pruned,
aggregation is partial→final, top-k uses TakeOrderedAndProject.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (PushedFilters: [...])."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters:\s*\[([^\]]*)\]", text):
        out.extend(x.strip() for x in m.group(1).split(",") if x.strip())
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (ReadSchema) — column pruning."""
    text = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema:\s*struct<([^>]*)>", text):
        for fieldspec in m.group(1).split(","):
            name = fieldspec.split(":")[0].strip()
            if name:
                cols.append(name)
    return sorted(set(cols))


def has_partial_and_final_agg(df: DataFrame) -> bool:
    """Partial→final hash aggregation (the reference golden plan's
    AggregateExec mode=Partial/FinalPartitioned pair)."""
    text = explain_str(df, "simple")
    return len(re.findall(r"HashAggregate|ObjectHashAggregate|SortAggregate", text)) >= 2


def uses_top_k(df: DataFrame) -> bool:
    """ORDER BY + LIMIT planned as TakeOrderedAndProject (no global sort)."""
    return "TakeOrderedAndProject" in explain_str(df, "simple")
