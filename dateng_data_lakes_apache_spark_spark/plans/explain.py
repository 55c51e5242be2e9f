"""Plan-inspection helpers: assert the physical plan is the one you want.

Used by tests/test_plans.py to enforce the engine's scale posture —
pushdown reached the scan, small dims broadcast, top-k never global-sorts
— and by the plan snapshots and plan lint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `.explain("formatted")` text of a DataFrame."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in the parquet scan ReadSchema (column-pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            inside = line.split("struct<", 1)
            if len(inside) == 2:
                body = inside[1].rsplit(">", 1)[0]
                cols.extend(f.split(":")[0].strip() for f in body.split(",") if ":" in f)
    return cols
