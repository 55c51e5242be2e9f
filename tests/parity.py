"""Local replica of the driver's DuckDB-oracle comparison (SURVEY §5.3-t2).

Runs a registered Spark query and its DuckDB oracle on the same parquet
tables and compares row count, column names, and order-insensitive
values — slightly STRICTER than the driver's value-hash (elementwise
equality with a clear diff on failure).
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb
import pandas as pd

from dateng_data_lakes_apache_spark_spark.catalog import TABLES, table_path


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the catalog's tables; a table that Spark wrote
    as a parquet directory (the degenerate catalogs) is globbed."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = table_path(sf_dir, t)
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def _canon_value(v: Any) -> Any:
    """Canonicalize a cell so Spark/DuckDB representations compare equal."""
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        if v == 0.0:
            v = 0.0  # -0.0 == 0.0 numerically; repr would split them
        return ("f", repr(v))
    if isinstance(v, bytes):
        return ("b", v.hex())
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if hasattr(v, "isoformat"):  # datetime/date
        return ("t", v.isoformat())
    if type(v).__module__ == "numpy":
        if getattr(v, "ndim", 0):  # DuckDB returns list columns as ndarrays
            return tuple(_canon_value(x) for x in v.tolist())
        return _canon_value(v.item())
    return v


def _canon_frame(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_canon_value(row[c]) for c in cols)
        for _, row in df.astype(object).where(pd.notna(df), None).iterrows()
    ]
    return sorted(rows, key=repr)


def oracle_diff(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """Why the Spark result differs from the DuckDB oracle's (column
    names, row count, then order-insensitive values with up to 5
    differing rows shown), or None when they match."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"column mismatch: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"row count mismatch: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    s_rows = _canon_frame(spark_pdf)
    d_rows = _canon_frame(duck_pdf)
    if s_rows == d_rows:
        return None
    diffs = [(i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b][:5]
    return f"value mismatch ({len(diffs)}+ differing rows shown):\n" + "\n".join(
        f"  row {i}:\n    spark={a}\n    duck ={b}" for i, a, b in diffs
    )


def compare_query(spark, sf_dir: str, fn, oracle: str) -> None:
    """Assert Spark result == DuckDB oracle result (order-insensitive)."""
    spark_pdf = fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        duck_pdf = con.execute(oracle).df()
    finally:
        con.close()
    diff = oracle_diff(spark_pdf, duck_pdf)
    if diff is not None:
        raise AssertionError(diff)
