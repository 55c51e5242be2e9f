"""Directory-of-parquet-tables catalog.

The reference's "catalog" is implicit: paths hard-coded per table and
temp views registered ad hoc (ETL_from_Notebook.py:255-256). Here the
catalog is explicit: a scale-factor directory holds one parquet
file/dir per table; ``table()`` reads one, ``register_views()`` exposes
all of them to the SQL surface so DataFrame and SQL queries share one
plan space (SURVEY §3.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Raw (pre-normalization) schema per absolute table path, with the
#: file manifest it was inferred from (see :func:`raw_table`).
_SCHEMAS: dict[str, tuple[list, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_manifest(sf_dir: str, name: str) -> list:
    """(basename, inode, mtime_ns) of a table's data files: one parquet
    file, or the visible ``*.parquet`` part files of a directory. The
    source identity every schema memo and events staging is checked
    against. A mutable catalog (the degenerate sweeps rebuild theirs in
    place) otherwise serves stale schemas or staged bytes forever (r8
    hostile sweep: marker-gated stagings replayed the PREVIOUS catalog
    shape)."""
    src = table_path(sf_dir, name)
    if os.path.isdir(src):
        srcs = sorted(
            os.path.join(src, n)
            for n in os.listdir(src)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
    else:
        srcs = [src]
    return [
        [os.path.basename(s), os.stat(s).st_ino, os.stat(s).st_mtime_ns]
        for s in srcs
    ]


def normalize_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a TIMESTAMP(NANOS) parquet column to session-zoned
    TimestampType, across Spark versions:

    - ``nanosAsLong`` honored (this runtime, and Spark ≤4.0): arrives as
      long nanos → TRUNCATE toward zero to micros. Truncation, not floor:
      DuckDB's ns→us cast truncates (probed on DuckDB 1.0.0: −1 ns → 0 µs,
      −1001 ns → −1 µs, −1500000123 ns → −1500000 µs), and the DuckDB
      oracle is the parity contract — a floor here diverges on every
      pre-1970 timestamp with a sub-µs remainder (tests/test_catalog.py).
      Integer arithmetic is mandatory: nanosecond epochs (~1.7e18) exceed
      double's exact-integer range.
    - Spark ≥4.1 (legacy conf inert): arrives as TIMESTAMP_NTZ already
      floored to micros → cast to TimestampType. The session timezone is
      pinned to UTC (session.SEMANTIC_RUNTIME_CONF), so the cast
      reinterprets the wall-clock value as UTC — byte-identical to the
      long-nanos path.

    Watermarks (``withWatermark``) require TimestampType, so every events
    consumer — batch and streaming — goes through this normalization."""
    if isinstance(df.schema[col].dataType, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if isinstance(df.schema[col].dataType, LongType):
        # `div` on longs truncates toward zero == DuckDB's ns→us cast.
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table as stored, before any normalization.

    Spark infers the schema from the parquet footers once per (absolute
    path, :func:`table_manifest`), and every later read supplies it. An
    inferring read fires one footer job; a read with a supplied schema
    fires none. Rewriting any data file changes the manifest, so the
    next read infers again and a stale schema is never served. A path
    that is not a local file or directory (an object-store URI) always
    infers."""
    path = table_path(sf_dir, name)
    if not os.path.exists(path):
        return spark.read.parquet(path)
    key, manifest = os.path.abspath(path), table_manifest(sf_dir, name)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == manifest:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (manifest, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table: :func:`raw_table` with the events
    ``ts`` normalized. The schema is Spark's own inference from the
    footers, memoized per file manifest, so only the first read of an
    unchanged table fires a job."""
    df = raw_table(spark, sf_dir, name)
    if name == "events":
        df = normalize_nanos_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            table(spark, sf_dir, name).createOrReplaceTempView(name)
