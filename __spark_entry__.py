"""Driver contract for the spark-graft builder (PySpark target).

Delegates to the engine package: every operator in SURVEY.md §2.3
registers a named query (and, when SQL-expressible, a DuckDB oracle)
in ``dateng_data_lakes_apache_spark_spark.registry``.

Cache-ownership contract (ADVICE r2, hardened r4): queries that build
reusable indexes (LSH band tables, bucket indexes, graph edge lists)
persist them through the session-scoped registry in
``dateng_data_lakes_apache_spark_spark.caching`` — the cache must
outlive the builder so the returned lazy DataFrame's action reuses it.
A long-lived session releases them explicitly::

    from dateng_data_lakes_apache_spark_spark import cached_indexes
    with cached_indexes():
        df = queries()["q_dedup_minhash"](spark, sf_dir); df.collect()
    # all index caches released here

or calls ``release_caches()`` (idempotent). Harnesses that run many
queries in one session use the two lifecycle boundaries in ``caching``:
``release_session_caches(spark)`` after each measurement, and
``reset_session_state(spark)`` when the next query must also rebuild
every staged artifact, as a fresh session would. One-shot drivers (this
contract's usage) never accumulate more than one query's indexes.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dateng_data_lakes_apache_spark_spark.registry import get_oracles, get_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped grouped aggregation) on sf0.001.

    Registered queries self-apply the engine's semantic session confs
    (UTC timezone, nanos-parquet compat), so any driver-built session works.
    """
    qs = get_queries()
    return qs["q_agg_groupby"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.3."""
    return get_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle per SQL-expressible query; others are rows-only."""
    return get_oracles()
