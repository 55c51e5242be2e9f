"""Bucketed tables: the ingest-time co-location strategy for repeated joins.

At 100 TB the dominant join cost is the shuffle. Bucketing pays that
shuffle ONCE at ingest: both tables are hash-clustered into the same
number of buckets on the join key (``bucketBy`` + ``sortBy``), so every
subsequent join between them is exchange-free — each task sort-merges
bucket i of A with bucket i of B in place. This module stages bucketed
twins of the catalog tables under ``.scratch`` and registers the join as
a first-class query whose plan is asserted shuffle-free on the join path
(tests/test_plans.py).

Reference scope: the reference has no bucketing (its only join,
etl.py:199-200, reshuffles both sides every run) — this is the engine's
scale extension of that join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..common import dsum, o_dsum
from ..registry import query
from ..staging import _sf_tag

from ..scratch import SCRATCH as _SCRATCH  # run-ID-keyed (r9): no cross-session staging races

_N_BUCKETS = 8


def stage_bucketed(
    spark: SparkSession, sf_dir: str, name: str, key: str, n_buckets: int = _N_BUCKETS
) -> str:
    """Write a bucketed external twin of a catalog table; return its
    catalog name. Reused within a session (catalog hit); rewritten by a
    fresh session (deterministic staging, in-memory catalog).

    The tag is the md5 sf tag, not the path basename: two catalogs with
    the same basename in one session would otherwise hit the
    tableExists short-circuit and serve each other's data (the
    q_stats_cbo bug class, found by the multi-variant sweep)."""
    tag = _sf_tag(sf_dir)
    tbl = f"bucketed_{tag}_{name}"
    if spark.catalog.tableExists(tbl):
        return tbl
    path = os.path.join(_SCRATCH, "bucketed", tag, name)
    (
        table(spark, sf_dir, name)
        .write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(tbl)
    )
    return tbl


@query(
    "q_join_bucketed",
    # Bucketing changes WHERE the shuffle happens (ingest, not query),
    # never the result — the plain join is the oracle.
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {o_dsum('l.l_extendedprice')} AS sum_price
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free fact⋈fact join via ingest-time bucketing.

    orders and lineitem are staged bucketed on the join key with equal
    bucket counts; the join plan then contains no Exchange on either
    input — the single remaining shuffle is the final (tiny) aggregate.
    This is the repeated-join workhorse at scale: one ingest shuffle
    amortized over every subsequent join.
    """
    to = stage_bucketed(spark, sf_dir, "orders", "o_orderkey")
    tl = stage_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    o = spark.table(to)
    lt = spark.table(tl)
    joined = o.join(lt, o.o_orderkey == lt.l_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
    )
