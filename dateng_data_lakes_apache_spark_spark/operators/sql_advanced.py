"""Advanced SQL surfaces: recursive CTEs, LATERAL subqueries, VARIANT.

The reference's SQL surface is one flat SELECT over temp views
(ETL_from_Notebook.py:255-278). These queries extend the engine's SQL
grammar to the three constructs modern warehouse SQL adds on top:
iteration (WITH RECURSIVE, Spark 4), per-row subquery application
(LATERAL), and semi-structured typed access (VARIANT, Spark 4). All
three run through spark.sql over the registered catalog views, so they
share the temp-view entry path q_sql_surface pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import register_views, table
from ..registry import query
from ..sources.readers import write_parquet
from ..staging import _sf_tag, stage_once


@query(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(p_partkey, root, depth) AS (
      SELECT p_partkey, p_partkey AS root, 0 AS depth
      FROM part WHERE p_partkey < 10
      UNION ALL
      SELECT p.p_partkey, w.root, w.depth + 1
      FROM part p JOIN walk w ON CAST(FLOOR(p.p_partkey / 10) AS BIGINT) = w.p_partkey
      WHERE p.p_partkey >= 10
    )
    SELECT root, depth, COUNT(*) AS n_nodes, MIN(p_partkey) AS min_key,
           MAX(p_partkey) AS max_key
    FROM walk GROUP BY root, depth
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening via WITH RECURSIVE (Spark 4): walk the
    implicit decimal tree over part keys (parent = key div 10) from the
    single-digit roots down, emitting (root, depth) descendant counts —
    the BOM-explosion / org-chart shape, which no fixed-depth join chain
    can express.

    Each recursion step is one equi-join of the frontier against part —
    Catalyst plans every level as a hash join, and the frontier shrinks
    to empty in ceil(log10(max key)) steps, so the total work is
    O(levels) joins, not an unbounded loop. The oracle is the identical
    recursive CTE in DuckDB.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE walk(p_partkey, root, depth) AS (
          SELECT p_partkey, p_partkey AS root, 0 AS depth
          FROM part WHERE p_partkey < 10
          UNION ALL
          SELECT p.p_partkey, w.root, w.depth + 1
          FROM part p JOIN walk w ON CAST(FLOOR(p.p_partkey / 10) AS BIGINT) = w.p_partkey
          WHERE p.p_partkey >= 10
        )
        SELECT root, depth, COUNT(*) AS n_nodes, MIN(p_partkey) AS min_key,
               MAX(p_partkey) AS max_key
        FROM walk GROUP BY root, depth
        """
    )


@query(
    "q_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row subquery application: for each nation, the LATERAL
    subquery's own ORDER BY ... LIMIT 2 picks its two richest customers
    — the top-k-per-group shape expressed as correlated iteration
    instead of a window.

    Catalyst decorrelates the lateral into a window row_number ≤ 2 over
    a hash join rather than re-running the subquery 25 times — LATERAL
    is sugar the optimizer must flatten, and the oracle plus the
    deterministic c_custkey tiebreak proves the flattening preserved
    per-group semantics. Plan caveat, observed: the rewrite keeps the
    subquery's ORDER BY as an extra range-partitioned sort below the
    window exchange (Spark 4.1), so the hand-written window form
    (q_window_topk_per_group, which plans WindowGroupLimit and no
    global sort) remains the 100 TB-preferred spelling; this query is
    the SQL-surface twin, not the scale path.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_name, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        """
    )


@query(
    "q_variant_funcs",
    oracle="""
    SELECT CAST(json_extract_string((CASE WHEN json_valid(props) THEN props END), '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n_events,
           CAST(MAX(CAST(json_extract_string((CASE WHEN json_valid(props) THEN props END), '$.k') AS INT)) AS INT) AS max_k
    FROM events
    WHERE json_extract_string((CASE WHEN json_valid(props) THEN props END), '$.missing') IS NULL
    GROUP BY 1
    """,
)
def q_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through VARIANT (Spark 4): props parsed
    once with parse_json into a binary-encoded variant, then typed
    variant_get extraction — the modern replacement for per-path
    get_json_object string re-parsing (one parse per row instead of one
    per path, and the extracted value is already an int, not a string
    cast).

    At 100 TB the difference is real scan CPU: variant decode is a
    binary offset walk, JSON re-parse is a text scan per path. The
    missing-path probe documents NULL semantics (absent path → NULL,
    matching JSON oracle behavior). ``try_parse_json`` (not
    ``parse_json``) so a malformed or empty props string degrades to a
    NULL variant instead of failing the whole scan FAILFAST — at scale
    one bad record must never kill the job; pair with an audit count
    (the q_csv_malformed_audit pattern) when bad-record rates matter.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH v AS (SELECT try_parse_json(props) AS pv FROM events)
        SELECT variant_get(pv, '$.k', 'int') % 10 AS k_bucket,
               COUNT(*) AS n_events,
               MAX(variant_get(pv, '$.k', 'int')) AS max_k
        FROM v
        WHERE variant_get(pv, '$.missing', 'string') IS NULL
        GROUP BY 1
        """
    )


@query(
    "q_stats_cbo",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS sum_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
)
def q_stats_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based optimization with cataloged statistics: the tables are
    registered in the session catalog, ANALYZE TABLE computes row counts
    and per-join-column min/max/NDV, and with CBO + join reordering on,
    Catalyst re-orders the 3-way star join from its syntactic order
    (orders first) to the stats-optimal one — customer⋈nation (25-row
    dim) reduced FIRST, orders joined last against the smallest
    intermediate (asserted on the optimized plan in
    tests/test_plans.py::test_cbo_reorders_star_join).

    At 100 TB this is the planner layer that partition pruning and AQE
    cannot replace: AQE fixes sizes at shuffle boundaries mid-query,
    but only cardinality statistics can pick the right JOIN ORDER
    before execution — the difference between an intermediate of |orders|
    rows and one of |orders ⋈ filtered-dims| rows entering the big
    shuffle. ANALYZE cost is one scan per table, amortized across every
    query that uses the stats (production lakes refresh on ingest).
    """
    stat_cols = {
        "customer": "c_custkey, c_nationkey",
        "orders": "o_custkey, o_totalprice",
        "nation": "n_nationkey, n_name",
    }
    # Catalog table names carry the sf tag: a bare `{t}_cbo` would be
    # reused across DIFFERENT catalogs in one session (tableExists
    # short-circuits), silently serving another sf_dir's data — found
    # by the multi-variant degenerate sweep, where the ties run read
    # the empty variant's tables.
    tag = _sf_tag(sf_dir)
    # CBO stays ON session-wide deliberately (the returned frame plans
    # LAZILY, so a restore-after would un-CBO it at the driver's
    # action): with statistics only on the *_cbo tables, it is a no-op
    # for every path-based scan in the registry.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    for t, cols in stat_cols.items():
        name = f"{t}_cbo_{tag}"
        if not spark.catalog.tableExists(name):
            path = stage_once(
                sf_dir, t, f"cbo_{t}",
                lambda p: write_parquet(table(spark, sf_dir, t), p),
            )
            spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{path}'")
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
    return spark.sql(
        f"""
        SELECT n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS sum_price
        FROM orders_cbo_{tag} o
        JOIN customer_cbo_{tag} c ON o.o_custkey = c.c_custkey
        JOIN nation_cbo_{tag} n ON c.c_nationkey = n.n_nationkey
        GROUP BY n_name
        """
    )
