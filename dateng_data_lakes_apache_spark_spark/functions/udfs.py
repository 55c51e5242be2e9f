"""UDF surface: vectorized scalar pandas_udf and grouped applyInPandas.

The reference has no UDFs (SURVEY §2.2). Rules of the engine:
- scalar Python logic → ``pandas_udf`` (Arrow batches, numpy kernels);
- grouped custom logic → ``applyInPandas`` (one pandas frame per group);
- never row-at-a-time ``F.udf`` in a hot path (10-100× slower).
Both registered queries use deterministic kernels so the driver's
rows-only checks are stable across runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import table
from ..registry import query


@pandas_udf(DoubleType())
def sigmoid_scaled(v: pd.Series) -> pd.Series:
    """Vectorized numpy kernel: sigmoid of a z-score-ish rescale."""
    x = (v.to_numpy(dtype="float64") - 250.0) / 100.0
    return pd.Series(np.round(1.0 / (1.0 + np.exp(-x)), 6))


@query(
    "q_udf_scalar",
    # The kernel is deterministic closed-form math, so the Python UDF has
    # an exact SQL twin: both engines evaluate the same double expression.
    oracle="""
    SELECT event_id, value,
           round(1.0 / (1.0 + exp(-((value - 250.0) / 100.0))), 6) AS value_sigmoid
    FROM events
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf over events.value (Arrow-batched, numpy inside)."""
    e = table(spark, sf_dir, "events")
    # No final orderBy: the driver's rows-only check is order-insensitive;
    # a full-table range sort would be pure shuffle cost at scale.
    return e.select(
        "event_id",
        "value",
        sigmoid_scaled(F.col("value")).alias("value_sigmoid"),
    )


_GROUP_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("median_value", DoubleType()),
        StructField("p90_value", DoubleType()),
        StructField("mad_value", DoubleType()),
    ]
)


def _group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Robust stats (median / p90 / MAD) — not built into Spark SQL's
    exact aggregate set, the canonical applyInPandas use case.

    NULL-skipping like every SQL order statistic: NULLs arrive as NaN
    and would poison np.median (hostile sweep find — same class as the
    cents() kernel); n still counts ALL rows, matching COUNT(*)."""
    arr = pdf["value"].to_numpy(dtype="float64")
    v = np.sort(arr[~np.isnan(arr)])
    if len(v) == 0:
        med = p90 = mad = None
    else:
        med = float(np.median(v))
        p90 = round(float(np.percentile(v, 90)), 6)
        mad = round(float(np.median(np.abs(v - med))), 6)
        med = round(med, 6)
    return pd.DataFrame(
        {
            "event_type": [pdf["event_type"].iloc[0]],
            "n": [len(pdf)],
            "median_value": [med],
            "p90_value": [p90],
            "mad_value": [mad],
        }
    )


@query(
    "q_udaf_grouped",
    # Robust stats are order statistics (no float accumulation), so the
    # numpy kernel has an exact DuckDB twin: median == quantile_cont(0.5),
    # np.percentile(90) == quantile_cont(0.9) (same linear interpolation),
    # MAD == median of absolute deviations.
    oracle="""
    WITH fin AS (
      -- finite-or-NULL observations only (nonfinite catalog, r9):
      -- numpy's median of a NaN-bearing array is NaN while DuckDB's
      -- median skips nothing and sorts NaN greatest — order statistics
      -- are defined over finite observations here
      SELECT event_type, value FROM events
      WHERE value IS NULL OR isfinite(value)
    ),
    med AS (
      SELECT event_type, median(value) AS med FROM fin GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           round(median(e.value), 6) AS median_value,
           round(quantile_cont(e.value, 0.9), 6) AS p90_value,
           round(median(abs(e.value - m.med)), 6) AS mad_value
    FROM fin e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregation via applyInPandas, one shuffle on the
    group key. Groups here are event types (5) — each group's frame fits
    a worker; for high-cardinality keys this pattern holds because state
    is per-group, not per-partition."""
    from ..common import finite

    # finite-or-NULL only (see the oracle comment — r9 nonfinite find)
    e = table(spark, sf_dir, "events").where(
        F.col("value").isNull() | finite(F.col("value"))
    )
    return (
        e.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandas(_group_stats, schema=_GROUP_SCHEMA)
        .orderBy("event_type")
    )


@query(
    "q_udtf_segments",
    oracle="""
    WITH words AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents WHERE doc_id % 10 = 0
    ), starts AS (
      SELECT doc_id, ws, len(ws) AS n,
             unnest(range(0, greatest(len(ws), 1), 20)) AS start
      FROM words
    )
    SELECT doc_id, CAST(start / 20 AS INT) AS seg_idx,
           CAST(least(20, n - start) AS INT) AS seg_tokens,
           array_to_string(list_slice(ws, start + 1, start + 20), ' ') AS seg_text
    FROM starts WHERE start < n
    """,
)
def q_udtf_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function): one→many row
    expansion written as a Python class, applied per row with LATERAL —
    a 20-token segmenter over a doc subset, oracle-matched exactly.

    This registers the API surface, with its cost stated plainly: UDTFs
    run row-at-a-time Python (no Arrow batching in the non-vectorized
    form), so the HOF chunker (q_chunk_documents — same semantics, pure
    column expressions) is the 100 TB path; the UDTF slot is for logic
    that genuinely cannot be expressed as expressions (external parsers,
    stateful per-row generators). The doc_id filter keeps the Python
    row count bounded in the harness.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="seg_idx int, seg_tokens int, seg_text string")
    class Segments:
        def eval(self, text: str):
            words = [w for w in (text or "").split(" ") if w]
            for i in range(0, max(len(words), 1), 20):
                seg = words[i : i + 20]
                if seg:
                    yield (i // 20, len(seg), " ".join(seg))

    spark.udtf.register("segments", Segments)
    table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0).select(
        "doc_id", "text"
    ).createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        "SELECT doc_id, s.seg_idx, s.seg_tokens, s.seg_text "
        "FROM docs_for_udtf, LATERAL segments(text) s"
    )


@query(
    "q_cogroup_reconcile",
    # The kernel's output is SQL-expressible (per-customer counts +
    # decimal totals from two tables merged full-outer), so the cogroup
    # API surface gets an EXACT oracle, not a rows-only pass.
    oracle="""
    WITH o AS (
      SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS total_spend
      FROM orders WHERE o_custkey % 10 = 0 GROUP BY o_custkey
    ),
    c AS (
      SELECT c_custkey AS custkey, COUNT(*) AS n_accounts,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS total_bal
      FROM customer WHERE c_acctbal > 5000 AND c_custkey % 10 = 0
      GROUP BY c_custkey
    )
    SELECT COALESCE(o.custkey, c.custkey) AS custkey,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           COALESCE(o.total_spend, 0.0) AS total_spend,
           CAST(COALESCE(c.n_accounts, 0) AS BIGINT) AS n_accounts,
           COALESCE(c.total_bal, 0.0) AS total_bal
    FROM o FULL OUTER JOIN c ON o.custkey = c.custkey
    """,
)
def q_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table grouped reconciliation via ``cogroup().applyInArrow``
    — the API surface for custom merge logic that needs BOTH sides of a
    key as whole-group tables at once (ledger reconciliation,
    interleaved event alignment, custom as-of semantics beyond SQL).

    Each key's (orders, accounts) table pair arrives Arrow-batched in
    one task after a single co-partitioned shuffle on the key — the
    same shuffle a join would pay, but the kernel sees whole groups
    instead of row pairs. The kernel here computes an exactly
    SQL-expressible reconciliation (counts + decimal totals, full-outer
    semantics: keys present on either side emit), so the driver gets a
    hash-checked row for the API surface itself. numpy math on the raw
    Arrow buffers keeps totals engine-exact.

    Measured cost floor (r10 A/B, BASELINE.md "q_cogroup_reconcile
    Arrow-batch / partition-count A/B"): per-GROUP Python
    dispatch. ``arrow.maxRecordsPerBatch`` is a no-op for this shape
    (one kernel call per key regardless); partition count is one knob —
    fewer partitions amortize Python-worker spin-up over more groups
    (sf1x: 8 parts ~21.5 s vs 128 parts ~33 s); the session default
    already scales, so nothing is hardcoded here. The r11 optimization
    pass took the other knob, the per-group kernel cost: the SAME
    reconciliation via ``applyInArrow`` (guide §4.2 — no pandas frame
    construction/conversion per group, one pa.Table built per key)
    measured 4.1 → 1.6 s at sf0.1, identical results (oracle-verified).
    """
    import numpy as np

    # Deterministic customer subset: the cogroup kernel is a per-group
    # PYTHON call, priced accordingly (~1.6 ms/group measured with the
    # original per-element Decimal loop; the vectorized integer-cents
    # kernel below cuts the arithmetic to numpy speed, leaving the
    # per-group call + 1-row-frame overhead as the floor). The subset
    # keeps the surface fully exercised without paying that price for
    # every customer; SQL-expressible kernels belong in
    # joins/aggregates, not here.
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 10 == 0)
        .select("o_custkey", "o_totalprice")
    )
    c = (
        table(spark, sf_dir, "customer")
        .where((F.col("c_acctbal") > 5000) & (F.col("c_custkey") % 10 == 0))
        .select("c_custkey", "c_acctbal")
    )

    import pyarrow as pa

    out_schema = (
        "custkey bigint, n_orders bigint, total_spend double, "
        "n_accounts bigint, total_bal double"
    )
    out_pa = pa.schema(
        [
            ("custkey", pa.int64()),
            ("n_orders", pa.int64()),
            ("total_spend", pa.float64()),
            ("n_accounts", pa.int64()),
            ("total_bal", pa.float64()),
        ]
    )

    def cents(col: "pa.ChunkedArray") -> int:
        # Exact-integer accumulation mirrors the engine's DECIMAL(30,8)
        # sums: both columns are 2-dp money, so round(v*100) recovers the
        # exact cents of every value (worst float error here is ~4e-9,
        # measured) and the int64 sum is exact; a naked float sum would
        # diverge from the oracle in the last ulp. NULL money values
        # arrive as NaN after to_numpy, and np.rint(NaN).astype("int64")
        # is undefined (typically INT64_MIN) — one dirty row would
        # silently corrupt the total. Drop NaNs first: that is exactly
        # the NULL-skipping semantics of the engine's SUM and the DuckDB
        # oracle.
        arr = col.to_numpy(zero_copy_only=False).astype("float64")
        arr = arr[~np.isnan(arr)]
        return int(np.rint(arr * 100.0).astype("int64").sum())

    def reconcile(key, orders_t: "pa.Table", cust_t: "pa.Table") -> "pa.Table":
        # int/100.0 is one correctly-rounded operation — the same double
        # the engine's Decimal(cents)/100 conversion produces.
        return pa.Table.from_pydict(
            {
                "custkey": [key[0].as_py()],
                "n_orders": [orders_t.num_rows],
                "total_spend": [cents(orders_t.column("o_totalprice")) / 100.0],
                "n_accounts": [cust_t.num_rows],
                "total_bal": [cents(cust_t.column("c_acctbal")) / 100.0],
            },
            schema=out_pa,
        )

    return (
        o.groupBy(F.col("o_custkey").alias("k"))
        .cogroup(c.groupBy(F.col("c_custkey").alias("k")))
        .applyInArrow(reconcile, schema=out_schema)
    )


@query(
    "q_map_in_arrow",
    oracle="""
    SELECT l_orderkey,
           CAST(l_quantity * 2 AS DOUBLE) AS double_qty,
           CAST(len(CAST(l_orderkey AS VARCHAR)) AS INT) AS key_digits
    FROM lineitem
    WHERE l_linenumber = 1
    """,
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` surface: the zero-copy sibling of mapInPandas —
    the kernel receives raw ``pyarrow.RecordBatch``es, skipping the
    Arrow→pandas conversion entirely. The right slot for kernels that
    are already columnar (pyarrow.compute, numpy-on-buffers, FFI into
    native code): per-batch overhead is allocation-free on the Python
    side.

    The kernel is deliberately SQL-expressible (doubled quantity +
    digit count via pyarrow.compute) so the API surface itself gets an
    exact driver oracle. Map-only: no shuffle, pushdown reaches the
    scan on l_linenumber.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    l = (  # noqa: E741
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_linenumber") == 1)
        .select("l_orderkey", "l_quantity")
    )

    def kernel(batches):
        for batch in batches:
            keys = batch.column("l_orderkey")
            yield pa.RecordBatch.from_arrays(
                [
                    keys,
                    pc.multiply(pc.cast(batch.column("l_quantity"), pa.float64()), 2.0),
                    pc.cast(pc.utf8_length(pc.cast(keys, pa.string())), pa.int32()),
                ],
                names=["l_orderkey", "double_qty", "key_digits"],
            )

    return l.mapInArrow(
        kernel, schema="l_orderkey bigint, double_qty double, key_digits int"
    )
