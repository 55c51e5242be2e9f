"""Source/sink round-trip queries: driver-verifiable coverage for the
non-parquet I/O paths.

The reference's ingest surface is schema-applied JSON (etl.py:91-98,
149-153), CSV (Test_S3_Access.py:53), multi-path scans
(ETL_from_Notebook.py song-path lists), and CSV/parquet sinks. The
catalog queries all read parquet, so those paths had no hard
correctness signal — each query here pushes a catalog table through
one of them (engine sink → engine source → aggregate) and oracles the
aggregate against the original parquet. A round trip through a
lossless format must be the identity, so the plain-parquet SQL is the
exact oracle; any writer/reader defect (quoting, schema application,
timestamp format, path-list handling) breaks the hash.

Each sink copy is staged through :func:`staging.stage_once`: written
once per manifest of the catalog table it derives from, and rewritten
when that table's files change (the degenerate sweeps rebuild their
catalogs in place). Kinds shared by two queries have one writer each.

Scale note: each round trip is sink + scan + one aggregate shuffle —
the formats differ only in scan cost (CSV/JSON parse is ~5-10× parquet
decode and never column-pruned, which is exactly the trade-off these
queries document; the engine's at-rest format remains parquet,
SURVEY §1.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import track
from ..catalog import table
from ..common import bound_part, dsum, o_bound_part, o_dsum
from ..registry import query
from ..staging import stage_once
from .readers import read_csv, read_json, read_parquet, write_csv, write_parquet


def _stage_customer_csv(spark: SparkSession, sf_dir: str) -> str:
    """customer through the engine's CSV writer (q_csv_roundtrip,
    q_cross_format_parity)."""
    return stage_once(
        sf_dir, "customer", "customer_csv",
        lambda p: write_csv(table(spark, sf_dir, "customer"), p),
    )


def _stage_orders_part(spark: SparkSession, sf_dir: str) -> str:
    """orders hive-partitioned on o_orderpriority (q_partitioned_pruned,
    q_join_dpp). Partition VALUES are bounded at ingest
    (common.bound_part — r10 longtext find: a 10k-char value exceeds the
    filesystem's 255-byte path-segment cap and aborts the write). Real
    keys (the priorities) pass verbatim."""
    return stage_once(
        sf_dir, "orders", "orders_part",
        lambda p: write_parquet(
            table(spark, sf_dir, "orders").withColumn(
                "o_orderpriority", bound_part(F.col("o_orderpriority"))
            ),
            p,
            partition_by=["o_orderpriority"],
        ),
    )


def _stage_orders_clustered(spark: SparkSession, sf_dir: str) -> str:
    """orders range-clustered on o_custkey into 8 files
    (q_clustered_write, q_manifest_pruned_scan)."""
    return stage_once(
        sf_dir, "orders", "orders_clustered",
        lambda p: table(spark, sf_dir, "orders")
        .repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(p),
    )


@query(
    "q_csv_roundtrip",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_cust,
           {o_dsum('c_acctbal')} AS sum_acctbal,
           MAX(c_name) AS max_name
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV sink → schema-applied CSV scan → aggregate.

    Exercises the engine's CSV writer/reader pair (reference
    Test_S3_Access.py:53-55 round-trips a CSV the same way). The read
    applies the explicit schema — header-based inference is banned on
    the ingest path for the same reason the reference applies schemas
    to JSON (SURVEY §1.3): inference costs an extra pass and guesses
    types per-file. Doubles survive exactly (writer emits the shortest
    round-trip decimal string); quoted commas in free-text columns are
    the writer's job, and the oracle catches any quoting defect.
    """
    path = _stage_customer_csv(spark, sf_dir)
    # multi_line: the engine's own CSV may quote newline-bearing text
    # (write_csv is byte-faithful since r10) — the roundtrip reader
    # must parse it; see read_csv for the splittability trade-off.
    c = read_csv(
        spark,
        path,
        schema="c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
        multi_line=True,
    )
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        dsum(F.col("c_acctbal")).alias("sum_acctbal"),
        F.max("c_name").alias("max_name"),
    )


@query(
    "q_json_roundtrip",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price,
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → NDJSON sink → schema-applied NDJSON scan → aggregate.

    The reference's entire ingest is schema-applied JSON (etl.py:91-98
    song files, 149-153 NDJSON logs, with the multiLine distinction of
    SURVEY §4.3-Q1); this is that path on engine data, including a
    timestamp column through the JSON timestamp format — the exact
    class of bug the reference shipped (Q2: start_time left a string).
    """
    path = stage_once(
        sf_dir, "orders", "orders_json",
        lambda p: table(spark, sf_dir, "orders").write.mode("overwrite").json(p),
    )
    o = read_json(
        spark,
        path,
        schema="o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("max_date"),
    )


@query(
    "q_multipath_scan",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_multipath_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-list parquet scan (reference S3: explicit multi-path reads,
    ETL_from_Notebook.py's song-path lists) — orders staged as two
    disjoint parquet directories, read back as ONE datasource relation
    via ``load(path_list)``.

    The plan matters here: both directories land in a single
    FileSourceScanExec (one split pool, shared pruning/pushdown), not a
    Union of scans — so at 100 TB a thousand input directories still
    plan as one scan with one task pool.
    """
    parts = [
        stage_once(
            sf_dir, "orders", f"orders_p{parity}",
            lambda p: write_parquet(
                table(spark, sf_dir, "orders").where(
                    F.col("o_orderkey") % 2 == parity
                ),
                p,
            ),
        )
        for parity in (0, 1)
    ]
    o = read_parquet(spark, parts)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
    )


@query(
    "q_partitioned_pruned",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def q_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink (reference K2: etl.py:127,192 partitions
    songs by year/artist, songplays by year/month) → partition-PRUNED
    read-back: orders staged hive-partitioned on o_orderpriority, then a
    filter on the partition column must prune at the file index — the
    scan never opens the other partitions' files. At 100 TB this is the
    difference between reading 20 TB and reading 4 TB; the plan test
    asserts the scan's partition count, and the oracle proves pruning
    lost no rows.

    The partition column comes back as the directory-derived value
    (string here), which is why the aggregate groups on a NON-partition
    column: the query result is provably identical to an unpartitioned
    scan + filter.
    """
    # Partition values are bounded at ingest; the filter literal below
    # is its own bounded form.
    path = _stage_orders_part(spark, sf_dir)
    o = read_parquet(
        spark, path, empty_schema=table(spark, sf_dir, "orders").schema
    ).where(F.col("o_orderpriority") == "1-URGENT")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
    )


@query(
    "q_schema_evolution",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
                ELSE o_orderstatus END AS status,
           COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written with
    DIFFERENT schemas (v1 lacks o_orderstatus; v2 added it), scanned as
    one dataset with mergeSchema — the lake reality that columns appear
    over time and old files must keep reading. v1 rows surface NULL for
    the added column, mapped to a sentinel so the oracle (which
    simulates the batch split arithmetically) is exact.

    Scale note: mergeSchema reconciles footers at planning time (one
    footer read per file — cost scales with file COUNT, so at 100 TB
    pair it with a table-level schema registry or delta-style metadata
    rather than per-query inference); the scan itself stays columnar
    and pruned.
    """

    def write(path: str) -> None:
        o = table(spark, sf_dir, "orders")
        v1 = o.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        v2 = o.where(F.col("o_orderkey") % 2 != 0).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        write_parquet(v1, os.path.join(path, "batch=1"))
        write_parquet(v2, os.path.join(path, "batch=2"))

    path = stage_once(sf_dir, "orders", "orders_evolving", write)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=1"), os.path.join(path, "batch=2")
    )
    return merged.groupBy(
        F.coalesce(F.col("o_orderstatus"), F.lit("<pre-schema>")).alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
    )


@query(
    "q_clustered_write",
    oracle=f"""
    SELECT COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price,
           CAST(MIN(o_custkey) AS BIGINT) AS min_ck,
           CAST(MAX(o_custkey) AS BIGINT) AS max_ck
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 199
    """,
)
def q_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data clustering for file skipping (z-order-lite): orders staged
    with repartitionByRange + sortWithinPartitions on o_custkey, so each
    parquet file owns a disjoint custkey range and its row-group min/max
    statistics prune selective scans down to ~1/N of the files.

    At 100 TB this layout — not the query — is the optimization: a
    custkey-predicate scan over range-clustered files reads one file's
    row groups instead of all of them (parquet readers skip row groups
    whose min/max exclude the predicate). The non-overlap invariant is
    asserted from the actual parquet footers in
    tests/test_sources.py::test_clustered_write_file_ranges; the oracle
    proves the clustered copy lost nothing.
    """
    path = _stage_orders_clustered(spark, sf_dir)
    o = read_parquet(spark, path).where(F.col("o_custkey").between(100, 199))
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
        F.min("o_custkey").cast("bigint").alias("min_ck"),
        F.max("o_custkey").cast("bigint").alias("max_ck"),
    )


def zorder_key(ck_bucket, dt_bucket, bits: int = 8):
    """Interleave two ``bits``-wide bucket ids into a Morton (Z-order)
    key — pure shift/mask column arithmetic, whole-stage-codegen'd."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(ck_bucket, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(dt_bucket, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@query(
    "q_zorder_write",
    oracle=f"""
    SELECT COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_ok,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_ok
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 199
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def q_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE multi-dimensional clustering: orders staged in Morton
    (Z-order) layout over (o_custkey, o_orderdate), so file-level
    min/max statistics prune selective scans on EITHER dimension —
    which one-dimensional range clustering (q_clustered_write) can only
    do for its sort column.

    Each dimension is scaled to an 8-bit bucket id against its actual
    min/max (one tiny bounds aggregate, broadcast back), the two ids
    bit-interleave into a 16-bit Morton key, and the write
    range-partitions + sorts on that key: every file then owns a
    rectangle of (custkey × orderdate) space. Both-dimension skipping
    is asserted from the real parquet footers in
    tests/test_sources.py::test_zorder_write_skips_both_dims; this
    query proves the clustered copy lost nothing via a 2-D-predicate
    read-back against the original table.
    """

    def write(path: str) -> None:
        o = table(spark, sf_dir, "orders")
        day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        bounds = o.agg(
            F.min("o_custkey").alias("min_ck"),
            F.max("o_custkey").alias("max_ck"),
            F.min(day).alias("min_d"),
            F.max(day).alias("max_d"),
        )
        scaled = o.crossJoin(F.broadcast(bounds))
        ck_b = F.floor(
            (F.col("o_custkey") - F.col("min_ck"))
            * 256
            / (F.col("max_ck") - F.col("min_ck") + 1)
        ).cast("long")
        dt_b = F.floor(
            (day - F.col("min_d")) * 256 / (F.col("max_d") - F.col("min_d") + 1)
        ).cast("long")
        (
            scaled.withColumn("z", zorder_key(ck_b, dt_b))
            .drop("min_ck", "max_ck", "min_d", "max_d")
            .repartitionByRange(16, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.mode("overwrite")
            .parquet(path)
        )

    path = stage_once(sf_dir, "orders", "orders_zorder", write)
    o = read_parquet(spark, path).where(
        F.col("o_custkey").between(100, 199)
        & (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
        F.min("o_orderkey").cast("bigint").alias("min_ok"),
        F.max("o_orderkey").cast("bigint").alias("max_ok"),
    )


@query(
    "q_compact_files",
    oracle=f"""
    SELECT COUNT(*) AS n_orders,
           COUNT(DISTINCT o_orderkey) AS n_keys,
           {o_dsum('o_totalprice')} AS sum_price
    FROM orders
    """,
)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a 64-tiny-file staging of orders (the
    shape streaming ingest and over-parallel writers leave behind) is
    rewritten into size-targeted files, and the compacted copy is
    read back and proven identical to the source.

    File-count math: target = ceil(input_bytes / 32 MiB) (128-512 MiB
    in production; smaller here so the sf0.01 fixture still exercises
    a >1→fewer merge). The sizing input is the file manifest — a
    metadata listing, not a data read — and the rewrite is ONE
    round-robin repartition to exactly the target count: no sort, no
    hash skew, each output file within one row of equal size. Parquet
    row groups re-form at full size, so post-compaction scans plan
    target-count splits instead of 64 tiny ones — the actual win: at
    100 TB, footer/open overhead and scheduler pressure scale with
    file count, not bytes.
    """
    small = stage_once(
        sf_dir, "orders", "orders_smallfiles",
        lambda p: table(spark, sf_dir, "orders")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(p),
    )

    def compact(path: str) -> None:
        input_bytes = sum(
            e.stat().st_size
            for e in os.scandir(small)
            if e.name.endswith(".parquet")
        )
        target = max(1, -(-input_bytes // (32 * 1024 * 1024)))
        read_parquet(spark, small).repartition(target).write.mode(
            "overwrite"
        ).parquet(path)

    o = read_parquet(spark, stage_once(sf_dir, "orders", "orders_compacted", compact))
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
    )


@query(
    "q_orc_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           {o_dsum('l_extendedprice')} AS sum_price,
           {o_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC sink → ORC scan → aggregate.

    ORC is Spark's second first-class columnar format (native vectorized
    reader, predicate pushdown, column pruning — the same scan contract
    as parquet). The round-trip proves the engine can ingest from and
    publish to ORC lakes without a conversion hop: doubles, decimals and
    dictionary-encoded strings survive bit-exact, and the aggregate is
    hash-checked against the original parquet via DuckDB.
    """
    path = stage_once(
        sf_dir, "lineitem", "lineitem_orc",
        lambda p: table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .write.mode("overwrite")
        .orc(p),
    )
    l = spark.read.orc(path)  # noqa: E741
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


@query(
    "q_xml_roundtrip",
    oracle=f"""
    SELECT s_nationkey,
           COUNT(*) AS n_supp,
           {o_dsum('s_acctbal')} AS sum_acctbal,
           MAX(s_name) AS max_name
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → XML sink → schema-applied XML scan → aggregate.

    XML is Spark 4's newest built-in source (the former spark-xml
    package folded into core). The round-trip proves the engine can
    land on and ingest from XML feeds — still the lingua franca of
    B2B/EDI pipelines — with entity escaping and numeric fidelity
    checked by hashing the aggregate against the original parquet.
    Schema is applied on read: rowTag inference is banned on the ingest
    path for the same reason as CSV/JSON header inference.
    """
    path = stage_once(
        sf_dir, "supplier", "supplier_xml",
        lambda p: table(spark, sf_dir, "supplier")
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(p),
    )
    s = (
        spark.read.format("xml")
        .schema("s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double")
        .option("rowTag", "supplier")
        # default-on surrounding-space trimming silently rewrites
        # whitespace-bearing string values on read-back (r10 longtext
        # find: a '  \\n word \\n ' name came back as 'word') — a
        # ROUNDTRIP must be byte-faithful, so trimming is off.
        .option("ignoreSurroundingSpaces", "false")
        .load(path)
    )
    return s.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        dsum(F.col("s_acctbal")).alias("sum_acctbal"),
        F.max("s_name").alias("max_name"),
    )


@query(
    "q_join_dpp",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price
    FROM orders
    -- TRY_CAST: Spark's CAST('' AS INT) is NULL while DuckDB's raises;
    -- a priority with no numeric prefix simply fails the filter.
    -- o_bound_part BEFORE the split: the Spark side reads the staged
    -- bounded partition values, so the oracle predicate must see the
    -- same bounded string (ADVICE r10: a >bound priority whose first
    -- '-' lies beyond char 24 but whose first token still casts ≤ 2 —
    -- e.g. 25 leading zeros then '1-' — would otherwise pass raw here
    -- while the bounded side's first token becomes 'prefix#md5').
    WHERE TRY_CAST(string_split({o_bound_part('o_orderpriority')}, '-')[1] AS INT) <= 2
    GROUP BY o_orderstatus
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is hive-partitioned on
    o_orderpriority (same staging as q_partitioned_pruned), and the
    partition filter arrives only at RUNTIME — through a join against a
    dim whose predicate (urgency rank ≤ 2, parsed out of the priority
    string) is not statically pushable to the fact scan. Catalyst
    injects a dynamicpruningexpression subquery into the fact scan's
    PartitionFilters (plan-asserted in tests/test_plans.py), reusing
    the dim's broadcast exchange, so the fact scan opens only the 2
    matching partitions out of 5.

    This is THE mechanism behind star-schema economics at 100 TB: a
    date-dim predicate ("last quarter") prunes a date-partitioned fact
    to 1/12 of its files with zero static filter on the fact — without
    DPP the scan reads everything and the join discards 11/12 of it.
    The dim here derives from the fact's own partition column (a
    partition-listing-sized scan), standing in for a real dimension
    table; the oracle proves runtime pruning lost no rows.
    """
    # Shared staged table, partition values bounded at ingest. The
    # oracle applies o_bound_part before ITS split so both engines
    # evaluate the dim predicate on the same bounded string (ADVICE r10
    # closed the prefix-stability gap: a first token longer than the
    # 24-char prefix that still casts to an int ≤ 2 diverged under the
    # old raw-value oracle).
    path = _stage_orders_part(spark, sf_dir)
    fact = read_parquet(
        spark, path, empty_schema=table(spark, sf_dir, "orders").schema
    )
    dim = (
        fact.select(F.col("o_orderpriority").alias("p_priority"))
        .distinct()
        .where(F.split("p_priority", "-").getItem(0).cast("int") <= 2)
    )
    joined = fact.join(
        F.broadcast(dim), fact.o_orderpriority == dim.p_priority
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
    )


@query(
    "q_manifest_pruned_scan",
    oracle=f"""
    SELECT COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price,
           CAST(MIN(o_custkey) AS BIGINT) AS min_ck,
           CAST(MAX(o_custkey) AS BIGINT) AS max_ck
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 199
    """,
)
def q_manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-format-style metadata pruning (the Iceberg/Delta core idea
    in pure Spark): a MANIFEST — one row per data file with that file's
    per-column min/max — is built once as its own parquet table; query
    planning then reads the manifest (KB-sized), keeps only files whose
    [min,max] interval intersects the predicate, and hands the survivor
    path list to the scan.

    This prunes BEFORE any data file is opened — unlike parquet footer
    skipping, which still opens every file to read its footer. At 100 TB
    with ~100k files that's the difference between 100k footer reads and
    one manifest scan per query; it is why every production lake format
    keeps file-level stats in table metadata. The driver-side collect is
    of file PATHS (metadata, bounded by file count), never data rows.
    The oracle proves pruning lost no rows; the strict-subset property
    is asserted in tests/test_sources.py::test_manifest_prunes_files.
    """
    data_dir = _stage_orders_clustered(spark, sf_dir)
    manifest_dir = stage_once(
        sf_dir, "orders", "orders_manifest",
        lambda p: read_parquet(spark, data_dir)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("o_custkey").alias("min_ck"),
            F.max("o_custkey").alias("max_ck"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p),
    )
    lo, hi = 100, 199
    manifest = read_parquet(spark, manifest_dir)
    files = [
        r.file
        for r in manifest.where(
            (F.col("min_ck") <= hi) & (F.col("max_ck") >= lo)
        ).collect()
    ]
    if files:
        src = spark.read.parquet(*files)
    else:
        # Manifest pruned EVERY file (possible when no file's [min,max]
        # intersects the predicate): scanning zero files == empty input.
        src = read_parquet(
            spark, data_dir, empty_schema=table(spark, sf_dir, "orders").schema
        ).limit(0)
    pruned = src.where(F.col("o_custkey").between(lo, hi))
    return pruned.agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
        F.min("o_custkey").cast("bigint").alias("min_ck"),
        F.max("o_custkey").cast("bigint").alias("max_ck"),
    )


def _stage_malformed_csv(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic dirty-CSV fixture: one line per document with
    doc_id % 5 == 0, fields (doc_id, n_chars, lang) — except rows with
    doc_id % 15 == 0, whose n_chars field is the unparseable token
    ``corrupted!`` (a type violation, not a quoting problem, so the
    PERMISSIVE reader must null the field and capture the raw line).
    Written with plain file I/O: the corruption must be byte-exact, not
    whatever a CSV writer would escape it into."""

    def write(path: str) -> None:
        os.makedirs(path)
        with open(os.path.join(path, "part-000.csv"), "w") as f:
            for r in _sample_documents(spark, sf_dir):
                bad = r["doc_id"] % 15 == 0
                # NULL fields serialize as EMPTY, never Python's str(None)
                # — a literal "None" lang parsed back as a real language
                # group (hostile sweep find). This raw feed deliberately
                # has no null sentinel, so '' and NULL both land as empty
                # fields — the oracle mirrors that with NULLIF(lang, '').
                n = "corrupted!" if bad else ("" if r["n_chars"] is None else str(r["n_chars"]))
                lang = "" if r["lang"] is None else r["lang"]
                f.write(f"{r['doc_id']},{n},{lang}\n")

    return stage_once(sf_dir, "documents", "malformed_csv", write)


def _sample_documents(spark: SparkSession, sf_dir: str) -> list:
    """(doc_id, n_chars, lang) of every doc_id % 5 == 0 document, by
    doc_id: the bounded subset (sf0.1: ~1k rows) both dirty fixtures
    are written from."""
    rows = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "n_chars", "lang")
        .collect()
    )
    return sorted(rows, key=lambda r: r["doc_id"])


@query(
    "q_csv_malformed_audit",
    # The oracle predicts the PERMISSIVE reader's behavior from the
    # staging rule: every doc_id % 15 == 0 row is corrupt (n_chars
    # nulled, raw line captured), everything else parses clean.
    oracle=f"""
    SELECT NULLIF(lang, '') AS lang,  -- raw feed: '' and NULL both land empty
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (doc_id % 15 = 0) AS BIGINT) AS n_corrupt,
           {o_dsum('CASE WHEN doc_id % 15 = 0 THEN NULL ELSE n_chars END')}
             AS sum_chars_clean
    FROM documents
    WHERE doc_id % 5 = 0
    GROUP BY NULLIF(lang, '')
    """,
)
def q_csv_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-data ingestion QA: read a CSV containing malformed rows in
    PERMISSIVE mode with a corrupt-record column, and audit clean vs
    corrupt counts per group in one pass — the ingest contract every
    lake needs (FAILFAST aborts the 100 TB job on row one; DROPMALFORMED
    silently loses data; PERMISSIVE + audit is the deployable mode:
    nothing lost, everything accounted).

    The parsed frame is persisted before aggregating — Spark refuses
    queries that project ONLY the internal corrupt-record column from a
    streaming parse (the raw-line capture is populated during parsing,
    not re-derivable), and caching materializes it once for the audit.
    """
    path = _stage_malformed_csv(spark, sf_dir)
    parsed = (
        spark.read.schema("doc_id bigint, n_chars bigint, lang string, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    parsed = track(parsed)
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt").alias("n_corrupt"),
        dsum(F.col("n_chars")).alias("sum_chars_clean"),
    )


@query(
    "q_dynamic_overwrite",
    oracle=f"""
    -- NULLIF: hive directory layout cannot represent '' in a partition
    -- value — Spark writes both NULL and '' to __HIVE_DEFAULT_PARTITION__
    -- and reads both back as NULL. That collapse is a property of ANY
    -- hive-partitioned lake (not this engine); the oracle models it.
    -- o_bound_part: the staged table bounds partition values at ingest
    -- (common.bound_part), so the read-back group key is the bounded
    -- form — the oracle applies the identical derivation.
    SELECT NULLIF({o_bound_part('o_orderpriority')}, '') AS o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                              THEN o_totalprice * 2
                              ELSE o_totalprice END AS DECIMAL(30,8))) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY NULLIF({o_bound_part('o_orderpriority')}, '')
    """,
)
def q_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (SURVEY §4.4): rewrite ONLY the
    partitions present in the incoming batch, leaving sibling
    partitions' files untouched — the lake-write semantics that replaces
    the reference's whole-table ``mode("overwrite")`` (etl.py:112,120,
    226: every run rewrites everything it ever wrote).

    Staging: orders hive-partitioned by o_orderpriority (5 partitions);
    the "correction batch" doubles prices for the 1-URGENT partition
    only and overwrites with partitionOverwriteMode=dynamic — 4/5
    partitions keep their original files (asserted by mtime in
    tests/test_sources.py). The read-back aggregate hash-matching the
    CASE-twin oracle proves exactly one partition changed, exactly
    once, even on re-runs (the write is idempotent — same input, same
    partition, same result — which is what makes dynamic overwrite the
    retry-safe incremental-load primitive at 100 TB).
    """
    # The base table is staged once; the dynamic-overwrite commit below
    # removes the root _SUCCESS file but keeps the hidden staging marker.
    # bound_part: partition values are bounded at ingest (see
    # _stage_orders_part / common.bound_part — r10 longtext find).
    path = stage_once(
        sf_dir, "orders", "orders_dynpart",
        lambda p: write_parquet(
            table(spark, sf_dir, "orders").withColumn(
                "o_orderpriority", bound_part(F.col("o_orderpriority"))
            ),
            p,
            partition_by=["o_orderpriority"],
        ),
    )
    # The correction batch derives from the PRISTINE source, not the
    # staged table — deriving from the overwritten table would compound
    # the fix on every run (2x, 4x, ...) and break idempotency.
    urgent_fixed = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    # The SESSION conf is what the path-based parquet writer consults
    # (the writer-level option is not honored on this build — probed:
    # with only the option set, every sibling partition was rewritten).
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            urgent_fixed.write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
    return (
        read_parquet(spark, path, empty_schema=table(spark, sf_dir, "orders").schema)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@query(
    "q_text_roundtrip",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           md5(COALESCE(string_agg(text, chr(10) ORDER BY doc_id), ''))
             AS corpus_md5  -- all-NULL group: Spark array_join -> ''
    FROM documents
    GROUP BY lang
    """,
)
def q_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → line-oriented text sink → ``spark.read.text`` scan →
    parse → aggregate. Raw text/JSONL lines are how real corpora ARRIVE
    at a lake (Common Crawl WET, chat logs), so the text reader is the
    true ingest edge; this round-trips the engine's own corpus through
    it. Records serialize as JSONL (``to_json`` per record): a raw
    TSV dialect cannot represent documents CONTAINING tabs/newlines —
    the r10 ``longtext`` catalog hit exactly that, and the previous
    staging gate refused such corpora loudly; JSON strings escape
    themselves, which is precisely why JSONL is the line format real
    corpora ship in. Parse back with ``from_json`` (JVM-side, exact),
    and the per-lang aggregate INCLUDING an order-pinned corpus md5
    proves no line was lost, reordered into the wrong doc, or
    truncated — including multi-line and tab-bearing documents. Text
    scans are never column-pruned and parse on every read — the
    documented trade-off vs parquet (SURVEY §1.3); at 100 TB this path
    exists for INGEST, after which data lives columnar.
    """
    path = stage_once(
        sf_dir, "documents", "documents_text",
        lambda p: table(spark, sf_dir, "documents")
        .select(
            F.to_json(F.struct("doc_id", "lang", "n_chars", "text")).alias("value")
        )
        .write.mode("overwrite")
        .text(p),
    )
    rec_schema = "doc_id bigint, lang string, n_chars bigint, text string"
    lines = spark.read.text(path)
    rec = F.from_json(F.col("value"), rec_schema)
    parsed = lines.select(
        rec.getField("doc_id").alias("doc_id"),
        rec.getField("lang").alias("lang"),
        rec.getField("n_chars").alias("n_chars"),
        rec.getField("text").alias("text"),
    )
    kept = F.sort_array(F.collect_list(F.struct("doc_id", "text")))
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.md5(
            F.array_join(F.transform(kept, lambda s: s.getField("text")), "\n")
        ).alias("corpus_md5"),
    )


def _stage_malformed_json(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic dirty-NDJSON fixture (the JSON twin of
    :func:`_stage_malformed_csv`): one JSON object per line for
    documents with doc_id % 5 == 0 — except doc_id % 15 == 0 lines,
    which are truncated mid-object (unclosed brace): a SYNTAX
    violation, the failure mode raw JSON feeds actually exhibit
    (truncated uploads, chopped log lines), distinct from the CSV
    fixture's type violation. Plain file I/O keeps the corruption
    byte-exact."""
    import json

    def write(path: str) -> None:
        os.makedirs(path)
        with open(os.path.join(path, "part-000.json"), "w") as f:
            for r in _sample_documents(spark, sf_dir):
                line = json.dumps(
                    {"doc_id": r["doc_id"], "n_chars": r["n_chars"], "lang": r["lang"]},
                    separators=(",", ":"),
                )
                if r["doc_id"] % 15 == 0:
                    line = line[: len(line) // 2]  # truncated mid-object
                f.write(line + "\n")

    return stage_once(sf_dir, "documents", "malformed_json", write)


@query(
    "q_json_malformed_audit",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_rows,
           CAST(0 AS BIGINT) AS n_corrupt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars_clean
    FROM documents
    WHERE doc_id % 5 = 0 AND doc_id % 15 <> 0
    GROUP BY lang

    UNION ALL

    SELECT NULL AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_corrupt,
           NULL AS sum_chars_clean
    FROM documents
    WHERE doc_id % 5 = 0 AND doc_id % 15 = 0
    -- drop the global-agg zero row when no corrupt lines exist: the
    -- PERMISSIVE reader has no corrupt GROUP to emit then (empty sweep)
    HAVING COUNT(*) > 0
    """,
)
def q_json_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE dirty-NDJSON ingest with corrupt-record capture — the
    JSON reader path's failure-mode contract (the CSV twin is
    q_csv_malformed_audit; the reference read JSON blind, etl.py:106).
    Truncated lines parse to all-null rows with the raw line captured
    in _corrupt (landing in the NULL lang group — corrupt rows' lang is
    unknown by definition); clean lines parse fully. The oracle derives
    both groups from the staging rule, so the hash proves the reader
    dropped nothing, nulled exactly the corrupt lines, and kept clean
    values exact.
    """
    path = _stage_malformed_json(spark, sf_dir)
    parsed = (
        spark.read.schema("doc_id bigint, n_chars bigint, lang string, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt").cast("bigint").alias("n_corrupt"),
        F.sum("n_chars").cast("bigint").alias("sum_chars_clean"),
    )


_CUSTOMER_DDL = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)

# DuckDB has no base-conv builtin; expand hex→int digit arithmetic for
# the first 8 md5 hex digits (same value Spark gets from conv(...,16,10)).
_O_HEX8 = "CAST(" + " + ".join(
    f"(instr('0123456789abcdef', substr({{h}},{i + 1},1))-1)*{16 ** (7 - i)}"
    for i in range(8)
) + " AS BIGINT)"


def _canon_customer(df: DataFrame) -> DataFrame:
    """Canonical per-row checksum frame: every column explicitly cast,
    the double carried as integer cents so no engine/format ever
    formats a float into a hash input."""
    s = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.col("c_name"),
        F.col("c_nationkey").cast("string"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string"),
        F.col("c_mktsegment"),
    )
    return df.select(
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint").alias("h")
    )


@query(
    "q_cross_format_parity",
    oracle=f"""
    WITH canon AS (
      SELECT concat_ws('|',
               CAST(c_custkey AS VARCHAR),
               c_name,
               CAST(c_nationkey AS VARCHAR),
               CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR),
               c_mktsegment) AS s
      FROM customer
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM({_O_HEX8.format(h="md5(s)")}) AS BIGINT) AS checksum
      FROM canon
    )
    SELECT f.format, s.n_rows, s.checksum
    FROM (VALUES ('csv'), ('json'), ('orc'), ('parquet')) f(format)
    CROSS JOIN sums s
    """,
)
def q_cross_format_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format fidelity capstone: customer written to CSV, NDJSON
    and ORC, read back, and reduced to an ORDER-INDEPENDENT content
    checksum (sum of per-row md5-prefix ints) next to the parquet
    original — four rows that must be byte-identical. The per-format
    roundtrips (q_csv_roundtrip etc.) verify one aggregate each; this
    one pins the whole row contract (every column, every row) across
    every at-rest format the engine ships, in a single driver-checkable
    artifact. Any writer/reader defect — quoting, schema application,
    float formatting, encoding — breaks exactly that format's row.

    The checksum is commutative (SUM of row hashes), so it needs no
    global sort: each format is scan → map (hash) → partial-agg, and
    the four legs union into one 4-row result. At 100 TB this is the
    standard table-fingerprint pattern for migration validation — one
    pass per replica, constant-size comparison artifact. The double
    column enters the hash as integer cents on BOTH engines, so no
    float-to-string formatting ever reaches the hash input.
    """
    src = table(spark, sf_dir, "customer")
    csv_path = _stage_customer_csv(spark, sf_dir)
    json_path = stage_once(
        sf_dir, "customer", "customer_json", lambda p: src.write.mode("overwrite").json(p)
    )
    orc_path = stage_once(
        sf_dir, "customer", "customer_orc", lambda p: src.write.mode("overwrite").orc(p)
    )

    legs = {
        "parquet": src,
        "csv": read_csv(spark, csv_path, schema=_CUSTOMER_DDL, multi_line=True),
        "json": read_json(spark, json_path, schema=_CUSTOMER_DDL),
        "orc": spark.read.orc(orc_path),
    }
    frames = [
        _canon_customer(df).agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("h").alias("checksum")
        ).select(F.lit(fmt).alias("format"), "n_rows", "checksum")
        for fmt, df in legs.items()
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out
