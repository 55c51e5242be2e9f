"""Source/sink coverage: CSV round-trip (S5/K3), multi-path scans (S3),
NDJSON multiLine semantics (S2/Q1) — the reader surface the reference
exercises, tested against real files."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from dateng_data_lakes_apache_spark_spark.sources.readers import (
    read_csv,
    read_json,
    read_parquet,
    write_csv,
    write_parquet,
)


def test_csv_round_trip_preserves_values(spark, tmp_path):
    # Row 4 ('') vs row 3 (None): Spark's DEFAULT dialect writes both as
    # an empty field and reads both back as NULL — the engine dialect's
    # \N sentinel (readers.CSV_NULL) keeps them distinct through the
    # round trip (hostile-sweep find, round 7).
    df = spark.createDataFrame(
        [(1, "a,b", 1.5), (2, 'quo"te', -0.25), (3, None, 0.0), (4, "", 2.0)],
        "id long, s string, v double",
    )
    path = str(tmp_path / "csv_out")
    write_csv(df, path)
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("s", StringType()),
            StructField("v", df.schema["v"].dataType),
        ]
    )
    back = read_csv(spark, path, schema=schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_multi_path_scan_unions_files(spark, tmp_path):
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(0, 5).write.parquet(p1)
    spark.range(5, 12).write.parquet(p2)
    df = read_parquet(spark, [p1, p2])
    assert df.count() == 12
    assert df.agg(F.min("id"), F.max("id")).collect()[0] == (0, 11)


def test_ndjson_default_reads_every_line(spark, tmp_path):
    # the reference's Q1 bug: multiLine=True on NDJSON keeps only the
    # first record per file; the engine default must read all lines
    path = tmp_path / "logs"
    path.mkdir()
    (path / "part1.json").write_text(
        '{"id": 1, "song": "x"}\n{"id": 2, "song": "y"}\n{"id": 3, "song": null}\n'
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("song", StringType())]
    )
    df = read_json(spark, str(path), schema)
    assert df.count() == 3
    # the buggy setting, for contrast, collapses to one record
    buggy = read_json(spark, str(path), schema, multi_line=True)
    assert buggy.count() == 1


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Filtering on a hive-partition column must prune at planning time:
    the scan's PartitionFilters carries the predicate and only matching
    directories are listed — at scale, the difference between reading
    one partition and the lake."""
    df = spark.createDataFrame(
        [(i, "purchase" if i % 2 else "click") for i in range(100)],
        "id long, event_type string",
    )
    path = str(tmp_path / "pruned")
    write_parquet(df, path, partition_by=["event_type"])
    scan = read_parquet(spark, path).where(F.col("event_type") == "purchase")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "event_type" in pf
    assert scan.count() == 50


def test_partitioned_parquet_sink_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2018", "11"), (2, "2018", "12"), (3, "2019", "01")],
        "id long, year string, month string",
    )
    path = str(tmp_path / "part_out")
    write_parquet(df, path, partition_by=["year", "month"])
    assert os.path.isdir(os.path.join(path, "year=2018", "month=11"))
    assert os.path.isdir(os.path.join(path, "year=2019", "month=01"))
    back = read_parquet(spark, path)
    # partition columns come back as columns; Spark type-infers hive
    # partition values (year=2018 → int) — the documented round-trip shape
    assert {(r.id, r.year, r.month) for r in back.collect()} == {
        (1, 2018, 11), (2, 2018, 12), (3, 2019, 1),
    }


def test_clustered_write_file_ranges(spark, sf_dir):
    # the point of q_clustered_write: every staged file owns a DISJOINT
    # custkey range (checked from real parquet footers), which is what
    # lets min/max statistics skip files on selective predicates
    import glob
    import pyarrow.parquet as pq

    from dateng_data_lakes_apache_spark_spark.registry import get_queries

    get_queries()["q_clustered_write"](spark, sf_dir).collect()  # ensure staged
    from dateng_data_lakes_apache_spark_spark.staging import staged_dir

    files = sorted(glob.glob(os.path.join(staged_dir(sf_dir, "orders_clustered"), "*.parquet")))
    assert len(files) >= 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "o_custkey"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: file skipping is real


def test_zorder_write_skips_both_dims(spark, sf_dir):
    # the point of q_zorder_write over 1-D range clustering: file-level
    # min/max prune selective predicates on BOTH interleaved dimensions
    import glob
    import pyarrow.parquet as pq

    from dateng_data_lakes_apache_spark_spark.registry import get_queries

    get_queries()["q_zorder_write"](spark, sf_dir).collect()  # ensure staged
    from dateng_data_lakes_apache_spark_spark.staging import staged_dir

    files = sorted(glob.glob(os.path.join(staged_dir(sf_dir, "orders_zorder"), "*.parquet")))
    assert len(files) >= 8
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(len(md.schema))}
        stats = {}
        for name in ("o_custkey", "o_orderdate"):
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(cols[name]).statistics
                mins.append(st.min); maxs.append(st.max)
            stats[name] = (min(mins), max(maxs))
        spans.append(stats)

    import datetime

    ck_q = (100, 199)
    dt_q = (datetime.datetime(1997, 1, 1), datetime.datetime(1998, 1, 1))
    ck_hits = sum(
        1 for s in spans
        if not (s["o_custkey"][1] < ck_q[0] or s["o_custkey"][0] > ck_q[1])
    )
    dt_hits = sum(
        1 for s in spans
        if not (s["o_orderdate"][1] < dt_q[0] or s["o_orderdate"][0] > dt_q[1])
    )
    # either predicate alone must exclude a real share of the files —
    # 1-D clustering can never do this for its non-sort dimension
    assert ck_hits <= len(files) // 2
    assert dt_hits <= len(files) // 2


def test_compact_files_counts(spark, sf_dir):
    # compaction must hit its computed target count (and actually shrink)
    import glob

    from dateng_data_lakes_apache_spark_spark.registry import get_queries

    get_queries()["q_compact_files"](spark, sf_dir).collect()  # ensure staged
    from dateng_data_lakes_apache_spark_spark.staging import staged_dir

    small = glob.glob(os.path.join(staged_dir(sf_dir, "orders_smallfiles"), "*.parquet"))
    compact = glob.glob(os.path.join(staged_dir(sf_dir, "orders_compacted"), "*.parquet"))
    assert len(small) == 64
    input_bytes = sum(os.path.getsize(f) for f in small)
    target = max(1, -(-input_bytes // (32 * 1024 * 1024)))
    assert len(compact) == target < len(small)


def test_python_datasource_plans_real_partitions(spark):
    """The custom day_spine source must hand Spark real InputPartitions —
    distributed generate, not a driver-side collect-and-parallelize."""
    from dateng_data_lakes_apache_spark_spark.sources.pydatasource import (
        _ensure_registered,
    )

    _ensure_registered(spark)
    df = (
        spark.read.format("day_spine")
        .option("start", "2000-01-01")
        .option("days", "100")
        .option("parts", "8")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 100
    # deterministic content: idx 0 is the start date, idx 99 the end
    first = df.orderBy("day_idx").first()
    assert str(first.day) == "2000-01-01"


def test_manifest_prunes_files(spark, sf_dir):
    # The manifest must admit a strict subset of the clustered files for a
    # selective custkey predicate (8 range-disjoint files → 1-2 overlap).
    from dateng_data_lakes_apache_spark_spark.registry import get_queries
    from dateng_data_lakes_apache_spark_spark.sources.roundtrip import read_parquet
    from dateng_data_lakes_apache_spark_spark.staging import staged_dir
    from pyspark.sql import functions as F

    get_queries()["q_manifest_pruned_scan"](spark, sf_dir).collect()  # stage
    manifest = read_parquet(spark, staged_dir(sf_dir, "orders_manifest"))
    total = manifest.count()
    kept = manifest.where((F.col("min_ck") <= 199) & (F.col("max_ck") >= 100)).count()
    assert total >= 8
    assert 1 <= kept < total / 2


def test_snapshot_cow_is_file_selective_and_isolated(spark, sf_dir):
    """The v1 commit must rewrite only files intersecting the update
    predicate (file-granular copy-on-write), and v0 must resolve to the
    exact original file set — readable and unchanged after the commit."""
    import json
    import os

    from dateng_data_lakes_apache_spark_spark.sources.snapshot import (
        _stage_versioned_orders,
        _vlog_dir,
        read_snapshot,
        snapshot_files,
    )

    root = _stage_versioned_orders(spark, sf_dir)
    with open(os.path.join(_vlog_dir(root), "v1.json")) as f:
        v1 = json.load(f)
    v0_files = snapshot_files(root, 0)
    assert len(v0_files) >= 8
    # selective CoW: a [100,199] custkey predicate over 8 range-disjoint
    # files touches 1-2 of them, never half the table
    assert 1 <= len(v1["removed"]) < len(v0_files) / 2
    assert all(os.path.exists(p) for p in v0_files)  # immutability
    # carried-forward files are shared by reference between versions
    shared = set(snapshot_files(root, 0)) & set(snapshot_files(root, 1))
    assert len(shared) == len(v0_files) - len(v1["removed"])
    # isolation: v0 read AFTER the commit equals the pristine source
    from dateng_data_lakes_apache_spark_spark.catalog import table

    n0 = read_snapshot(spark, root, 0).count()
    assert n0 == table(spark, sf_dir, "orders").count()


def test_dynamic_overwrite_touches_one_partition(spark, sf_dir):
    """The dynamic overwrite must rewrite ONLY the 1-URGENT partition
    (sibling partition files keep their mtimes) and be idempotent
    across invocations (no compounding of the correction)."""
    import os

    from dateng_data_lakes_apache_spark_spark.registry import get_queries
    from dateng_data_lakes_apache_spark_spark.staging import staged_dir

    qs = get_queries()
    first = {r.o_orderpriority: r.sum_price for r in qs["q_dynamic_overwrite"](spark, sf_dir).collect()}
    path = staged_dir(sf_dir, "orders_dynpart")

    def mtimes(part):
        d = os.path.join(path, f"o_orderpriority={part}")
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    before = {p: mtimes(p) for p in ["2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW"] if os.path.isdir(os.path.join(path, f"o_orderpriority={p}"))}
    assert before, "expected sibling partitions on disk"
    second = {r.o_orderpriority: r.sum_price for r in qs["q_dynamic_overwrite"](spark, sf_dir).collect()}
    after = {p: mtimes(p) for p in before}
    assert first == second  # idempotent — no compounding
    assert before == after  # sibling partitions untouched by the rewrite


def test_snapshot_vacuum_expires_only_old_versions(spark, tmp_path):
    """VACUUM(keep_from=1) must delete exactly the files only v0
    references, keep v1 byte-identical, and leave shared (carried-
    forward) files alone."""
    import os

    from dateng_data_lakes_apache_spark_spark.sources.snapshot import (
        commit,
        read_snapshot,
        snapshot_files,
        vacuum,
    )

    root = str(tmp_path / "vtab")
    f_a = os.path.join(root, "a.parquet")
    f_b = os.path.join(root, "b.parquet")
    f_b2 = os.path.join(root, "b2.parquet")
    os.makedirs(root)
    spark.range(0, 10).coalesce(1).write.mode("overwrite").parquet(root + "/_tmp_a")
    spark.range(10, 20).coalesce(1).write.mode("overwrite").parquet(root + "/_tmp_b")
    spark.range(20, 30).coalesce(1).write.mode("overwrite").parquet(root + "/_tmp_b2")
    import glob
    import shutil

    for src_dir, dst in [("_tmp_a", f_a), ("_tmp_b", f_b), ("_tmp_b2", f_b2)]:
        part = glob.glob(os.path.join(root, src_dir, "part-*.parquet"))[0]
        shutil.copyfile(part, dst)
        shutil.rmtree(os.path.join(root, src_dir))
    commit(root, 0, added=[f_a, f_b], removed=[])
    commit(root, 1, added=[f_b2], removed=[f_b])  # rewrite b, carry a

    before_v1 = sorted(r.id for r in read_snapshot(spark, root, 1).collect())
    stats = vacuum(root, keep_from_version=1)
    assert stats["deleted"] == 1  # only b.parquet (v0-exclusive)
    assert not os.path.exists(f_b)
    assert os.path.exists(f_a) and os.path.exists(f_b2)  # shared + live kept
    after_v1 = sorted(r.id for r in read_snapshot(spark, root, 1).collect())
    assert after_v1 == before_v1 == list(range(0, 10)) + list(range(20, 30))
    assert set(snapshot_files(root, 1)) == {f_a, f_b2}


def test_avro_roundtrip_when_connector_present(spark, sf_dir, tmp_path):
    """VERDICT r3 item 5: Avro round trip, cleanly gated on the
    spark-avro module (ships separately from core Spark)."""
    import pytest
    from pyspark.sql import functions as F

    from dateng_data_lakes_apache_spark_spark.sources.readers import (
        avro_available,
        read_avro,
        write_avro,
    )

    if not avro_available(spark):
        with pytest.raises(RuntimeError, match="spark-avro"):
            read_avro(spark, str(tmp_path / "nope"))
        pytest.skip("spark-avro jar not on the classpath (external module)")
    from dateng_data_lakes_apache_spark_spark.catalog import table

    nation = table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_avro")
    write_avro(nation, out)
    back = read_avro(spark, out)
    assert back.count() == nation.count()
    assert sorted(back.columns) == sorted(nation.columns)
    a = nation.agg(F.sum("n_nationkey").alias("s")).collect()[0].s
    b = back.agg(F.sum("n_nationkey").alias("s")).collect()[0].s
    assert a == b


def _write_table(spark, sf, name, rows):
    spark.createDataFrame(rows, "k long, v string").write.mode("overwrite").parquet(
        f"{sf}/{name}.parquet"
    )


def _counting_write(log, tag):
    """A ``stage_once`` writer that records each call and leaves ``tag``
    as the staged bytes."""

    def write(path):
        log.append(tag)
        os.makedirs(path)
        with open(os.path.join(path, "data.txt"), "w") as fh:
            fh.write(tag)

    return write


def _staged_bytes(path):
    with open(os.path.join(path, "data.txt")) as fh:
        return fh.read()


def test_stage_dir_invalidates_on_source_catalog_change(spark, tmp_path):
    """Mutable-catalog staging guard (r8): a staged kind must be
    rewritten when its SOURCE table's parquet files change — the
    degenerate sweeps rebuild their catalogs in place, and r8 found
    18 queries serving stale staged bytes from the previous catalog
    shape to one engine."""
    import time

    from dateng_data_lakes_apache_spark_spark.staging import stage_once, staged_dir

    sf = str(tmp_path / "cat")
    _write_table(spark, sf, "customer", [(1, "a")])
    writes = []
    d1 = stage_once(sf, "customer", "kind_a", _counting_write(writes, "v1"))
    assert d1 == staged_dir(sf, "kind_a")
    assert writes == ["v1"] and _staged_bytes(d1) == "v1"
    # same catalog → staging survives a second resolution
    assert stage_once(sf, "customer", "kind_a", _counting_write(writes, "v2")) == d1
    assert writes == ["v1"] and _staged_bytes(d1) == "v1"
    # rewrite the source table (new files/mtimes) → staging is rewritten
    time.sleep(0.01)  # ensure a distinct mtime_ns on fast filesystems
    _write_table(spark, sf, "customer", [(2, "b")])
    d2 = stage_once(sf, "customer", "kind_a", _counting_write(writes, "v3"))
    assert d2 == d1
    assert writes == ["v1", "v3"]
    assert _staged_bytes(d2) == "v3", "stale staging survived a source-catalog rewrite"


def test_stage_once_restages_only_kinds_of_the_changed_table(spark, tmp_path):
    """Rewriting orders re-stages an orders kind and leaves a customer
    kind staged: each kind is current against its own source table."""
    import time

    from dateng_data_lakes_apache_spark_spark.staging import stage_once

    sf = str(tmp_path / "cat")
    _write_table(spark, sf, "orders", [(1, "a")])
    _write_table(spark, sf, "customer", [(1, "a")])
    writes = []
    stage_once(sf, "orders", "orders_kind", _counting_write(writes, "o1"))
    cust = stage_once(sf, "customer", "customer_kind", _counting_write(writes, "c1"))
    time.sleep(0.01)
    _write_table(spark, sf, "orders", [(2, "b")])
    stage_once(sf, "orders", "orders_kind", _counting_write(writes, "o2"))
    assert stage_once(sf, "customer", "customer_kind", _counting_write(writes, "c2")) == cust
    assert writes == ["o1", "c1", "o2"]
    assert _staged_bytes(cust) == "c1"


def test_stage_once_keeps_same_basename_catalogs_apart(spark, tmp_path):
    """Two catalogs with the same basename at different paths stage to
    different dirs: alternating between them never rewrites either."""
    from dateng_data_lakes_apache_spark_spark.staging import stage_once

    sf_a, sf_b = str(tmp_path / "a" / "sf"), str(tmp_path / "b" / "sf")
    _write_table(spark, sf_a, "orders", [(1, "a")])
    _write_table(spark, sf_b, "orders", [(2, "b")])
    writes = []
    da = stage_once(sf_a, "orders", "kind", _counting_write(writes, "a"))
    db = stage_once(sf_b, "orders", "kind", _counting_write(writes, "b"))
    assert da != db
    for _ in range(2):
        assert stage_once(sf_a, "orders", "kind", _counting_write(writes, "a2")) == da
        assert stage_once(sf_b, "orders", "kind", _counting_write(writes, "b2")) == db
    assert writes == ["a", "b"]
    assert (_staged_bytes(da), _staged_bytes(db)) == ("a", "b")


def test_stage_once_failed_write_is_not_staged(spark, tmp_path):
    """A ``write`` that raises leaves no marker behind, so the next call
    stages again instead of serving the partial dir."""
    import pytest

    from dateng_data_lakes_apache_spark_spark.staging import stage_once, staged_dir

    sf = str(tmp_path / "cat")
    _write_table(spark, sf, "orders", [(1, "a")])
    writes = []

    def failing(path):
        _counting_write(writes, "partial")(path)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        stage_once(sf, "orders", "kind", failing)
    assert not os.path.exists(os.path.join(staged_dir(sf, "kind"), ".staged"))
    d = stage_once(sf, "orders", "kind", _counting_write(writes, "full"))
    assert writes == ["partial", "full"]
    assert _staged_bytes(d) == "full"
    assert os.path.exists(os.path.join(d, ".staged"))


def test_stream_ordered_stage_invalidates_on_events_change(spark, tmp_path):
    """Same guard for the marker-gated ordered stream staging."""
    import datetime as dt
    import glob
    import os
    import time

    from dateng_data_lakes_apache_spark_spark.streaming.stream_queries import (
        _stage_events_ordered,
    )

    sf = str(tmp_path / "cat")

    def write_events(vals):
        spark.createDataFrame(
            [
                (i, dt.datetime(2024, 1, 1, 0, i), 0, "view", float(v), None)
                for i, v in enumerate(vals)
            ],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    write_events([1, 2, 3, 4])
    s1 = _stage_events_ordered(spark, sf)
    n1 = len(glob.glob(os.path.join(s1, "batch-*.parquet")))
    assert n1 >= 1
    rows1 = spark.read.parquet(*glob.glob(os.path.join(s1, "batch-*.parquet"))).count()
    assert rows1 == 4
    time.sleep(0.01)
    write_events([1, 2, 3, 4, 5, 6, 7, 8])  # catalog grew
    s2 = _stage_events_ordered(spark, sf)
    rows2 = spark.read.parquet(*glob.glob(os.path.join(s2, "batch-*.parquet"))).count()
    assert rows2 == 8, "ordered stream stage served the previous catalog shape"


def test_commit_optimistic_threaded_race_serializes_all_appends(tmp_path):
    """N threads race commit_optimistic from the SAME stale read: every
    append must land in a distinct version (the CAS arbitrates), the
    final snapshot must contain all N files, and no log slot may be
    skipped or double-claimed — pure metadata, no Spark needed."""
    import json
    import os
    import threading

    from dateng_data_lakes_apache_spark_spark.sources.snapshot import (
        commit,
        commit_optimistic,
        latest_version,
        snapshot_files,
    )

    root = str(tmp_path / "racetab")
    os.makedirs(root)
    base = os.path.join(root, "base.parquet")
    open(base, "wb").close()
    commit(root, 0, added=[base], removed=[])

    n = 8
    results: list[int] = []
    errs: list[Exception] = []
    barrier = threading.Barrier(n)

    def writer(i: int) -> None:
        f = os.path.join(root, f"add{i}.parquet")
        open(f, "wb").close()
        barrier.wait()  # maximize contention on the first CAS
        try:
            results.append(commit_optimistic(root, [f], [], read_version=0))
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert sorted(results) == list(range(1, n + 1))  # distinct, gap-free
    assert latest_version(root) == n
    live = snapshot_files(root, n)
    assert base in live and len(live) == n + 1
    # every log entry is valid JSON with exactly one added file
    vdir = os.path.join(root, "_vlog")
    for v in range(1, n + 1):
        with open(os.path.join(vdir, f"v{v}.json")) as fh:
            e = json.load(fh)
        assert len(e["added"]) == 1 and e["removed"] == []


def test_commit_optimistic_rejects_stale_overlapping_rewrite(tmp_path):
    """A writer rewriting a file that a commit it never saw already
    replaced must get CommitConflict (lost-update protection), while a
    disjoint rewrite from the same stale read commits fine."""
    import os

    import pytest

    from dateng_data_lakes_apache_spark_spark.sources.snapshot import (
        CommitConflict,
        commit,
        commit_optimistic,
        snapshot_files,
    )

    root = str(tmp_path / "conftab")
    os.makedirs(root)
    f_a, f_b = os.path.join(root, "a.parquet"), os.path.join(root, "b.parquet")
    open(f_a, "wb").close()
    open(f_b, "wb").close()
    commit(root, 0, added=[f_a, f_b], removed=[])

    f_a2 = os.path.join(root, "a2.parquet")
    open(f_a2, "wb").close()
    assert commit_optimistic(root, [f_a2], [f_a], read_version=0) == 1

    # stale writer also rewriting a → conflict
    f_a3 = os.path.join(root, "a3.parquet")
    open(f_a3, "wb").close()
    with pytest.raises(CommitConflict):
        commit_optimistic(root, [f_a3], [f_a], read_version=0)

    # stale writer rewriting the UNTOUCHED b → lands as v2
    f_b2 = os.path.join(root, "b2.parquet")
    open(f_b2, "wb").close()
    assert commit_optimistic(root, [f_b2], [f_b], read_version=0) == 2
    assert set(snapshot_files(root, 2)) == {f_a2, f_b2}
