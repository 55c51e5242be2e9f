"""Streaming semantics: session-window batch twin + dedup idempotence."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dateng_data_lakes_apache_spark_spark.catalog import table
from dateng_data_lakes_apache_spark_spark.registry import get_queries

QS = get_queries()


def test_session_window_matches_gap_and_island_twin(spark, sf_dir):
    """The streaming session_window result must equal the batch
    gap-and-islands computation (30-minute inactivity gap)."""
    stream_rows = {
        (r.user_id, r.session_start, r.n_events)
        for r in QS["q_stream_session"](spark, sf_dir).collect()
    }

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    batch = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            # session_window semantics: a new session starts when the event
            # lands at-or-after prev_end = prev_ts + gap (half-open windows).
            # Compare in fractional seconds — unix_timestamp truncates and
            # would misclassify sub-second boundary gaps.
            (
                F.col("prev_ts").isNull()
                | (F.col("ts").cast("double") - F.col("prev_ts").cast("double") >= 1800.0)
            ).cast("int"),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    batch_rows = {(r.user_id, r.session_start, r.n_events) for r in batch.collect()}
    assert stream_rows == batch_rows


def test_stream_dedup_counts_match_batch(spark, sf_dir):
    stream = {
        (r.event_type, r.n_unique)
        for r in QS["q_stream_dedup"](spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events")
    batch = {
        (r.event_type, r.n)
        for r in ev.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert stream == batch


def test_custom_state_matches_batch_aggregation(spark, sf_dir):
    stream = {
        (r.user_id, r.n_events, r.sum_value)
        for r in QS["q_stream_custom_state"](spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events")
    batch = {
        (r.user_id, r.n, round(r.s, 2))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
        )
        .collect()
    }
    assert stream == batch


def _stage_batch_file(spark, tmp_path, stream_dir, i, rows):
    """Write one parquet file per micro-batch with strictly increasing
    mtime — the file source orders by modification time, so this pins
    the batch sequence deterministically."""
    import glob
    import os
    import shutil

    tmp = str(tmp_path / f"tmp{i}")
    (
        spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    part = glob.glob(tmp + "/part-*.parquet")[0]
    dst = str(stream_dir / f"f{i:03d}.parquet")
    shutil.copyfile(part, dst)
    os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))


def _run_stream(df, tmp_path, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_multi_batch_watermark_drops_late_events(spark, tmp_path):
    """The stateful path for real: three micro-batches
    (maxFilesPerTrigger=1), watermark advances between them, a planted
    late event is dropped, and append mode only emits finalized windows."""
    from datetime import datetime as dt

    src = tmp_path / "stream_src"
    src.mkdir()
    t = dt.fromisoformat
    # batch 0: two on-time events in the 10:00 window
    _stage_batch_file(spark, tmp_path, src, 0,
                      [(1, t("2026-01-01 10:00:00"), 1.0),
                       (2, t("2026-01-01 10:30:00"), 2.0)])
    # batch 1: 12:00 event → watermark advances to 11:50 after this batch
    _stage_batch_file(spark, tmp_path, src, 1,
                      [(1, t("2026-01-01 12:00:00"), 3.0)])
    # batch 2: watermark 11:50 is now in effect; at this batch's END the
    # 10:00-11:00 window (end 11:00 < 11:50) is evicted and emitted
    _stage_batch_file(spark, tmp_path, src, 2,
                      [(1, t("2026-01-01 12:05:00"), 5.0)])
    # batch 3: a LATE event for the already-finalized window (must be
    # dropped) + one live event in the still-open 12:00 window (withheld)
    _stage_batch_file(spark, tmp_path, src, 3,
                      [(2, t("2026-01-01 10:15:00"), 9.0),
                       (1, t("2026-01-01 12:30:00"), 4.0)])

    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = _run_stream(agg, tmp_path, "wm_evict", "append")

    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 4
    emitted = {(r.w.start.strftime("%H:%M"), r.n) for r in spark.table("wm_evict").collect()}
    # finalized window holds ONLY the two on-time events — the late 10:15
    # event did not sneak in
    assert ("10:00", 2) in emitted
    # the open 12:00 window is withheld by append mode (not yet final)
    assert not any(s == "12:00" for s, _ in emitted)
    # the state operator recorded the watermark drop
    dropped = sum(
        int(so["numRowsDroppedByWatermark"])
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped >= 1


def test_custom_state_timeout_evicts_idle_keys(spark, tmp_path):
    """Processing-time timeout: a key idle across micro-batches gets its
    state evicted and a tombstone emitted; active keys keep accumulating."""
    from datetime import datetime as dt

    from dateng_data_lakes_apache_spark_spark.streaming.stream_queries import (
        custom_state_stream,
    )

    src = tmp_path / "cs_src"
    src.mkdir()
    t = dt.fromisoformat
    # user 1 appears only in batch 0; user 2 in all three
    _stage_batch_file(spark, tmp_path, src, 0,
                      [(1, t("2026-01-01 10:00:00"), 1.0),
                       (2, t("2026-01-01 10:00:30"), 2.0)])
    _stage_batch_file(spark, tmp_path, src, 1,
                      [(2, t("2026-01-01 10:01:00"), 3.0)])
    _stage_batch_file(spark, tmp_path, src, 2,
                      [(2, t("2026-01-01 10:02:00"), 4.0)])

    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", "value")
    )
    # 1 ms timeout: user 1 is guaranteed idle-past-timeout by batch 1.
    # A stream with pending processing-time timeouts never self-terminates
    # under availableNow (empty batches keep firing timeouts), so poll the
    # sink for the expected rows and stop the query explicitly.
    import time

    result = custom_state_stream(stream, timeout_ms=1)
    q = (
        result.writeStream.format("memory")
        .queryName("cs_evict")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_cs"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        rows = []
        while time.monotonic() < deadline:
            rows = spark.table("cs_evict").collect()
            if any(r.user_id == 1 and r.n_events == -1 for r in rows) and any(
                r.user_id == 2 and r.n_events == 3 for r in rows
            ):
                break
            time.sleep(0.5)
    finally:
        if q.isActive:
            q.stop()

    assert any(r.user_id == 1 and r.n_events == -1 for r in rows)  # tombstone
    # active key's totals survived across batches: 2+3+4
    totals = [r for r in rows if r.user_id == 2 and r.n_events == 3]
    assert totals and totals[0].sum_value == 9.0


def test_sample_within_binomial_bounds(spark, sf_dir):
    n_total = table(spark, sf_dir, "lineitem").count()
    n_sample = QS["q_sample"](spark, sf_dir).count()
    # Bernoulli(0.1): mean n/10, sd ~ sqrt(n*0.09); allow 5 sd
    import math

    mean, sd = n_total * 0.1, math.sqrt(n_total * 0.1 * 0.9)
    assert abs(n_sample - mean) < 5 * sd
    # seeded sample is reproducible on identical input partitioning
    assert QS["q_sample"](spark, sf_dir).count() == n_sample


def test_outer_join_null_emission_is_strictly_below_watermark(spark, tmp_path):
    """Pins the exact emission rule q_stream_outer_join's oracle encodes:
    the query watermark is min over BOTH withWatermark nodes (each tracks
    its own filtered stream's max event time), and an unmatched left row
    emits its null-completed row iff left_ts < watermark — STRICTLY: a
    purchase exactly AT the watermark stays buffered."""
    import glob
    import os
    import shutil
    from datetime import datetime, timedelta

    src = tmp_path / "oj_src"
    src.mkdir()
    t0 = datetime.fromisoformat("2024-01-01 00:00:00")
    schema = "event_id long, user_id long, ts timestamp, event_type string"

    def stage(i, rows):
        tmp = str(tmp_path / f"oj_tmp{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = str(src / f"f{i:03d}.parquet")
        shutil.copyfile(glob.glob(tmp + "/part-*.parquet")[0], dst)
        os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))

    # batch 0: unmatched purchases at minutes 0..59, distinct users
    stage(0, [(i, 1000 + i, t0 + timedelta(minutes=i), "purchase") for i in range(60)])
    # batch 1: both sides' max advances to minute 60 → final watermark =
    # min(60, 60) - 10 = minute 50
    stage(1, [(900, 9999, t0 + timedelta(minutes=60), "click"),
              (901, 8888, t0 + timedelta(minutes=60), "purchase")])

    def side(event_type, prefix):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return (
            s.where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "10 minutes")
        )

    joined = side("purchase", "p").join(
        side("click", "c"),
        F.expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 5 MINUTES AND c_ts <= p_ts"),
        "leftOuter",
    )
    _run_stream(joined, tmp_path, "oj_strict", "append")
    nulls = sorted(
        r.p_id for r in spark.table("oj_strict").collect() if r.c_id is None
    )
    # minutes 0..49 emitted; minute 50 == watermark held (strict <)
    assert nulls == list(range(50))


def test_stream_merge_upsert_keeps_version_history(spark, sf_dir):
    import glob
    import os

    from dateng_data_lakes_apache_spark_spark.registry import get_queries
    from dateng_data_lakes_apache_spark_spark.staging import _sf_tag
    from dateng_data_lakes_apache_spark_spark.streaming.stream_queries import _SCRATCH

    get_queries()["q_stream_merge_upsert"](spark, sf_dir).count()
    tag = _sf_tag(sf_dir)
    versions = sorted(glob.glob(os.path.join(_SCRATCH, "stream_merge", tag, "v*")))
    # 4-batch replay → one snapshot version per micro-batch, all retained
    # (the rollback/time-travel property the docstring claims).
    assert len(versions) >= 2
    for v in versions:
        assert os.path.exists(os.path.join(v, "_SUCCESS"))


def test_checkpoint_recovery_no_reread_no_loss(spark, tmp_path):
    """Closed-form checkpoint-recovery proof: phase A sees 2 files and
    must count exactly their rows; phase B resumes the SAME checkpoint
    with 2 more files and must count ALL rows exactly once (the
    file-source log prevents re-reads; state carries the partials)."""
    import os
    import uuid

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def add_file(idx, lo, hi):
        tmp = str(tmp_path / f"tmp{idx}")
        spark.range(lo, hi).selectExpr("id", "id % 3 AS grp").coalesce(1)\
            .write.mode("overwrite").parquet(tmp)
        import glob
        import shutil

        shutil.move(glob.glob(tmp + "/part-*.parquet")[0], f"{src}/f{idx}.parquet")
        shutil.rmtree(tmp)

    def run_phase(sink):
        stream = spark.readStream.schema("id long, grp long").parquet(src)
        q = (
            stream.groupBy("grp").count()
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {r.grp: r['count'] for r in spark.table(sink).collect()}

    add_file(0, 0, 30)
    add_file(1, 30, 60)
    a = run_phase(f"cra_{uuid.uuid4().hex[:6]}")
    assert sum(a.values()) == 60  # phase A saw exactly the first 2 files
    add_file(2, 60, 90)
    add_file(3, 90, 120)
    b = run_phase(f"crb_{uuid.uuid4().hex[:6]}")
    assert sum(b.values()) == 120  # exactly-once across the restart
    assert b == {0: 40, 1: 40, 2: 40}


def test_stage_events_dir_restages_on_part_file_set_change(spark, tmp_path):
    """Manifest-based re-stage (ADVICE r6): adding a part file to a
    directory-layout events table while the lexicographically-first
    file is untouched MUST invalidate the stage — the old first-file
    (inode, mtime) check silently served stale data."""
    import os

    from dateng_data_lakes_apache_spark_spark.streaming.stream_queries import (
        _stage_events_dir,
    )

    root = str(tmp_path)
    ev_dir = os.path.join(root, "events.parquet")
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(10)
    df.coalesce(1).write.mode("overwrite").parquet(ev_dir)

    stage1 = _stage_events_dir(root)
    n1 = len([f for f in os.listdir(stage1) if f.endswith(".parquet")])
    assert n1 == 1

    # append a SECOND part file, named to sort after the existing one
    # (first file untouched: same inode, same mtime)
    extra = os.path.join(ev_dir, "part-zzz-extra.parquet")
    df.limit(3).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "_tmp"))
    src = next(
        f for f in os.listdir(os.path.join(root, "_tmp")) if f.endswith(".parquet")
    )
    os.link(os.path.join(root, "_tmp", src), extra)

    stage2 = _stage_events_dir(root)
    n2 = len([f for f in os.listdir(stage2) if f.endswith(".parquet")])
    assert n2 == 2  # stale single-file stage was rebuilt

    # removing the extra file restages back down too
    os.remove(extra)
    stage3 = _stage_events_dir(root)
    n3 = len([f for f in os.listdir(stage3) if f.endswith(".parquet")])
    assert n3 == 1
