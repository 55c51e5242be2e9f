"""The star-schema pipeline on seeded Sparkify inputs.

``perfbench/gen.write_sparkify`` writes song files and NDJSON event logs
and returns the answers it planted, so these tests run on every host
(``test_star_pipeline.py`` needs the reference's zips). They pin:

- the five written tables against the planted row counts;
- the songplays rows against the old formulation, events joined to the
  songs ⋈ artists dims, written inline here as the reference;
- the events cache is released after the writes, and after a failed one;
- the sink overwrites dynamically whatever the session's mode;
- the globbed source reads list their files without a Spark job.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dateng_data_lakes_apache_spark_spark.pipelines import star_schema as ss
from perfbench import gen

from .conftest import cached_rdd_ids, jobs_fired

SEED = 17
SONG_GLOB = "song_data/*/*/*/*.json"
LOG_GLOB = "log_data/*/*/*.json"
SONGPLAYS_COLS = [
    "songplay_id", "start_time", "user_id", "level", "song_id", "artist_id",
    "session_id", "location", "user_agent", "year", "month",
]


def write_inputs(raw) -> tuple[gen.Planted, str, str]:
    """Seeded inputs under ``raw``: (planted answers, song glob, log glob)."""
    planted = gen.write_sparkify(str(raw), SEED)
    return planted, os.path.join(raw, SONG_GLOB), os.path.join(raw, LOG_GLOB)


@pytest.fixture(scope="module")
def sparkify(tmp_path_factory):
    return write_inputs(tmp_path_factory.mktemp("sparkify"))


@pytest.fixture(scope="module")
def lake(spark, sparkify, tmp_path_factory):
    _, songs, logs = sparkify
    out = str(tmp_path_factory.mktemp("lake"))
    ss.run_pipeline(spark, songs, logs, out)
    return out


def test_globbed_source_reads_fire_no_job(spark, sparkify):
    _, songs, logs = sparkify
    # More paths than Spark's parallel-listing threshold (32) on each side.
    assert (len(glob.glob(songs)), len(glob.glob(logs))) == (60, 61)
    assert jobs_fired(spark, lambda: ss.read_song_data(spark, songs)) == 0
    assert jobs_fired(spark, lambda: ss.read_log_data(spark, logs)) == 0


def test_written_tables_match_planted_answers(spark, sparkify, lake):
    planted = sparkify[0]
    want = {
        "songs": planted.songs,
        "artists": planted.artists,
        "users": planted.users,
        "time": planted.nextsong,
        "songplays": planted.songplays,
    }
    got = {t: spark.read.parquet(os.path.join(lake, t)).count() for t in want}
    assert got == want
    nov = spark.read.parquet(os.path.join(lake, "songplays")).where("year = 2018 AND month = 11")
    assert nov.count() == planted.songplays_nov


def test_songplays_equal_join_through_song_and_artist_dims(spark, sparkify, lake):
    _, songs, logs = sparkify
    song_df = ss.read_song_data(spark, songs)
    events = ss.filter_songplay_events(ss.read_log_data(spark, logs))
    song_dim = (
        ss.build_songs_table(song_df)
        .join(ss.build_artists_table(song_df), "artist_id")
        .select("song_id", "title", "artist_id", F.col("name").alias("artist_name"))
    )
    ref = events.join(
        song_dim, [events.song == song_dim.title, events.artist == song_dim.artist_name]
    ).select(
        F.xxhash64("userId", "sessionId", "ts", "song_id").alias("songplay_id"),
        "start_time",
        F.col("userId").alias("user_id"),
        "level",
        "song_id",
        "artist_id",
        F.col("sessionId").alias("session_id"),
        "location",
        F.col("userAgent").alias("user_agent"),
        F.year("start_time").alias("year"),
        F.month("start_time").alias("month"),
    )
    written = spark.read.parquet(os.path.join(lake, "songplays")).select(SONGPLAYS_COLS)
    want = Counter(map(tuple, ref.collect()))
    assert sum(want.values()) > 0
    assert Counter(map(tuple, written.collect())) == want


def test_songplays_skip_songs_without_artist(spark):
    song_df = spark.createDataFrame(
        [("S1", "Tune", None, "Band"), ("S2", "Tune", "A2", "Other")],
        "song_id string, title string, artist_id string, artist_name string",
    )
    events = spark.createDataFrame(
        [("Tune", "Band", "1", 1, 1000, "free", "here", "ua"),
         ("Tune", "Other", "2", 2, 2000, "paid", "there", "ua")],
        "song string, artist string, userId string, sessionId long, ts long, "
        "level string, location string, userAgent string",
    ).withColumn("start_time", F.to_timestamp(F.col("ts") / 1000))
    rows = ss.build_songplays_table(events, song_df).select("song_id", "user_id").collect()
    assert [tuple(r) for r in rows] == [("S2", "2")]


# The cache tests read inputs of their own: a cached plan left over the
# shared inputs would be reused by the next run and hide a new leak.
def test_pipeline_releases_events_cache(spark, tmp_path):
    _, songs, logs = write_inputs(tmp_path / "raw")
    before = cached_rdd_ids(spark)
    ss.run_pipeline(spark, songs, logs, str(tmp_path / "lake"))
    assert not cached_rdd_ids(spark) - before


def test_failed_write_releases_events_cache(spark, tmp_path, monkeypatch):
    _, songs, logs = write_inputs(tmp_path / "raw")
    before = cached_rdd_ids(spark)
    write = ss.write_partitioned

    def fail_on_time(df, out_dir, name, partition_cols=None):
        if name == "time":
            # users, written before, materialized the events cache
            assert cached_rdd_ids(spark) - before
            raise RuntimeError("sink failed")
        write(df, out_dir, name, partition_cols)

    monkeypatch.setattr(ss, "write_partitioned", fail_on_time)
    with pytest.raises(RuntimeError, match="sink failed"):
        ss.run_pipeline(spark, songs, logs, str(tmp_path / "lake"))
    assert not cached_rdd_ids(spark) - before


def test_overwrite_keeps_untouched_partitions_under_static_session(spark, tmp_path):
    out = str(tmp_path)
    both = spark.createDataFrame([(1, 2018), (2, 2019)], "id int, year int")
    ss.write_partitioned(both, out, "t", ["year"])
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        ss.write_partitioned(spark.createDataFrame([(3, 2019)], "id int, year int"), out, "t", ["year"])
    finally:
        spark.conf.set(key, mode)
    rows = spark.read.parquet(os.path.join(out, "t")).orderBy("year").collect()
    assert [(r.id, r.year) for r in rows] == [(1, 2018), (3, 2019)]
