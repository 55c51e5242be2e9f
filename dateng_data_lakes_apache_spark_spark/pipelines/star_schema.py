"""The reference's star-schema ETL, generalized into a library feature.

Re-expresses the Sparkify "Data Lake" pipeline (reference etl.py:91-226:
song/log JSON → songs/artists/users/time dims + songplays fact →
partitioned parquet) as a configurable pipeline with the SURVEY §4.3
fixes applied:
- Q1: NDJSON read with multiLine=False;
- Q2: true TimestampType via to_timestamp (not from_unixtime strings);
- Q3: users deduplicated to latest state per user (window top-1);
- Q4/Q6: no collect(); the filtered log subtree is cached once and
  released after the last write, whether the writes finish or fail;
- Q7: os.path-joined output paths;
- Q9: lossless raw staging, filter downstream.

Songplays joins the events to the raw song rows (the reference's J1,
etl.py:199-200), not to the written songs ⋈ artists dims, so its write
parses the song JSON once.

``q_star_etl`` runs the same operator shape (filter → derive time parts
→ join dim → project/rename) over the engine catalog (events⋈customer),
so the pipeline is oracle-checkable at sf0.01.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import table
from ..common import o_ts_str, ts_str
from ..registry import query

# Explicit source schemas (schema-applied JSON reads, reference etl.py:41-86).
SONG_SCHEMA = StructType(
    [
        StructField("artist_id", StringType()),
        StructField("artist_latitude", DoubleType()),
        StructField("artist_location", StringType()),
        StructField("artist_longitude", DoubleType()),
        StructField("artist_name", StringType()),
        StructField("duration", DoubleType()),
        StructField("num_songs", IntegerType()),
        StructField("song_id", StringType()),
        StructField("title", StringType()),
        StructField("year", IntegerType()),
    ]
)

LOG_SCHEMA = StructType(
    [
        StructField("artist", StringType()),
        StructField("auth", StringType()),
        StructField("firstName", StringType()),
        StructField("gender", StringType()),
        StructField("itemInSession", LongType()),
        StructField("lastName", StringType()),
        StructField("length", DoubleType()),
        StructField("level", StringType()),
        StructField("location", StringType()),
        StructField("method", StringType()),
        StructField("page", StringType()),
        StructField("registration", DoubleType()),
        StructField("sessionId", LongType()),
        StructField("song", StringType()),
        StructField("status", LongType()),
        StructField("ts", LongType()),
        StructField("userAgent", StringType()),
        StructField("userId", StringType()),
    ]
)


def read_song_data(spark: SparkSession, path: str) -> DataFrame:
    """Schema-applied JSON scan of song files (reference S1, etl.py:106)."""
    return spark.read.schema(SONG_SCHEMA).json(path, multiLine=False)


def read_log_data(spark: SparkSession, path: str) -> DataFrame:
    """Schema-applied NDJSON scan of event logs — multiLine=False fixes
    the reference's inverted flag (Q1; etl.py:149 lost all but the first
    record of every file)."""
    return spark.read.schema(LOG_SCHEMA).json(path, multiLine=False)


def build_songs_table(song_df: DataFrame) -> DataFrame:
    """Songs dim (reference etl.py:116), deduplicated on the natural key."""
    return song_df.select(
        "song_id", "title", "artist_id", "year", "duration"
    ).dropDuplicates(["song_id"])


def build_artists_table(song_df: DataFrame) -> DataFrame:
    """Artists dim (reference etl.py:124) with snake_case renames."""
    return song_df.select(
        "artist_id",
        F.col("artist_name").alias("name"),
        F.col("artist_location").alias("location"),
        F.col("artist_latitude").alias("latitude"),
        F.col("artist_longitude").alias("longitude"),
    ).dropDuplicates(["artist_id"])


def filter_songplay_events(log_df: DataFrame) -> DataFrame:
    """F1: keep song-play events, with true timestamp derived (Q2 fix)."""
    return log_df.where(F.col("page") == "NextSong").withColumn(
        "start_time", F.to_timestamp(F.col("ts") / 1000)
    )


def build_users_table(events: DataFrame) -> DataFrame:
    """Users dim: latest state per user (Q3 fix — the reference emitted one
    row per event). Window top-1 by event time = q_window_topk_per_group."""
    w = Window.partitionBy("userId").orderBy(F.col("ts").desc(), F.col("sessionId").desc())
    return (
        events.where(F.col("userId") != "")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("userId").alias("user_id"),
            F.col("firstName").alias("first_name"),
            F.col("lastName").alias("last_name"),
            "gender",
            "level",
        )
    )


def build_time_table(events: DataFrame) -> DataFrame:
    """Time dim (reference etl.py:180-186): six date parts off start_time."""
    return events.select("start_time").dropDuplicates().select(
        "start_time",
        F.hour("start_time").alias("hour"),
        F.dayofmonth("start_time").alias("day"),
        F.weekofyear("start_time").alias("week"),
        F.month("start_time").alias("month"),
        F.year("start_time").alias("year"),
        F.dayofweek("start_time").alias("weekday"),
    )


def build_songplays_table(events: DataFrame, song_df: DataFrame) -> DataFrame:
    """Songplays fact (reference etl.py:194-226): 2-key inner equi-join of
    events to one broadcast of the raw song rows (J1, etl.py:199-200),
    surrogate key via xxhash64 of natural keys (deterministic, unlike
    monotonically_increasing_id — Q5). Songs without an artist_id never
    match, so every songplay names an artist; each song matches on its
    own artist_name, as in the reference."""
    song_dim = (
        song_df.where(F.col("artist_id").isNotNull())
        .select("song_id", "title", "artist_id", "artist_name")
        .dropDuplicates(["song_id"])
    )
    joined = events.join(
        F.broadcast(song_dim),
        [events.song == song_dim.title, events.artist == song_dim.artist_name],
        "inner",
    )
    return joined.select(
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


def write_partitioned(df: DataFrame, out_dir: str, name: str, partition_cols: list[str] | None = None) -> None:
    """Lake sink (reference K1/K2, etl.py:120,190,226): snappy parquet,
    hive partition layout, dynamic partition overwrite whatever the
    session's ``partitionOverwriteMode``."""
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(os.path.join(out_dir, name))


def run_pipeline(spark: SparkSession, song_path: str, log_path: str, out_dir: str) -> dict[str, DataFrame]:
    """Full star-schema ETL: the reference's main() (etl.py:232-252) as a
    function. Caches the filtered log subtree once (Q6 fix) instead of
    re-parsing JSON per output table, and unpersists it once the writes
    finish or fail; the returned frames recompute from the sources."""
    songs_raw = read_song_data(spark, song_path)
    logs_raw = read_log_data(spark, log_path)
    events = filter_songplay_events(logs_raw).cache()

    songs = build_songs_table(songs_raw)
    artists = build_artists_table(songs_raw)
    users = build_users_table(events)
    time_tab = build_time_table(events)
    songplays = build_songplays_table(events, songs_raw)

    try:
        write_partitioned(songs, out_dir, "songs", ["year", "artist_id"])
        write_partitioned(artists, out_dir, "artists")
        write_partitioned(users, out_dir, "users")
        write_partitioned(time_tab, out_dir, "time", ["year", "month"])
        write_partitioned(songplays, out_dir, "songplays", ["year", "month"])
    finally:
        events.unpersist(blocking=True)
    return {
        "songs": songs,
        "artists": artists,
        "users": users,
        "time": time_tab,
        "songplays": songplays,
    }


@query(
    "q_star_etl",
    oracle=f"""
    SELECT e.event_id,
           {o_ts_str('e.ts')} AS start_time,
           e.user_id,
           c.c_name AS user_name,
           n.n_name AS nation,
           e.value,
           CAST(year(e.ts) AS INT) AS year,
           CAST(month(e.ts) AS INT) AS month
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.event_type = 'purchase'
    """,
)
def q_star_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full pipeline shape (F1+D1+D2+J1+P2) over the
    engine catalog: filter events → derive time parts → join dims →
    project/rename. The fact side streams through two broadcast hash
    probes — no shuffle of events at any scale."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "event_id",
            ts_str(F.col("ts")).alias("start_time"),
            "user_id",
            F.col("c_name").alias("user_name"),
            F.col("n_name").alias("nation"),
            "value",
            F.year("ts").cast("int").alias("year"),
            F.month("ts").cast("int").alias("month"),
        )
    )
