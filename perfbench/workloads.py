"""The benchmark's workloads: fixed query lists and the lake-ingest steps.

The lists are written out here, not imported from ``bench.py``, so the
benchmark's load does not move when the headline bench is edited.

A workload is a list of *steps*.  A step is one timed execution: a
registered query (built, then executed through the no-op sink) or, in
``lake_ingest``, the star-schema pipeline or one partition-pruned scan
of a table it wrote.  One pass runs every step once, in an order drawn
from the seed.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

# Each list is the part of its workload's query set that fits the run
# length.  The benchmark contract allows 48 runs of two workloads in 57
# minutes, and a run is a ~15 s set-up, one cold pass and two or three
# warm ones.  CHANGES.md names the queries and the workload left out.

#: Relational queries whose time is mostly fixed per-query machinery:
#: catalog reads, build-time jobs, planning and job launch.
#: ``q_udf_scalar`` adds the Python/Arrow boundary (a pandas UDF).
SQL_MIX = (
    "q_scan_project",
    "q_agg_distinct",
    "q_join_inner_2key",
    "q_join_broadcast",
    "q_starjoin_region",
    "q_udf_scalar",
)

#: Incremental-ingest queries that follow the pipeline in lake_ingest.
INCREMENTAL = ("q_stream_tumbling",)

#: The lake_ingest step that runs the star-schema pipeline.
PIPELINE = "star_pipeline"

STAR_TABLES = ("songs", "artists", "users", "time", "songplays")

#: Read-back steps of lake_ingest: (table, partition filter or None).
#: Each is one scan of a table the pipeline wrote; the partitioned tables
#: are read through a filter on their partition columns, so the scan is
#: pruned by the layout the write produced.
SCANS: dict[str, tuple[str, str | None]] = {
    "scan_songplays_nov": ("songplays", "year = 2018 AND month = 11"),
    "scan_songs_dated": ("songs", "year > 0"),
}

WORKLOADS: dict[str, tuple[str, ...]] = {
    "sql_mix": SQL_MIX,
    "lake_ingest": tuple(SCANS) + INCREMENTAL,
}

#: Passes per untraced run: one cold, the rest warm.  lake_ingest's
#: pipeline step is long enough that two warm passes fit the run length.
MIN_PASSES = {"sql_mix": 4, "lake_ingest": 3}


def pass_order(workload: str, rng) -> list[str]:
    """One pass's steps.  The seed shuffles them; in lake_ingest the
    pipeline always comes first, since the scans read what it wrote."""
    names = list(WORKLOADS[workload])
    rng.shuffle(names)
    if workload == "lake_ingest":
        names = [PIPELINE] + names
    return names


@dataclass
class Lake:
    """One lake_ingest input set and the directory its pipeline writes."""

    song_glob: str
    log_glob: str
    out_dir: str

    def clear(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


def run_pipeline(spark, lake: Lake) -> None:
    from dateng_data_lakes_apache_spark_spark.pipelines import star_schema

    star_schema.run_pipeline(spark, lake.song_glob, lake.log_glob, lake.out_dir)


def scan(spark, lake: Lake, step: str):
    """The DataFrame of one read-back step."""
    table, where = SCANS[step]
    df = spark.read.parquet(os.path.join(lake.out_dir, table))
    return df.where(where) if where else df


def scan_rows(planted, step: str) -> int:
    """The row count a read-back step must find, from the planted answers."""
    return {
        "scan_songplays_nov": planted.songplays_nov,
        "scan_songs_dated": planted.songs - planted.songs_year0,
    }[step]


def lake_mismatches(lake: Lake, planted) -> list[str]:
    """Compare the row counts of the written tables (from the parquet
    footers) with the answers the generator planted."""
    import pyarrow.dataset as ds

    want = {
        "songs": planted.songs,
        "artists": planted.artists,
        "users": planted.users,
        "time": planted.nextsong,
        "songplays": planted.songplays,
    }
    got = {
        t: ds.dataset(os.path.join(lake.out_dir, t), format="parquet", partitioning="hive").count_rows()
        for t in STAR_TABLES
    }
    return [f"{t}: got {got[t]} want {v}" for t, v in want.items() if got[t] != v]


def lake_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
