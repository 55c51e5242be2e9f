"""One measurement harness for every script that times registered queries.

``bench.py``, ``parity_report.py``, ``tools/opt_probe.py`` and
``tools/sf1_sweep.py`` time queries only through this module, and
``plans.snapshot`` pins the plan of the same frame. Three decisions
live here and nowhere else:

- **Which frame stands for a query** (:func:`timed_frame`). A
  staged-expectation query (``staging.STAGED_BUILDERS``) is its BUILDER
  frame, the real pipeline; the stage write and parquet re-read that the
  registered query adds for its oracle are not part of the measurement.
  Every other query is its registered frame.
- **How a timing session is warmed** (:func:`open_session`). One 1-row
  ``q_scan_project`` noop loads the JVM, codegen and file-index paths,
  and one 1-row rate stream loads the Structured Streaming classes, so
  the first timed query is not charged session start-up.
- **The pass rule** (:func:`time_passes`). Each pass starts with
  ``caching.reset_session_state``, so it pays what a fresh session
  pays. It then runs each named query in order through the no-op sink
  (scan → compute → materialize, no driver collect) and calls
  ``caching.release_session_caches`` after each one, so no query borrows
  a predecessor's index cache or checkpoint blocks. Within a pass the
  staged memo is kept on purpose: the resolve consumers read the resolve
  built earlier in the same pass, the production shape.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .caching import release_session_caches, reset_session_state
from .registry import get_queries
from .session import get_spark
from .staging import STAGED_BUILDERS


def execute_fully(df: DataFrame) -> None:
    """Run the whole plan through the no-op sink (no driver materialize)."""
    df.write.format("noop").mode("overwrite").save()


def open_session(app_name: str, sf_dir: str) -> SparkSession:
    """The engine session at ERROR log level, warmed on ``sf_dir``."""
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    # Warm up the JVM / codegen / file index once so the first measured
    # query isn't charged session-startup costs.
    execute_fully(get_queries()["q_scan_project"](spark, sf_dir).limit(1))
    # Warm the Structured-Streaming machinery the same way (micro-batch
    # executor, state-store provider, memory-sink classes load on first
    # use — measured ~5-8 s of one-time class-loading/codegen otherwise
    # charged to whichever q_stream_* runs first). A 1-row rate stream
    # touches no test data, so no measured query borrows warm state.
    warm = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .option("numPartitions", "1")
        .load()
        .writeStream.format("memory")
        .queryName(f"warm_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    warm.awaitTermination()
    return spark


def timed_frame(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The frame that stands for ``name``: its staged builder's frame if
    it has one, else the registered query's frame."""
    queries = get_queries()  # loads the operator modules, and so the builders
    fn = STAGED_BUILDERS.get(name) or queries[name]
    return fn(spark, sf_dir)


def time_passes(
    spark: SparkSession, sf_dir: str, names: list[str], repeats: int
) -> dict[str, list[float]]:
    """Wall seconds of each query in ``names`` over ``repeats`` passes,
    under the pass rule in the module docstring."""
    runs: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(repeats):
        reset_session_state(spark)
        for name in names:
            t0 = time.perf_counter()
            execute_fully(timed_frame(spark, sf_dir, name))
            runs[name].append(time.perf_counter() - t0)
            release_session_caches(spark)
    return runs
