"""Session state: every long-lived index cache is tracked and
releasable, and one module decides what a session carries between
queries.

Index-building queries (LSH band tables, graph edge lists, funnel stage
tables, shingle/span postings) must ``persist`` their index so the
returned LAZY DataFrame's eventual action reuses it instead of
re-deriving the whole upstream chain — and the cache therefore has to
outlive the builder function. Every such persist goes through
:func:`track`, and the session releases them with :func:`release_caches`
or the :func:`cached_indexes` context manager:

    from dateng_data_lakes_apache_spark_spark import cached_indexes

    with cached_indexes():
        df = queries["q_dedup_minhash"](spark, sf_dir)
        df.collect()          # uses the band-table cache
    # <- all index caches released here; executor storage is empty

Harnesses that run many queries in one long-lived session (bench,
parity, sweeps, tests) use one of two boundaries and never spell the
steps out themselves:

- :func:`release_session_caches` — the per-measurement boundary: tracked
  caches and checkpoint blocks, Spark's CacheManager, and the driver refs
  that pin unreleased checkpoint blocks;
- :func:`reset_session_state` — the same release plus the staged memo
  (``staging._STAGE_MEMO``), so the next query pays what a fresh session
  pays.

Neither boundary clears the catalog's schema memo (``catalog._SCHEMAS``).
It is keyed by each table's file manifest, so any rewrite of a table
file already forces a fresh inference, and a memoized schema is the
schema a fresh session would infer from the same files. Clearing it
would only re-add one footer-inference job per table read.

The round rule: every iterative operator (connected components, BFS,
the k-means and PQ Lloyd rounds; PageRank every third round) carries
its state from round to round through :func:`advance`, which eagerly
checkpoints the new round, registers its blocks here and frees the
previous round's. So a loop holds one round's blocks at a time, its last
round is released with the session's other caches, and the checkpoint's
job is the round's only job: a loop that needs a per-round answer (did
any label change?) reads it from an ``Observation`` on the round's
frame. A checkpoint has no lineage left, so results derived from it
must be materialized before the session releases it. A loop's fixed
input (the components' edge list) is persisted and unpersisted within
the call, so the session never owns it.
"""

from __future__ import annotations

import gc
import logging
import threading
from contextlib import contextmanager
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from .staging import clear_stage_memo

_LOG = logging.getLogger(__name__)

_LOCK = threading.Lock()
# Entries are ("df", DataFrame) or ("rdd", JVM RDD handle) — the latter
# for localCheckpoint blocks, which DataFrame.unpersist / clearCache
# never touch (they live in RDD storage, not the CacheManager).
_TRACKED: list[tuple[str, Any]] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for session-scoped release.

    Drop-in replacement for ``df.persist()`` at index-cache sites.
    Returns the same DataFrame so call sites chain unchanged.
    """
    df.persist()
    with _LOCK:
        _TRACKED.append(("df", df))
    return df


def advance(prev: DataFrame | None, new: DataFrame) -> DataFrame:
    """One round of an iterative operator: eagerly ``localCheckpoint``
    ``new``, register its blocks for session release, and free
    ``prev``'s blocks if ``prev`` is the frame an earlier ``advance``
    returned (anything else, such as a loop's seed frame, is left alone).

    ``new`` may read ``prev``: the checkpoint's job materializes ``new``
    (and fills any ``Observation`` on it) before ``prev`` is freed.
    """
    out = new.localCheckpoint(eager=True)
    with _LOCK:
        _TRACKED.append(("rdd", _checkpoint_rdd(out)))
    old = _checkpoint_rdd(prev) if prev is not None else None
    if old is not None:
        rid = old.id()
        with _LOCK:
            hits = [i for i, (kind, h) in enumerate(_TRACKED) if kind == "rdd" and h.id() == rid]
            mine = [_TRACKED.pop(i) for i in reversed(hits)]
        _release(mine)
    return out


def _checkpoint_rdd(df: DataFrame) -> Any:
    """The JVM RDD behind a localCheckpoint'd frame, else None."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None


def _release(entries: list[tuple[str, Any]]) -> int:
    n_ckpt = sum(1 for kind, _ in entries if kind == "rdd")
    if n_ckpt:
        # Finality notice (ADVICE r4): checkpoint blocks have no lineage
        # left — any unmaterialized frame derived from them is dead after
        # this point. Debug-level so library sessions stay quiet.
        _LOG.debug(
            "releasing %d localCheckpoint block set(s); frames derived "
            "from index queries must already be materialized",
            n_ckpt,
        )
    for kind, h in entries:
        try:
            if kind == "df":
                h.unpersist()
            else:
                h.unpersist(False)
        except Exception:
            pass  # session already stopped — nothing left to release
    return len(entries)


def tracked_count() -> int:
    """Number of currently-registered (not yet released) cache entries."""
    with _LOCK:
        return len(_TRACKED)


def release_caches() -> int:
    """Unpersist every tracked cache; returns how many were released.

    Safe to call any time: unpersist is a no-op on non-persisted frames,
    and the registry empties so a second call releases nothing.
    """
    with _LOCK:
        drained, _TRACKED[:] = _TRACKED[:], []
    return _release(drained)


def release_session_caches(spark: SparkSession) -> None:
    """Per-measurement boundary: unpersist every tracked cache, clear
    Spark's CacheManager, and collect the driver refs that keep
    untracked localCheckpoint blocks pinned (they unpin only when their
    DataFrames die and the ContextCleaner runs)."""
    release_caches()
    spark.catalog.clearCache()
    gc.collect()


def reset_session_state(spark: SparkSession) -> None:
    """Fresh-session boundary: :func:`release_session_caches` plus the
    staged memo, so the next query rebuilds every staged artifact."""
    clear_stage_memo()
    release_session_caches(spark)


@contextmanager
def cached_indexes() -> Iterator[None]:
    """Scope index caches to a block: released on exit, error or not.

    Releases only the caches *created inside* the block, so nested /
    interleaved scopes don't free an outer scope's indexes.
    """
    with _LOCK:
        mark = len(_TRACKED)
    try:
        yield
    finally:
        with _LOCK:
            drained, _TRACKED[mark:] = _TRACKED[mark:], []
        _release(drained)
