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

Loop-internal persists that unpersist within their own builder (label
propagation rounds, sketch scratch tables) are deliberately NOT tracked:
they never outlive the call, so there is nothing for the session to own.
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


def local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint`` with the checkpoint blocks registered for
    release.

    Iterative operators (label propagation, PageRank, Lloyd rounds)
    checkpoint per round to truncate lineage; those blocks are RDD-level
    storage invisible to the CacheManager, so without tracking they
    outlive every unpersist/clearCache a session can issue. NOTE:
    releasing a checkpoint is final — a checkpointed frame has no
    lineage left to recompute from, so results derived from index
    queries must be materialized (collected/written) before release.

    Iterative loops should call :func:`release_superseded` on the
    PREVIOUS round's checkpointed frame once the new round is
    materialized (eager=True) and any old-vs-new comparison has run —
    otherwise every superseded round's blocks pile up in executor
    storage until the session-level release (ADVICE r4).
    """
    out = df.localCheckpoint(eager=eager)
    entry = ("rdd", out._jdf.queryExecution().analyzed().rdd())
    # Stash the exact registry entry on the frame so release_superseded
    # can drop it by identity (py4j __eq__ round-trips to the JVM).
    out._sg_ckpt_entry = entry
    with _LOCK:
        _TRACKED.append(entry)
    return out


def release_superseded(df: DataFrame) -> bool:
    """Free a superseded round's localCheckpoint blocks immediately.

    Only frames produced by :func:`local_checkpoint` carry blocks to
    free; anything else (the round-0 seed frame, an already-released
    frame) is a no-op returning False. Callers must be done with ``df``
    — a released checkpoint has no lineage to recompute from.

    WARNING (ADVICE r5): the block handle rides on the EXACT DataFrame
    object :func:`local_checkpoint` returned — passing any derived or
    re-wrapped frame (``ckpt.select(...)``, ``ckpt.alias(...)``) finds
    no handle and silently leaks the blocks. Iterative loops must keep
    the checkpointed frame itself for the release call; tests assert
    each loop's release returns True after round 1
    (tests/test_caching.py).
    """
    entry = getattr(df, "_sg_ckpt_entry", None)
    if entry is None:
        # Loud enough to diagnose a leaking loop, quiet enough for the
        # legitimate round-0-seed no-op (debug level).
        _LOG.debug(
            "release_superseded: frame carries no checkpoint handle "
            "(round-0 seed, already released, or a DERIVED frame — "
            "derived frames leak the original's blocks)"
        )
        return False
    df._sg_ckpt_entry = None
    with _LOCK:
        for i, e in enumerate(_TRACKED):
            if e is entry:
                del _TRACKED[i]
                break
        else:
            return False  # already drained by a session-level release
    _release([entry])
    return True


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
