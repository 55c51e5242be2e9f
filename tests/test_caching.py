"""Session-scoped cache lifecycle (VERDICT r3: replace the
documentation-only persist contract with an explicit release path).

Index-building queries persist through ``caching.track``; these tests
prove (1) a multi-query session wrapped in ``cached_indexes()`` ends
holding none of the storage blocks it created, (2) ``release_caches`` is
idempotent, (3) nested scopes release only their own entries, and (4)
every iterative operator's rounds (``caching.advance``) hold one round's
blocks at a time and release with the session.
Storage checks look only at RDDs new since the test started, so blocks
another module left behind (e.g. untracked checkpoints the
ContextCleaner has not yet freed) cannot make a result order-dependent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dateng_data_lakes_apache_spark_spark import caching, cached_indexes, release_caches
from dateng_data_lakes_apache_spark_spark.caching import (
    reset_session_state,
    track,
    tracked_count,
)
from dateng_data_lakes_apache_spark_spark.harness import timed_frame
from dateng_data_lakes_apache_spark_spark.registry import get_queries
from dateng_data_lakes_apache_spark_spark.staging import STAGED_BUILDERS

from .conftest import cached_rdd_ids

QS = get_queries()


def test_three_query_session_releases_all_caches(spark, sf_dir):
    # A memoized staged minhash from an earlier test file would skip the
    # index build this test asserts on.
    reset_session_state(spark)
    before = cached_rdd_ids(spark)
    with cached_indexes():
        # Three index-building queries: funnel stage tables and the
        # pagerank edge index persist through track(); minhash persists
        # nothing since r12 (exchange reuse — see
        # test_minhash_builder_registers_no_cache) but still exercises
        # the scope exit with its staged artifact in play.
        QS["q_dedup_minhash"](spark, sf_dir).count()
        QS["q_funnel"](spark, sf_dir).count()
        QS["q_pagerank"](spark, sf_dir).count()
        assert tracked_count() > 0, "index queries should register caches"
        assert cached_rdd_ids(spark) - before, "caches should be materialized"
    assert tracked_count() == 0
    assert not cached_rdd_ids(spark) - before, "cached_indexes() exit must free its blocks"


def test_release_is_idempotent_and_counts(spark, sf_dir):
    release_caches()
    before = cached_rdd_ids(spark)
    # q_basket_lift track()s its items frame (five consumers read it).
    QS["q_basket_lift"](spark, sf_dir).count()
    n = release_caches()
    assert n >= 1
    assert release_caches() == 0  # second drain releases nothing
    assert not cached_rdd_ids(spark) - before


def test_minhash_builder_registers_no_cache(spark, sf_dir):
    """r12 design pin: the minhash pipeline has NO persist — its pair
    self-join reads the identical subtree on both sides, so exchange
    reuse computes it once and a track() would only add a blocking
    cache-materialization job (the r11 driver-variance surface)."""
    reset_session_state(spark)
    before = cached_rdd_ids(spark)
    STAGED_BUILDERS["q_dedup_minhash"](spark, sf_dir).count()
    assert release_caches() == 0
    assert not cached_rdd_ids(spark) - before


def test_nested_scopes_release_only_their_own(spark, sf_dir):
    release_caches()
    before = cached_rdd_ids(spark)
    d = spark.range(10).withColumn("x", F.col("id") * 2)
    outer = track(d)
    outer.count()
    with cached_indexes():
        inner = track(spark.range(5).withColumn("y", F.col("id") + 1))
        inner.count()
        assert tracked_count() == 2
    # inner released, outer still cached
    assert tracked_count() == 1
    assert cached_rdd_ids(spark) - before
    assert release_caches() == 1
    assert not cached_rdd_ids(spark) - before


def test_advance_holds_only_the_newest_round(spark):
    """caching.advance: each round checkpoints the new frame and frees the
    round before it, so after three rounds only the newest checkpoint's
    RDD holds blocks, and the session release frees that one too."""
    from dateng_data_lakes_apache_spark_spark.caching import advance

    release_caches()
    before = cached_rdd_ids(spark)
    state = spark.range(100)
    for r in range(3):
        state = advance(state, state.select((F.col("id") + 1).alias("id")))
        assert len(cached_rdd_ids(spark) - before) == 1, f"round {r} holds old rounds"
    newest = caching._checkpoint_rdd(state).id()
    assert cached_rdd_ids(spark) - before == {newest}
    assert tracked_count() == 1
    assert state.agg(F.min("id")).first()[0] == 3
    assert release_caches() == 1
    assert not cached_rdd_ids(spark) - before


@pytest.mark.parametrize(
    "name", ["q_dedup_resolve", "q_pagerank", "q_graph_bfs", "q_ann_pq", "q_ann_ivf"]
)
def test_iterative_builder_blocks_release_with_the_session(spark, sf_dir, name):
    """Every iterative operator's rounds are session state: after a build
    and one action the session holds at most the last round's checkpoint
    (every superseded round was freed), and release_caches() alone leaves
    no block the build made (no untracked last round)."""
    reset_session_state(spark)
    before = cached_rdd_ids(spark)
    timed_frame(spark, sf_dir, name).count()
    assert sum(kind == "rdd" for kind, _ in caching._TRACKED) <= 1
    release_caches()
    assert not cached_rdd_ids(spark) - before
