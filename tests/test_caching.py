"""Session-scoped cache lifecycle (VERDICT r3: replace the
documentation-only persist contract with an explicit release path).

Index-building queries persist through ``caching.track``; these tests
prove (1) a multi-query session wrapped in ``cached_indexes()`` ends
holding none of the storage blocks it created, (2) ``release_caches`` is
idempotent, and (3) nested scopes release only their own entries.
Storage checks look only at RDDs new since the test started, so blocks
another module left behind (e.g. untracked checkpoints the
ContextCleaner has not yet freed) cannot make a result order-dependent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dateng_data_lakes_apache_spark_spark import cached_indexes, release_caches
from dateng_data_lakes_apache_spark_spark.caching import (
    reset_session_state,
    track,
    tracked_count,
)
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


def test_release_superseded_exact_object_contract(spark):
    """ADVICE r5: the checkpoint handle rides on the EXACT frame
    local_checkpoint returned — a derived frame silently no-ops (and
    would leak in a loop). Pin the contract both ways, plus released-
    twice idempotence."""
    from dateng_data_lakes_apache_spark_spark.caching import (
        local_checkpoint,
        release_superseded,
    )

    ck = local_checkpoint(spark.range(100))
    derived = ck.select("id")
    assert release_superseded(derived) is False  # no handle on derived frames
    assert release_superseded(ck) is True
    assert release_superseded(ck) is False  # already released


def test_iterative_loops_release_every_superseded_round(spark, monkeypatch):
    """ADVICE r5 done-criterion: in a real iterative operator, every
    release after round 1 must return True (False would mean the loop
    passed a derived frame and is silently leaking checkpoint blocks).

    q_pagerank's production cadence is ckpt_every=3 (ONE cut per 5
    rounds — nothing is ever superseded there, r9), so the release path
    is exercised by running the same loop at ckpt_every=1, which
    supersedes a checkpoint every round after the first."""
    import dateng_data_lakes_apache_spark_spark.operators.graph as graph
    from .conftest import SF_SMALL
    from dateng_data_lakes_apache_spark_spark.catalog import table
    from pyspark.sql import functions as F

    returns: list[bool] = []
    orig = graph.release_superseded

    def spy(df):
        r = orig(df)
        returns.append(r)
        return r

    monkeypatch.setattr(graph, "release_superseded", spy)
    li = table(spark, SF_SMALL, "lineitem")
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    graph.pagerank(edges, iters=4, ckpt_every=1).collect()
    release_caches()
    assert returns, "pagerank never called release_superseded"
    assert all(returns), (
        "a release returned False mid-loop — superseded checkpoint blocks leaked"
    )
