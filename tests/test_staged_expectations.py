"""Determinism probe for staged-expectation queries (SURVEY §5.3).

The staged-expectation oracle (staging.py) hash-matches bytes the query
itself pinned, so its meaningfulness rests on the claim that each staged
query is a PURE FUNCTION of the input data — independent of scan splits,
shuffle partitioning, and AQE. This suite re-runs every staged query in
a second session with deliberately hostile partitioning (7 shuffle
partitions, 64 KiB scan splits, AQE off) and asserts bit-identical
output vs the default session.

(q_sample left this list in r8: its sampler was flipped from seeded
XORShift to an md5-threshold pure function of the row key, so it now
carries a fully independent DuckDB oracle instead of a staged one.)
"""

from __future__ import annotations

import pytest

from dateng_data_lakes_apache_spark_spark.caching import release_caches
from dateng_data_lakes_apache_spark_spark.registry import get_queries
from dateng_data_lakes_apache_spark_spark.staging import (
    STAGED_BUILDERS,
    _stage_dir,
    read_staged,
    stage_expectation,
)

from .conftest import SF_SMALL, jobs_fired

#: Every query whose oracle is a staged expectation. Keep in sync with
#: staged_oracle() call sites — test_staged_inventory below enforces
#: the sync. These 11 are legitimately non-SQL-derivable (seeded JVM
#: hashes / sketch internals) — the closure note lives in SURVEY §2.3.
STAGED_DETERMINISTIC = [
    "q_agg_approx_distinct",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_ann_ivf",
    "q_ann_pq",
    "q_sketch_count_min",
    "q_agg_approx_quantile",
    "q_sketch_hll_merge",
    "q_bloom_membership",
    "q_bpe_train",
    "q_bpe_apply",
]


def _canon(df):
    return sorted([tuple(repr(x) for x in r) for r in df.collect()])


@pytest.fixture(scope="module")
def hostile_session(spark):
    """Same SparkContext, deliberately different planning confs."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    s.conf.set("spark.sql.files.openCostInBytes", "0")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    return s


@pytest.mark.parametrize("name", STAGED_DETERMINISTIC)
def test_staged_query_partitioning_invariant(spark, hostile_session, name):
    """Base side = the REGISTERED query (build→stage→re-read, so the
    roundtrip is under test too); hostile side = the raw BUILDER frame
    (bypasses the session memo, so the pipeline genuinely recomputes
    under the hostile confs — a memoized staged read would be a vacuous
    comparison)."""
    qs = get_queries()
    base = _canon(qs[name](spark, SF_SMALL))
    hostile = _canon(STAGED_BUILDERS[name](hostile_session, SF_SMALL))
    assert base == hostile, (
        f"{name} output changed under different scan/shuffle partitioning — "
        "its staged-expectation oracle would pin a layout-dependent artifact"
    )
    release_caches()


def test_staged_inventory_is_complete():
    """Every staged_oracle() call site is probed here, and every one of
    them registers a builder frame for the structural guards (plan
    snapshot + lint) to target."""
    import re
    from pathlib import Path

    get_queries()  # builders register at operator-module import time
    pkg = Path(__file__).resolve().parent.parent / "dateng_data_lakes_apache_spark_spark"
    names = set()
    for py in pkg.rglob("*.py"):
        names |= set(re.findall(r"staged_oracle\(\s*\"(q_\w+)\"", py.read_text()))
    assert names == set(STAGED_DETERMINISTIC), (
        f"staged queries drifted: {sorted(names)}"
    )
    assert set(STAGED_BUILDERS) == names, (
        "every staged query must register its pre-staging builder frame "
        f"(missing: {sorted(names - set(STAGED_BUILDERS))})"
    )


#: The staged queries the build-jobs lint builds (tests/test_plan_lint.py
#: allow-lists their build for the staging write alone).
STAGED_LINTED = [
    "q_agg_approx_distinct",
    "q_agg_approx_quantile",
    "q_bloom_membership",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_sketch_count_min",
]


@pytest.mark.parametrize("name", STAGED_LINTED)
def test_staged_reread_fires_no_job_and_equals_inferred_read(spark, name):
    """The re-read supplies the written frame's schema, made nullable,
    instead of inferring it from the footers with a job; schema and rows
    equal an inferring read of the same bytes."""
    built = STAGED_BUILDERS[name](spark, SF_SMALL)
    staged = stage_expectation(built, name, SF_SMALL)
    path = _stage_dir(name, SF_SMALL)
    assert jobs_fired(spark, lambda: read_staged(spark, path, built.schema)) == 0
    inferred = spark.read.parquet(path)
    assert staged.schema == inferred.schema
    assert _canon(staged) == _canon(inferred)
    release_caches()
