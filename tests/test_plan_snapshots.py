"""Committed plan artifacts stay true (VERDICT r3 item 7).

PLANS/ pins the full normalized physical plan of the top-cost bench
queries (staged-expectation queries pin their pre-staging BUILDER frame
— see harness.timed_frame); this test regenerates every plan
against the live engine and fails on ANY drift, so optimizer/plan
regressions surface as a git diff of the artifact, not just a broken
property assert. To accept an intentional plan change, re-run:

    python -m dateng_data_lakes_apache_spark_spark.plans.snapshot
"""

from __future__ import annotations

import os

from dateng_data_lakes_apache_spark_spark.plans.snapshot import (
    SNAPSHOT_DIR,
    SNAPSHOT_QUERIES,
    SNAPSHOT_SF_DIR,
    generate,
    normalized_plan,
)
from dateng_data_lakes_apache_spark_spark.scratch import SCRATCH, SCRATCH_BASE


def test_committed_plan_snapshots_match_live_engine(spark):
    live = generate(spark, SNAPSHOT_SF_DIR)
    assert sorted(live) == sorted(SNAPSHOT_QUERIES)
    drift = []
    for name, text in live.items():
        path = os.path.join(SNAPSHOT_DIR, f"{name}.txt")
        assert os.path.exists(path), f"missing committed snapshot {path}"
        committed = open(path).read()
        if committed != text:
            drift.append(name)
    assert not drift, (
        f"plan drift in {drift}: regenerate with "
        "`python -m dateng_data_lakes_apache_spark_spark.plans.snapshot` "
        "and review the artifact diff"
    )


def test_normalized_plan_hides_the_checkout_path(spark):
    """A scan of staged bytes names the scratch root, which lives inside
    the checkout: the normalized plan must not, or the committed
    snapshots would only match in one directory."""
    path = os.path.join(SCRATCH, "plan_path_probe")
    spark.range(3).write.mode("overwrite").parquet(path)
    text = normalized_plan(spark.read.parquet(path))
    assert "plan_path_probe" in text
    assert SCRATCH_BASE not in text
    assert os.path.dirname(SCRATCH_BASE) not in text
