"""The measurement harness is the one place that decides which frame is
timed, how a session is warmed and what state a timed pass starts from
(``harness`` module docstring)."""

from __future__ import annotations

import os
import re

from dateng_data_lakes_apache_spark_spark.caching import release_session_caches
from dateng_data_lakes_apache_spark_spark.harness import time_passes, timed_frame
from dateng_data_lakes_apache_spark_spark.plans.snapshot import normalized_plan
from dateng_data_lakes_apache_spark_spark.registry import get_queries
from dateng_data_lakes_apache_spark_spark.staging import STAGED_BUILDERS

from .conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _count_resolve_builds(monkeypatch) -> list[str]:
    from dateng_data_lakes_apache_spark_spark.operators import dedup as dd

    calls: list[str] = []
    real = dd._build_resolve

    def counting(s, d):
        calls.append(d)
        return real(s, d)

    monkeypatch.setattr(dd, "_build_resolve", counting)
    return calls


def test_every_pass_starts_from_a_fresh_session(spark, monkeypatch):
    """Each pass resets the staged memo first, so every repeat of
    q_dedup_resolve pays its build; a protocol that resets only after a
    query's last repeat times a memo re-read from the second repeat on."""
    calls = _count_resolve_builds(monkeypatch)
    runs = time_passes(spark, SF_SMALL, ["q_dedup_resolve"], 2)
    assert calls == [SF_SMALL, SF_SMALL]
    assert len(runs["q_dedup_resolve"]) == 2


def test_consumer_reads_the_resolve_built_earlier_in_its_pass(spark, monkeypatch):
    calls = _count_resolve_builds(monkeypatch)
    runs = time_passes(spark, SF_SMALL, ["q_dedup_resolve", "q_dedup_cluster_stats"], 1)
    assert calls == [SF_SMALL]
    assert [len(ts) for ts in runs.values()] == [1, 1]


def test_timed_frame_is_the_builder_frame_for_staged_queries(spark):
    staged = "q_agg_approx_distinct"
    assert staged in STAGED_BUILDERS
    timed = normalized_plan(timed_frame(spark, SF_SMALL, staged))
    release_session_caches(spark)
    assert timed == normalized_plan(STAGED_BUILDERS[staged](spark, SF_SMALL))
    assert "/expected/" not in timed
    # the registered query scans the staged expectation instead
    registered = normalized_plan(get_queries()[staged](spark, SF_SMALL))
    assert "/expected/" in registered
    release_session_caches(spark)

    plain = "q_agg_groupby"
    assert plain not in STAGED_BUILDERS
    assert normalized_plan(timed_frame(spark, SF_SMALL, plain)) == normalized_plan(
        get_queries()[plain](spark, SF_SMALL)
    )


def test_frame_choice_and_warm_up_live_only_in_the_harness():
    """Outside perfbench/ (a separate benchmark with its own session),
    no script picks a query's frame or warms streaming by hand."""
    patterns = {
        "frame choice": re.compile(r"STAGED_BUILDERS\s*\.get\("),
        "stream warm-up": re.compile(r"readStream\s*\.format\(\s*[\"']rate[\"']"),
    }
    found: dict[str, list[str]] = {what: [] for what in patterns}
    for root, dirs, files in os.walk(REPO):
        rel = os.path.relpath(root, REPO)
        dirs[:] = [
            d for d in dirs
            if not d.startswith(".") and not (rel == "." and d in ("perfbench", "spark-warehouse"))
        ]
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            for what, pat in patterns.items():
                if pat.search(text):
                    found[what].append(os.path.relpath(path, REPO))
    harness = os.path.join("dateng_data_lakes_apache_spark_spark", "harness.py")
    assert found == {what: [harness] for what in patterns}
