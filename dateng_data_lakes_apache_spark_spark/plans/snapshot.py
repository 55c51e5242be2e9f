"""Executed-plan snapshot artifacts (VERDICT r3 item 7).

tests/test_plans.py asserts ~60 individual plan PROPERTIES; this module
additionally pins the WHOLE physical plan of the top-cost bench queries
as committed text artifacts (``PLANS/``), so any plan change — an
optimizer regression, a lost pushdown, a join strategy flip — shows up
as a reviewable git diff rather than only a failed property assert.

``normalized_plan`` strips the run-varying parts (expression ids,
in-memory relation hashes, scratch-path UUIDs) and keeps everything
structural: node tree, join strategies, partitioning, PushedFilters,
ReadSchema. Regenerate with::

    python -m dateng_data_lakes_apache_spark_spark.plans.snapshot

and the round-trip test (tests/test_plan_snapshots.py) fails if the
committed artifacts no longer match what the engine plans today.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

from .explain import formatted_plan

#: The pinned set (VERDICT r5 item 6 widened it from 20 to the top-cost
#: bench queries): the round-1 driver bench queries plus every expensive
#: bench query whose normalized plan is SESSION-DETERMINISTIC (verified
#: by generating twice in fresh JVMs and diffing — queries whose plans
#: carry run-varying structure are excluded with a reason below).
#: Each query pins the frame ``harness.timed_frame`` times: staged-
#: expectation queries pin their BUILDER frame.
#: Excluded, with reasons:
#: - q_agg_distinct: count-distinct EXPAND rewrite orders grouping
#:   columns nondeterministically across sessions (plan PROPERTIES
#:   asserted in tests/test_plans.py instead);
#: - q_stream_*: registered output is a memory-sink scan, no plan;
#: - q_pagerank / q_graph_bfs / q_dedup_resolve / q_geo_cluster: the
#:   returned frame is a post-checkpoint scan — the per-round join plans
#:   are asserted property-wise in tests/test_plans.py / test_graph.py;
#: - q_bpe_train: the builder's frame is the driver-learned 10-row merge
#:   table (LocalTableScan) — nothing structural to pin;
#: - any candidate the double-generation diff rejected (see git history
#:   of this list).
SNAPSHOT_QUERIES = [
    "q_scan_project",
    "q_filter_range",
    "q_agg_groupby",
    "q_having",
    "q_join_inner_2key",
    "q_join_left",
    "q_join_broadcast",
    "q_join_theta_range",
    "q_window_topk_per_group",
    "q_window_running",
    "q_sort_limit",
    "q_explode_wordcount",
    "q_text_quality",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_doc_fingerprint",
    "q_vector_norm",
    "q_similarity_topk",
    "q_star_etl",
    "q_mad_outlier",
    # -- r6 widening: top-cost bench queries --
    "q_ann_pq",
    "q_basket_lift",
    "q_cogroup_reconcile",
    "q_dedup_simhash",
    "q_corpus_pipeline",
    "q_penny_allocation",
    "q_substring_removal_plan",
    "q_embedding_covariance",
    "q_frequent_pairs",
    "q_regression_slope",
    "q_winsorize",
    "q_decontaminate",
    "q_bootstrap_ci",
    "q_udf_scalar",
    "q_starjoin_mincost",
    "q_agg_percentile_exact",
    "q_recursive_cte",
    "q_hybrid_search",
    "q_eval_ndcg",
    "q_skyline",
    "q_heaps_growth",
    "q_ntile_global",
    "q_starjoin_bigorders",
    "q_join_skew_aqe",
    "q_funnel",
    "q_bloom_membership",
    "q_events_pipeline",
    "q_string_funcs",
    "q_dedup_lines",
    "q_geo_pipeline",
    "q_percentile_disc",
    "q_er_blocked_join",
    "q_fdr_bh",
    "q_gap_percentiles",
    "q_geo_trajectory",
    "q_table_diff",
    "q_embedding_drift",
    "q_triangle_count",
]

SNAPSHOT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "PLANS",
)

#: Driver correctness scale — plans are size-sensitive (broadcast
#: thresholds), so the snapshot pins the sf the driver gates on.
SNAPSHOT_SF_DIR = "/root/testdata/sf0.01"

#: Plans are also CONF-sensitive (partition counts in Exchange specs,
#: spread() gating on defaultParallelism), so snapshots pin the test
#: session's config; the __main__ regenerator creates exactly this.
SNAPSHOT_SESSION = dict(app_name="plan-snapshots", master="local[4]", shuffle_partitions=4)


def normalized_plan(df: DataFrame) -> str:
    """Formatted plan with run-varying tokens canonicalized."""
    text = formatted_plan(df)
    # expression ids (#123, #123L) vary with builder invocation order
    text = re.sub(r"#\d+", "#_", text)
    # plan_id is a session-global counter — position-dependent, not structural
    text = re.sub(r"\[plan_id=\d+\]", "[plan_id=_]", text)
    # HOF lambda variable names (x_24, y_47, ...) carry a session-global
    # counter too; single-letter_digits never collides with column names
    text = re.sub(r"\b([a-z])_\d+", r"\1_", text)
    # cached-relation / rdd identity hashes
    text = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[_]", text)
    # RDD creation call-sites ("at localCheckpoint at X:0"): X flips from
    # NativeMethodAccessorImpl.java to <unknown> once HotSpot replaces the
    # reflection accessor with generated bytecode (~15 reflective calls),
    # i.e. it depends on how much JVM work preceded the snapshot — pure
    # run-environment noise, found via the full-suite drift of q_ann_pq r6.
    # Anchored to the checkpoint call-site context: an unanchored
    # " at X:N" would also rewrite legitimate plan content (e.g. string
    # literals in pushed filters) and mask a real diff (ADVICE r6).
    text = re.sub(r"\b(localCheckpoint|checkpoint) at [\w.<>$]+:\d+", r"\1 at _:0", text)
    text = re.sub(r"\bcachedPlan=\S+", "cachedPlan=_", text)
    # scratch staging uses per-run uuids in some writers
    text = re.sub(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "_uuid_", text)
    # the run-ID scratch root (scratch.SCRATCH, "run-<pid>-<hex>") shows
    # up in any plan that scans a staged ingest index (r12:
    # idx_embeddings_valid) — per-process by design, never structural
    text = re.sub(r"run-\d+-[0-9a-f]+", "run-_", text)
    # drop fully volatile lines (free-memory sizes etc. if present)
    lines = [ln.rstrip() for ln in text.splitlines()]
    return "\n".join(lines).rstrip() + "\n"


def generate(spark, sf_dir: str = SNAPSHOT_SF_DIR) -> dict[str, str]:
    """(name → normalized plan text) for every snapshot query."""
    from ..caching import release_session_caches
    from ..harness import timed_frame

    # Plans are cache-state-sensitive (a pre-materialized index swaps a
    # scan subtree for InMemoryTableScan); snapshot from a clean slate.
    release_session_caches(spark)
    out = {}
    for name in SNAPSHOT_QUERIES:
        out[name] = normalized_plan(timed_frame(spark, sf_dir, name))
        # A builder that track()-persists its index must not leave that
        # cache to perturb the NEXT query's pinned plan.
        release_session_caches(spark)
    return out


def write_snapshots(spark, out_dir: str = SNAPSHOT_DIR, sf_dir: str = SNAPSHOT_SF_DIR) -> int:
    os.makedirs(out_dir, exist_ok=True)
    plans = generate(spark, sf_dir)
    for name, text in plans.items():
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)
    return len(plans)


if __name__ == "__main__":
    from ..session import get_spark

    n = write_snapshots(get_spark(**SNAPSHOT_SESSION))
    print(f"wrote {n} plan snapshots to {SNAPSHOT_DIR}")
