"""Registry-wide physical-plan lint: structural scale rules enforced on
EVERY registered query's plan, not just the hand-picked plan tests.

Rules (SURVEY §4.4 / package design rules):
- no CartesianProduct anywhere (every join must carry keys or be a
  deliberate broadcast of a scalar/constants frame, which plans as
  BroadcastNestedLoopJoin over a 1-row side — allowed);
- no BatchEvalPython (row-at-a-time Python UDF) — Python in the row
  path must be Arrow-vectorized (ArrowEvalPython / mapInPandas are
  allowed);
- no data-scale SinglePartition funnel (VERDICT r6 item 6): an
  ``Exchange SinglePartition`` whose subtree reaches a fact-table /
  persisted / checkpointed scan without an intervening row-reducing
  node (aggregate / limit) is the global-window scale-killer —
  plans.lint.single_partition_violations, dim-table scans exempt by
  catalog contract.

Queries whose CONSTRUCTION already runs jobs (streaming replays,
iterative builders with driver-side convergence actions, staged
fixtures) are skipped here — linting them would re-run minutes of
work; their plan shapes are covered by dedicated tests instead.

Every other query must also BUILD lazily: constructing its frame fires
no Spark job, unless it is on ``BUILD_JOBS_ALLOWLIST`` with the reason
its build is eager by design.
"""

from __future__ import annotations

import pytest

from dateng_data_lakes_apache_spark_spark.plans.explain import formatted_plan
from dateng_data_lakes_apache_spark_spark.plans.lint import single_partition_violations
from dateng_data_lakes_apache_spark_spark.registry import get_queries

QS = get_queries()

#: Documented dim-only operators allowed a global window (their input
#: is dimension-scale by API contract; each names its scale-safe twin
#: in the docstring). Currently empty: every global window in the
#: registry either runs over a dim table (exempt by catalog contract)
#: or over an aggregated frame (covered by the reducer rule).
SINGLE_PARTITION_ALLOWLIST: set[str] = set()

# construction runs real jobs (iterative builders, streaming replays,
# fixture staging with collect) — excluded from the cheap lint sweep
_HEAVY_CONSTRUCTION_PREFIXES = ("q_stream_",)
_HEAVY_CONSTRUCTION = {
    "q_bpe_train",
    "q_bpe_apply",
    "q_pagerank",
    "q_dedup_resolve",
    "q_ann_ivf",
    "q_ann_pq",
    "q_manifest_pruned_scan",
    "q_snapshot_read",
    "q_dynamic_overwrite",
    "q_csv_malformed_audit",
    "q_json_malformed_audit",
    "q_csv_roundtrip",
    "q_json_roundtrip",
    "q_orc_roundtrip",
    "q_xml_roundtrip",
    "q_text_roundtrip",
    "q_multipath_scan",
    "q_partitioned_pruned",
    "q_join_dpp",
    "q_zorder_write",
    "q_clustered_write",
    "q_compact_files",
    "q_schema_evolution",
    "q_join_bucketed",
    "q_stats_cbo",
    "q_merge_upsert",
    "q_incremental_agg",
    "q_observe_metrics",
    "q_python_datasource",
    "q_python_stream_source",
    "q_multimodal_decode",
    "q_multimodal_frames",
    "q_multimodal_audio",
    "q_multimodal_video",
    "q_multimodal_resize",
    "q_multimodal_meta",
    "q_union_mixed_schema",
    "q_sketch_hll_merge",
    "q_udtf_segments",
    "q_corpus_shuffle",
}

LINTABLE = sorted(
    n
    for n in QS
    if n not in _HEAVY_CONSTRUCTION
    and not n.startswith(_HEAVY_CONSTRUCTION_PREFIXES)
)


@pytest.mark.parametrize("name", LINTABLE)
def test_no_cartesian_and_no_row_python(spark, sf_dir, name):
    df = QS[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in SINGLE_PARTITION_ALLOWLIST:
        v = single_partition_violations(formatted_plan(df))
        assert not v, f"{name}: data-scale SinglePartition funnel: {v}"


def test_single_partition_lint_catches_global_fact_window(spark, sf_dir):
    """Negative control: a global (unpartitioned) window straight over
    the events fact table MUST trip the lint — proves it is not
    vacuous — while the range-partition + per-partition-count offsets
    construction (global_row_number) must NOT."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dateng_data_lakes_apache_spark_spark.catalog import table
    from dateng_data_lakes_apache_spark_spark.operators.windows import global_row_number

    e = table(spark, sf_dir, "events").select("event_id", "value")
    bad = e.select("event_id", F.row_number().over(Window.orderBy("value", "event_id")).alias("rn"))
    assert single_partition_violations(formatted_plan(bad))
    good = global_row_number(e, [F.col("value").asc(), F.col("event_id").asc()])
    assert not single_partition_violations(formatted_plan(good))


# ---------------------------------------------------------------------------
# Staged-expectation queries: the registered query returns a re-read of
# staged bytes (a trivial parquet scan the rules above would pass
# vacuously), so the lint targets the pre-staging BUILDER frame — the
# real pipeline where a scale-killer could appear (VERDICT r5 item 2).
# Builders whose CONSTRUCTION runs iterative jobs lint at sf0.001 to
# keep that construction cheap; the plan SHAPE is conf/data-independent
# for these rules.
# ---------------------------------------------------------------------------

from dateng_data_lakes_apache_spark_spark.caching import release_caches  # noqa: E402
from dateng_data_lakes_apache_spark_spark.staging import STAGED_BUILDERS  # noqa: E402

from .conftest import SF_SMALL  # noqa: E402

#: q_ann_ivf/q_ann_pq intentionally crossJoin a BROADCAST single-row /
#: k-row constants frame (argmin against k centroids); those carry an
#: EXPLICIT F.broadcast() hint, which survives the no-auto-broadcast
#: session below — so nothing is excluded here.
STAGED_LINTABLE = sorted(STAGED_BUILDERS)


@pytest.fixture(scope="module")
def no_autobroadcast_session(spark):
    """Auto-broadcast off: a bare crossJoin/non-equi join can no longer
    hide behind size-based BroadcastNestedLoopJoin — it plans as
    CartesianProduct and fails the rule. Deliberate broadcasts keep
    their explicit hint and still plan as broadcast joins, so the lint
    separates intent from accident."""
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return s


@pytest.mark.parametrize("name", STAGED_LINTABLE)
def test_staged_builder_frame_no_cartesian_no_row_python(no_autobroadcast_session, name):
    df = STAGED_BUILDERS[name](no_autobroadcast_session, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    fplan = formatted_plan(df)
    release_caches()
    assert "CartesianProduct" not in plan, f"{name} builder: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name} builder: row-at-a-time Python UDF"
    if name not in SINGLE_PARTITION_ALLOWLIST:
        v = single_partition_violations(fplan)
        assert not v, f"{name} builder: data-scale SinglePartition funnel: {v}"


def test_staged_builder_lint_catches_injected_crossjoin(no_autobroadcast_session):
    """Negative control (VERDICT r5 item 2 done-criterion): a bare
    crossJoin of two data frames MUST trip the rule in this session —
    proves the lint is not vacuous."""
    s = no_autobroadcast_session
    a = s.read.parquet(f"{SF_SMALL}/nation.parquet")
    b = s.read.parquet(f"{SF_SMALL}/region.parquet")
    plan = a.crossJoin(b)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" in plan


# ---------------------------------------------------------------------------
# Lazy build: constructing a query's frame fires no Spark job. Catalog
# reads fire none once each table's inferred schema is memoized
# (catalog.raw_table), so any job here is the builder's own eager work.
# An allow-listed query that builds with 0 jobs fails too, so the list
# cannot go stale.
# ---------------------------------------------------------------------------

from dateng_data_lakes_apache_spark_spark.caching import reset_session_state  # noqa: E402
from dateng_data_lakes_apache_spark_spark.catalog import TABLES, table  # noqa: E402

from .conftest import jobs_fired  # noqa: E402

_STAGED = "staged expectation: the build writes its result to parquet (staging.run_staged)"
_RESOLVE = "reads the dedup resolve, which its first call builds and stages (dedup.resolved_clusters)"
_VECTORS = "reads the validity-filtered embeddings, which its first call stages (similarity._emb)"

#: Non-heavy queries whose build fires Spark jobs by design, with why.
BUILD_JOBS_ALLOWLIST: dict[str, str] = {
    "q_agg_approx_distinct": _STAGED,
    "q_agg_approx_quantile": _STAGED,
    "q_bloom_membership": _STAGED,
    "q_dedup_minhash": _STAGED,
    "q_dedup_simhash": _STAGED,
    "q_sketch_count_min": _STAGED,
    "q_dedup_cluster_stats": _RESOLVE,
    "q_dedup_rate_by_source": _RESOLVE,
    "q_split_by_cluster": _RESOLVE,
    "q_ann_lsh": _VECTORS,
    "q_dedup_embedding": _VECTORS,
    "q_dedup_embedding_lsh": _VECTORS,
    "q_embedding_covariance": _VECTORS,
    "q_embedding_drift": _VECTORS,
    "q_embedding_project": _VECTORS,
    "q_embedding_quantize": _VECTORS,
    "q_embedding_scaler": _VECTORS,
    "q_hybrid_search": _VECTORS,
    "q_knn_graph": _VECTORS,
    "q_similarity_topk": _VECTORS,
    "q_vector_centroid": _VECTORS,
    "q_vector_norm": _VECTORS,
    "q_pca_power": "stages the validity-filtered embeddings and collects the 8x8 covariance for its driver-side power iteration",
    "q_graph_bfs": "bfs_distances checkpoints each hop eagerly to cut lineage",
    "q_geo_cluster": "collects the hot grid cells for its driver-side union-find",
    "q_markov_stationary": "collects the transition cells for its driver-side power iteration",
    "q_ntile_global": "counts the input once: ntile is closed-form in (global row number, N)",
    "q_window_ntile": "counts the input to refuse a global window over more than the dim threshold",
    "q_cross_format_parity": "stages CSV/JSON/ORC copies on first call; the ORC read infers its schema with a job",
    "q_snapshot_concurrent": "stages the three-writer commit race on first call; each snapshot read infers its schema",
}


@pytest.fixture(scope="module")
def warm_catalog(spark):
    """Infer every table's schema once, so no counted build pays it."""
    for name in TABLES:
        table(spark, SF_SMALL, name)


@pytest.mark.parametrize("name", LINTABLE)
def test_lazy_build_fires_no_jobs(spark, warm_catalog, name):
    reset_session_state(spark)
    n = jobs_fired(spark, lambda: QS[name](spark, SF_SMALL))
    if name in BUILD_JOBS_ALLOWLIST:
        assert n > 0, f"{name} now builds with 0 jobs: drop it from BUILD_JOBS_ALLOWLIST"
    else:
        assert n == 0, f"{name}: {n} Spark job(s) fired while building its frame"


def test_build_jobs_allowlist_names_lintable_queries():
    assert set(BUILD_JOBS_ALLOWLIST) <= set(LINTABLE)
