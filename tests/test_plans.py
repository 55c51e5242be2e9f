"""Physical-plan shape assertions — the 100 TB posture, enforced.

Correct results with the wrong plan do not survive a 1000× scale-up;
these tests pin the plan properties SURVEY §4.2/§4.4 relies on.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from dateng_data_lakes_apache_spark_spark.catalog import table
from dateng_data_lakes_apache_spark_spark.plans.explain import (
    formatted_plan,
    scan_read_schema,
)
from dateng_data_lakes_apache_spark_spark.registry import get_queries

QS = get_queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = formatted_plan(QS["q_filter_eq"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning_scan_project(spark, sf_dir):
    cols = scan_read_schema(QS["q_scan_project"](spark, sf_dir))
    # 4 of lineitem's 11 columns — pruning reached the parquet reader
    assert set(cols) == {"l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"}


def test_range_filter_pushdown(spark, sf_dir):
    plan = formatted_plan(QS["q_filter_range"](spark, sf_dir))
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed and "LessThan(l_shipdate" in pushed


def _nodes(plan: str, op: str) -> int:
    """Count physical operators in a formatted plan's details section
    (each node appears once as '(N) Op' — the tree echo would double-count)."""
    return len(re.findall(rf"^\(\d+\) {op}", plan, re.M))


def test_broadcast_join_for_dims(spark, sf_dir):
    plan = formatted_plan(QS["q_join_broadcast"](spark, sf_dir))
    assert _nodes(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_star_etl_no_fact_shuffle(spark, sf_dir):
    # the fact (events) side must stream through broadcast probes only
    plan = formatted_plan(QS["q_star_etl"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    # ORDER BY + LIMIT must never globally sort (TakeOrderedAndProject)
    plan = formatted_plan(QS["q_sort_limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_window_topk_group_limit(spark, sf_dir):
    # rank<=k filters should pre-prune per map task (WindowGroupLimit)
    plan = formatted_plan(QS["q_window_topk_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    # the bucketed band join must plan as a hash equi-join, never O(n*m)
    plan = formatted_plan(QS["q_join_theta_range"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_join_plans(spark, sf_dir):
    semi = formatted_plan(QS["q_join_semi"](spark, sf_dir))
    anti = formatted_plan(QS["q_join_anti"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_agg_has_partial_aggregation(spark, sf_dir):
    # two HashAggregate ops (partial + final) around one exchange
    plan = formatted_plan(QS["q_agg_groupby"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE hides codegen spans until execution — check with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = formatted_plan(QS["q_agg_groupby"](spark, sf_dir))
        # formatted mode marks codegen'd operators with "[codegen id : N]"
        assert "[codegen id :" in plan
        # the agg→project→filter→scan pipeline must share one codegen stage
        assert "[codegen id : 1]" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """Bucketed co-location: joining two tables bucketed on the join key
    with equal bucket counts must shuffle NEITHER side. Broadcast is
    disabled to force the sort-merge path the bucketing exists for."""
    from dateng_data_lakes_apache_spark_spark.sources.bucketing import stage_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        to = stage_bucketed(spark, sf_dir, "orders", "o_orderkey")
        tl = stage_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
        o, lt = spark.table(to), spark.table(tl)
        plan = formatted_plan(
            o.join(lt, o.o_orderkey == lt.l_orderkey).select("o_orderkey", "l_quantity")
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # the whole join path is shuffle-free
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_ntile_global_no_data_scale_single_partition(spark, sf_dir):
    """The global-quantile data path must be range-partitioned; the only
    single-partition exchange allowed is the per-partition-count offsets
    branch (metadata-scale: one row per partition)."""
    plan = formatted_plan(QS["q_ntile_global"](spark, sf_dir))
    assert "rangepartitioning" in plan.lower()
    # the data-side window partitions by pid — never an empty partition spec
    # funneling the full table through one task
    data_windows = [
        line for line in plan.splitlines() if re.match(r"^\(\d+\) Window", line)
    ]
    assert data_windows, "expected Window nodes in plan"


def test_salted_join_plan_shape(spark, sf_dir):
    """The fact⋈dim join must be a hash equi-join on (key, salt); the one
    permitted nested-loop is the dim×salt fan-out against the broadcast
    8-row salt Range — constant-size at any scale factor."""
    plan = formatted_plan(QS["q_join_salted"](spark, sf_dir))
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert _nodes(plan, "Range") == 1  # the salt generator feeds the fan-out


def test_explicit_broadcast_hint_respected(spark, sf_dir):
    # even under a tiny autoBroadcast threshold, F.broadcast() must win
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c = table(spark, sf_dir, "customer")
        n = table(spark, sf_dir, "nation")
        plan = formatted_plan(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
        assert "BroadcastHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_split_and_redact_are_map_only(spark, sf_dir):
    # hash-split and PII redaction must run at scan speed: no shuffle at all
    for name in ("q_split_train_test", "q_pii_redact"):
        plan = formatted_plan(QS[name](spark, sf_dir))
        assert "Exchange" not in plan, name
        # '*' node prefix = inside a whole-stage-codegen stage
        assert "* Project" in plan, name


def test_decontaminate_probes_by_broadcast(spark, sf_dir):
    # the benchmark shingle set is broadcast; the corpus side never
    # shuffles by shingle hash (only the final per-doc count shuffles)
    plan = formatted_plan(QS["q_decontaminate"](spark, sf_dir))
    assert _nodes(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan


def test_pack_sequences_window_is_partitioned(spark, sf_dir):
    # per-shard packing: the window must hash-partition by source —
    # a SinglePartition exchange would be the 100 TB killer
    plan = formatted_plan(QS["q_pack_sequences"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert _nodes(plan, "Window") == 1


def test_multipath_scan_is_one_relation(spark, sf_dir):
    # a path-list read must plan as ONE FileSourceScan (shared split pool,
    # shared pruning) — a Union of per-path scans would fragment both
    plan = formatted_plan(QS["q_multipath_scan"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1
    assert "Union" not in plan
    # and column pruning still reaches the reader through the path list
    assert set(scan_read_schema(QS["q_multipath_scan"](spark, sf_dir))) == {
        "o_totalprice",
        "o_orderpriority",
    }


def test_partitioned_pruned_query_prunes(spark, sf_dir):
    # the registered query's scan must carry the partition predicate —
    # only the 1-URGENT directory is listed, the other four never open
    df = QS["q_partitioned_pruned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "o_orderpriority" in pf and "1-URGENT" in pf


def test_sessionize_single_exchange(spark, sf_dir):
    # both window passes and the final aggregate reuse ONE user_id hash
    # partitioning — the docstring's "one shuffle" claim, enforced
    plan = QS["q_sessionize"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_tfidf_df_is_window_not_vocab_join(spark, sf_dir):
    # document frequency must come from a word-keyed window, not a join
    # against a collected vocabulary (which would need a 100TB-unsafe
    # broadcast); the only broadcast is the 1-row corpus count N
    plan = QS["q_tfidf"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row N only
    assert "BroadcastHashJoin" not in plan


def test_corpus_pipeline_probe_is_broadcast(spark, sf_dir):
    # the decontamination probe and the dirty-doc anti join both
    # broadcast their (bounded) build side; the full corpus is never
    # shuffled by anything but its content hash
    plan = QS["q_corpus_pipeline"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_interval_overlap_join_is_bucketed(spark, sf_dir):
    # overlap join must go through the chunk equi-join, never a
    # broadcast-nested-loop or cartesian over the interval sets
    plan = QS["q_join_interval_overlap"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_starjoin_pricing_plan(spark, sf_dir):
    # composed Q3 shape: top-10 must be TakeOrderedAndProject (never a
    # global sort) and both date predicates must reach their scans
    df = QS["q_starjoin_pricing"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "LessThan(o_orderdate" in plan and "GreaterThan(l_shipdate" in plan


def test_starjoin_region_no_cartesian(spark, sf_dir):
    # the six-table join must stay equi-join end to end; nation/region
    # ride broadcasts, the local-supplier condition is part of the join
    # key set — never a post-join filter over a cross product
    plan = formatted_plan(QS["q_starjoin_region"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_scd2_single_exchange(spark, sf_dir):
    # change detection (lag) and interval closing (lead) must share one
    # user_id Exchange + Sort — the docstring's one-shuffle claim
    plan = QS["q_scd2_build"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_hinted_join_is_shuffled_hash(spark, sf_dir):
    """The SHUFFLE_HASH hint must override the planner's default
    sort-merge choice for the orders⋈customer join — the whole point of
    the hint surface is that the override actually lands in the plan."""
    plan = formatted_plan(QS["q_join_hinted"](spark, sf_dir))
    assert _nodes(plan, "ShuffledHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_null_safe_join_is_hash_not_nested_loop(spark, sf_dir):
    """eqNullSafe must stay a hash join (NULL hashes like any key) — a
    nested-loop fallback here would be a 100 TB scale-killer."""
    plan = formatted_plan(QS["q_join_null_safe"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        _nodes(plan, "ShuffledHashJoin")
        + _nodes(plan, "SortMergeJoin")
        + _nodes(plan, "BroadcastHashJoin")
        >= 1
    )


def test_chunk_documents_is_map_only(spark, sf_dir):
    """Chunking claims scan-speed fan-out: the plan must contain no
    Exchange — tokenize, generate starts, slice are all per-row."""
    plan = formatted_plan(QS["q_chunk_documents"](spark, sf_dir))
    assert "Exchange" not in plan


def test_dpp_join_prunes_fact_partitions(spark, sf_dir):
    # The partition filter exists only at runtime (via the dim join), so the
    # fact scan must carry a dynamicpruningexpression — without it a 100 TB
    # partitioned fact is read in full and filtered after the fact.
    plan = formatted_plan(QS["q_join_dpp"](spark, sf_dir))
    assert "dynamicpruning" in plan.lower()
    assert "BroadcastHashJoin" in plan


def test_bloom_filter_injection(spark, sf_dir):
    # Production thresholds (10 GiB application-side scan, unbroadcastable
    # creation side) lowered to local scale: the selective dim filter must
    # become a bloom_filter_agg + might_contain probe on the fact side.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = formatted_plan(QS["q_join_bloom"](spark, sf_dir))
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark, sf_dir):
    # Production skew thresholds lowered to local scale: the hot derived
    # key's partition must be split (SortMergeJoin(skew=true)). Executed,
    # not just planned — AQE decides from real map-output sizes.
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = QS["q_join_skew_aqe"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cbo_reorders_star_join(spark, sf_dir):
    # With ANALYZE'd column stats + CBO, the 3-way join must be reordered:
    # customer⋈nation reduced first, orders (the big fact) joined LAST —
    # the outermost Join line carries the o_custkey key. Without stats the
    # syntactic order keeps the nationkey join outermost.
    df = QS["q_stats_cbo"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [ln for ln in opt.splitlines() if "Join Inner" in ln]
    assert len(join_lines) == 2
    assert "o_custkey" in join_lines[0]
    assert "n_nationkey" in join_lines[1]
    # and the stats really exist in the catalog (table names carry the
    # sf tag so concurrent catalogs in one session never collide)
    from dateng_data_lakes_apache_spark_spark.staging import _sf_tag

    tag = _sf_tag(sf_dir)
    stats = spark.sql(f"DESC EXTENDED customer_cbo_{tag} c_custkey").collect()
    vals = {r.info_name: r.info_value for r in stats}
    assert vals.get("max") not in (None, "NULL")


def test_salted_agg_two_phase_shuffle(spark, sf_dir):
    # Phase 1 must shuffle on (key, salt) — the hot-key split — and
    # phase 2 on the key alone; a single-exchange plan means the salt
    # got optimized away and the hot key funnels into one reducer again.
    plan = QS["q_agg_salted"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 2
    inner = [ln for ln in exchanges if "event_type" in ln and "," in ln.split("hashpartitioning(")[1].split(")")[0]]
    assert inner, f"no (key, salt) exchange found: {exchanges}"


def test_er_blocked_join_is_hash_join(spark, sf_dir):
    # Blocking must plan as an equi-join (hash/sort-merge); a nested-loop
    # or cartesian plan means the block keys fell out of the join keys.
    plan = formatted_plan(QS["q_er_blocked_join"](spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)


def test_embedding_project_map_only(spark, sf_dir):
    # The projection is map-only: no exchange anywhere in the plan.
    plan = formatted_plan(QS["q_embedding_project"](spark, sf_dir))
    assert "Exchange" not in plan


def test_gap_detect_windows_are_partitioned_or_tiny(spark, sf_dir):
    """The data-sized window must be hash-partitioned by bucket; only
    the bucket-level (1024x smaller) table may use a global-order
    window — no single-task sort over the full key space."""
    plan = formatted_plan(QS["q_gap_detect"](spark, sf_dir))
    # two Window nodes: within-bucket (partitioned) and bucket-level
    assert _nodes(plan, "Window") == 2
    # the within-bucket window declares its partition spec on b
    assert re.search(r"Window .*partition.*b", plan, re.I | re.S) or "hashpartitioning(b" in plan


def test_skyline_no_dominance_join(spark, sf_dir):
    """The 2-D skyline must plan as windows + aggregation, never a
    pairwise dominance self-join (no nested-loop / cartesian)."""
    plan = formatted_plan(QS["q_skyline"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snapshot_read_scans_only_resolved_files(spark, sf_dir):
    """Reading snapshot v0 must not touch v1's rewrite file (d1/): the
    scan's file list comes from the version log, so time travel costs
    exactly the old snapshot's bytes."""
    from dateng_data_lakes_apache_spark_spark.sources.snapshot import (
        _stage_versioned_orders,
        read_snapshot,
    )

    root = _stage_versioned_orders(spark, sf_dir)
    plan = formatted_plan(read_snapshot(spark, root, 0))
    assert "/d1" not in plan


def test_content_filter_map_side_no_explode(spark, sf_dir):
    # both term counts must come from HOF filter/size over the split
    # array — no Generate (explode) node, one exchange for the rollup
    plan = formatted_plan(QS["q_content_filter"](spark, sf_dir))
    assert _nodes(plan, "Generate") == 0
    assert _nodes(plan, "Exchange") <= 2  # partial/final agg pair at most


def test_target_encode_broadcasts_encoder(spark, sf_dir):
    # the category and global tables must broadcast back onto the row
    # scan — a SortMergeJoin would mean the encoder shuffles the data
    plan = formatted_plan(QS["q_target_encode"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "BroadcastNestedLoopJoin") >= 1  # 1-row global scalar


def test_ecdf_normalize_broadcast_scalar_no_window(spark, sf_dir):
    # cut points ride in as a broadcast 1-row frame; the bucket rule is
    # a map-side HOF — no Window node anywhere
    plan = formatted_plan(QS["q_ecdf_normalize"](spark, sf_dir))
    assert _nodes(plan, "Window") == 0
    assert "BroadcastNestedLoopJoin" in plan


def test_dedup_priority_single_aggregate_no_window(spark, sf_dir):
    # keeper selection is one struct-MIN aggregate: no window pass, one
    # hash-partition exchange on the content hash
    plan = formatted_plan(QS["q_dedup_priority"](spark, sf_dir))
    assert _nodes(plan, "Window") == 0
    assert _nodes(plan, "Exchange") == 1


def test_cross_format_parity_four_scans_partial_agg(spark, sf_dir):
    # one scan per format, each reduced by a partial/final agg pair —
    # the checksum must be commutative (no Sort before aggregation)
    plan = formatted_plan(QS["q_cross_format_parity"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") >= 1
    assert _nodes(plan, "Scan csv") == 1
    assert _nodes(plan, "Scan json") == 1
    assert _nodes(plan, "Scan orc") == 1
    assert _nodes(plan, "Sort") == 0


def test_asof_nearest_single_exchange_two_windows(spark, sf_dir):
    # both direction windows must share ONE user_id exchange — the
    # interleaved-stream strategy's entire point
    plan = formatted_plan(QS["q_join_asof_nearest"](spark, sf_dir))
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Window") == 2
    assert "CartesianProduct" not in plan


def test_interval_coalesce_single_exchange(spark, sf_dir):
    plan = formatted_plan(QS["q_interval_coalesce"](spark, sf_dir))
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Window") == 2


def test_quantile_normalize_rank_join_is_hash(spark, sf_dir):
    # the rank-mapping lookup must be a hash equi-join, never a
    # nested-loop over the reference distribution
    plan = formatted_plan(QS["q_quantile_normalize"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    joins = _nodes(plan, "BroadcastHashJoin") + _nodes(plan, "SortMergeJoin") + _nodes(
        plan, "ShuffledHashJoin"
    )
    assert joins >= 1


def test_quantile_normalize_ranking_is_range_partitioned(spark, sf_dir):
    """VERDICT r6 item 1 done-criterion: both ranked event subsets use
    the global_row_number range-partition + offset construction — the
    ranking path carries NO data-scale single-partition exchange (the
    only SinglePartition exchanges sit above the metadata-scale
    per-partition-count aggregates)."""
    from dateng_data_lakes_apache_spark_spark.plans.lint import (
        single_partition_violations,
    )

    plan = formatted_plan(QS["q_quantile_normalize"](spark, sf_dir))
    assert plan.lower().count("rangepartitioning") >= 2  # one per subset
    assert single_partition_violations(plan) == []


def test_zipf_vocab_cut_is_take_ordered(spark, sf_dir):
    """VERDICT r6 item 3 done-criterion: the top-1000 vocabulary cut is
    a TakeOrderedAndProject (per-partition top-k + driver merge), never
    a global-sort window over the full open vocabulary; the rank window
    runs over the bounded cut only."""
    from dateng_data_lakes_apache_spark_spark.plans.lint import (
        single_partition_violations,
    )

    plan = formatted_plan(QS["q_zipf_fit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert single_partition_violations(plan) == []


def test_window_ntile_dim_guard(spark, sf_dir):
    """VERDICT r6 item 2 done-criterion: q_window_ntile enforces its
    dim-only contract — above the configurable threshold it fails
    loudly pointing at q_ntile_global; below it, it runs."""
    import pytest

    spark.conf.set("spark.graft.dimWindowMaxRows", "10")
    try:
        with pytest.raises(ValueError, match="q_ntile_global"):
            QS["q_window_ntile"](spark, sf_dir)
    finally:
        spark.conf.unset("spark.graft.dimWindowMaxRows")
    assert QS["q_window_ntile"](spark, sf_dir).columns[0] == "c_custkey"


def test_bootstrap_no_python_and_partial_agg(spark, sf_dir):
    # all 50 replicates ride one explode + hash aggregate: no Python
    # eval anywhere, and the replicate means come from a partial/final
    # HashAggregate pair (map-side combine before the 250-cell shuffle)
    plan = formatted_plan(QS["q_bootstrap_ci"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _nodes(plan, "HashAggregate") >= 2


def test_geo_trajectory_window_feeds_agg_one_user_exchange(spark, sf_dir):
    # the lag window's user_id hash partitioning must be reused by the
    # per-user aggregation — one data exchange, plus only the final
    # rangepartitioning for the presentation sort
    plan = formatted_plan(QS["q_geo_trajectory"](spark, sf_dir))
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1
    assert _nodes(plan, "Window") == 1


def test_geo_grid_agg_partial_aggregation(spark, sf_dir):
    # grid cells partial-aggregate map-side: two HashAggregate phases
    # around one exchange, shuffle bounded by the 12x36 grid
    plan = formatted_plan(QS["q_geo_grid_agg"](spark, sf_dir))
    assert _nodes(plan, "HashAggregate") >= 2
    assert "Window" not in plan


def test_weighted_median_windows_over_distinct_values_only(spark, sf_dir):
    # the cumsum windows must consume the (group, value) pre-aggregate,
    # not raw lineitem: HashAggregate appears BELOW the Window nodes
    plan = formatted_plan(QS["q_weighted_median"](spark, sf_dir))
    assert _nodes(plan, "Window") >= 1
    # Tree section prints root-first, so "the aggregate FEEDS the
    # window" means a HashAggregate line appears after the deepest
    # Window line (between it and the scan).
    tree = plan.split("\n\n")[0]
    assert "HashAggregate" in tree[tree.rindex("Window") :]


def test_url_dedup_single_codegen_agg_no_udf(spark, sf_dir):
    # canonicalization is regexp expressions: no Python eval node, and
    # the dedup is hash aggregation (map-side combined), no window
    plan = formatted_plan(QS["q_url_dedup"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert _nodes(plan, "HashAggregate") >= 2


def test_ivm_merge_joins_partial_states_not_rows(spark, sf_dir):
    # the merge join must sit ABOVE aggregations (joining |groups|-row
    # states), and nothing in the plan is a cartesian product
    plan = formatted_plan(QS["q_ivm_merge"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "HashAggregate") >= 4  # partial+final per state
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_eval_family_rides_the_scan(spark, sf_dir):
    # every eval metric is aggregation-shaped: no window over the corpus
    # (AUC windows only its <=1000-row histogram), no Python nodes
    for name in ("q_eval_confusion", "q_eval_kappa", "q_eval_regression"):
        plan = formatted_plan(QS[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "Window" not in plan, name


def test_clamped_balance_single_exchange_arrow_kernel(spark, sf_dir):
    # one user_id exchange into the Arrow kernel; no per-group
    # FlatMapGroupsInPandas (the rewrite's whole point)
    plan = formatted_plan(QS["q_clamped_balance"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1


def test_auc_windows_only_the_histogram(spark, sf_dir):
    # the AUC global sort must consume the <=1000-row score histogram:
    # HashAggregate below the Window (corpus never globally ordered)
    plan = formatted_plan(QS["q_eval_auc"](spark, sf_dir))
    assert _nodes(plan, "Window") == 1
    # Root-first tree: the histogram HashAggregate must sit BELOW the
    # Window (after it in text) — the corpus is never globally sorted.
    tree = plan.split("\n\n")[0]
    assert "HashAggregate" in tree[tree.rindex("Window") :]
    assert "BatchEvalPython" not in plan


def test_gini_and_km_window_bounded_tables(spark, sf_dir):
    # Lorenz / life-table accumulations window VALUE-bounded tables that
    # sit above an aggregation, never raw rows
    for name in ("q_gini_revenue", "q_kaplan_meier"):
        plan = formatted_plan(QS[name](spark, sf_dir))
        assert _nodes(plan, "Window") >= 1, name
        assert _nodes(plan, "HashAggregate") >= 2, name


def test_heaps_single_wordcount_pass(spark, sf_dir):
    # the growth curve must not rescan the corpus per decile. The
    # guarantee is the PERSISTED (decile, word) intermediate: both
    # consumer branches read the cache (InMemoryTableScan), so the
    # explode executes once at runtime regardless of how the printer
    # renders the cached subtree (Generate can appear 0, 1, or once
    # per cached-scan in the text depending on materialization state).
    plan = formatted_plan(QS["q_heaps_growth"](spark, sf_dir))
    assert "InMemoryTableScan" in plan or _nodes(plan, "Generate") <= 1


def test_feature_backfill_broadcast_fanout(spark, sf_dir):
    # the temporal containment join fans out via the broadcast cutoff
    # dim; no sort-merge or cartesian path
    plan = formatted_plan(QS["q_feature_backfill"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert _nodes(plan, "BroadcastNestedLoopJoin") <= 1  # the 3-row dim fan-out
