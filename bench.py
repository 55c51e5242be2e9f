"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query executes fully via the no-op sink (measures scan→compute→
materialize without driver collect overhead). Session is the engine
factory on local[$SPARK_GRAFT_CPUS] with AQE on — the same plan shapes
a cluster run would get.

Protocol (r6, VERDICT r5 items 3+5):
- MEDIAN of $SPARK_GRAFT_BENCH_REPEATS runs (default 3) per query; the
  contract line and the total carry medians, and BENCH_DETAIL.json adds
  per-query {median, spread, runs} so round-over-round comparison can
  finally separate real deltas from the ±15-20% single-shot noise.
- Staged-expectation queries time their BUILDER frame (the real
  pipeline) — the oracle-plumbing write+re-read that polluted r5's
  minhash/bpe numbers is not part of the measured query.
- Session state follows the two boundaries in ``caching``:
  ``release_session_caches`` after every query (no query borrows a
  predecessor's index cache or checkpoint blocks), and
  ``reset_session_state`` after every repeat (the staged memo clears, so
  each repeat pays what a fresh session would). WITHIN a repeat the memo
  reuse is deliberate: resolve computes once and its three consumers
  read the staged artifact, the production shape.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dateng_data_lakes_apache_spark_spark.caching import (
    release_session_caches,
    reset_session_state,
)
from dateng_data_lakes_apache_spark_spark.registry import get_queries
from dateng_data_lakes_apache_spark_spark.session import get_spark
from dateng_data_lakes_apache_spark_spark.staging import STAGED_BUILDERS

# The headline set: every operator family is represented (scan/filter,
# join ladder incl. asof, agg incl. rollup, the window family, sort,
# scalar packs, pivot, text, the dedup ladder incl. cluster resolution,
# vector, UDF, pipeline, streaming) so a regression anywhere is caught.
HEADLINE = [
    "q_scan_project",
    "q_melt_unpivot",
    "q_filter_range",
    "q_agg_groupby",
    "q_agg_distinct",
    "q_rollup",
    "q_join_inner_2key",
    "q_join_left",
    "q_join_broadcast",
    "q_join_theta_range",
    "q_join_asof",
    "q_window_rank",
    "q_window_topk_per_group",
    "q_window_running",
    "q_ntile_global",
    "q_sort_limit",
    "q_intersect_all",
    "q_string_funcs",
    "q_date_funcs",
    "q_math_funcs",
    "q_pivot",
    "q_explode_wordcount",
    "q_text_quality",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_dedup_resolve",
    "q_dedup_cluster_stats",
    "q_dedup_rate_by_source",
    "q_dedup_lines",
    "q_dedup_sorted_neighborhood",
    "q_join_dpp",
    "q_join_bloom",
    "q_bpe_train",
    "q_manifest_pruned_scan",
    "q_stream_merge_upsert",
    "q_hybrid_search",
    "q_join_skew_aqe",
    "q_stats_cbo",
    "q_doc_fingerprint",
    "q_vector_norm",
    "q_similarity_topk",
    "q_udf_scalar",
    "q_star_etl",
    "q_stream_tumbling",
    "q_subquery_scalar",
    "q_merge_upsert",
    "q_split_train_test",
    "q_pack_sequences",
    "q_decontaminate",
    "q_span_dedup",
    "q_pii_redact",
    "q_sessionize",
    "q_vector_centroid",
    "q_corpus_pipeline",
    "q_tfidf",
    "q_sample_stratified",
    "q_sample_es_weighted",
    "q_kfold_assign",
    "q_agg_string_concat",
    "q_embedding_quantize",
    "q_agg_percentile_exact",
    "q_join_interval_overlap",
    "q_pagerank",
    "q_starjoin_region",
    "q_starjoin_returns",
    "q_starjoin_bigorders",
    "q_starjoin_disjunct",
    "q_gap_fill",
    "q_gap_interpolate",
    "q_rolling_median",
    "q_window_distinct",
    "q_user_growth",
    "q_new_vs_returning",
    "q_session_bounce",
    "q_time_to_first_purchase",
    "q_catalog_coverage",
    "q_order_aging",
    "q_repeat_purchase",
    "q_gap_percentiles",
    "q_bitwise_funcs",
    "q_hour_heatmap",
    "q_corpus_length_profile",
    "q_abc_pareto",
    "q_hhi_concentration",
    "q_dq_freshness",
    "q_text_entropy",
    "q_join_null_safe",
    "q_recursive_cte",
    "q_stream_outer_join",
    "q_funnel",
    "q_retention_cohort",
    "q_resample_ohlc",
    "q_frequent_pairs",
    "q_triangle_count",
    "q_graph_bfs",
    "q_basket_lift",
    "q_multimodal_video",
    "q_agg_salted",
    "q_er_blocked_join",
    "q_embedding_project",
    "q_starjoin_custdist",
    "q_starjoin_waiting",
    "q_starjoin_mincost",
    "q_outlier_iqr",
    "q_cogroup_reconcile",
    "q_sequence_transitions",
    "q_time_weighted_avg",
    "q_stream_chained",
    # round 3 additions
    "q_snapshot_read",
    "q_period_growth",
    "q_gap_detect",
    "q_mad_outlier",
    "q_bloom_membership",
    "q_skyline",
    "q_attribution",
    "q_regression_slope",
    "q_percentile_disc",
    "q_ann_pq",
    "q_observe_metrics",
    "q_dynamic_overwrite",
    "q_text_roundtrip",
    "q_json_malformed_audit",
    "q_stream_restart",
    "q_scd2_lookup",
    "q_window_ewma",
    "q_dedup_incremental",
    "q_multimodal_webp",
    "q_rolling_zscore",
    "q_ltv_curve",
    "q_quality_gate",
    "q_funnel_windowed",
    "q_skew_report",
    "q_join_asof_tolerance",
    "q_dedup_normalized",
    "q_winsorize",
    "q_embedding_scaler",
    "q_cap_per_source",
    "q_vocab_coverage",
    "q_drift_psi",
    "q_ab_test",
    "q_ks_test",
    "q_mann_whitney",
    "q_spearman_corr",
    "q_autocorr",
    "q_cramers_v",
    "q_langid_eval",
    "q_content_filter",
    "q_window_percentile",
    "q_cross_format_parity",
    "q_dedup_priority",
    "q_kanonymity",
    "q_ecdf_normalize",
    "q_cusum_changepoint",
    "q_forecast_backtest",
    "q_activity_bitmap",
    "q_target_encode",
    "q_feature_hashing",
    "q_dedup_union_signals",
    "q_dp_noisy_count",
    "q_path_analysis",
    "q_lateness_audit",
    "q_record_linkage",
    "q_bootstrap_ci",
    "q_penny_allocation",
    "q_interval_coalesce",
    "q_substring_removal_plan",
    "q_benford_audit",
    "q_quantile_normalize",
    "q_events_pipeline",
    "q_join_asof_nearest",
    "q_impute_missing",
    "q_woe_binning",
    "q_chi2_independence",
    "q_geo_radius_join",
    "q_geo_nearest_hub",
    "q_geo_trajectory",
    "q_geo_morton_cells",
    "q_lpm_route_join",
    "q_weighted_median",
    "q_table_diff",
    "q_clamped_balance",
    "q_ewma_smooth",
    "q_business_days",
    "q_geo_pipeline",
    "q_url_dedup",
    "q_geo_cluster",
    "q_stream_geo_hotspot",
    "q_eval_confusion",
    "q_eval_kappa",
    "q_eval_auc",
    "q_eval_ndcg",
    "q_eval_regression",
    "q_kaplan_meier",
    "q_embedding_covariance",
    "q_ivm_merge",
    "q_zipf_fit",
    "q_gini_revenue",
    "q_heaps_growth",
    "q_feature_backfill",
    "q_seasonality_dow",
    "q_fdr_bh",
    "q_stream_rate_alert",
    "q_ab_power",
    "q_embedding_drift",
    "q_anova_f",
    "q_kendall_tau",
    "q_theil_sen",
    "q_welch_ttest",
    "q_max_drawdown",
    "q_seasonal_decompose",
    "q_eval_pr_curve",
    "q_eval_bleu",
    "q_ngram_novelty",
    "q_local_clustering",
    "q_holt_linear",
    "q_pacf",
    "q_ols_multi",
    "q_mutual_information",
    "q_streaks",
    "q_top_movers",
    "q_stream_topk",
    "q_pca_power",
    "q_user_entropy",
    "q_lm_bigram",
    "q_diff_in_diff",
    "q_funnel_latency",
    "q_sprt_abtest",
    "q_contribution",
    "q_cuped",
    "q_markov_stationary",
    "q_nelson_aalen",
]


#: BENCH_r01's 20-query window — the only stable cross-round yardstick
#: (every round's baseline ratio is computed on this sum), so these
#: names are ALWAYS printed first regardless of rotation.
BASELINE_WINDOW = [
    "q_scan_project",
    "q_filter_range",
    "q_agg_groupby",
    "q_agg_distinct",
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
    "q_stream_tumbling",
]


def print_order(timings: dict[str, float]) -> list[str]:
    """Rotate the printed subset so driver evidence spreads over rounds.

    The driver captures only the last ~2000 stdout chars (~78 of 232
    headline queries), and a static print order starved late HEADLINE
    registrations of driver-recorded numbers for 9 rounds (VERDICT r9
    item 6). Order: (1) the 20-query baseline window, always — the
    cross-round performance yardstick; (2) queries never present in any
    ON-DISK ``BENCH_r*.json`` parsed map (the working tree's glob, so an
    untracked current-round file counts as seen — ADVICE r10),
    HEADLINE order — each round
    automatically promotes whatever still lacks driver evidence;
    (3) everything else. Per-query numbers dropped from the printed
    tail remain in BENCH_DETAIL.json.
    """
    import glob

    seen: set[str] = set()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "BENCH_r*.json"))):
        try:
            with open(path) as f:
                parsed = json.load(f).get("parsed") or {}
            seen.update(parsed.get("queries") or {})
        except (OSError, ValueError):
            continue
    base = [n for n in BASELINE_WINDOW if n in timings]
    fresh = [n for n in timings if n not in seen and n not in base]
    rest = [n for n in timings if n in seen and n not in base]
    return base + fresh + rest


def execute_fully(df) -> None:
    """Run the whole plan through the no-op sink (no driver materialize)."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = get_queries()

    # Warm up the JVM / codegen / file index once so the first measured
    # query isn't charged session-startup costs.
    execute_fully(queries["q_scan_project"](spark, sf_dir).limit(1))
    # Warm the Structured-Streaming machinery the same way (micro-batch
    # executor, state-store provider, memory-sink classes load on first
    # use — measured ~5-8 s of one-time class-loading/codegen otherwise
    # charged to whichever q_stream_* runs first). A 1-row rate stream
    # touches no test data, so no measured query borrows warm state.
    import uuid as _uuid

    warm = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .option("numPartitions", "1")
        .load()
        .writeStream.format("memory")
        .queryName(f"warm_{_uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    warm.awaitTermination()

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(repeats):
        for name in HEADLINE:
            # Staged-expectation queries measure the BUILDER frame — the
            # real pipeline — not the stage-write + re-read oracle plumbing.
            fn = STAGED_BUILDERS.get(name) or queries[name]
            t0 = time.perf_counter()
            execute_fully(fn(spark, sf_dir))
            runs[name].append(time.perf_counter() - t0)
            release_session_caches(spark)
        reset_session_state(spark)

    timings = {name: round(statistics.median(ts), 3) for name, ts in runs.items()}
    detail = {
        name: {
            "median": round(statistics.median(ts), 3),
            "spread": round(max(ts) - min(ts), 3),
            "runs": [round(t, 3) for t in ts],
        }
        for name, ts in runs.items()
    }
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full-precision per-query detail goes to a repo file — the printed
    # contract line must fit the driver's 2000-char stdout tail capture
    # (round 2's 3.5 KB line was truncated mid-stream -> "parsed": null).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"), "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total_wall_seconds",
                "value": total,
                "unit": "sec",
                "repeats": repeats,
                "queries": timings,
                "detail": detail,
                "sf": sf_val,
            },
            f,
            indent=1,
        )
        f.write("\n")

    ordered = print_order(timings)

    def contract_line(decimals: int, keep: int) -> str:
        q = {n: round(timings[n], decimals) for n in ordered[:keep]}
        return json.dumps(
            {
                "metric": "headline_queries_total_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": q,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )

    # Self-trimming: 2 decimals, then 1, then drop trailing entries until
    # the line fits BUDGET (< the 2000-char window, with safety margin).
    # Dropped entries are never lost — BENCH_DETAIL.json has all of them.
    BUDGET = 1850
    line = contract_line(2, len(timings))
    if len(line) > BUDGET:
        line = contract_line(1, len(timings))
    keep = len(timings)
    while len(line) > BUDGET and keep > 1:
        keep -= 1
        line = contract_line(1, keep)
    # Stop the JVM BEFORE printing: async JVM warnings (GC, shutdown) can
    # otherwise land on stdout after the JSON line and break tail -1
    # parsing of the one-line contract.
    spark.stop()
    print(line)


if __name__ == "__main__":
    main()
