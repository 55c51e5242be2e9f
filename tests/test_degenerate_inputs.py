"""Degenerate-catalog robustness: every query family must survive an
EMPTY catalog and a ONE-ROW catalog whose tables are Spark-written
parquet DIRECTORIES (the real lake layout, vs the single-file test
fixtures). This pins the fixes for:

- stream staging assuming events.parquet is a single FILE
  (stream_queries._stage_events_dir now stages part files from a
  directory; _stage_events_ordered degrades to one batch when the
  percentile cuts of an empty table come back NULL),
- the CoW snapshot's file-stat pruning KeyError on zero-row files and
  its zero-path read when the update predicate touches no file
  (snapshot.py: no-op v1 commit),
- UNABLE_TO_INFER_SCHEMA reading back a partitioned write of an empty
  frame (readers.read_parquet empty_schema fallback) and a manifest
  that pruned every file (roundtrip.q_manifest_pruned_scan),
- Observation.get crashing when a zero-file plan collapses to a
  LocalRelation and the observe node never runs (data_quality.py),
- NULL/empty-string HOSTILE data (what real corpora contain): NaN
  deltas poisoning the clamped-balance / EWMA integer kernels (null
  observations are now dropped at the source — they carry no signal,
  and the SQL twin would propagate NULL through the whole walk) and
  parse_json FAILFAST killing the variant scan on an empty props
  string (try_parse_json degrades it to a NULL variant).

The full 336-query sweeps over all three catalogs were run out-of-band
(0 failures); the suite keeps the previously-failing sets plus one
representative per family so the property stays cheap to check.
"""

from __future__ import annotations

import os

import pytest

from dateng_data_lakes_apache_spark_spark.registry import get_queries

#: Every query that failed the original sweep, plus one cheap
#: representative per batch family.
_COVERED = [
    # streaming (file-source staging + watermark replays)
    "q_stream_tumbling",
    "q_stream_session",
    "q_stream_dedup",
    "q_stream_sliding",
    "q_stream_static_join",
    "q_stream_custom_state",
    "q_stream_sink_parquet",
    "q_stream_stream_join",
    "q_stream_session_native",
    "q_stream_geo_hotspot",
    "q_stream_rate_alert",
    "q_stream_append",
    "q_stream_outer_join",
    "q_stream_transform_state",
    "q_stream_dedup_watermark",
    "q_stream_merge_upsert",
    "q_stream_full_outer",
    "q_stream_chained",
    "q_stream_restart",
    # lake / sources
    "q_partitioned_pruned",
    "q_join_dpp",
    "q_dynamic_overwrite",
    "q_manifest_pruned_scan",
    "q_snapshot_read",
    "q_observe_metrics",
    # one representative per batch family (never failed; regression floor)
    "q_agg_groupby",
    "q_join_inner_2key",
    "q_window_rank",
    "q_dedup_exact",
    "q_similarity_topk",
    "q_pagerank",
    "q_text_stats",
    # iterative operators: a round's Observation must not block on empty input
    "q_dedup_resolve",
    "q_graph_bfs",
    "q_ann_pq",
    "q_ann_ivf",
]

#: Queries whose kernels/expressions touch the hostile (null / empty
#: string) columns directly — the set that broke, plus the text/JSON
#: surface most exposed to dirty corpora.
_HOSTILE_COVERED = [
    "q_clamped_balance",
    "q_ewma_smooth",
    "q_variant_funcs",
    "q_json_funcs",
    "q_string_funcs",
    "q_text_stats",
    "q_lang_id",
    "q_token_count",
    "q_dedup_exact",
    "q_explode_wordcount",
]

_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def degenerate_catalogs(spark, tmp_path_factory):
    """Empty and one-row catalogs with the REAL table schemas, written as
    Spark parquet directories (multi-file-capable layout)."""
    roots = {}
    for variant, n in [("empty", 0), ("one", 1)]:
        root = str(tmp_path_factory.mktemp(f"degcat_{variant}"))
        for t in _TABLES:
            (
                spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
                .limit(n)
                .write.mode("overwrite")
                .parquet(os.path.join(root, f"{t}.parquet"))
            )
        roots[variant] = root
    return roots


@pytest.fixture(scope="session")
def hostile_catalog(spark):
    """Per-category NULL/'' dirt — delegated to the shared tools builder
    (tools/degenerate_sweep.build) so the fixture cannot drift from the
    out-of-band sweep's definition of 'hostile' (it did in r7: the
    fixture-era global-row-0 dirt never reached the 'view' subset)."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from degenerate_sweep import build

    return build(spark, "hostile")


@pytest.fixture(scope="session")
def ties_catalog(spark, tmp_path_factory):
    """Six IDENTICAL copies of one row per table, distinct only in the
    primary key (FKs pinned to key 0 so joins resolve): every value is
    tied, the worst case for top-k / LIMIT / rank determinism."""
    from pyspark.sql import functions as F

    pk = {
        "region": "r_regionkey", "nation": "n_nationkey",
        "customer": "c_custkey", "supplier": "s_suppkey",
        "part": "p_partkey", "orders": "o_orderkey",
        "lineitem": "l_linenumber", "events": "event_id",
        "documents": "doc_id", "embeddings": "vec_id",
    }
    fk = {
        "n_regionkey", "c_nationkey", "s_nationkey", "o_custkey",
        "l_orderkey", "l_partkey", "l_suppkey", "user_id",
    }
    root = str(tmp_path_factory.mktemp("degcat_ties"))
    for t in _TABLES:
        one = (
            spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
            .limit(1)
            .crossJoin(spark.range(6).select(F.col("id").alias("_rid")))
        )
        cols = []
        for f_ in one.schema.fields:
            if f_.name == "_rid":
                continue
            c = F.col(f_.name)
            if f_.name == pk[t]:
                c = F.col("_rid").cast(f_.dataType)
            elif f_.name in fk:
                c = F.lit(0).cast(f_.dataType)
            cols.append(c.alias(f_.name))
        one.select(*cols).write.mode("overwrite").parquet(
            os.path.join(root, f"{t}.parquet")
        )
    return root


#: Tie-sensitive representatives: every cut (LIMIT, top-k, rank, sketch
#: head) whose determinism rests on a complete sort key. Values on the
#: ties catalog are oracle-compared out-of-band (degenerate_oracle_sweep
#: — 0 mismatches); the in-suite pin asserts run-to-run determinism.
_TIES_COVERED = [
    "q_sort_limit",
    "q_window_topk_per_group",
    "q_approx_top_k",
    "q_similarity_topk",
    "q_hybrid_search",
    "q_dedup_exact",
    "q_window_rank",
    "q_agg_groupby",
]


@pytest.mark.parametrize("name", _TIES_COVERED)
def test_query_deterministic_on_all_tied_values(spark, ties_catalog, name):
    qs = get_queries()
    a = qs[name](spark, ties_catalog).collect()
    b = qs[name](spark, ties_catalog).collect()
    assert sorted(map(repr, a)) == sorted(map(repr, b))


@pytest.mark.parametrize("variant", ["empty", "one"])
@pytest.mark.parametrize("name", _COVERED)
def test_query_survives_degenerate_catalog(
    spark, degenerate_catalogs, variant, name
):
    # No result assertion: the contract under test is "runs end-to-end
    # and returns a well-formed (possibly empty) frame" — values on
    # degenerate inputs are covered by the oracle/property suites where
    # they are defined.
    rows = get_queries()[name](spark, degenerate_catalogs[variant]).collect()
    assert isinstance(rows, list)


@pytest.mark.parametrize("name", _HOSTILE_COVERED)
def test_query_survives_hostile_nulls(spark, hostile_catalog, name):
    rows = get_queries()[name](spark, hostile_catalog).collect()
    assert isinstance(rows, list)


@pytest.fixture(scope="session")
def skew_catalog(spark):
    """Zipf-ish FK skew (r8): ~50/25/12% of every FK remapped onto the
    referenced table's 3 smallest keys — shared tools builder, values
    oracle-compared out-of-band (degenerate_oracle_sweep: 0 mismatches)."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from degenerate_sweep import build

    return build(spark, "skew")


#: Skew-sensitive representatives: the diagnosis/treatment operators and
#: the flagship join/agg shapes whose plans must survive hot keys.
_SKEW_COVERED = [
    "q_skew_report",
    "q_join_skew_aqe",
    "q_agg_salted",
    "q_join_inner_2key",
    "q_agg_groupby",
    "q_starjoin_pricing",
]


@pytest.mark.parametrize("name", _SKEW_COVERED)
def test_query_survives_zipf_skew(spark, skew_catalog, name):
    rows = get_queries()[name](spark, skew_catalog).collect()
    assert isinstance(rows, list)


#: r8 per-category hostile regressions (VALUE-level): each of these
#: diverged from its oracle when NULL/'' dirt reached every category
#: subset, and each now pins the shared convention (order stats skip
#: NULLs; no fingerprints of absent content; NULL observation -> NULL
#: output; existence judged by keys). Oracle-compared IN SUITE on the
#: hostile catalog — the run-only tests above cannot see wrong values.
_HOSTILE_VALUE_PINNED = [
    "q_percentile_disc",
    "q_quantile_normalize",
    "q_resample_ohlc",
    "q_window_ewma",
    "q_sample_stratified",
    "q_dedup_ngram_jaccard",
    "q_dedup_union_signals",
    "q_snapshot_diff",
]


def _value_parity(spark, catalog, name):
    from dateng_data_lakes_apache_spark_spark.registry import get_oracles

    from .parity import compare_query

    compare_query(spark, catalog, get_queries()[name], get_oracles()[name])


@pytest.mark.parametrize("name", _HOSTILE_VALUE_PINNED)
def test_hostile_value_parity_pinned(spark, hostile_catalog, name):
    _value_parity(spark, hostile_catalog, name)


@pytest.fixture(scope="session")
def longtext_catalog(spark):
    """Pathological TEXT SHAPE dirt (r10): a 10k-char unbroken
    mega-token, a 2-word phrase repeated 1.5k times, and
    whitespace/newline-only near-empty text — delegated to the shared
    tools builder so the fixture cannot drift from the sweep."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from degenerate_sweep import build

    return build(spark, "longtext")


#: r10 longtext finds, each now pinning a production contract:
#: - q_string_similarity: the unbounded 2-arg levenshtein wedged >35 min
#:   on 10k-char names (O(|a|·|b|) per pair); pinned: length-band gate +
#:   equality short-circuit + bounded 3-arg levenshtein — same kept
#:   pairs, bounded cost.
#: - q_partitioned_pruned / q_join_dpp / q_dynamic_overwrite: a 10k-char
#:   hive partition VALUE exceeds the filesystem's 255-byte path-segment
#:   cap and aborts the write; pinned: common.bound_part at staging (the
#:   ingest rule), oracle twin o_bound_part where the key is emitted.
#: - q_text_roundtrip: the raw-TSV line dialect cannot represent
#:   tab/newline-bearing documents; pinned: JSONL serialization (records
#:   escape themselves) through the same text-reader ingest edge.
#: - q_xml_roundtrip: Spark XML's default surrounding-space trim
#:   rewrote '  \n word \n ' to 'word' on read-back; pinned:
#:   ignoreSurroundingSpaces=false on the roundtrip read.
#: - q_cross_format_parity / q_csv_roundtrip: the CSV WRITER's default
#:   whitespace trim rewrote values on the way out, and the reader
#:   shattered quoted multi-line records; pinned: byte-faithful
#:   write_csv + multi_line read.
_LONGTEXT_VALUE_PINNED = [
    "q_string_similarity",
    "q_partitioned_pruned",
    "q_join_dpp",
    "q_dynamic_overwrite",
    "q_text_roundtrip",
    "q_xml_roundtrip",
    "q_cross_format_parity",
    "q_csv_roundtrip",
]


@pytest.mark.parametrize("name", _LONGTEXT_VALUE_PINNED)
def test_longtext_value_parity_pinned(spark, longtext_catalog, name):
    _value_parity(spark, longtext_catalog, name)


def test_skew_report_detects_zipf_hot_keys(spark, skew_catalog):
    """The diagnosis operator must actually DIAGNOSE the planted zipf:
    ~50% of orders collapse onto one o_custkey, so the hottest key's
    share must dwarf the mean (imbalance factor ≈ n_keys/2 ≫ 5) and the
    self-join work ratio must exceed uniform."""
    row = get_queries()["q_skew_report"](spark, skew_catalog).collect()[0]
    assert row.max_key_rows >= 0.4 * row.n_rows
    assert row.imbalance_factor > 5.0
    assert row.sum_sq_ratio > 1.5


def test_cogroup_reconcile_skips_null_money_values(spark, tmp_path):
    """VALUE-level NaN regression (ADVICE r6 medium): a NULL
    o_totalprice arrives in the cogroup kernel as NaN, and
    np.rint(NaN).astype('int64') is undefined behavior (typically
    INT64_MIN ≈ -9.2e18 cents) — one dirty row must NOT poison the
    customer's total. The kernel now drops NaNs, matching the
    NULL-skipping SUM of the oracle. The run-only hostile sweep cannot
    catch this (the failure is a wrong value, not an exception)."""
    import os

    root = str(tmp_path)
    spark.createDataFrame(
        [(10, 100.0), (10, None), (20, None)],
        "o_custkey bigint, o_totalprice double",
    ).write.parquet(os.path.join(root, "orders.parquet"))
    spark.createDataFrame(
        [(10, 6000.0)], "c_custkey bigint, c_acctbal double"
    ).write.parquet(os.path.join(root, "customer.parquet"))
    out = {
        r["custkey"]: r.asDict()
        for r in get_queries()["q_cogroup_reconcile"](spark, root).collect()
    }
    assert out[10]["total_spend"] == 100.0  # NULL skipped, not INT64_MIN
    assert out[10]["n_orders"] == 2  # presence still counted
    assert out[10]["total_bal"] == 6000.0
    assert out[20]["total_spend"] == 0.0  # all-NULL group sums to zero


@pytest.fixture(scope="session")
def badvec_catalog(spark):
    """Degenerate VECTOR CONTENTS (r11): zero-norm / NaN-element /
    +Inf-element / empty / NULL / wrong-length / NULL-element vectors
    planted on vec_ids 0-6 of embeddings (all other rows and tables
    full sf0.001) — delegated to the shared tools builder so the
    fixture cannot drift from the sweep."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from degenerate_sweep import build

    return build(spark, "badvec")


#: r11 badvec finds, each now pinning the vector validity contract
#: (common.vec_ok / o_vec_ok + the cosine consumers' zero-norm
#: exclusion, similarity._emb / _VEC_OK_SQL / _VEC_UNIT_SQL):
#: - The whole similarity/ANN/PCA family diverged on first sweep
#:   (15/15 oracled queries): DuckDB's list_inner_product THROWS on a
#:   NULL-element vector while Spark's zip_with silently propagates
#:   NULL; a NaN/Inf element reaching an integer/decimal cast
#:   fabricates a value on Spark (NaN→0) and throws on DuckDB; a
#:   wrong-length vector is NULL-padded by zip_with but a hard error
#:   in list_dot_product. Fixed engine-wide: geometric operators read
#:   only contract-valid vectors, identically on both sides.
#: - _VEC_UNIT_SQL needed CASE, not AND: SQL conjunctions don't
#:   short-circuit, so the norm check threw before vec_ok could veto.
#: - q_array_funcs REPORTS degenerate arrays instead (nsize for the
#:   NULL array's dim — legacy size() fabricates -1; finite-gated
#:   value outputs — det_round floors through BIGINT on Spark but
#:   stays DOUBLE in DuckDB, so NaN fabricated 0 vs NaN).
#: - q_vector_audit classifies every planted failure mode (see
#:   test_vector_audit_detects_planted_badvec below).
_BADVEC_VALUE_PINNED = [
    "q_vector_norm",
    "q_similarity_topk",
    "q_ann_lsh",
    "q_knn_graph",
    "q_dedup_embedding",
    "q_dedup_embedding_lsh",
    "q_embedding_quantize",
    "q_embedding_scaler",
    "q_embedding_covariance",
    "q_pca_power",
    "q_array_funcs",
    "q_vector_audit",
]


@pytest.mark.parametrize("name", _BADVEC_VALUE_PINNED)
def test_badvec_value_parity_pinned(spark, badvec_catalog, name):
    _value_parity(spark, badvec_catalog, name)


def test_vector_audit_detects_planted_badvec(spark, badvec_catalog):
    """q_vector_audit must actually CLASSIFY the planted dirt: one row
    per failure class, sample_vec_id pointing at the planted vec_id,
    and the clean remainder counted as ok."""
    rows = {
        r.status: r
        for r in get_queries()["q_vector_audit"](spark, badvec_catalog).collect()
    }
    assert rows["zero_norm"].sample_vec_id == 0
    assert rows["nonfinite_element"].n_vectors == 2  # NaN (1) and +Inf (2)
    assert rows["nonfinite_element"].sample_vec_id == 1
    assert rows["empty"].sample_vec_id == 3
    assert rows["null_vector"].sample_vec_id == 4
    assert rows["wrong_dim"].sample_vec_id == 5
    assert rows["null_element"].sample_vec_id == 6
    assert rows["ok"].n_vectors >= 400  # the clean bulk of the 500
