"""Semantic tests for the dedup family using planted duplicates —
the property the driver's rows-only check can't see."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dateng_data_lakes_apache_spark_spark.caching import reset_session_state
from dateng_data_lakes_apache_spark_spark.operators.dedup import (
    _word_shingles,
    minhash_signature,
)


@pytest.fixture(scope="module")
def planted(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside"
    )
    near = base.replace("lazy", "sleepy")  # one-word near-duplicate
    far = (
        "completely different content about distributed query engines and "
        "columnar storage formats with vectorized execution pipelines"
    )
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)], ["doc_id", "text"]
    )


def test_minhash_identical_docs_full_signature_match(planted):
    sigs = planted.select(
        "doc_id", minhash_signature(_word_shingles(F.col("text"))).alias("sig")
    ).collect()
    by_id = {r.doc_id: r.sig for r in sigs}
    assert by_id[0] == by_id[1]  # identical text → identical signature
    # near-dup shares most of the signature
    overlap_near = sum(a == b for a, b in zip(by_id[0], by_id[2])) / len(by_id[0])
    overlap_far = sum(a == b for a, b in zip(by_id[0], by_id[3])) / len(by_id[0])
    assert overlap_near >= 0.5
    assert overlap_far == 0.0


def test_minhash_estimate_tracks_true_jaccard(planted):
    rows = planted.select(
        "doc_id", _word_shingles(F.col("text")).alias("sh"),
        minhash_signature(_word_shingles(F.col("text"))).alias("sig"),
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    a, b = by_id[0], by_id[2]
    true_j = len(set(a.sh) & set(b.sh)) / len(set(a.sh) | set(b.sh))
    est_j = sum(x == y for x, y in zip(a.sig, b.sig)) / len(a.sig)
    assert abs(true_j - est_j) < 0.35  # 16 permutations → coarse but unbiased


def test_exact_dedup_groups_identical_texts(spark, planted):
    from dateng_data_lakes_apache_spark_spark.registry import get_queries

    # run the registered query's logic shape directly on planted data
    grouped = (
        planted.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_keeper = {r.keeper: r.n for r in grouped}
    assert by_keeper[0] == 2  # docs 0 and 1 collapse, keeper is min(doc_id)
    assert by_keeper[2] == 1 and by_keeper[3] == 1


def test_ngram_jaccard_bounds(spark, planted):
    sh = planted.select("doc_id", _word_shingles(F.col("text"), k=3).alias("s"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s"))).cast("double")
    union = F.size(F.array_union(F.col("a.s"), F.col("b.s")))
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            (inter / union).alias("j"),
        )
        .collect()
    )
    jac = {(r.da, r.db): r.j for r in pairs}
    assert jac[(0, 1)] == 1.0  # identical
    assert 0.5 < jac[(0, 2)] < 1.0  # near-dup
    assert jac[(0, 3)] == 0.0  # unrelated


def test_null_text_forms_no_shingles_or_pairs(spark):
    """NULL text → NULL shingles (hostile-sweep pin, round 7) and
    zero-word text → EMPTY shingles (round 8): without the guards,
    concat_ws coerces the empty/NULL word list to the [''] shingle and
    every NULL- or ''-text doc pairs with every other at jaccard 1.0
    through the whole near-dup ladder."""
    from dateng_data_lakes_apache_spark_spark.operators.dedup import (
        exact_jaccard_pairs,
    )

    d = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a b c d"), (3, "a b c e")],
        ["doc_id", "text"],
    )
    sh = d.select("doc_id", _word_shingles(F.col("text"), k=3).alias("shingles"))
    rows = {r.doc_id: r.shingles for r in sh.collect()}
    assert rows[0] is None  # NULL in, NULL out
    # r8: a zero-word doc has NO shingles — it can be near-duplicate of
    # nothing (exact dedup owns empties), and a shared [''] shingle
    # would be the one quadratic hot key in every postings join
    assert rows[1] == []
    pairs = {
        (r.doc_a, r.doc_b)
        for r in exact_jaccard_pairs(sh, threshold=0.01).collect()
    }
    # the real near-dup pair survives; no pair ever touches docs 0/1
    assert (2, 3) in pairs
    assert all(0 not in p and 1 not in p for p in pairs)


def test_connected_components_chain_and_islands(spark):
    from dateng_data_lakes_apache_spark_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3 (no direct 1-3 edge: transitivity must propagate),
    # island pair 10-11, and a second chain 20-21-22-23 (diameter 3).
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20), (21, 22), (22, 23)],
        ["doc_a", "doc_b"],
    )
    labels = {r.node: r.label for r in connected_components(pairs).collect()}
    assert labels == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_connected_components_raises_instead_of_truncating(spark):
    """A 40-node path needs 40 rounds of min-label propagation: with 12
    rounds the loop must fail loudly, not return split clusters."""
    from dateng_data_lakes_apache_spark_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="12 rounds"):
        connected_components(pairs, max_rounds=12)
    labels = connected_components(pairs, max_rounds=64).collect()
    assert len(labels) == 40
    assert {r.label for r in labels} == {0}


def test_connected_components_fires_at_most_four_jobs_per_round(spark):
    """A path of n nodes takes n rounds (n - 1 to settle, one to see no
    change), so a 20-node chain runs 10 rounds more than a 10-node one.
    Each round's checkpoint job also answers "converged?" (an
    Observation on the round's aggregate), so those 10 rounds may cost
    at most 4 jobs each: no separate convergence job."""
    from dateng_data_lakes_apache_spark_spark.operators.dedup import (
        connected_components,
    )

    from .conftest import jobs_fired

    def chain_jobs(n):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        return jobs_fired(spark, lambda: connected_components(pairs, max_rounds=64).collect())

    short, long_ = chain_jobs(10), chain_jobs(20)
    assert long_ - short <= 4 * 10, f"10 extra rounds fired {long_ - short} jobs"


def test_dedup_resolve_planted_cluster(spark, sf_dir, monkeypatch):
    from dateng_data_lakes_apache_spark_spark.operators import dedup as dd

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside"
    )
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),                             # exact dup of 0
            (2, base.replace("lazy", "sleepy")),   # near-dup of 0/1
            (3, "unrelated text about columnar storage engines and arrow"),
        ],
        ["doc_id", "text"],
    )
    monkeypatch.setattr(dd, "table", lambda _s, _d, _n: docs)
    # _build_resolve, not the registered query: the registered path
    # memoizes + stages per (session, sf) and would poison both with the
    # planted corpus for every later same-session consumer
    rows = dd._build_resolve(spark, sf_dir).collect()
    by_id = {r.doc_id: (r.keeper_doc_id, r.is_dup) for r in rows}
    assert by_id[0] == (0, False)   # cluster keeper keeps itself
    assert by_id[1] == (0, True)    # exact dup dropped to keeper 0
    assert by_id[2] == (0, True)    # near-dup joins the same cluster
    assert by_id[3] == (3, False)   # untouched doc keeps itself


def test_simhash_hamming_separation(spark, planted, sf_dir, monkeypatch):
    # identical docs → identical simhash; near-dup → small Hamming distance
    from dateng_data_lakes_apache_spark_spark.operators import dedup as dd

    monkeypatch.setattr(
        dd, "table", lambda _s, _d, _n: planted.withColumn("dummy", F.lit(1))
    )
    # simhash_frame (the builder), NOT the registered query: the
    # registered path delegates to staging.run_staged, whose
    # per-(session, name, sf) memo may already hold the REAL corpus's
    # staged table from an earlier test module (e.g. plan-lint), which
    # would silently bypass the monkeypatched catalog (VERDICT r9 §wrong-1).
    rows = dd.simhash_frame(spark, sf_dir).collect()
    by_id = {r.doc_id: r.simhash for r in rows}
    assert by_id[0] == by_id[1]

    def hamming(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert hamming(by_id[0], by_id[2]) <= 12
    assert hamming(by_id[0], by_id[3]) >= 20


def test_dedup_lines_first_occurrence_rewrite(spark, sf_dir, monkeypatch):
    # doc 1 repeats doc 0's first segment; only the first occurrence stays.
    from dateng_data_lakes_apache_spark_spark.operators import dedup as dd

    seg_a = "alpha beta gamma delta epsilon"          # one 5-word segment
    seg_b = "zeta eta theta iota kappa"
    seg_c = "lambda mu nu xi omicron"
    docs = spark.createDataFrame(
        [
            (0, f"{seg_a} {seg_b}"),   # both segments first occurrences
            (1, f"{seg_a} {seg_c}"),   # seg_a is a cross-doc dup → dropped
            (2, seg_a),                # fully duplicated doc → nothing kept
        ],
        ["doc_id", "text"],
    )
    monkeypatch.setattr(dd, "table", lambda _s, _d, _n: docs)
    rows = dd.q_dedup_lines.__wrapped__(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    assert (by_id[0].n_segs, by_id[0].n_kept) == (2, 2)
    assert (by_id[1].n_segs, by_id[1].n_kept) == (2, 1)
    assert (by_id[2].n_segs, by_id[2].n_kept) == (1, 0)
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert by_id[0].clean_md5 == md5(f"{seg_a} {seg_b}")
    assert by_id[1].clean_md5 == md5(seg_c)      # dup segment excised
    assert by_id[2].clean_md5 == md5("")         # everything removed


def test_sorted_neighborhood_finds_planted_near_dup(spark, sf_dir, monkeypatch):
    from dateng_data_lakes_apache_spark_spark.operators import dedup as dd

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside"
    )
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base.replace("lazy", "sleepy")),  # near-dup, same min word
            (2, "unrelated text about columnar storage engines and arrow"),
        ],
        ["doc_id", "text"],
    )
    monkeypatch.setattr(dd, "table", lambda _s, _d, _n: docs)
    rows = dd.q_dedup_sorted_neighborhood.__wrapped__(spark, sf_dir).collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    assert (0, 1) in pairs or (1, 0) in pairs
    assert all({a, b} != {0, 2} and {a, b} != {1, 2} for a, b in pairs)


def test_lsh_bucket_cap_bounds_pathological_fanout(spark):
    """VERDICT r3 item 4: 10k identical documents — the worst band key
    possible (every doc lands in the same bucket in every band) — must
    complete with LINEAR pair fan-out, with the skipped comparisons
    accounted in the overflow report."""
    import time

    from pyspark.sql import functions as F

    from dateng_data_lakes_apache_spark_spark.operators.dedup import (
        connected_components,
        minhash_overflow_report,
        minhash_pairs,
    )

    n = 10_000
    text = "identical spam document body repeated across the whole crawl batch"
    docs = spark.range(n).select(F.col("id").alias("doc_id"), F.lit(text).alias("text"))
    t0 = time.monotonic()
    pairs = minhash_pairs(docs).persist()
    n_pairs = pairs.count()
    elapsed = time.monotonic() - t0
    # star pairing: one hub pair per non-hub doc, NOT n*(n-1)/2 ≈ 50M
    assert n_pairs == n - 1, n_pairs
    assert elapsed < 120, f"pathological bucket took {elapsed:.0f}s"
    # connectivity preserved: all 10k docs resolve to ONE component
    comp = connected_components(pairs)
    assert comp.select("label").distinct().count() == 1
    assert comp.count() == n
    pairs.unpersist()
    # overflow accounted: 4 bands × 1 bucket each, full vs emitted counts
    rep = minhash_overflow_report(docs).collect()
    assert len(rep) == 4
    for r in rep:
        assert r.bucket_size == n
        assert r.pairs_full == n * (n - 1) // 2
        assert r.pairs_emitted == n - 1


def test_lsh_small_buckets_keep_all_pairs_semantics(spark):
    """Below the cap the join is unchanged all-pairs: three identical
    docs yield all three pairs, not a star."""
    from pyspark.sql import functions as F

    from dateng_data_lakes_apache_spark_spark.operators.dedup import minhash_pairs

    docs = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.lit("three identical documents in one tiny bucket").alias("text"),
    )
    got = {(r.doc_a, r.doc_b) for r in minhash_pairs(docs).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}


def test_resolve_computed_once_per_session(spark, monkeypatch):
    """VERDICT r4 item 3: the three downstream consumers of the dedup
    resolve (cluster_stats, rate_by_source, split_by_cluster) must share
    one resolve computation per (session, sf) instead of re-running the
    shingle→Jaccard→connected-components pipeline each."""
    from dateng_data_lakes_apache_spark_spark.operators import dedup as dd
    from dateng_data_lakes_apache_spark_spark.registry import get_queries

    qs = get_queries()
    sf = "/root/testdata/sf0.001"
    calls: list[str] = []
    real = dd._build_resolve

    def counting(s, d):
        calls.append(d)
        return real(s, d)

    monkeypatch.setattr(dd, "_build_resolve", counting)
    reset_session_state(spark)  # isolate from earlier tests in this session
    n_resolve = qs["q_dedup_resolve"](spark, sf).count()
    qs["q_dedup_cluster_stats"](spark, sf).count()
    qs["q_dedup_rate_by_source"](spark, sf).count()
    n_split = qs["q_split_by_cluster"](spark, sf).count()
    assert calls == [sf], f"resolve ran {len(calls)}× (want exactly once)"
    # the memoized frame is a plain parquet scan of staged bytes — every
    # consumer sees the full per-doc resolve
    assert n_split == n_resolve > 0


def test_resolve_memo_follows_session_lifecycle(spark, monkeypatch, tmp_path):
    """resolved_clusters rides the one staged memo: a repeat call on the
    same sf reuses it, a memo hit re-aims ``current`` at that sf's stage
    dir, and reset_session_state makes the next call rebuild."""
    from dateng_data_lakes_apache_spark_spark import staging
    from dateng_data_lakes_apache_spark_spark.operators import dedup as dd

    builds: list[str] = []

    def stub(s, d):
        builds.append(d)
        return s.createDataFrame(
            [(1, 1, False), (2, 1, True), (3, 3, False)],
            "doc_id long, keeper_doc_id long, is_dup boolean",
        )

    monkeypatch.setattr(dd, "_build_resolve", stub)
    monkeypatch.setattr(staging, "_EXPECTED_ROOT", str(tmp_path / "expected"))
    sf_a, sf_b = str(tmp_path / "sf_a"), str(tmp_path / "sf_b")
    current = staging._current("dedup_resolve")
    reset_session_state(spark)
    try:
        assert dd.resolved_clusters(spark, sf_a).count() == 3
        assert dd.resolved_clusters(spark, sf_a).count() == 3
        assert builds == [sf_a], "a memoized sf must not rebuild"
        dd.resolved_clusters(spark, sf_b)
        assert os.readlink(current) == staging._stage_dir("dedup_resolve", sf_b)
        dd.resolved_clusters(spark, sf_a)
        assert builds == [sf_a, sf_b]
        assert os.readlink(current) == staging._stage_dir("dedup_resolve", sf_a)
        reset_session_state(spark)
        assert dd.resolved_clusters(spark, sf_a).count() == 3
        assert builds == [sf_a, sf_b, sf_a], "reset must force a rebuild"
    finally:
        reset_session_state(spark)
