"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The core training-data-pipeline family. Design rules for 100 TB:
- never self-join the full corpus — candidate generation goes through
  hash buckets (LSH bands / simhash prefixes) so the join key space is
  bounded and the shuffle is hash-partitioned, not cross-product;
- all hashing is xxhash64 (JVM built-in, seedable, deterministic) via
  higher-order functions — zero Python in the row path;
- survivors are chosen by deterministic min(doc_id), not "first seen".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import local_checkpoint, release_superseded, track
from ..catalog import table
from ..common import spread
from ..registry import query
from ..staging import clear_stage_memo as clear_resolve_memo  # noqa: F401 (perfbench imports it)
from ..staging import (
    run_staged,
    run_staged_index,
    staged_builder,
    staged_oracle,
    staged_path_sql,
)

# MinHash configuration: 16 permutations → 4 bands × 4 rows.
_N_HASHES = 16
_N_BANDS = 4
_ROWS_PER_BAND = _N_HASHES // _N_BANDS


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_md5,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as hash-groupBy with deterministic keeper selection.

    Grouping on md5(text) rather than raw text keeps shuffle rows at
    ~32 bytes/key instead of shipping full documents — at 100 TB the
    difference between a metadata-sized and a corpus-sized shuffle.
    (dropDuplicates() would keep an arbitrary row; min(doc_id) is stable.)
    """
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _word_shingles(text_col, k: int = 3):
    """k-word shingle array from a text column (JVM higher-order fns).

    NULL text yields NULL shingles — concat_ws otherwise coerces the
    NULL word list to the [''] degenerate shingle, which pairs every
    NULL doc with every EMPTY doc at jaccard 1.0 across the whole
    near-dup ladder (hostile sweep find); the oracles NULL-propagate
    through string_split, so NULL-in/NULL-out is the shared semantic.
    A ZERO-WORD doc ('' or all-space text) yields the EMPTY shingle set
    — it holds no content to be "near" anything (exact dedup owns
    empties), it matches DuckDB's natural semantics (its slice of an
    empty word list is NULL, which list_distinct drops), and at corpus
    scale a shared [''] shingle would be THE quadratic hot key in every
    postings/bucket join. Found by the r8 per-category hostile sweep:
    one '' doc per lang group made Spark's [''] docs pair each other at
    jaccard 1.0 while every oracle produced zero pairs.
    """
    words = F.filter(F.split(text_col, " "), lambda w: w != "")
    n = F.greatest(F.size(words) - (k - 1), F.lit(1))
    return F.when(
        text_col.isNotNull() & (F.size(words) == 0),
        F.array().cast("array<string>"),
    ).when(
        text_col.isNotNull(),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n), lambda i: F.concat_ws(" ", F.slice(words, i, k))
            )
        ),
    )


def _min_hash_for_seed(shingles_col, seed: int):
    # NB: the seed must be bound via closure, not a lambda default — pyspark
    # counts lambda params to pick the (x) vs (x, i) HOF form, so a default
    # arg would silently turn the seed into the element index.
    return F.array_min(F.transform(shingles_col, lambda sh: F.xxhash64(sh, F.lit(seed))))


def minhash_signature(shingles_col, n_hashes: int = _N_HASHES):
    """MinHash signature: per seed s, min over shingles of xxhash64(shingle, s).

    xxhash64's seed argument gives us n independent hash families without
    any Python; the transform/array_min pipeline is whole-stage-codegen'd.
    """
    return F.array(*[_min_hash_for_seed(shingles_col, s) for s in range(n_hashes)])


#: Per-bucket candidate cap: a band bucket larger than this switches
#: from all-pairs to star pairing (bucket-min doc vs every member), so
#: a pathological key (e.g. thousands of identical documents hashing to
#: one bucket) costs O(n) instead of O(n²). 64² / 2 ≈ 2k pairs is the
#: worst all-pairs work any single bucket can emit.
_BUCKET_CAP = 64


def minhash_pairs(
    d: DataFrame, threshold: float = 0.5, bucket_cap: int | None = _BUCKET_CAP
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + banded LSH, then exact
    signature-similarity verification: (doc_a, doc_b, est_jaccard).

    Pipeline: 3-word shingles → 16-perm MinHash signature → 4 bands of 4
    rows → explode to (band_id, band_hash) keys → self-join *on the band
    key only* → verify estimated Jaccard ≥ threshold. The corpus is never
    cross-joined: candidate generation cost is O(Σ min(bucket, cap)²)
    and bucket sizes are bounded by collision probability, not corpus
    size.

    Worst-case bound (VERDICT r3 item 4): without a cap, one degenerate
    band key — all-identical documents, or a constant-text spam burst —
    fans out quadratically inside its bucket. Buckets over ``bucket_cap``
    therefore emit STAR pairs only (bucket-min doc_id against each other
    member): linear in bucket size, and for the degenerate case that
    triggers it (near-identical members) the star preserves exactly the
    connectivity cluster resolution needs — every member still joins the
    keeper's component. The recall trade-off (a dissimilar pair inside
    an oversized bucket is only compared via the hub) is observable:
    :func:`minhash_overflow_report` accounts for every capped bucket,
    the same report-don't-silently-drop pattern as q_skew_report.

    ``bucket_cap=None`` (ADVICE r4) restores exact all-pairs semantics —
    every bucket fans out fully, no recall degradation, at the cost of
    the unbounded worst case; callers who need full recall on trusted
    (non-adversarial) corpora opt in explicitly. With a finite cap,
    run :func:`minhash_overflow_report` on the same input to see
    exactly which buckets were degraded and how many comparisons the
    bound skipped.
    """
    # Materialize shingles in their own projection: the 16 per-seed min-hash
    # expressions then reference one computed array instead of re-deriving
    # split→filter→shingle→distinct 16× (Catalyst does not CSE inside
    # higher-order functions; this projection is a ~20× speedup at sf0.1).
    shingled = d.select("doc_id", _word_shingles(F.col("text")).alias("shingles"))
    sig = shingled.select(
        "doc_id", minhash_signature(F.col("shingles")).alias("sig")
    )
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * _ROWS_PER_BAND + 1, _ROWS_PER_BAND),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_id", "band.band_hash")
    # One window shuffle on the band key annotates every row with its
    # bucket size and bucket-min doc — the band table is docs×4 narrow
    # rows, so this costs far less than the join it bounds.
    wb = Window.partitionBy("band_id", "band_hash")
    bands = bands.withColumn("bsz", F.count(F.lit(1)).over(wb)).withColumn(
        "bmin", F.min("doc_id").over(wb)
    )
    # NO persist (r12, VERDICT r11 item 1): the band table used to be
    # track()-persisted for its consumers, but the join below is the ONLY
    # consumer pair and its two sides are the IDENTICAL subtree, so Spark
    # reuses the window's shuffle exchange (ReusedExchange in the plan)
    # — the signature pipeline and the band shuffle run ONCE either way.
    # The persist was pure overhead: a blocking materialization job +
    # cache memory, measured 1.36→1.08 s at 32 cores and 1.44→1.11 s at
    # 8 cores (interleaved A/B, identical rows), and it was the r11
    # driver bench's worst-case first-run spike (~5 s cold: cache build +
    # 4 consumers) — the anti-scaling VERDICT r11 item 1 chased. At 100 TB
    # the signature index is STAGED TO PARQUET at ingest (see module
    # docstring); an in-session persist is neither that nor a local win.
    if bucket_cap is None:
        # Exact mode: no bucket is ever degraded to star pairing.
        bucket_cap = 2**62
    # Unified self-join (r12): all-pairs inside small buckets and
    # hub-and-spoke inside oversized ones are ONE join with a disjunctive
    # pairing predicate on the same band-key equi-join — the former
    # small×small / spokes×hubs two-join spelling scanned the band table
    # four times. bsz/bmin are bucket constants, so the branch picks the
    # same pairs: small bucket → l.doc_id < r.doc_id (each unordered pair
    # once); oversized → l is the hub (bucket-min), r every other member
    # (O(bucket) star rows). doc_a < doc_b holds in both branches.
    # shuffle_merge hint (guide §3.1, pick the strategy deliberately):
    # without it the planner broadcasts one side of the self-join and the
    # whole signature pipeline computes TWICE (once per side); as a
    # sort-merge join the two sides are the identical subtree shuffled on
    # the same key, so Spark's exchange reuse computes the pipeline ONCE
    # (ReusedExchange in the plan). That is also the only strategy that
    # exists at 100 TB, where a corpus-scale band table can never
    # broadcast. Interleaved A/B at sf0.1: 1.16 vs 1.28 s (32 cores), and
    # the cold first run drops 4.3 → 1.6 s.
    bands = bands.hint("shuffle_merge")
    l, r = bands.alias("l"), bands.alias("r")
    pairs = l.join(
        r,
        (F.col("l.band_id") == F.col("r.band_id"))
        & (F.col("l.band_hash") == F.col("r.band_hash"))
        & (
            (
                (F.col("l.bsz") <= bucket_cap)
                & (F.col("l.doc_id") < F.col("r.doc_id"))
            )
            | (
                (F.col("l.bsz") > bucket_cap)
                & (F.col("l.doc_id") == F.col("l.bmin"))
                & (F.col("r.doc_id") != F.col("r.bmin"))
            )
        ),
    ).select(
        F.col("l.doc_id").alias("doc_a"),
        F.col("r.doc_id").alias("doc_b"),
        F.col("l.sig").alias("sig_a"),
        F.col("r.sig").alias("sig_b"),
    )
    est_jaccard = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
                lambda eq: eq,
            )
        ).cast("double")
        / _N_HASHES
    )
    # Verify + project BEFORE the dedup exchange (guide §2.3): est_jaccard
    # is a pure function of the two signatures, so computing it on
    # duplicated candidates and thresholding first is result-identical —
    # and the dropDuplicates shuffle then carries 3 narrow columns for
    # only the passing pairs instead of two 16-long signature arrays for
    # every candidate. No final orderBy: the consumer (driver check /
    # cluster resolution) is order-insensitive, and a global sort is a
    # range-partition shuffle that grows linearly with the pair count.
    return (
        pairs.select("doc_a", "doc_b", F.round(est_jaccard, 4).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_overflow_report(d: DataFrame, bucket_cap: int = _BUCKET_CAP) -> DataFrame:
    """Accounting for every LSH bucket the cap degraded to star pairing:
    (band_id, band_hash, bucket_size, pairs_full, pairs_emitted).

    ``pairs_full`` is the all-pairs count the bucket would have cost,
    ``pairs_emitted`` the star count actually produced — the difference
    is exactly the comparisons the cap skipped, so a pipeline owner can
    audit (and re-verify offline) what the bound traded away. Same
    "report, never silently drop" discipline as q_skew_report.
    """
    shingled = d.select("doc_id", _word_shingles(F.col("text")).alias("shingles"))
    sig = shingled.select("doc_id", minhash_signature(F.col("shingles")).alias("sig"))
    bands = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * _ROWS_PER_BAND + 1, _ROWS_PER_BAND),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    sizes = bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return sizes.where(F.col("bucket_size") > bucket_cap).select(
        "band_id",
        "band_hash",
        "bucket_size",
        (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2)
        .cast("bigint")
        .alias("pairs_full"),
        (F.col("bucket_size") - 1).cast("bigint").alias("pairs_emitted"),
    )


@query(
    "q_dedup_minhash",
    # Staged-expectation oracle (VERDICT r4 item 1): band keys are
    # xxhash64-deterministic, so the candidate-pair set is a pure
    # function of the data — pinned to parquet and hash-matched by
    # DuckDB (staging.py documents the exact claim this certifies).
    oracle=staged_oracle("q_dedup_minhash", "*"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs over documents (see
    :func:`minhash_pairs` for the pipeline and scale rationale; run
    :func:`minhash_overflow_report` on the same corpus to audit any
    bucket the worst-case cap degraded to star pairing).
    Deterministic (hash-only; probe-verified across partitionings in
    tests/test_staged_expectations.py); semantics are unit-tested with
    planted near-duplicates in tests/test_dedup.py.
    """
    return run_staged(spark, sf_dir, "q_dedup_minhash")


@staged_builder("q_dedup_minhash")
def minhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-staging frame for :func:`q_dedup_minhash` — the full LSH
    pipeline plan the snapshot/lint guards pin (staging.STAGED_BUILDERS)."""
    # Hashing dominates; spread() buys full-core parallelism when (and only
    # when) the scan under-parallelizes — see common.spread for the gating.
    d = spread(table(spark, sf_dir, "documents"), spark)
    return minhash_pairs(d)


def connected_components(pairs: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Connected components over candidate pairs ``(doc_a, doc_b)`` by
    min-label propagation: returns (node, label) where label = min node
    id in the component.

    Each round every node adopts the minimum label among itself and its
    neighbors; convergence takes O(graph diameter) rounds. Near-dup
    graphs are unions of small dense clusters (diameter ≤ ~3), so 2-3
    rounds settle real workloads; ``max_rounds`` bounds adversarial
    chains: a loop that exhausts them without seeing a round change no
    label raises ``RuntimeError`` instead of returning unconverged
    labels. Per-round cost is one equi-join edges⋈labels plus a groupBy
    min — all hash-partitioned on node id, no cross-product, no
    collect: the same shape GraphX/GraphFrames uses, expressed in plain
    DataFrame ops. The driver-side loop runs one tiny `limit(1).count()`
    action per round purely as the convergence test.
    """
    # Undirected: materialize both directions once; reused every round.
    fwd = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = fwd.union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    ).persist()
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    for round_no in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.u == labels.node)
            .select(F.col("v").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(neighbor_min)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # localCheckpoint truncates the per-round lineage growth so the
        # plan (and task closure) stays O(1) across iterations; routed
        # through the cache registry so the blocks release with the session.
        new_labels = local_checkpoint(new_labels, eager=True)
        # Convergence test costs one extra (tiny) job per round; skip it on
        # round 0 — any graph with an edge changes at least one label there.
        changed = 1
        if round_no > 0:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
        labels.unpersist()
        # The convergence join above was the last reader of the previous
        # round — free its checkpoint blocks NOW instead of letting every
        # superseded round pile up until session release (ADVICE r4).
        release_superseded(labels)
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        release_superseded(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds: "
            "labels were still changing in the last round"
        )
    edges.unpersist()
    return labels


# Shared oracle CTE chain for the resolve deliverable: exact shingle-
# Jaccard pairs → fixpoint min-label connected components → per-doc
# keeper. Reused by q_split_by_cluster's oracle (llm_pipeline.py), which
# derives its split bucket from keeper_doc_id.
RESOLVE_ORACLE_CTES = """
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(string_split(text,' '), w -> w <> '')) - 2, 1) + 1),
               i -> array_to_string(list_filter(string_split(text,' '), w -> w <> '')[i:i+2], ' ')
             )) AS shingles
      FROM documents
      WHERE doc_id < 1000
    ),
    pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2
    ),
    edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    cc AS (
      SELECT u AS node, u AS label FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS node, c.label
      FROM cc c JOIN edges e ON e.u = c.node
      WHERE c.label < e.v
    ),
    labels AS (SELECT node, MIN(label) AS label FROM cc GROUP BY node),
    resolved AS (
      SELECT d.doc_id,
             CAST(COALESCE(l.label, d.doc_id) AS BIGINT) AS keeper_doc_id,
             COALESCE(l.label, d.doc_id) <> d.doc_id AS is_dup
      FROM documents d
      LEFT JOIN labels l ON l.node = d.doc_id
    )
"""


def staged_resolve_cte() -> str:
    """``WITH resolved AS (...)`` over the STAGED resolve table — shared
    by the downstream impact-report oracles (cluster_stats,
    rate_by_source, split_by_cluster), so a parity run pays the
    recursive-CTE fixpoint once (in q_dedup_resolve's own oracle, which
    stays the independent recursive-CTE check) instead of four times
    (VERDICT r4 item 3). Staleness cannot false-pass: the stage is
    rewritten by the first resolve of each process, and the Spark side
    of every downstream query reads the SAME staged table, so a
    divergent resolve surfaces in q_dedup_resolve's hash check."""
    return f"""
    WITH resolved AS (
      SELECT doc_id, keeper_doc_id, is_dup FROM {staged_path_sql('dedup_resolve')}
    )
"""


def resolved_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-once-per-session dedup resolve: (doc_id, keeper_doc_id,
    is_dup), staged to parquet and memoized.

    q_dedup_cluster_stats / q_dedup_rate_by_source / q_split_by_cluster
    all consume the same resolve; before this builder each re-ran the
    full shingle→Jaccard→connected-components pipeline (~4× the work in
    one session, VERDICT r4 item 3). Now the first caller builds and
    stages it; later callers re-read the staged bytes (and re-aim the
    ``current`` pointer so interleaved-sf sessions stay consistent).
    At lake scale this staged table IS the resolve artifact a pipeline
    would persist between the dedup stage and its consumers.
    """
    return run_staged_index(spark, sf_dir, "dedup_resolve", _build_resolve)


@query(
    "q_dedup_resolve",
    oracle=RESOLVE_ORACLE_CTES
    + """
    SELECT doc_id, keeper_doc_id, is_dup FROM resolved
    """,
)
def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *deliverable*: per-document keeper assignment + drop flag.

    Near-dup pipelines run candidates → verify → resolve. This resolves
    the *verified* pair set (the exact shingle-Jaccard verify stage of
    :func:`q_dedup_ngram_jaccard` — at scale those pairs come out of
    MinHash-LSH candidate generation, q_dedup_minhash) into clusters via
    :func:`connected_components`, keeps min(doc_id) per cluster, and
    left-joins back to the corpus so untouched docs keep themselves:
    (doc_id, keeper_doc_id, is_dup). Deterministic end to end (exact
    verified pairs, min-label components, min-id keeper) — which is what
    lets the DuckDB twin express the same fixpoint as a recursive-CTE
    min-label reachability: a component's minimum id m satisfies m < w
    for every other member w, so propagating labels only downhill
    (label < node) still delivers m to the whole component while keeping
    the recursion's state space linear in cluster size.

    Computed once per session via :func:`resolved_clusters` (memo +
    staged artifact); the registered oracle stays the INDEPENDENT
    recursive-CTE fixpoint, so the staged bytes are re-derived and
    hash-checked against a from-scratch DuckDB resolve.
    """
    return resolved_clusters(spark, sf_dir)


def _build_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual resolve pipeline — see :func:`q_dedup_resolve`."""
    # spread() the streamed side: the bounded pairwise verify plans as a
    # broadcast nested loop, and a single-row-group scan would probe all
    # ~500k candidate pairs on one core
    d = spread(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000), spark
    )
    sh = d.select("doc_id", _word_shingles(F.col("text"), k=3).alias("shingles"))
    pairs = exact_jaccard_pairs(sh, threshold=0.2).select("doc_a", "doc_b").persist()
    comp = connected_components(pairs)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    out = (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).cast("bigint").alias("keeper_doc_id"),
            (F.coalesce(F.col("label"), F.col("doc_id")) != F.col("doc_id")).alias("is_dup"),
        )
    )
    pairs.unpersist()
    return out


@query(
    "q_dedup_simhash",
    # Staged-expectation oracle: the fingerprint is a sign-sum of
    # xxhash64 bits — integer-exact and partition-order independent.
    oracle=staged_oracle("q_dedup_simhash", "*"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document + 4×16-bit block keys for Hamming-
    neighbor candidate generation (Charikar 2002 / Manku et al. 2007).

    simhash bit b = sign of Σ_words (±1 by bit b of xxhash64(word)).

    Formulation: explode words → hash once per word → groupBy(doc_id)
    with 64 conditional-sum aggregates (one per bit). This stays inside
    whole-stage codegen end to end, which measured ~7× faster at sf0.1
    than an equivalent single higher-order-function fold (HOF lambdas
    are interpreted per element, and Catalyst does not CSE inside
    them). The explode is shuffle-cheap: partial aggregation collapses
    words back to one 64-counter row per doc on the map side, so the
    shuffle carries docs×64 longs, not words.
    By the pigeonhole principle, any pair within Hamming distance 3
    shares at least one of the 4 16-bit blocks, so block keys are the
    LSH bucket keys for near-dup search at scale.

    No spread() here (unlike minhash): with branch-free bit expressions
    the per-word compute is light enough that the round-robin exchange
    costs more than the parallelism it buys (cold-measured 2.6 s with
    vs 2.0 s without at sf0.1; minhash's 16-seed shingle hashing is an
    order of magnitude heavier per row and keeps it).
    """
    return run_staged(spark, sf_dir, "q_dedup_simhash")


@staged_builder("q_dedup_simhash")
def simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-staging frame for :func:`q_dedup_simhash` — the pipeline plan
    the snapshot/lint guards pin (see staging.STAGED_BUILDERS)."""
    d = table(spark, sf_dir, "documents")
    # explode_outer keeps zero-word docs as one null row (contributing 0
    # to every balance → simhash 0), matching the empty-array fold result
    words = d.select(
        "doc_id",
        F.explode_outer(F.filter(F.split("text", " "), lambda w: w != "")).alias("w"),
    )
    # The null guard lives on the hash projection, NOT in the 64 bit
    # expressions: xxhash64(NULL) returns the seed hash (non-null!), so
    # hashing unguarded would credit empty docs with a phantom word; a
    # null h instead drops out of every SUM, and the coalesce below
    # restores balance 0. This keeps the per-bit expressions branch-free
    # — ((h>>b)&1)*2-1 instead of a 2-arm WHEN chain — which both
    # codegens ~4× faster (the 64-WHEN compile was most of the query's
    # first-run cost) and runs ~1.5× faster steady-state (measured
    # medians at sf0.1: 2.37 s → 1.52 s).
    hashed = words.select(
        "doc_id",
        F.when(F.col("w").isNotNull(), F.xxhash64("w")).alias("h"),
    )
    balances = [
        F.sum(F.expr(f"((h >> {b}) & 1) * 2 - 1")).alias(f"b{b}") for b in range(64)
    ]
    bal = hashed.groupBy("doc_id").agg(*balances)
    bal = bal.select(
        "doc_id",
        *[F.coalesce(F.col(f"b{b}"), F.lit(0)).alias(f"b{b}") for b in range(64)],
    )
    # Compose the fingerprint with shift+OR (pure bit ops — safe under
    # ANSI mode, where an arithmetic acc*2 composition would overflow on
    # a set sign bit): bit b lands at position b, 63 in the sign slot.
    simhash = F.lit(0).cast("long")
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = simhash.bitwiseOR(F.shiftleft(bit, b))
    out = bal.select("doc_id", simhash.alias("simhash"))
    for i in range(4):
        out = out.withColumn(
            f"block{i}",
            F.shiftright(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).cast("int"),
        )
    # No final orderBy — consumers are order-insensitive (see q_dedup_minhash).
    return out


def exact_jaccard_pairs(sh: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Exact set-Jaccard over (doc_id, shingles) via an inverted index:
    explode shingles to postings, equi-join postings on the shingle to
    count |A∩B| per pair, and derive |A∪B| = |A|+|B|−|A∩B| from the
    per-doc set sizes. Returns (doc_a, doc_b, jaccard ≥ threshold).

    Identical output to the quadratic array_intersect/array_union form —
    a pair with Jaccard ≥ any positive threshold shares ≥ 1 shingle, so
    the postings join loses nothing — but the join is an equi-join whose
    cost is Σ posting-list², bounded by shingle duplication rather than
    docs² (measured 28 s → ~3 s at sf0.1 on the resolve pipeline). At
    100 TB the one extra knob is capping ultra-hot shingles (boilerplate)
    out of the index before the self-join; here list sizes are organic.
    """
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    post = sh.select("doc_id", F.explode("shingles").alias("s"))
    inter = (
        post.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(string_split(text,' '), w -> w <> '')) - 2, 1) + 1),
               i -> array_to_string(list_filter(string_split(text,' '), w -> w <> '')[i:i+2], ' ')
             )) AS shingles
      FROM documents
      WHERE doc_id < 1000
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard similarity on a bounded doc subset,
    computed via the postings-join form (:func:`exact_jaccard_pairs`);
    the oracle keeps the quadratic pairwise form — same result, and the
    intentional asymmetry means the hash match also cross-checks the
    inverted-index rewrite against the naive definition.

    The exact pairwise semantics is intentionally restricted
    (doc_id < 1000) — it is the *verification* stage of near-dup
    pipelines; candidate *generation* at scale is q_dedup_minhash's
    banded LSH. The window is sized so the testdata's planted
    near-duplicates fall inside it at every SF: the driver's green row
    checks real pairs, not an empty ≡ empty result.
    """
    # spread() the streamed side: the bounded pairwise verify plans as a
    # broadcast nested loop, and a single-row-group scan would probe all
    # ~500k candidate pairs on one core
    d = spread(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000), spark
    )
    sh = d.select("doc_id", _word_shingles(F.col("text"), k=3).alias("shingles"))
    return exact_jaccard_pairs(sh, threshold=0.2)


# Segment ("line") length for cross-document span removal. 5 words is the
# smallest span that is unlikely to collide by topical chance in real prose
# while still catching boilerplate; on this corpus it yields real removals
# at every SF (the q_span_dedup analysis uses 8-word spans — that operator
# COUNTS duplication; this one REWRITES the corpus).
_LINE = 5


@query(
    "q_dedup_lines",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    segs AS (
      SELECT doc_id, CAST(t.k AS BIGINT) AS seg_idx,
             array_to_string(
               words[(CAST(t.k AS BIGINT)*{_LINE}+1):(CAST(t.k AS BIGINT)*{_LINE}+{_LINE})],
               ' ') AS seg
      FROM w, range(0, 100000) t(k)
      WHERE t.k < greatest(CAST(ceil(len(words) / {_LINE}.0) AS BIGINT), 1)
    ),
    ranked AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_segs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
           md5(COALESCE(
             string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx),
             '')) AS clean_md5
    FROM ranked
    GROUP BY doc_id
    """,
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup WITH corpus rewrite: split every
    document into fixed ``_LINE``-word segments (this corpus has no
    newlines), keep only each segment's globally-first occurrence
    (ordered by (doc_id, seg_idx) — deterministic, not "first seen"),
    and reassemble the cleaned text per document. Returns
    (doc_id, n_segs, n_kept, clean_md5) — the md5 proves the rewrite
    byte-exactly against the oracle.

    Scale shape: two hash shuffles, both on bounded keys — (1) segment
    text to rank occurrences (a window over PARTITION BY seg; bucket
    sizes are duplication counts, not corpus size), (2) doc_id to
    reassemble. Segment payloads must move for reassembly anyway, so
    there is no hash-only shortcut here; at 100 TB both exchanges are
    straight hash repartitions with no skew beyond true duplication
    hot-spots (a segment duplicated millions of times lands in one
    rank bucket — mitigate by first dropping segments whose hash-count
    exceeds a cap via a q_span_dedup-style pre-pass).
    """
    d = table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    n_segs = F.greatest(F.ceil(F.size(words) / _LINE), F.lit(1)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda k: F.concat_ws(" ", F.slice(words, k * _LINE + 1, _LINE)),
    )
    exploded = d.select(
        "doc_id", F.posexplode(segs).alias("seg_idx", "seg")
    ).select("doc_id", F.col("seg_idx").cast("bigint").alias("seg_idx"), "seg")
    win = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = exploded.withColumn("rn", F.row_number().over(win))
    kept_structs = F.sort_array(
        F.collect_list(F.when(F.col("rn") == 1, F.struct("seg_idx", "seg")))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_segs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("int").alias("n_kept"),
        F.md5(
            F.array_join(F.transform(kept_structs, lambda x: x["seg"]), " ")
        ).alias("clean_md5"),
    )


@query(
    "q_dedup_sorted_neighborhood",
    oracle="""
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' ')
             )) AS shingles,
             list_sort(list_distinct(words)) AS ws
      FROM w
    ),
    keyed AS (
      SELECT doc_id, shingles,
             array_to_string(ws, ' ') AS sortkey, ws[1] AS block
      FROM sh
    ),
    nbr AS (
      SELECT doc_id, shingles, block,
             LEAD(doc_id, 1) OVER win AS n1_id, LEAD(shingles, 1) OVER win AS n1_sh,
             LEAD(doc_id, 2) OVER win AS n2_id, LEAD(shingles, 2) OVER win AS n2_sh
      FROM keyed
      WINDOW win AS (PARTITION BY block ORDER BY sortkey, doc_id)
    ),
    pairs AS (
      SELECT doc_id AS doc_a, n1_id AS doc_b,
             CAST(len(list_intersect(shingles, n1_sh)) AS DOUBLE)
               / len(list_distinct(list_concat(shingles, n1_sh))) AS jac
      FROM nbr WHERE n1_id IS NOT NULL
      UNION ALL
      SELECT doc_id AS doc_a, n2_id AS doc_b,
             CAST(len(list_intersect(shingles, n2_sh)) AS DOUBLE)
               / len(list_distinct(list_concat(shingles, n2_sh))) AS jac
      FROM nbr WHERE n2_id IS NOT NULL
    )
    SELECT doc_a, doc_b, round(jac, 4) AS jaccard
    FROM pairs WHERE jac >= 0.5
    """,
)
def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection (Hernández & Stolfo 1995):
    the third candidate-generation strategy next to MinHash-LSH and
    SimHash blocks. Sort key = the document's sorted distinct
    vocabulary; docs are compared only against their next 2 neighbors
    in key order, then verified by exact 3-shingle Jaccard (same
    verify metric as q_dedup_ngram_jaccard) at ≥ 0.5.

    Scale shape: NO global sort — the neighborhood window is
    PARTITION BY block (the doc's minimum word) ORDER BY sortkey, so
    the sort is per-block within hash partitions, exactly like any
    grouped window. Candidate count is ≤ 2 rows per document by
    construction (vs LSH's collision-bound buckets) — the cheapest of
    the three strategies, at the cost of missing near-dups whose edit
    changes the block word; production runs do multiple passes with
    rotated keys, each pass this same plan.
    """
    # shingling + per-doc vocab sort dominate and run BEFORE the window
    # shuffle — spread() the single-row-group scan so they parallelize
    d = spread(table(spark, sf_dir, "documents"), spark)
    words = F.filter(F.split("text", " "), lambda w: w != "")
    sh = d.select(
        "doc_id",
        _word_shingles(F.col("text"), k=3).alias("shingles"),
        F.array_sort(F.array_distinct(words)).alias("ws"),
        # NULL-text docs hold NO candidate slot: legacy size(NULL) = -1
        # would score any neighbor pair (-1)/(-1) = 1.0 (hostile sweep
        # find). The oracle keeps them but their NULL jaccard fails the
        # threshold, and they sort to the END of the all-empty block
        # (NULLS LAST) — so dropping them here is output-equivalent.
    ).where(F.col("shingles").isNotNull())
    keyed = sh.select(
        "doc_id",
        "shingles",
        F.array_join("ws", " ").alias("sortkey"),
        F.element_at("ws", 1).alias("block"),
    )
    win = Window.partitionBy("block").orderBy("sortkey", "doc_id")
    nbr = keyed.select(
        "doc_id",
        "shingles",
        F.lead("doc_id", 1).over(win).alias("n1_id"),
        F.lead("shingles", 1).over(win).alias("n1_sh"),
        F.lead("doc_id", 2).over(win).alias("n2_id"),
        F.lead("shingles", 2).over(win).alias("n2_sh"),
    )

    def _pair(id_col: str, sh_col: str) -> DataFrame:
        jac = F.size(F.array_intersect("shingles", sh_col)).cast("double") / F.size(
            F.array_union("shingles", sh_col)
        )
        return (
            nbr.where(F.col(id_col).isNotNull())
            .select(
                F.col("doc_id").alias("doc_a"),
                F.col(id_col).alias("doc_b"),
                jac.alias("jac"),
            )
        )

    pairs = _pair("n1_id", "n1_sh").unionAll(_pair("n2_id", "n2_sh"))
    return pairs.where(F.col("jac") >= 0.5).select(
        "doc_a", "doc_b", F.round("jac", 4).alias("jaccard")
    )


@query(
    "q_dedup_containment",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(string_split(text,' '), w -> w <> '')) - 2, 1) + 1),
               i -> array_to_string(list_filter(string_split(text,' '), w -> w <> '')[i:i+2], ' ')
             )) AS shingles
      FROM documents
      WHERE doc_id < 1000
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / least(len(a.shingles), len(b.shingles)), 4) AS containment
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / least(len(a.shingles), len(b.shingles)) >= 0.3
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    |A∩B| / min(|A|,|B|) — the metric that catches a document EMBEDDED
    in a larger one (quotes, concatenated crawls, boilerplate wrappers),
    which symmetric Jaccard under-scores: a 100-shingle doc fully inside
    a 10,000-shingle doc has Jaccard ≈ 0.01 but containment 1.0.

    Like q_dedup_ngram_jaccard this is the exact VERIFY stage on a
    bounded window; at-scale candidate generation reuses the minhash
    band index keyed on the SMALLER document's signature (containment
    LSH biases bands toward the contained side). The threshold (0.3)
    keeps the driver's green row non-vacuous at every SF: the testdata's
    planted duplicates land at containment 1.0, topical overlap at ~0.3.
    """
    # spread() the streamed side: the bounded pairwise verify plans as a
    # broadcast nested loop, and a single-row-group scan would probe all
    # ~500k candidate pairs on one core
    d = spread(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000), spark
    )
    # NULL shingles would make every pair involving the doc score
    # (-1)/least(-1, n) = 1.0 under legacy size(NULL) = -1 — a NULL-text
    # doc is contained in nothing (hostile sweep find; the oracle's NULL
    # containment fails the threshold the same way).
    sh = d.select("doc_id", _word_shingles(F.col("text"), k=3).alias("shingles")).where(
        F.col("shingles").isNotNull()
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))).cast(
        "double"
    )
    denom = F.least(F.size(F.col("a.shingles")), F.size(F.col("b.shingles")))
    cont = inter / denom
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(cont, 4).alias("containment"),
        )
        .where(cont >= 0.3)
    )


@query(
    "q_dedup_incremental",
    oracle="""
    WITH existing AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400
    ),
    incoming AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, md5(text) AS h
      FROM documents WHERE doc_id % 7 = 0
    ),
    ranked AS (
      SELECT doc_id, h,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM incoming
    )
    SELECT r.doc_id,
           CASE WHEN e.h IS NOT NULL THEN 'dup_of_existing'
                WHEN r.rn > 1 THEN 'dup_within_batch'
                ELSE 'new' END AS status
    FROM ranked r LEFT JOIN existing e ON r.h = e.h
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the shape every production ingest runs
    nightly: an incoming batch (doc_id ≥ 400 stands in for "today's
    crawl") is screened against the PERSISTED hash index of the
    already-accepted corpus (doc_id < 400), and against itself, without
    ever rescanning accepted documents' text. Per incoming doc:
    'dup_of_existing' (hash hit in the index), 'dup_within_batch'
    (not first occurrence inside the batch, first-by-doc_id wins), or
    'new' (enters the corpus; its hash joins the index for tomorrow).
    The corpus has no exact duplicates by construction, so the batch
    includes a deterministic RE-CRAWL of every 7th document (same
    bytes, shifted id) — re-crawls of accepted docs exercise
    'dup_of_existing', re-crawls of same-batch docs exercise
    'dup_within_batch', and the driver's green row checks all three
    classes, not a vacuous all-'new' result.

    Scale shape: the index is hashes only (~32 B/doc — the q_dedup_exact
    argument), the screen is one equi-join on md5 plus one
    window-by-hash INSIDE the batch (bucket size = batch duplication,
    not corpus size). The accepted corpus is touched only through its
    index — at 100 TB that is the difference between scanning 100 TB
    nightly and scanning the new 100 GB.
    """
    d = table(spark, sf_dir, "documents")
    existing = (
        d.where(F.col("doc_id") < 400)
        .select(F.md5("text").alias("e_h"))
        .distinct()
    )
    incoming = d.where(F.col("doc_id") >= 400).select(
        "doc_id", F.md5("text").alias("h")
    ).unionByName(
        d.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"), F.md5("text").alias("h")
        )
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    ranked = incoming.withColumn("rn", F.row_number().over(w))
    return ranked.join(existing, ranked.h == F.col("e_h"), "left").select(
        "doc_id",
        F.when(F.col("e_h").isNotNull(), "dup_of_existing")
        .when(F.col("rn") > 1, "dup_within_batch")
        .otherwise("new")
        .alias("status"),
    )


@query(
    "q_dedup_normalized",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      -- ASCII-only upcasing (translate, not upper): Unicode case
      -- tailoring diverges between the JVM and utf8proc (upper('ss'
      -- sharp s) is 'SS' in Java but the capital sharp s in DuckDB),
      -- so the synthesized case-variant must stay in the common subset
      SELECT doc_id + 20000 AS doc_id,
             translate(text, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!!' AS text
      FROM documents WHERE doc_id % 11 = 0
    ),
    norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                     ' +', ' ', 'g'))) AS nh
      FROM corpus
    )
    SELECT nh AS norm_md5,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           COUNT(*) AS n_variants
    FROM norm
    GROUP BY nh
    HAVING COUNT(*) > 1
    """,
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup — the C4-style preprocessing step
    exact dedup alone misses: casefold, strip non-alphanumerics,
    collapse whitespace, THEN hash — so "Hello, World!" and "hello
    world" collapse to one key. Returns only keys with >1 variant (the
    actionable rows; the all-keys form is q_dedup_exact's shape).

    The corpus has no natural case/punctuation variants, so a
    deterministic SHOUTED variant of every 11th document (upper-cased,
    punctuation appended, shifted id) is unioned in — each such pair
    must collapse to one normalized key, making the driver's green row
    check real collapses (q_dedup_exact proves these same texts do NOT
    collapse under raw hashing). Same 32-byte-per-doc shuffle economics
    as q_dedup_exact; the normalization is three codegen'd string ops
    on the scan side. The
    character class and the whitespace-collapse pattern are chosen
    inside the Java-regex ∩ RE2 common subset (the q_regex_funcs
    discipline) so both engines normalize byte-identically.
    """
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    d = base.unionByName(
        base.where(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 20000).alias("doc_id"),
            # ASCII translate, not upper(): Unicode case tailoring
            # diverges cross-engine (see the oracle's comment).
            F.concat(
                F.translate("text", "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"), F.lit(" !!!")
            ).alias("text"),
        )
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        d.groupBy(F.md5(norm).alias("norm_md5"))
        .agg(
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .where(F.col("n_variants") > 1)
    )


# Provenance preference for q_dedup_priority: lower rank wins. Unlisted
# sources rank 9 and fall back to (source, doc_id) lexicographic order —
# the "curated snapshot beats raw crawl" rule real corpus merges use.
_SOURCE_RANK = {"src2": 0, "src0": 1}


@query(
    "q_dedup_priority",
    oracle=f"""
    WITH ranked AS (
      SELECT md5(text) AS text_md5, source, doc_id,
             CASE source
               WHEN 'src2' THEN 0
               WHEN 'src0' THEN 1
               ELSE 9 END AS prio,
             COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
             row_number() OVER (
               PARTITION BY md5(text)
               ORDER BY CASE source WHEN 'src2' THEN 0 WHEN 'src0' THEN 1
                        ELSE 9 END, source, doc_id) AS rn
      FROM documents
    )
    SELECT text_md5,
           CAST(n_copies AS BIGINT) AS n_copies,
           source AS keeper_source,
           CAST(doc_id AS BIGINT) AS keeper_doc_id
    FROM ranked WHERE rn = 1
    """,
)
def q_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with PROVENANCE-priority keeper selection: among
    byte-identical copies, keep the copy from the most trusted source
    (rank table above), not the lowest doc_id — the merge rule for
    multi-snapshot corpora where a curated source should beat a raw
    crawl even when the crawl was ingested first. q_dedup_exact is the
    id-deterministic variant; this is the policy-deterministic one.

    Same scale shape as q_dedup_exact: group on md5(text) (~32-byte
    shuffle keys, never full documents), keeper chosen by a single
    lexicographic MIN over a (rank, source, doc_id) struct — one
    map-side-combinable aggregate, no window, no second pass. The
    oracle states the same choice as a row_number window; both reduce
    to the identical total order.
    """
    d = table(spark, sf_dir, "documents")
    prio = F.when(F.col("source") == "src2", 0).when(
        F.col("source") == "src0", 1
    ).otherwise(9)
    keeper = F.min(
        F.struct(
            prio.alias("p"), F.col("source").alias("s"), F.col("doc_id").alias("d")
        )
    )
    return (
        d.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            keeper.alias("k"),
        )
        .select(
            "text_md5",
            "n_copies",
            F.col("k.s").alias("keeper_source"),
            F.col("k.d").cast("bigint").alias("keeper_doc_id"),
        )
    )


@query(
    "q_dedup_union_signals",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))
               AS tk,
             md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS pre,
             md5(array_to_string(string_split(text, ' ')[6:10], ' ')) AS mid
      FROM documents
    ),
    cand AS (
      SELECT a.doc_id AS i, b.doc_id AS j, 1 AS sig
      FROM toks a JOIN toks b ON a.pre = b.pre AND a.doc_id < b.doc_id
      UNION ALL
      SELECT a.doc_id, b.doc_id, 2
      FROM toks a JOIN toks b ON a.mid = b.mid AND a.doc_id < b.doc_id
    ),
    ded AS (
      SELECT i, j, CAST(SUM(sig) AS INT) AS signal_mask FROM cand GROUP BY i, j
    )
    SELECT d.i AS doc_a, d.j AS doc_b, d.signal_mask,
           round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard,
           CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
             / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.5 AS is_dup
    FROM ded d
    JOIN toks a ON d.i = a.doc_id
    JOIN toks b ON d.j = b.doc_id
    """,
)
def q_dedup_union_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal candidate UNION — the production near-dup recipe:
    several cheap, individually-leaky blocking signals (here a 3-word
    prefix fingerprint and a words-6..10 mid-window fingerprint) each
    generate candidate pairs by bucket equi-join; the union is deduped
    into one pair set carrying a SIGNAL BITMASK (which generators
    fired), and a single exact token-Jaccard verify pass issues the
    verdict. Running generators as a union beats tuning any one signal:
    recall is the union of recalls, while the verify stage — the only
    pairwise work — stays bounded by candidate count. The mask is the
    tuning artifact (a signal whose pairs always fail verification is
    dead weight; one firing alone that passes is carrying recall).

    Scale shape: both generators are self-equi-joins on ~32-byte hash
    keys with O(Σ bucket²) pairs (buckets stay O(1) as the corpus
    grows — prefixes diversify with content); the union dedup shuffles
    pair keys only; exact Jaccard runs once per SURVIVING pair via JVM
    array_intersect/array_union over ≤|vocab| distinct-token arrays.
    False candidates (chance prefix collisions, mask=1) failing the
    0.5 verify threshold are the demonstration that the verify stage,
    not the blocker, owns precision.
    """
    # A NULL-text doc emits NO blocking fingerprints: concat_ws would
    # coerce its NULL slice to md5('') — colliding with every genuinely
    # empty doc — and its NULL token set would verify at (-1)/(-1) = 1.0
    # under legacy size(NULL) (hostile sweep find). The oracle keeps the
    # row but its NULL md5 keys never equi-join, so this is equivalent.
    d = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = F.split("text", " ")
    toks = d.select(
        "doc_id",
        F.array_distinct(F.filter(words, lambda w: w != "")).alias("tk"),
        F.md5(F.concat_ws(" ", F.slice(words, 1, 3))).alias("pre"),
        # A doc too short to HAVE a mid-window emits NO mid fingerprint:
        # concat_ws over the empty slice would stamp md5('') on every
        # short doc — one quadratic hot bucket at corpus scale, and a
        # divergence from the oracle, whose array_to_string of an
        # out-of-range slice is NULL (per-category hostile sweep find).
        F.when(
            F.size(words) >= 6, F.md5(F.concat_ws(" ", F.slice(words, 6, 5)))
        ).alias("mid"),
    )
    toks = track(toks)  # feeds both generators and the verify joins; session owns caches

    def gen(key: str, sig: int) -> DataFrame:
        a = toks.select(F.col("doc_id").alias("i"), F.col(key).alias("k"))
        b = toks.select(F.col("doc_id").alias("j"), F.col(key).alias("k"))
        return (
            a.join(b, "k")
            .where(F.col("i") < F.col("j"))
            .select("i", "j", F.lit(sig).alias("sig"))
        )

    cand = gen("pre", 1).unionAll(gen("mid", 2))
    ded = cand.groupBy("i", "j").agg(F.sum("sig").cast("int").alias("signal_mask"))
    ta = toks.select(F.col("doc_id").alias("i"), F.col("tk").alias("tk_a"))
    tb = toks.select(F.col("doc_id").alias("j"), F.col("tk").alias("tk_b"))
    jac = F.size(F.array_intersect("tk_a", "tk_b")).cast("double") / F.size(
        F.array_union("tk_a", "tk_b")
    )
    return (
        ded.join(ta, "i")
        .join(tb, "j")
        .select(
            F.col("i").alias("doc_a"),
            F.col("j").alias("doc_b"),
            "signal_mask",
            F.round(jac, 4).alias("jaccard"),
            (jac >= 0.5).alias("is_dup"),
        )
    )


@query(
    "q_dedup_cluster_stats",
    oracle=staged_resolve_cte()
    + """
    , sizes AS (
      SELECT keeper_doc_id, COUNT(*) AS cluster_size
      FROM resolved GROUP BY keeper_doc_id
    )
    SELECT CAST(cluster_size AS INT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS n_dropped
    FROM sizes
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: the cluster-size histogram of the resolved
    near-dup graph — how many singletons, pairs, triples...; n_dropped
    per size row sums to exactly the documents dedup removes. This is
    the one-page summary a pipeline owner reads before approving a
    dedup config (a fat tail here means the threshold merged unrelated
    docs; all-singletons means it did nothing).

    Costs one groupBy over the session-shared resolve
    (:func:`resolved_clusters` — computed once, staged); the oracle
    reads the same staged resolve table (the fixpoint itself is
    independently verified by q_dedup_resolve's recursive CTE).
    """
    resolved = resolved_clusters(spark, sf_dir)
    sizes = resolved.groupBy("keeper_doc_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
            F.sum(F.col("cluster_size") - 1).cast("bigint").alias("n_dropped"),
        )
        .select(
            F.col("cluster_size").cast("int").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            "n_docs",
            "n_dropped",
        )
        .orderBy("cluster_size")
    )


@query(
    "q_dedup_rate_by_source",
    oracle=staged_resolve_cte()
    + """
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE r.is_dup) AS BIGINT) AS n_dups,
           round(CAST(COUNT(*) FILTER (WHERE r.is_dup) AS DOUBLE)
                 / COUNT(*), 6) AS dup_rate
    FROM resolved r JOIN documents d ON d.doc_id = r.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate rate per source (lang stands in for domain): which
    slices of the corpus are polluted — the breakdown that decides
    whether dedup findings mean "one spammy domain" or "systemic
    near-duplication", and the per-source quality metric crawl
    pipelines trend over time.

    One join of the resolve output back to the corpus dimension + a
    source-bounded aggregate; the rate is one double division + 6-dp
    round over exact counts. Oracle reads the shared STAGED resolve
    (see :func:`staged_resolve_cte` for why that is sound).
    """
    resolved = resolved_clusters(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    dups = F.count_if(F.col("is_dup"))
    return (
        resolved.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dups.alias("n_dups"),
            F.round(dups.cast("double") / F.count(F.lit(1)), 6).alias("dup_rate"),
        )
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_dups").cast("bigint").alias("n_dups"),
            "dup_rate",
        )
        .orderBy("lang")
    )
