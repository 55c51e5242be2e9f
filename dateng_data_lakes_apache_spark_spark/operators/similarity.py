"""Vector similarity operators over the embeddings table (array<float>).

All vector math uses JVM higher-order functions (zip_with/aggregate) —
strict left-fold summation, so results are bit-identical across engines
and runs. No Python in the distance computation.

Scale ladder (the ANN story for 100 TB):
1. q_vector_norm / q_similarity_topk — exact brute force, O(n) per query;
   the correctness baseline and fine for one-off queries.
2. q_ann_lsh — random-hyperplane LSH: probe only matching sign-buckets.
3. q_ann_ivf — inverted-file index: probe only the nearest coarse cells.
Both prune the candidate set by orders of magnitude and keep the probe
an equi-join on bucket/cell id — hash-partitionable, no cross-product.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import advance, track
from ..catalog import table
from ..common import det_round, o_det_round, o_vec_ok, spread, vec_ok
from ..registry import query
from ..staging import run_staged, run_staged_index, staged_builder, staged_oracle

_QUERY_VEC_ID = 0  # deterministic query point for the registered queries
_DIM = 64


def _dot(a, b) -> Column:
    """Exact dot product: strict in-order fold, floats cast to double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> Column:
    return F.sqrt(_dot(a, a))


#: DuckDB WHERE fragment of the vector validity contract at the table's
#: declared dimension — the oracle twin of ``vec_ok(col, _DIM)``.
_VEC_OK_SQL = o_vec_ok("embedding", _DIM)

#: ... plus the zero-norm exclusion for cosine consumers (a zero vector
#: has no direction; 0/0 cosine is NaN-poisoning on both engines).
#: CASE, not AND: SQL conjunctions don't short-circuit, and DuckDB's
#: list_dot_product THROWS on a NULL-element vector even when the
#: vec_ok conjunct is already FALSE — CASE guarantees the norm is only
#: evaluated on contract-valid vectors (badvec sweep find).
_VEC_UNIT_SQL = (
    f"(CASE WHEN {_VEC_OK_SQL} "
    f"THEN list_dot_product(CAST(embedding AS DOUBLE[]), "
    f"CAST(embedding AS DOUBLE[])) > 0 ELSE FALSE END)"
)


def _valid_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builder for the ``idx_embeddings_valid`` ingest index: the
    embeddings table filtered to the vector validity contract, plus the
    precomputed ``is_unit`` flag (non-zero norm). ``is_unit`` is exactly
    the former per-query predicate ``_dot(embedding, embedding) > 0`` —
    for contract-valid (all-finite) vectors the dot is finite and
    non-null, so the flag is a total boolean."""
    e = table(spark, sf_dir, "embeddings").where(
        vec_ok(F.col("embedding"), _DIM)
    )
    return e.withColumn(
        "is_unit", _dot(F.col("embedding"), F.col("embedding")) > 0
    )


def _emb(spark: SparkSession, sf_dir: str, *, unit: bool = False) -> DataFrame:
    """The embeddings table filtered to the vector validity contract
    (common.vec_ok at the declared dimension — r11 ``badvec`` catalog:
    NULL/NaN/Inf-element, empty, NULL, and wrong-length vectors are
    excluded identically on both engines before any geometric operator
    sees them). ``unit=True`` additionally drops zero-norm vectors —
    mandatory for every cosine consumer, where a zero norm divides.

    r12 (VERDICT r11 item 2): the filter runs ONCE per (session,
    dataset) — the validity scan + zero-norm flag are staged to the
    ``idx_embeddings_valid`` scratch index (the same ingest-index
    pattern the LSH-band expectations use) and every vector query reads
    the staged scan. That is the 100 TB shape the contract always
    documented: validate at ingest, persist the flag, never re-evaluate
    the per-element scan per query."""
    e = run_staged_index(spark, sf_dir, "idx_embeddings_valid", _valid_embeddings)
    if unit:
        e = e.where(F.col("is_unit"))
    return e.drop("is_unit")


@query(
    "q_vector_norm",
    oracle=f"""
    SELECT vec_id,
           label,
           {o_det_round('sqrt(list_sum(list_transform(embedding,'
                        ' x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))', 4)}
             AS l2_norm,
           {o_det_round('list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))'
                        ' / len(embedding)', 4)} AS mean_val
    FROM embeddings
    WHERE {_VEC_OK_SQL}
    """,
)
def q_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm and mean — the basic vector-math kernel.
    det_round: a near-zero mean rounded through native round() diverges
    as -0.0 vs 0.0 between the engines (sf0.001 sweep find).
    Vector validity contract (badvec): only vec_ok vectors are scored;
    zero-norm vectors stay (norm 0 / mean 0 — no division by norm
    here); the excluded rows are q_vector_audit's business."""
    e = _emb(spark, sf_dir)
    emb = F.col("embedding")
    mean = _dot(emb, F.transform(emb, lambda x: F.lit(1.0))) / F.size(emb)
    return e.select(
        "vec_id",
        "label",
        det_round(_norm(emb), 4).alias("l2_norm"),
        det_round(mean, 4).alias("mean_val"),
    )


def cosine_topk(
    embeddings: DataFrame, query_df: DataFrame, k: int = 10, round_to: int = 4
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the 1-row query vector, compute
    cosine JVM-side, TakeOrderedAndProject for the top k. The generic
    building block behind the registered queries."""
    joined = embeddings.crossJoin(F.broadcast(query_df))
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    return (
        joined.select("vec_id", "label", F.round(cos, round_to).alias("cosine"))
        .where(F.col("vec_id") != _QUERY_VEC_ID)
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


@query(
    "q_similarity_topk",
    # DuckDB's list_cosine_similarity sums in float32, but casting both
    # lists to DOUBLE[] first makes list_dot_product a strict double
    # left-fold — the same summation as the Spark-side F.aggregate —
    # so the rounded values match exactly (verified against a Python
    # double fold in tests/test_similarity.py).
    oracle=f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
      WHERE vec_id = 0 AND {_VEC_UNIT_SQL}
    )
    SELECT vec_id, label,
           round(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(qe, qe))), 4) AS cosine
    FROM embeddings, q
    WHERE vec_id <> 0 AND {_VEC_UNIT_SQL}
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 (brute-force baseline).
    Vector validity contract + zero-norm exclusion (badvec) on both
    engines — a corrupt or zero query vector yields an empty result, a
    deterministic emptiness, not NaN-ranked garbage."""
    e = _emb(spark, sf_dir, unit=True)
    q = e.where(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding")
    )
    return cosine_topk(e, q, k=10)


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (public LSH recipe:
    Charikar 2002 random-projection hashing)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def _sign_bucket(emb_col, planes: list[list[float]]) -> Column:
    """LSH bucket id = integer of sign bits of <plane_i, v>."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_arr = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(emb_col, plane_arr) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


# Multi-table LSH configuration: collision prob for cosine≈0.5 neighbors is
# (1-θ/π)^K per table ≈ 0.2, and 1-(1-0.2)^L ≈ 0.83 across L tables — the
# standard K/L recall-vs-candidates dial (Charikar 2002; Indyk-Motwani 1998).
_LSH_TABLES = 8
_LSH_PLANES_PER_TABLE = 4


def _plane_sql_literal(plane: list[float]) -> str:
    """DuckDB DOUBLE[] literal with exact round-trip floats — repr() is
    the shortest representation that parses back to the identical
    double, so the SQL twin hashes the same plane constants the Spark
    side embeds via F.lit."""
    return "[" + ", ".join(repr(v) for v in plane) + "]"


def _lsh_bucket_union_sql() -> str:
    """The multi-table sign-bucket assignment as pure SQL over CTE ``e``
    (vec_id, label, v DOUBLE[]) — one UNION ALL branch per LSH table,
    bucket = Σ sign-bit<<i with the SAME seeded hyperplane constants as
    :func:`lsh_bucket_table`. Both engines compute each plane dot as a
    strict in-order double fold (F.aggregate vs list_dot_product over
    DOUBLE[]), so the sign — hence the bucket id — is bit-identical;
    this is what lets the LSH queries carry a fully INDEPENDENT oracle
    (VERDICT r6 item 4) instead of a staged roundtrip."""
    planes = _hyperplanes(_LSH_TABLES * _LSH_PLANES_PER_TABLE, _DIM)
    selects = []
    for t in range(_LSH_TABLES):
        tp = planes[t * _LSH_PLANES_PER_TABLE : (t + 1) * _LSH_PLANES_PER_TABLE]
        bucket = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_plane_sql_literal(p)}) > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(tp)
        )
        selects.append(
            f"SELECT vec_id, label, v, {t} AS table_id, {bucket} AS bucket FROM e"
        )
    return "\nUNION ALL ".join(selects)


def lsh_bucket_table(embeddings: DataFrame, n_tables: int = _LSH_TABLES,
                     k: int = _LSH_PLANES_PER_TABLE, dim: int = _DIM) -> DataFrame:
    """(vec_id, label, embedding, table_id, bucket) — one row per LSH table.

    At 100 TB this is the ingest-time index: persisted bucketed/partitioned
    by (table_id, bucket) so a query probes L partitions, never the corpus.
    """
    planes = _hyperplanes(n_tables * k, dim)
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("table_id"),
                _sign_bucket(F.col("embedding"), planes[t * k : (t + 1) * k]).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return embeddings.select(
        "vec_id", "label", "embedding", F.explode(buckets).alias("tb")
    ).select("vec_id", "label", "embedding", "tb.table_id", "tb.bucket")


@query(
    "q_ann_lsh",
    # INDEPENDENT oracle (VERDICT r6 item 4, formerly staged): the
    # 32×64 seeded hyperplane constants are embedded as DOUBLE[]
    # literals and the whole bucket→probe→re-rank pipeline is
    # re-derived in SQL — see _lsh_bucket_union_sql for why the sign
    # bits (hence buckets, candidates, and rounded cosines) are
    # bit-identical across both engines.
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE {_VEC_UNIT_SQL}),
    b AS ({_lsh_bucket_union_sql()}),
    q AS (SELECT table_id, bucket, v AS qv FROM b WHERE vec_id = {_QUERY_VEC_ID}),
    cands AS (
      SELECT b.vec_id, b.label, b.v, q.qv,
             row_number() OVER (PARTITION BY b.vec_id ORDER BY b.table_id) AS rn
      FROM b JOIN q USING (table_id, bucket)
      WHERE b.vec_id <> {_QUERY_VEC_ID}
    )
    SELECT vec_id, label,
           round(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 4) AS cosine
    FROM cands WHERE rn = 1
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    Candidates = union over L tables of the query's bucket occupants — an
    equi-join on (table_id, bucket), hash-partitionable, never a
    cross-product — then exact cosine over the (deduplicated) candidates.
    Deterministic (seeded planes); recall vs brute force is asserted in
    tests/test_similarity.py.
    """
    return ann_lsh_frame(spark, sf_dir)


def ann_lsh_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket-join + exact re-rank pipeline frame for
    :func:`q_ann_lsh` (also the frame the snapshot/lint guards pin).
    Validity + zero-norm contract (badvec): corrupt vectors never reach
    bucketing — a NaN dot poisons the sign fold into a stable-but-wrong
    bucket, the silent-corruption shape."""
    e = _emb(spark, sf_dir, unit=True)
    bucketed = lsh_bucket_table(e)
    q = bucketed.where(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"),
        F.col("table_id").alias("q_table_id"),
        F.col("bucket").alias("q_bucket"),
    )
    cands = (
        bucketed.join(
            F.broadcast(q),
            (bucketed.table_id == F.col("q_table_id"))
            & (bucketed.bucket == F.col("q_bucket")),
        )
        .where(F.col("vec_id") != _QUERY_VEC_ID)
        .dropDuplicates(["vec_id"])
    )
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    out = (
        cands.select("vec_id", "label", F.round(cos, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    return out


@query(
    "q_dedup_embedding",
    # Same double-cast list_dot_product trick as q_similarity_topk: both
    # engines compute the identical strict double fold, so rounded values
    # hash-match.
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE {_VEC_UNIT_SQL}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, blocked by `label`.

    The verification kernel of embedding dedup: exact pairwise cosine
    within a blocking key (here `label`, standing in for any cheap
    partitioner — cluster id, language, shard). Blocking turns the
    O(n²) corpus self-join into Σ O(block²) with an equi-join on the
    block key — hash-partitioned shuffle, no cross-product. At 100 TB
    the blocking key comes from q_dedup_embedding_lsh's bucket index
    instead of a label column; the verify stage is identical.
    Validity + zero-norm contract (badvec) on both sides.
    """
    e = _emb(spark, sf_dir, unit=True)
    a = e.alias("a")
    b = e.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        _norm(F.col("a.embedding")) * _norm(F.col("b.embedding"))
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(cos, 4).alias("cosine"),
        )
    )


@query(
    "q_dedup_embedding_lsh",
    # INDEPENDENT oracle (formerly staged): bucket assignment, pair
    # generation, and the UNROUNDED >=0.35 cosine verify re-derived in
    # SQL with the embedded plane constants — the threshold compares
    # the same strict-double-fold value on both engines, so even
    # boundary pairs classify identically.
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE {_VEC_UNIT_SQL}),
    b AS ({_lsh_bucket_union_sql()}),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
      FROM b a JOIN b c ON a.table_id = c.table_id AND a.bucket = c.bucket
                        AND a.vec_id < c.vec_id
    ),
    scored AS (
      SELECT p.vec_a, p.vec_b,
             list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v))
                * sqrt(list_dot_product(eb.v, eb.v))) AS raw
      FROM pairs p JOIN e ea ON ea.vec_id = p.vec_a
                   JOIN e eb ON eb.vec_id = p.vec_b
    )
    SELECT vec_a, vec_b, round(raw, 4) AS cosine FROM scored WHERE raw >= 0.35
    """,
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: LSH-bucketed candidate pairs + exact
    cosine verification — no blocking column required.

    Candidate generation: two vectors are candidates iff they share a
    (table_id, bucket) cell in the multi-table random-hyperplane index
    (lsh_bucket_table). The pair join is an equi-join on the cell key,
    so shuffle cost is Σ bucket² — bounded by collision probability,
    independent of corpus size. Verification: exact double-fold cosine
    ≥ 0.35 on the (deduplicated) candidates only. Deterministic (seeded
    planes); recall vs the exact pair set is asserted in
    tests/test_similarity.py.
    """
    return embedding_lsh_frame(spark, sf_dir)


def embedding_lsh_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed pair-join + cosine-verify pipeline frame for
    :func:`q_dedup_embedding_lsh` (also what the snapshot/lint guards pin).
    Validity + zero-norm contract (badvec) before bucketing."""
    e = _emb(spark, sf_dir, unit=True)
    bucketed = lsh_bucket_table(e).select("vec_id", "embedding", "table_id", "bucket")
    # The bucket index is reused by both sides of the pair join — persist
    # it (at lake scale: a parquet write at ingest time, the ANN index).
    # Cache lifecycle: session-owned; bench.py clears between queries.
    bucketed = track(bucketed)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("emb_a"),
            F.col("b.embedding").alias("emb_b"),
        )
        # Dedup-BEFORE-score is load-bearing here (r12 negative A/B,
        # OPTIMIZATION_r12.md item 10): pairs collide in ~9 of the LSH
        # tables on average, so scoring each occurrence first (the
        # q_dedup_minhash verify-before-dedup shape) multiplies the
        # 64-dim triple cosine fold by the dup factor — 6.2 → 53.8 s at
        # 32c/sf0.1. Deduplicating narrow ids and re-joining embeddings
        # also loses (7.9 → 10.1 s): two extra joins cost more than the
        # wide dedup exchange saves, because map-side partial agg already
        # collapses most duplicate candidates before this shuffle.
        .dropDuplicates(["vec_a", "vec_b"])
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        _norm(F.col("emb_a")) * _norm(F.col("emb_b"))
    )
    # No final orderBy — consumers (driver check, cluster resolution) are
    # order-insensitive; a global sort on the pair list is wasted shuffle.
    out = pairs.where(cos >= 0.35).select(
        "vec_a", "vec_b", F.round(cos, 4).alias("cosine")
    )
    return out


def _argmin_assign(
    frame: DataFrame, cents: DataFrame, vec_col: str, extra_key: str | None = None
) -> DataFrame:
    """Map-only nearest-centroid assignment.

    Collapses the (tiny: ≤ k, or ≤ M×K with ``extra_key``) centroid table
    to ONE array row per ``extra_key``, broadcasts it, and takes
    ``array_min`` over per-centroid ``(d2, cell_id)`` structs. The struct
    ordering (distance first, then cell_id) reproduces the former
    broadcast-join + ``min(struct)`` groupBy argmin bit-for-bit — same
    double arithmetic per element, same lowest-cell-id tie-break, and
    ``array_min`` is order-insensitive so the nondeterministic
    ``collect_list`` order cannot leak into the result.

    The difference is the shape: the old form shuffled the full data side
    (k-fanned, map-side-combined back to |V| rows WITH the vector payload)
    once per assignment pass; this form is a broadcast hash join plus a
    projection — zero exchange on the data side. At 100 TB, Lloyd
    assignment and PQ encoding become pure map work.

    Returns ``frame``'s columns plus a ``best`` struct ``(d, cell_id)``.
    """
    packed = cents.groupBy(*([extra_key] if extra_key else [])).agg(
        F.collect_list(F.struct("cell_id", "cent")).alias("_cents")
    )
    joined = (
        frame.join(F.broadcast(packed), extra_key)
        if extra_key
        else frame.crossJoin(F.broadcast(packed))
    )

    def per_cent(c):
        diff = F.zip_with(
            F.col(vec_col), c.getField("cent"), lambda x, y: x.cast("double") - y.cast("double")
        )
        return F.struct(
            _dot(diff, diff).alias("d"), c.getField("cell_id").alias("cell_id")
        )

    return joined.withColumn("best", F.array_min(F.transform("_cents", per_cent))).drop(
        "_cents"
    )


def _lloyd_rounds(
    frame: DataFrame, cents: DataFrame, vec_col: str, rounds: int, key: str | None = None
) -> DataFrame:
    """``rounds`` Lloyd iterations over ``frame``'s ``vec_col`` from the
    seed ``cents`` (``key``, cell_id, cent), per ``key`` group if given.

    Assignment is :func:`_argmin_assign`. Recompute sums each coordinate
    as ×1e6 fixed-point integers per (key, cell_id, pos), then sorts the
    per-pos means back into ``cent``, so centroids are bit-deterministic
    regardless of partition order. The full data is scanned once per
    round and shuffled only by (key, cell_id, pos) after map-side partial
    aggregation. Cells that lose all members drop out (standard Lloyd
    behavior). Each round's small centroid table goes through
    ``caching.advance``, so no round re-derives the previous one.
    """
    keys = [key] if key else []
    for _ in range(rounds):
        ex = _argmin_assign(frame, cents, vec_col, key).select(
            *keys, F.col("best.cell_id").alias("cell_id"), F.posexplode(vec_col).alias("pos", "v")
        ).select(
            *keys, "cell_id", "pos", F.floor(F.col("v").cast("double") * 1_000_000).alias("iv")
        )
        dim = ex.groupBy(*keys, "cell_id", "pos").agg(
            (F.sum("iv").cast("double") / (F.count(F.lit(1)) * 1_000_000.0)).alias("c")
        )
        new = (
            dim.groupBy(*keys, "cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(*keys, "cell_id", F.transform("pc", lambda s: s.getField("c")).alias("cent"))
        )
        cents = advance(cents, new)
    return cents


def kmeans_centroids(e: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Distributed Lloyd's k-means for the IVF coarse quantizer:
    (cell_id, cent: array<double>) after ``iters`` assign/recompute rounds
    (:func:`_lloyd_rounds`) from a deterministic seed (the k lowest
    vec_ids). Assignment broadcasts the k centroids as ONE array row, so
    the data side is never shuffled; index construction is the offline
    build stage of IVF, not the query path.
    """
    cents = e.where(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cell_id"), F.col("embedding").alias("cent")
    )
    return _lloyd_rounds(e, cents, "embedding", iters)


@query(
    "q_ann_ivf",
    # Staged-expectation oracle: Lloyd rounds use fixed-point integer
    # centroid sums + min-struct tie-breaks — bit-deterministic.
    oracle=staged_oracle("q_ann_ivf", "*"),
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign vectors to coarse cells, probe nearest cells.

    Coarse centroids come from :func:`kmeans_centroids` — two genuine
    distributed Lloyd iterations from a deterministic seed, not a sample
    stand-in. Assignment = map-only argmin over the broadcast centroid
    array (no window, no cross-product kept, no shuffle). Query probes
    its 2 nearest cells, exact cosine inside ~2/8 of the data.
    """
    return run_staged(spark, sf_dir, "q_ann_ivf")


@staged_builder("q_ann_ivf")
def ann_ivf_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-staging frame for :func:`q_ann_ivf` (construction runs the two
    Lloyd rounds; the returned frame is the probe + re-rank plan).
    Validity + zero-norm contract (badvec): one NaN vector in Lloyd
    training would poison EVERY centroid silently — the index-build
    stage is where the validity filter earns its keep at 100 TB."""
    e = _emb(spark, sf_dir, unit=True)
    cents = kmeans_centroids(e, k=8, iters=2)
    # cell assignment: map-only argmin over the broadcast centroid array
    assigned = _argmin_assign(e, cents, "embedding").select(
        "vec_id", "label", "embedding", F.col("best.cell_id").alias("cell_id")
    )
    q = assigned.where(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding")
    )
    # probe cells: the query's 2 nearest centroids
    q_cells = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cell_id",
            _dot(
                F.zip_with("cent", "q_embedding", lambda x, y: x.cast("double") - y.cast("double")),
                F.zip_with("cent", "q_embedding", lambda x, y: x.cast("double") - y.cast("double")),
            ).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("cell_id").asc())
        .limit(2)
        .select("cell_id")
    )
    cands = assigned.join(F.broadcast(q_cells), "cell_id").crossJoin(F.broadcast(q))
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    out = (
        cands.select("vec_id", "label", "cell_id", F.round(cos, 4).alias("cosine"))
        .where(F.col("vec_id") != _QUERY_VEC_ID)
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    return out


@query(
    "q_vector_centroid",
    oracle=f"""
    WITH ex AS (
      SELECT label, i AS pos,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS sv
      FROM embeddings, range(1, 4096) t(i)
      WHERE i <= len(embedding) AND {_VEC_OK_SQL}
    )
    SELECT label, CAST(pos AS INT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(sv) AS DOUBLE) / (COUNT(*) * 1000000.0) AS m
    FROM ex GROUP BY label, pos
    """,
)
def q_vector_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise centroid of the embedding column — the
    building block that turns q_ann_ivf's stand-in cells into real
    k-means coarse centroids (one such pass per Lloyd iteration).

    Scale shape: posexplode fans each vector into (label, pos, value)
    rows, and ONE hash shuffle on (label, pos) partial-aggregates the
    sums (map-side combine collapses each partition to ≤ labels×dims
    rows — the shuffle is tiny regardless of corpus size). No
    collect_list of raw vectors ever happens, so no group's memory
    grows with corpus size — the failure mode of the naive "collect
    vectors, average in Python" approach.  Validity contract (badvec):
    only vec_ok vectors contribute — one NaN element would otherwise
    poison its (label, pos) cell's mean.  Output is one row per
    (label, dimension): plain scalar doubles hash identically through
    pandas on both engines, where an assembled array column would not
    (Spark arrays → Python lists, DuckDB lists → numpy arrays); callers
    wanting the array shape fold with collect_list over pos.

    Determinism: float sums are order-dependent, so each value is
    floor-scaled to an exact integer (×1e6) first; integer sums are
    associative, and the single final IEEE division produces
    bit-identical doubles in Spark and DuckDB — no decimal rounding,
    whose HALF_UP (Spark) vs HALF_EVEN (DuckDB) tie-break diverges on
    dyadic-rational inputs like m/512 that float embeddings do contain.
    """
    e = _emb(spark, sf_dir)
    ex = e.select(
        "label",
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("v").cast("double") * 1_000_000).alias("sv"),
    )
    return ex.groupBy("label", F.col("pos").cast("int").alias("pos")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum("sv").cast("double") / (F.count(F.lit(1)) * 1_000_000.0)).alias("m"),
    )


@query(
    "q_embedding_quantize",
    oracle=f"""
    WITH mx AS (
      SELECT vec_id,
             CAST(GREATEST(list_max(embedding), -list_min(embedding)) AS DOUBLE)
               AS max_abs
      FROM embeddings
      WHERE {_VEC_OK_SQL}
    ),
    ex AS (
      SELECT e.vec_id, m.max_abs,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * (127.0 / m.max_abs))
                  AS BIGINT) AS q
      FROM embeddings e JOIN mx m USING (vec_id), range(1, 4096) t(i)
      WHERE i <= len(embedding) AND m.max_abs > 0
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           MAX(max_abs) AS max_abs,
           CAST(SUM(q) AS BIGINT) AS q_sum,
           CAST(MIN(q) AS BIGINT) AS q_min,
           CAST(MAX(q) AS BIGINT) AS q_max
    FROM ex GROUP BY vec_id
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4×
    storage/shuffle-bandwidth reduction every 100 TB vector corpus ships
    with (store int8 + one float scale per vector; dequantize on read).

    Per-vector max-abs comes from array_max/array_min — plain JVM
    built-ins, map-only, no interpreted higher-order lambda and no
    shuffle. The quantized checksum row (sum/min/max of the int8 codes)
    then costs one vec_id shuffle of integer triples via map-side
    partial aggregation.

    Determinism: float→double casts are exact, and every arithmetic step
    (127/max_abs division, value·scale product, floor) is a single
    correctly-rounded IEEE operation, so the integer codes are
    bit-identical across engines with no rounding-mode dependence —
    which is why floor, not round-half-up, is the right quantizer for a
    cross-engine-reproducible corpus.
    """
    e = _emb(spark, sf_dir)
    max_abs = F.greatest(
        F.array_max("embedding"), -F.array_min("embedding")
    ).cast("double")
    base = e.select("vec_id", "embedding", max_abs.alias("max_abs")).where(
        F.col("max_abs") > 0
    )
    ex = base.select(
        "vec_id", "max_abs", F.explode("embedding").alias("v")
    ).select(
        "vec_id",
        "max_abs",
        F.floor(
            F.col("v").cast("double") * (F.lit(127.0) / F.col("max_abs"))
        ).alias("q"),
    )
    return ex.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.max("max_abs").alias("max_abs"),
        F.sum("q").alias("q_sum"),
        F.min("q").alias("q_min"),
        F.max("q").alias("q_max"),
    )


@query(
    "q_knn_graph",
    # INDEPENDENT oracle (VERDICT r6 item 4, formerly staged): the full
    # bucket pair-join + per-source top-5 ranking re-derived in SQL
    # with the embedded hyperplane constants (see _lsh_bucket_union_sql
    # for the bit-identical sign-fold argument).
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE {_VEC_UNIT_SQL}),
    b AS ({_lsh_bucket_union_sql()}),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
      FROM b a JOIN b c ON a.table_id = c.table_id AND a.bucket = c.bucket
                        AND a.vec_id <> c.vec_id
    ),
    scored AS (
      SELECT p.vec_a, p.vec_b,
             round(list_dot_product(ea.v, eb.v)
                   / (sqrt(list_dot_product(ea.v, ea.v))
                      * sqrt(list_dot_product(eb.v, eb.v))), 4) AS cosine
      FROM pairs p JOIN e ea ON ea.vec_id = p.vec_a
                   JOIN e eb ON eb.vec_id = p.vec_b
    ),
    ranked AS (
      SELECT vec_a, vec_b, cosine,
             CAST(row_number() OVER (PARTITION BY vec_a
                                     ORDER BY cosine DESC, vec_b) AS INT) AS rank
      FROM scored
    )
    SELECT vec_a, vec_b, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-vectors k-NN graph (k=5) via the multi-table LSH index — the
    corpus-curation primitive behind semantic dedup clustering, diversity
    sampling, and graph-based quality propagation.

    Where q_ann_lsh probes ONE query vector, this builds the neighbor
    list for EVERY vector in the same pass: candidate pairs are the LSH
    bucket co-occupants (equi-join on (table_id, bucket) — shuffle cost
    Σ bucket², independent of corpus size, never an all-pairs product),
    deduplicated, scored with the exact double-fold cosine, and cut to
    the top-k per source with a row_number window whose rank filter is
    WindowGroupLimit-eligible — each map task pre-prunes to k rows per
    source before the window shuffle. Directed edges: (a,b) and (b,a)
    rank independently, as a kNN graph requires. Deterministic (seeded
    planes, (cosine desc, vec_b) tie-break); recall vs the exact graph
    is asserted in tests/test_similarity.py.
    """
    return knn_graph_frame(spark, sf_dir)


def knn_graph_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket pair-join + WindowGroupLimit top-k pipeline frame for
    :func:`q_knn_graph` (also the frame the snapshot/lint guards pin)."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir, unit=True)
    bucketed = lsh_bucket_table(e).select("vec_id", "embedding", "table_id", "bucket")
    # Session-owned index cache, same lifecycle as q_dedup_embedding_lsh.
    bucketed = track(bucketed)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("emb_a"),
            F.col("b.embedding").alias("emb_b"),
        )
        # Dedup-BEFORE-score, same r12 negative A/B as
        # embedding_lsh_frame (OPTIMIZATION_r12.md item 10): score-first
        # 13.3 → 54.1 s (multi-table dup factor × cosine fold); narrow-id
        # dedup + embedding re-join flat (11.0 → 10.8, within spread).
        .dropDuplicates(["vec_a", "vec_b"])
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        _norm(F.col("emb_a")) * _norm(F.col("emb_b"))
    )
    scored = pairs.select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
    rn = F.row_number().over(
        Window.partitionBy("vec_a").orderBy(F.col("cosine").desc(), F.col("vec_b"))
    )
    out = (
        scored.withColumn("rank", rn)
        .where(F.col("rank") <= 5)
        .select("vec_a", "vec_b", "cosine", "rank")
    )
    return out


@query(
    "q_hybrid_search",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM w WHERE word <> '' GROUP BY doc_id, word
    ),
    dl AS (SELECT doc_id, SUM(tf) AS dlen FROM tf GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dlen) AS avgdl FROM dl),
    dfreq AS (
      SELECT word, COUNT(*) AS df FROM tf
      WHERE word IN ('data', 'model', 'training') GROUP BY word
    ),
    scored AS (
      SELECT t.doc_id,
             SUM(
               LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * d.dlen / s.avgdl))
             ) AS score
      FROM tf t
      JOIN dfreq f USING (word)
      JOIN dl d USING (doc_id)
      CROSS JOIN stats s
      GROUP BY t.doc_id
    ),
    lex AS (
      SELECT doc_id, ROUND(score, 4) AS bm25 FROM scored
      ORDER BY bm25 DESC, doc_id LIMIT 20
    ),
    lexr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lr
      FROM lex
    ),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
      WHERE vec_id = 0 AND {_VEC_UNIT_SQL}
    ),
    den AS (
      SELECT vec_id,
             round(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
                   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(qe, qe))), 4) AS cosine
      FROM embeddings, q
      WHERE vec_id <> 0 AND {_VEC_UNIT_SQL}
      ORDER BY cosine DESC, vec_id ASC LIMIT 20
    ),
    denr AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS vr
      FROM den
    )
    SELECT COALESCE(l.doc_id, d.vec_id) AS doc_id,
           CAST(COALESCE(l.lr, 0) AS INT) AS lex_rank,
           CAST(COALESCE(d.vr, 0) AS INT) AS vec_rank,
           ROUND(COALESCE(1.0 / (60 + l.lr), 0) + COALESCE(1.0 / (60 + d.vr), 0),
                 6) AS rrf
    FROM lexr l FULL OUTER JOIN denr d ON l.doc_id = d.vec_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-20 + exact-cosine dense top-20,
    fused by reciprocal-rank fusion (RRF, Cormack et al. 2009:
    score = Σ 1/(60+rank)) — the standard first-stage ranker in RAG
    pipelines, composed entirely from this engine's own operators
    (q_bm25's posting-list-bounded scorer + q_similarity_topk's strict
    double-fold cosine; doc_id ≡ vec_id links the two tables).

    Scale shape: each retriever narrows to top-k via
    TakeOrderedAndProject (no global sort); the rank windows then run
    over ≤k rows — a bounded single partition BY CONSTRUCTION, not an
    unpartitioned window over data (the q_window_ntile caveat does not
    apply). The fusion join is k×k at most. Ranks are taken on
    round-4 scores with id tiebreaks, so they are identical across
    engines even where double summation order could wiggle the last
    ulp of the raw scores.
    """
    d = table(spark, sf_dir, "documents")
    e = _emb(spark, sf_dir, unit=True)

    # -- lexical side: BM25 (same formulation as q_bm25) ----------------
    words = d.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("word")
    )
    # NOT persisted (r11 A/B): track(tf) measured 1.5 → 3.8 s — caching
    # the full posting table forces one materialization of EVERY
    # (doc, word) row, while the un-cached plan lets Catalyst push the
    # 3-word dfreq filter below the aggregate so that consumer touches
    # almost nothing. Re-deriving the pruned subtrees in parallel beats
    # materializing the superset.
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dlen"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avgdl"))
    dfreq = (
        tf.where(F.col("word").isin("data", "model", "training"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    k1, b = 1.2, 0.75
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dlen") / F.col("avgdl"))
    )
    lex = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_sat).alias("score"))
        .select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )
    lex_rank_win = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lexr = lex.select("doc_id", F.row_number().over(lex_rank_win).alias("lr"))

    # -- dense side: exact cosine vs vec_id=0 ---------------------------
    qv = e.where(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding")
    )
    den = cosine_topk(e, qv, k=20)
    vec_rank_win = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    denr = den.select("vec_id", F.row_number().over(vec_rank_win).alias("vr"))

    # -- reciprocal-rank fusion ----------------------------------------
    fused = lexr.join(denr, lexr.doc_id == denr.vec_id, "full_outer")
    rrf = F.coalesce(1.0 / (60 + F.col("lr")), F.lit(0.0)) + F.coalesce(
        1.0 / (60 + F.col("vr")), F.lit(0.0)
    )
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            F.coalesce(F.col("lr"), F.lit(0)).cast("int").alias("lex_rank"),
            F.coalesce(F.col("vr"), F.lit(0)).cast("int").alias("vec_rank"),
            F.round(rrf, 6).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


# Deterministic small-integer projection matrix (K output dims × 64 input
# dims), generated by a fixed LCG so BOTH engines see the same literals —
# no cross-engine hash-function agreement needed. Weights in {-3..3}.
_PROJ_K = 8
_PROJ_D = 64
_PROJ_W: list[list[int]] = [
    [((1103515245 * (j * _PROJ_D + i) + 12345) % 7) - 3 for i in range(_PROJ_D)]
    for j in range(_PROJ_K)
]


def _proj_oracle() -> str:
    cols = ",\n           ".join(
        "CAST(list_sum(list_transform(range(1, {n}), i -> c[i] * ({w})[i])) AS BIGINT)"
        " AS p{j}".format(n=_PROJ_D + 1, w="[" + ",".join(map(str, _PROJ_W[j])) + "]", j=j)
        for j in range(_PROJ_K)
    )
    return f"""
    WITH mx AS (
      SELECT vec_id,
             CAST(GREATEST(list_max(embedding), -list_min(embedding)) AS DOUBLE)
               AS max_abs
      FROM embeddings
      WHERE {_VEC_OK_SQL}
    ),
    codes AS (
      SELECT e.vec_id,
             list_transform(
               e.embedding,
               v -> CAST(FLOOR(CAST(v AS DOUBLE) * (127.0 / m.max_abs)) AS BIGINT)
             ) AS c
      FROM embeddings e JOIN mx m USING (vec_id)
      WHERE m.max_abs > 0
    )
    SELECT vec_id,
           {cols}
    FROM codes
    """


@query("q_embedding_project", oracle=_proj_oracle())
def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random projection of embeddings to {k} dims in EXACT integer
    arithmetic: int8-quantize each vector (same floor quantizer as
    q_embedding_quantize), then dot it with a fixed small-integer matrix
    — the dimensionality-reduction step in front of LSH / coarse
    clustering, JL-style, made bit-reproducible across engines.

    Why integers: a float projection's sum order would have to match the
    oracle ulp-for-ulp; int codes (|c| ≤ 127) times int weights (|w| ≤ 3)
    over 64 terms stay ≤ 2^15 — associative, exact, engine-independent.

    Scale shape: map-only (quantize + {k} zip_with/aggregate folds per
    row, all JVM HOFs, no shuffle, no UDF); the projection matrix is a
    plan literal — broadcast by construction. Output width {k} replaces
    64 floats with {k} longs for every downstream bucket/cluster pass.
    """
    e = _emb(spark, sf_dir)
    max_abs = F.greatest(F.array_max("embedding"), -F.array_min("embedding")).cast(
        "double"
    )
    base = e.select("vec_id", "embedding", max_abs.alias("max_abs")).where(
        F.col("max_abs") > 0
    )
    codes = base.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * (F.lit(127.0) / F.col("max_abs"))),
        ).alias("c"),
    )
    projections = [
        F.aggregate(
            F.zip_with(
                F.col("c"),
                F.array(*[F.lit(w) for w in _PROJ_W[j]]),
                lambda c, w: c * w.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"p{j}")
        for j in range(_PROJ_K)
    ]
    return codes.select("vec_id", *projections)


q_embedding_project.__doc__ = q_embedding_project.__doc__.format(k=_PROJ_K)


_PQ_M = 8  # subspaces
_PQ_SUBDIM = 8  # dims per subspace (8 × 8 = the 64-dim embeddings)
_PQ_K = 16  # centroids per subspace codebook → 4-bit codes
_PQ_SHORTLIST = 100  # ADC shortlist fed to the exact reranker (10x k)


@query(
    "q_ann_pq",
    # Staged-expectation oracle: codebooks learn via fixed-point integer
    # sums from a deterministic seed — the ADC top-k is reproducible.
    oracle=staged_oracle("q_ann_pq", "*"),
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011) — the
    memory-bounded leg of the ANN ladder (brute → LSH buckets → IVF
    cells → PQ codes): vectors compress to M=8 codebook codes (4 bits
    each — 4 bytes per 64-dim vector, a 64× memory cut), and queries
    rank by Asymmetric Distance Computation: exact query-to-centroid
    distance tables, summed per vector via its codes.

    Everything is broadcast-join relational — no literal-baked
    expressions, no Python in the row path:
    - build: the corpus explodes ONCE to (vec_id, m, subvector); each
      of the 2 Lloyd rounds is one map-only broadcast-array argmin +
      fixed-point recompute over that frame (2 corpus passes total for
      ALL M codebooks; an earlier per-subspace formulation paid M×2
      sequential rounds — 31 s at sf0.1); the 128-row centroid table is
      checkpointed per round to stop plan stacking;
    - encode: one more broadcast argmin pass → (vec_id, m, code);
    - ADC: the M×K query-to-centroid distance table (128 rows) joins
      the code table on (m, code) and sums per vector — the corpus-side
      math at query time is ONE equi-join probe per code, never
      full-width vector arithmetic (float vectors stay cold; codes stay
      hot — the entire point at 100 TB).

    Like production IVF-PQ systems, ADC produces a SHORTLIST
    (top-``_PQ_SHORTLIST`` by approximate L2², 10× the final k) and the
    exact metric reranks only that shortlist. Returns exact-cosine
    top-10 of the shortlist; recall vs brute-force top-10 is asserted
    in tests/test_similarity.py. (On these near-uniform synthetic
    embeddings raw-ADC ordering alone recalls ~2/10 — unstructured data
    is PQ's worst case, which is exactly why the rerank stage exists.)
    """
    return run_staged(spark, sf_dir, "q_ann_pq")


@staged_builder("q_ann_pq")
def ann_pq_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-staging frame for :func:`q_ann_pq` (construction runs the two
    batched Lloyd rounds; the returned frame is the ADC + rerank plan)."""
    e = _emb(spark, sf_dir, unit=True)
    subs = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("embedding", m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "s.m", "s.sv")
    subs = track(subs)

    # ---- build: 2 Lloyd rounds over ALL subspaces at once ------------
    # 128-row centroid table: advance's checkpoint stops each round's
    # plan from re-deriving the previous round (measured 9 s -> ~2 s
    # build). r12 A/B at 32 and 8 cores: a lazy checkpoint measured equal
    # and a track()'d round 2 worse (3.84 vs 3.40 s), so rounds stay eager.
    cents = subs.where(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").cast("int").alias("cell_id"), F.col("sv").alias("cent")
    )
    cents = _lloyd_rounds(subs, cents, "sv", 2, key="m")

    # ---- encode: one more broadcast argmin pass ----------------------
    # map-only per-subspace argmin: each row meets its M-keyed centroid
    # array once via broadcast hash join, no groupBy shuffle
    codes = _argmin_assign(subs, cents, "sv", extra_key="m").select(
        "vec_id", "m", F.col("best.cell_id").alias("code")
    )

    # ---- ADC: query-to-centroid table (M×K rows) ---------------------
    q = e.where(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding")
    )
    q_subs = q.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("q_embedding", m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("qv"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("s")
    ).select("s.m", "s.qv")
    qdiff = F.zip_with("qv", "cent", lambda x, y: x.cast("double") - y.cast("double"))
    adc = cents.join(F.broadcast(q_subs), "m").select(
        F.col("m").alias("a_m"),
        F.col("cell_id").alias("a_cell"),
        _dot(qdiff, qdiff).alias("d"),
    )
    approx = (
        codes.join(
            F.broadcast(adc),
            (F.col("m") == F.col("a_m")) & (F.col("code") == F.col("a_cell")),
        )
        .groupBy("vec_id")
        .agg(F.sum("d").alias("approx_d2"))
        .where(F.col("vec_id") != _QUERY_VEC_ID)
    )
    shortlist = (
        approx.orderBy(F.col("approx_d2").asc(), F.col("vec_id").asc())
        .limit(_PQ_SHORTLIST)
        .join(e, "vec_id")
        .crossJoin(F.broadcast(q))
    )
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    out = shortlist.select(
        "vec_id",
        "label",
        F.round(F.col("approx_d2"), 4).alias("approx_d2"),
        F.round(cos, 4).alias("cosine"),
    ).orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(10)
    return out


@query(
    "q_embedding_scaler",
    oracle=f"""
    WITH ex AS (
      SELECT t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
      WHERE {_VEC_OK_SQL}
    )
    -- variance numerator n*S2 - S*S computed EXACTLY in DECIMAL(38,0):
    -- subtracting two independently-rounded doubles could land a hair
    -- negative on a zero-variance (all-tied) dimension, where DuckDB's
    -- SQRT raises (ties-catalog sweep find); the integer form is >= 0
    -- by Cauchy-Schwarz. n < 2: sample std undefined -> NULL.
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(floor(v * 1000000) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*) * 1000000.0), 4) AS mean,
           CASE WHEN COUNT(*) < 2 THEN NULL ELSE
             round(sqrt(
               CAST(CAST(COUNT(*) AS DECIMAL(38,0))
                      * SUM(CAST(floor(v * 1000000) AS BIGINT)
                            * CAST(floor(v * 1000000) AS BIGINT))
                    - CAST(SUM(CAST(floor(v * 1000000) AS BIGINT)) AS DECIMAL(38,0))
                      * SUM(CAST(floor(v * 1000000) AS BIGINT)) AS DOUBLE)
               / 1e12 / (COUNT(*) * (COUNT(*) - 1))), 4)
           END AS std
    FROM ex
    GROUP BY dim
    """,
)
def q_embedding_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column — the
    feature-scaler artifact (mean/std per dimension) every ML
    standardization step materializes before training or indexing
    (whitening ANN inputs, normalizing features).

    posexplode fans each vector into (dim, value); one hash aggregation
    per dimension with map-side combine — shuffle is dims × partials,
    independent of corpus size. Float values quantize to ×1e6
    fixed-point integers BEFORE summing (the q_vector_centroid
    discipline) so Σv and Σv² are exact integer arithmetic on both
    engines; moments recombine in double with the same expression
    tree. 1e12 rescales the squared fixed-point sums.
    """
    e = _emb(spark, sf_dir)
    ex = e.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.floor(F.col("v").cast("double") * 1_000_000).alias("iv")
    )
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("iv").alias("s"),
        F.sum(F.col("iv") * F.col("iv")).alias("s2"),
    )
    n = F.col("n")
    mean = F.col("s").cast("double") / (n * 1_000_000.0)
    # exact DECIMAL(38,0) numerator n*S2 - S^2 (>= 0 by Cauchy-Schwarz):
    # the double-rounded form could go a hair negative on a
    # zero-variance dimension and leak NaN through sqrt (ties-catalog
    # sweep find — the oracle carries the same shape). n < 2 -> NULL.
    num = (
        n.cast("decimal(38,0)") * F.col("s2") - F.col("s").cast("decimal(38,0)") * F.col("s")
    ).cast("double")
    var = num / 1e12 / (n * (n - 1))
    return agg.select(
        "dim",
        "n",
        F.round(mean, 4).alias("mean"),
        F.when(n >= 2, F.round(F.sqrt(var), 4)).alias("std"),
    )


# --- covariance of embedding dimensions (PCA prep) ---------------------

_COV_DIMS = 8


@query(
    "q_embedding_covariance",
    oracle=f"""
    WITH sums AS (
      SELECT COUNT(*) AS n,
             {", ".join(
                 f"CAST(SUM(CAST(CAST(embedding[{i}] AS DOUBLE) AS DECIMAL(30,8))) AS DOUBLE) AS s{i}"
                 for i in range(1, _COV_DIMS + 1)
             )},
             {", ".join(
                 f"CAST(SUM(CAST(CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{j}] AS DOUBLE) AS DECIMAL(30,8))) AS DOUBLE) AS p{i}_{j}"
                 for i in range(1, _COV_DIMS + 1)
                 for j in range(i, _COV_DIMS + 1)
             )}
      FROM embeddings
      WHERE {_VEC_OK_SQL}
    )
    SELECT i, j, cov FROM (
      {" UNION ALL ".join(
          f"SELECT {i} AS i, {j} AS j,"
          f" round((p{i}_{j} - s{i} * s{j} / n) / (n - 1), 6) AS cov FROM sums"
          for i in range(1, _COV_DIMS + 1)
          for j in range(i, _COV_DIMS + 1)
      )}
    )
    ORDER BY i, j
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance matrix of the first {_COV_DIMS} embedding
    dimensions — the aggregation pass a distributed PCA starts from.

    ONE corpus pass computes all {_COV_DIMS}·({_COV_DIMS}+1)/2 upper-
    triangle product sums plus the means (map-side combined; the
    shuffle is a single row of accumulators, and widening to all 64
    dims is the same plan with more columns). Products accumulate
    through DECIMAL(30,8) (8-dp cast of float32 products — identical
    both engines on identical doubles), recombined with the textbook
    (Sxy - SxSy/n)/(n-1) in double, rounded 6 dp — the q_agg_stats
    discipline applied to vectors. The 36-cell result is
    metadata-scale: the eigen-solve on it is a driver/BLAS concern,
    not a data-plane one.

    spread() (r11): the 36 decimal product sums ran on the single-task
    one-row-group scan — 2.3 → 1.5 s at sf0.1 with the conditional
    repartition. Applied here, NOT in the shared _emb (the iterative
    PCA frame measured slower with an extra per-round exchange).
    """
    e = spread(_emb(spark, sf_dir), spark)
    d = range(1, _COV_DIMS + 1)
    x = {i: F.element_at("embedding", i).cast("double") for i in d}
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(x[i].cast("decimal(30,8)")).cast("double").alias(f"s{i}") for i in d]
    aggs += [
        F.sum((x[i] * x[j]).cast("decimal(30,8)")).cast("double").alias(f"p{i}_{j}")
        for i in d
        for j in range(i, _COV_DIMS + 1)
    ]
    sums = e.agg(*aggs)
    # ONE unpivot projection over the single accumulator row — a
    # union-of-selects here would re-plan (and re-run) the aggregate
    # once per cell.
    cells = [
        F.struct(
            F.lit(i).cast("int").alias("i"),
            F.lit(j).cast("int").alias("j"),
            F.round(
                (F.col(f"p{i}_{j}") - F.col(f"s{i}") * F.col(f"s{j}") / F.col("n"))
                / (F.col("n") - 1),
                6,
            ).alias("cov"),
        )
        for i in d
        for j in range(i, _COV_DIMS + 1)
    ]
    return (
        sums.select(F.explode(F.array(*cells)).alias("c"))
        .select("c.i", "c.j", "c.cov")
        .orderBy("i", "j")
    )


# --- embedding drift between cohorts -----------------------------------

_DRIFT_DIMS = 16


@query(
    "q_embedding_drift",
    oracle=f"""
    WITH sums AS (
      SELECT label,
             COUNT(*) AS n,
             {", ".join(
                 f"CAST(SUM(CAST(CAST(embedding[{i}] AS DOUBLE) AS DECIMAL(30,8))) AS DOUBLE) AS s{i}"
                 for i in range(1, _DRIFT_DIMS + 1)
             )}
      FROM embeddings WHERE {_VEC_OK_SQL} GROUP BY label
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             a.n AS n_a, b.n AS n_b,
             sqrt({" + ".join(
                 f"(a.s{i} / a.n - b.s{i} / b.n) * (a.s{i} / a.n - b.s{i} / b.n)"
                 for i in range(1, _DRIFT_DIMS + 1)
             )}) AS centroid_dist
      FROM sums a JOIN sums b ON a.label < b.label
    )
    SELECT CAST(label_a AS INT) AS label_a,
           CAST(label_b AS INT) AS label_b,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           round(centroid_dist, 6) AS centroid_dist
    FROM pairs
    ORDER BY label_a, label_b
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift report: pairwise centroid distance between label
    cohorts over the first {_DRIFT_DIMS} dimensions — the cheap first
    alarm for representation shift between data slices (cohorts whose
    centroids move apart are the ones to re-embed or re-train on).

    One hash agg produces a |labels|-row sum table (decimal-exact per
    dim, map-side combined); the pairwise comparison is a self-join of
    THAT — |labels|² rows of pure arithmetic, metadata-scale. The same
    plan with a date column as the cohort key is the
    production drift monitor.
    """
    e = _emb(spark, sf_dir)
    dims = range(1, _DRIFT_DIMS + 1)
    x = {i: F.element_at("embedding", i).cast("double") for i in dims}
    sums = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(x[i].cast("decimal(30,8)")).cast("double").alias(f"s{i}") for i in dims],
    )
    a = sums.select(
        F.col("label").alias("label_a"), F.col("n").alias("n_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in dims],
    )
    b = sums.select(
        F.col("label").alias("label_b"), F.col("n").alias("n_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in dims],
    )
    dist2 = None
    for i in dims:
        term = (F.col(f"a{i}") / F.col("n_a") - F.col(f"b{i}") / F.col("n_b")) ** 2
        dist2 = term if dist2 is None else dist2 + term
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(F.sqrt(dist2), 6).alias("centroid_dist"),
        )
        .orderBy("label_a", "label_b")
    )


#: Fixed power-iteration count for q_pca_power — part of the query
#: contract (both engines unroll exactly this many normalized matvecs).
_PCA_ITERS = 12


def _pca_cov_cell(i: int, j: int) -> str:
    """6-dp covariance cell from the shared power sums (dialect-neutral;
    q_embedding_covariance's exact recombination)."""
    a, b = min(i, j), max(i, j)
    return (
        f"floor((p{a}_{b} - s{a} * s{b} / n) / (n - 1) * 1e6 + 0.5) / 1e6"
    )


@query(
    "q_pca_power",
    oracle=f"""
    WITH sums AS (
      SELECT COUNT(*) AS n,
             {", ".join(
                 f"CAST(SUM(CAST(CAST(embedding[{i}] AS DOUBLE) AS DECIMAL(30,8))) AS DOUBLE) AS s{i}"
                 for i in range(1, 9)
             )},
             {", ".join(
                 f"CAST(SUM(CAST(CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{j}] AS DOUBLE) AS DECIMAL(30,8))) AS DOUBLE) AS p{i}_{j}"
                 for i in range(1, 9)
                 for j in range(i, 9)
             )}
      FROM embeddings
      WHERE {_VEC_OK_SQL}
    ),
    cmat AS (
      SELECT n, [{", ".join(
          "[" + ", ".join(_pca_cov_cell(i, j) for j in range(1, 9)) + "]"
          for i in range(1, 9)
      )}] AS c
      FROM sums WHERE n >= 2
    ),
    w0 AS MATERIALIZED (SELECT n, c, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS v FROM cmat),
    {", ".join(
        f'''w{t} AS MATERIALIZED (
      SELECT n, c,
             CASE WHEN sqrt(list_aggregate(list_transform(
                        list_transform(range(1, 9), i ->
                          list_aggregate(list_transform(range(1, 9),
                            j -> c[i][j] * v[j]), 'sum')),
                        x -> x * x), 'sum')) > 0
                  THEN list_transform(
                        list_transform(range(1, 9), i ->
                          list_aggregate(list_transform(range(1, 9),
                            j -> c[i][j] * v[j]), 'sum')),
                        x -> x / sqrt(list_aggregate(list_transform(
                          list_transform(range(1, 9), i ->
                            list_aggregate(list_transform(range(1, 9),
                              j -> c[i][j] * v[j]), 'sum')),
                          x -> x * x), 'sum')))
                  ELSE NULL END AS v
      FROM w{t - 1} WHERE v IS NOT NULL
    )''' for t in range(1, _PCA_ITERS + 1)
    )}
    SELECT CAST(i AS INT) AS dim,
           floor(v[i] * 1e6 + 0.5) / 1e6 AS loading,
           floor(list_aggregate(list_transform(range(1, 9), k ->
                   v[k] * list_aggregate(list_transform(range(1, 9),
                     j -> c[k][j] * v[j]), 'sum')), 'sum')
                 * 1e6 + 0.5) / 1e6 AS eigenvalue
    FROM w{_PCA_ITERS}, range(1, 9) AS r(i)
    WHERE v IS NOT NULL
    """,
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal component of the first 8 embedding dimensions by FIXED
    12-step power iteration on the 6-dp covariance matrix — PCA as a
    lake query, with a fully INDEPENDENT oracle (the DuckDB twin
    unrolls the identical normalized matvecs over one-row CTEs; no
    staging, no BLAS).

    The data-scale work is q_embedding_covariance's single power-sum
    pass (map-side combined; the shuffle is one accumulator row). The
    iteration itself runs DRIVER-SIDE on the collected 8x8 cell matrix
    — exactly the split that query's docstring prescribes ("the
    eigen-solve on it is a driver/BLAS concern, not a data-plane one")
    and the bounded-collect precedent BPE/grid-DBSCAN established: 36
    cells cross the wire, never data. (A first cut chained the matvecs
    as 12 nested JVM HOF projections; Catalyst's projection collapse
    re-inlines the shared `w` subtree twice per level, so ANALYSIS
    cost grows 2^iters — unusable. Driver floats execute the identical
    IEEE sequence: matvec folds ascend j, the norm fold ascends i,
    the same sqrt divides — bit-identical to the oracle's unrolled
    list_aggregate folds.)

    Start vector e1 is part of the contract. Degenerate guards: n<2
    emits an empty frame; a zero matrix (||Cv||=0) kills the walk →
    empty on both sides. The eigenvalue is the final Rayleigh
    quotient v·Cv, 6-dp rounding only at the output.

    At 100 TB: identical plan — the corpus pass is the only data-scale
    stage. Widening to 64 dims or top-m components (deflation) changes
    the driver loop, not the plan.
    """
    import math

    k = 8
    e = _emb(spark, sf_dir)
    dims = range(1, k + 1)
    x = {i: F.element_at("embedding", i).cast("double") for i in dims}
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [
        F.sum(x[i].cast("decimal(30,8)")).cast("double").alias(f"s{i}")
        for i in dims
    ]
    aggs += [
        F.sum((x[i] * x[j]).cast("decimal(30,8)")).cast("double").alias(f"p{i}_{j}")
        for i in dims
        for j in range(i, k + 1)
    ]
    sums = e.agg(*aggs).where(F.col("n") >= 2)

    def cell(i: int, j: int):
        a, b = min(i, j), max(i, j)
        return F.floor(
            (F.col(f"p{a}_{b}") - F.col(f"s{a}") * F.col(f"s{b}") / F.col("n"))
            / (F.col("n") - 1)
            * F.lit(1e6)
            + F.lit(0.5)
        ) / F.lit(1e6)

    cmat = F.array(*[F.array(*[cell(i, j) for j in dims]) for i in dims])
    rows = sums.select(cmat.alias("c")).collect()  # <= 1 row, 36 cells
    schema = "dim int, loading double, eigenvalue double"
    if not rows:
        return spark.createDataFrame([], schema)
    c = rows[0]["c"]

    def matvec(v):
        out = []
        for i in range(k):
            acc = 0.0
            for j in range(k):  # ascending j — the oracle's fold order
                acc = acc + c[i][j] * v[j]
            out.append(acc)
        return out

    v = [1.0] + [0.0] * (k - 1)
    for _ in range(_PCA_ITERS):
        w = matvec(v)
        nrm_sq = 0.0
        for xx in w:  # ascending i — the oracle's norm fold order
            nrm_sq = nrm_sq + xx * xx
        nrm = math.sqrt(nrm_sq)
        if not nrm > 0:
            return spark.createDataFrame([], schema)
        v = [xx / nrm for xx in w]
    w = matvec(v)
    lam = 0.0
    for a, b in zip(v, w):
        lam = lam + a * b
    r6 = lambda val: math.floor(val * 1e6 + 0.5) / 1e6
    return spark.createDataFrame(
        [(i + 1, r6(v[i]), r6(lam)) for i in range(k)], schema
    )


@query(
    "q_vector_audit",
    oracle=f"""
    WITH cls AS (
      SELECT vec_id,
             CASE WHEN embedding IS NULL THEN 'null_vector'
                  WHEN len(embedding) = 0 THEN 'empty'
                  WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
                    THEN 'null_element'
                  WHEN NOT list_aggregate(list_transform(embedding,
                         x -> isfinite(CAST(x AS DOUBLE))), 'bool_and')
                    THEN 'nonfinite_element'
                  WHEN len(embedding) <> {_DIM} THEN 'wrong_dim'
                  WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])) = 0
                    THEN 'zero_norm'
                  ELSE 'ok' END AS status
      FROM embeddings
    )
    SELECT status,
           COUNT(*) AS n_vectors,
           CAST(MIN(vec_id) AS BIGINT) AS sample_vec_id
    FROM cls GROUP BY status
    """,
)
def q_vector_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector validity audit: classify every embedding row against the
    common.vec_ok contract (r11 ``badvec`` catalog) — the ingest-side
    quarantine report that PAIRS with the geometric operators' filter.
    The filter (vec_ok + zero-norm exclusion) makes corrupt vectors
    vanish from similarity/ANN/PCA results; this audit is where they
    reappear, counted by failure class, so a corrupt embedding job
    surfaces as a monitored number instead of silently shrinking every
    downstream result. At 100 TB this runs once per ingest batch and
    its output gates promotion (the DQ-constraint pattern of
    q_dq_constraint_audit applied to the vector column).

    Classification order is part of the contract (a NULL-element vector
    is 'null_element' even if also wrong-dim): NULL vector → empty →
    NULL element → non-finite element → wrong dimension → zero norm →
    ok. Both engines walk the same CASE ladder, and the sequential CASE
    guarantees the norm is only computed on vectors already proven
    clean (DuckDB's list_dot_product throws on NULL elements — the
    badvec sweep find that shaped _VEC_UNIT_SQL). Map-only scan +
    one tiny hash agg on status; sample_vec_id = MIN for determinism.
    """
    from ..common import finite

    emb = F.col("embedding")
    status = (
        F.when(emb.isNull(), F.lit("null_vector"))
        .when(F.size(emb) == 0, F.lit("empty"))
        .when(F.exists(emb, lambda x: x.isNull()), F.lit("null_element"))
        .when(~F.forall(emb, finite), F.lit("nonfinite_element"))
        .when(F.size(emb) != _DIM, F.lit("wrong_dim"))
        .when(_dot(emb, emb) == 0, F.lit("zero_norm"))
        .otherwise(F.lit("ok"))
    )
    return (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").cast("bigint").alias("sample_vec_id"),
        )
    )
