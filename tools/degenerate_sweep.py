"""Full-registry robustness sweep over degenerate catalogs.

Builds three synthetic catalogs under .scratch/degcat/ with the REAL
table schemas (taken from sf0.001) and runs every registered query
against each, reporting anything that raises:

- ``empty``  — 0 rows per table, Spark-written parquet DIRECTORIES
               (the real lake layout, vs the single-file fixtures)
- ``one``    — 1 row per table, same directory layout
- ``hostile``— up to 3 rows PER CATEGORY VALUE (event_type,
               l_returnflag, …; plain 6 rows for tables without a
               category column); every NON-key column carries NULL in
               row 0 and (for strings) the empty string in row 1 OF
               EACH CATEGORY GROUP — the dirt real corpora contain,
               reaching every ranked/filtered subset (ADVICE r7)
- ``ties``   — 6 IDENTICAL copies of one row per table, distinct only
               in the primary key (FKs remapped onto key 0 so joins
               resolve): every value is tied, so any top-k / LIMIT /
               rank cut whose determinism rests on an incomplete sort
               key diverges from its oracle here
- ``skew``   — full sf0.001 rows with every FK remapped zipf-ishly
               (~50/25/12% of rows onto the referenced table's 3
               smallest keys) so joins/aggs run on genuinely hot keys
- ``nonfinite``— hostile's per-category shape but the dirt is
               non-finite doubles: events.value gets NaN in row 0,
               +Infinity in row 1, -0.0 in row 2 of each event_type
               group (r9; corrupt sensors/exporters emit these in any
               real 100 TB feed, and NaN ordering/grouping and
               Inf→BIGINT casts are classic cross-engine traps)
- ``unicode``— hostile's per-category shape but the dirt is MULTI-BYTE
               text: row 0 of each category group gets German sharp-s /
               dotted-I / combining-accent content, row 1 gets emoji +
               CJK, in every non-key string column (r9; hostile's dirt
               is NULL/'' only, so case-mapping and byte-vs-char
               length divergences between the JVM and utf8proc were
               never exercised)
- ``longtext``— hostile's per-category shape but the dirt is TEXT
               SHAPE: a 10k-char unbroken mega-token (row 0), a
               2-word phrase repeated 1.5k times (row 1), and
               whitespace/newline-only near-empty text (row 2) in
               every non-key string column (r10; the text operators —
               shingles, BPE, token counts, repetition/entropy,
               line dedup — had never seen a document whose shape,
               not content, is the attack)
- ``badvec`` — full sf0.001 rows, but embeddings rows vec_id 0-6 get
               degenerate VECTOR CONTENTS: an all-zeros vector (zero
               norm → cosine division), a NaN element and a +Inf
               element (poison dot products, LSH sign buckets and
               centroid training), an empty array, a NULL array, a
               wrong-length 3-element vector (zip_with pads with
               NULL), and a NULL element inside an otherwise-normal
               vector (r11; the only §2 column family no earlier
               variant ever dirtied — a real 100 TB corpus WILL
               contain zero and corrupt embeddings, and every
               similarity/ANN/PCA operator is one norm-division away
               from NaN poisoning). Other tables stay full sf0.001 so
               IVF/PQ/kNN training still sees a realistic corpus with
               the poison mixed in.
- ``nullts`` — hostile's per-category shape but the dirt is NULL
               event-time: every TIMESTAMP column (events.ts,
               orders.o_orderdate, lineitem.l_shipdate) is NULLed in
               row 0 of each category group (r9; ts is in KEYS so no
               other variant ever NULLs it — the class behind the r8
               advice finds: a window ordered by a time column puts
               NULLs FIRST in Spark but LAST in DuckDB, and NULL-gap
               arithmetic diverges)

This is the out-of-band counterpart of tests/test_degenerate_inputs.py
(which pins the previously-failing sets): run it after touching source
staging, Python kernels, or parse/scan expressions. Round-7 state:
0 failures / 336 queries on all four variants (and 0 value mismatches
on the oracle sibling, tools/degenerate_oracle_sweep.py); round 8 adds
``skew`` and the per-category hostile dirt.

Usage: python tools/degenerate_sweep.py [empty one hostile ties skew nonfinite nullts unicode longtext badvec]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as PW
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, TimestampType

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_SF = "/root/testdata/sf0.001"
# Run-ID-keyed (r9): the pytest suite's hostile/skew fixtures delegate
# to build(), so a shared degcat tree would let two concurrent suites
# race each other's catalog rebuilds. sf0.001 rebuilds are cheap.
from dateng_data_lakes_apache_spark_spark.scratch import SCRATCH
ROOT = os.path.join(SCRATCH, "degcat")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: Every variant both sweeps run by default. Single source of truth —
#: the oracle sibling imports it, and tests/test_survey_inventory.py
#: asserts SURVEY §5.3 documents exactly this list (ADVICE r9 caught a
#: built-but-unlisted variant by eye; the guard makes that structural).
DEFAULT_VARIANTS = [
    "empty", "one", "hostile", "ties", "skew",
    "nonfinite", "nullts", "unicode", "longtext", "badvec",
]

#: Join/sort keys and event-time stay intact so plans exercise their
#: real shapes; everything else is fair game for NULL/empty dirt.
KEYS = {
    "r_regionkey", "n_nationkey", "n_regionkey", "c_custkey", "c_nationkey",
    "s_suppkey", "s_nationkey", "p_partkey", "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "event_id", "user_id", "doc_id", "vec_id", "ts", "event_type",
}


#: Per-table PRIMARY key — the one column the ``ties`` variant varies.
PK = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_linenumber", "events": "event_id", "documents": "doc_id",
    "embeddings": "vec_id",
}

#: Foreign keys the ``ties`` variant pins to 0 (the PK value every
#: table is guaranteed to have) so joins resolve instead of emptying.
FK = {
    "n_regionkey", "c_nationkey", "s_nationkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey", "user_id",
}

#: FK → (referenced table, referenced PK) — the ``skew`` variant remaps
#: each FK zipf-ishly onto the referenced table's smallest keys so the
#: hot values are guaranteed joinable.
FK_REF = {
    "n_regionkey": ("region", "r_regionkey"),
    "c_nationkey": ("nation", "n_nationkey"),
    "s_nationkey": ("nation", "n_nationkey"),
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "user_id": ("customer", "c_custkey"),
}

#: Category column per table — the ``hostile`` variant dirties the
#: first rows of EVERY category group so ranked/filtered subsets
#: (event_type='view', l_returnflag='A', …) all see NULL and ''.
CAT = {
    "events": "event_type",
    "lineitem": "l_returnflag",
    "orders": "o_orderstatus",
    "customer": "c_mktsegment",
    "documents": "lang",
    "part": "p_brand",
}


def build(spark, variant: str) -> str:
    out = os.path.join(ROOT, variant)
    for t in TABLES:
        df = spark.read.parquet(f"{SRC_SF}/{t}.parquet")
        if variant == "empty":
            df = df.limit(0)
        elif variant == "one":
            df = df.limit(1)
        elif variant == "ties":
            one = df.limit(1).crossJoin(
                spark.range(6).select(F.col("id").alias("_rid"))
            )
            cols = []
            for f_ in one.schema.fields:
                if f_.name == "_rid":
                    continue
                c = F.col(f_.name)
                if f_.name == PK[t]:
                    c = F.col("_rid").cast(f_.dataType)
                elif f_.name in FK:
                    c = F.lit(0).cast(f_.dataType)
                cols.append(c.alias(f_.name))
            df = one.select(*cols)
        elif variant == "skew":
            # Zipf-ish FK skew on the FULL sf0.001 rows: remap every FK
            # so ~50/25/12% of rows land on the referenced table's 3
            # smallest keys (which are guaranteed to exist) and the
            # rest keep their original value. Deterministic via
            # xxhash64 of the row's PK. Exercises q_join_skew_aqe,
            # q_agg_salted, the skew report, and every groupBy/join on
            # genuinely hot keys rather than uniform synthetics.
            hot = {
                fk: [
                    r[0]
                    for r in spark.read.parquet(
                        f"{SRC_SF}/{ref_t}.parquet"
                    )
                    .select(ref_pk)
                    .distinct()
                    .orderBy(ref_pk)
                    .limit(3)
                    .collect()
                ]
                for fk, (ref_t, ref_pk) in FK_REF.items()
                if fk in df.columns
            }
            h = F.pmod(F.xxhash64(F.col(PK[t]).cast("string"), F.lit(t)), 100)
            cols = []
            for f_ in df.schema.fields:
                c = F.col(f_.name)
                if f_.name in hot:
                    k = hot[f_.name]
                    c = (
                        F.when(h < 50, F.lit(k[0]))
                        .when(h < 75, F.lit(k[min(1, len(k) - 1)]))
                        .when(h < 87, F.lit(k[min(2, len(k) - 1)]))
                        .otherwise(c)
                    ).cast(f_.dataType)
                cols.append(c.alias(f_.name))
            df = df.select(*cols)
        elif variant == "badvec":
            # Degenerate vector CONTENTS (r11): dirty only
            # embeddings.embedding, on the 7 smallest vec_ids, keeping
            # every other row and table intact — ANN index builders
            # (IVF/PQ/kNN) must survive poison MIXED INTO a realistic
            # training corpus, not a corpus that is all poison.
            # transform()-based so the edits are dimension-agnostic.
            if t == "embeddings":
                e = F.col("embedding")
                f0 = F.lit(0.0).cast("float")
                fnan = F.lit(float("nan")).cast("float")
                finf = F.lit(float("inf")).cast("float")
                fnull = F.lit(None).cast("float")
                vid = F.col("vec_id")
                df = df.withColumn(
                    "embedding",
                    F.when(vid == 0, F.transform(e, lambda x: f0))
                    .when(
                        vid == 1,
                        F.transform(
                            e, lambda x, i: F.when(i == 0, fnan).otherwise(x)
                        ),
                    )
                    .when(
                        vid == 2,
                        F.transform(
                            e, lambda x, i: F.when(i == 0, finf).otherwise(x)
                        ),
                    )
                    .when(vid == 3, F.array().cast("array<float>"))
                    .when(vid == 4, F.lit(None).cast("array<float>"))
                    .when(vid == 5, F.slice(e, 1, 3))
                    .when(
                        vid == 6,
                        F.transform(
                            e, lambda x, i: F.when(i == 0, fnull).otherwise(x)
                        ),
                    )
                    .otherwise(e),
                )
        elif variant == "nonfinite":
            cat = CAT.get(t)
            if cat is not None:
                gw = PW.partitionBy(cat).orderBy(PK[t])
                df = (
                    df.withColumn("_rid", F.row_number().over(gw) - 1)
                    .where(F.col("_rid") < 3)
                )
            else:
                df = df.limit(6).withColumn(
                    "_rid", F.monotonically_increasing_id()
                )
            cols = []
            for f_ in df.schema.fields:
                if f_.name == "_rid":
                    continue
                c = F.col(f_.name)
                if f_.name == "value":
                    c = (
                        F.when(F.col("_rid") == 0, F.lit(float("nan")))
                        .when(F.col("_rid") == 1, F.lit(float("inf")))
                        .when(F.col("_rid") == 2, F.lit(-0.0))
                        .otherwise(c)
                    )
                cols.append(c.alias(f_.name))
            df = df.select(*cols)
        elif variant == "unicode":
            # Same per-category row shape as hostile; dirt is multi-byte
            # text. 'Straße' upper-cases to 'STRASSE' (length change),
            # 'İ' lower-cases differently per tailoring, 'é' appears
            # composed AND decomposed, plus emoji/CJK for tokenizers.
            cat = CAT.get(t)
            if cat is not None:
                gw = PW.partitionBy(cat).orderBy(PK[t])
                df = (
                    df.withColumn("_rid", F.row_number().over(gw) - 1)
                    .where(F.col("_rid") < 3)
                )
            else:
                df = df.limit(6).withColumn(
                    "_rid", F.monotonically_increasing_id()
                )
            u0 = "Stra\u00dfe \u0130stanbul caf\u00e9 cafe\u0301"
            u1 = "\U0001f986 duck \u4e2d\u6587\u8bed\u6599 \u00c5ngstr\u00f6m"
            cols = []
            for f_ in df.schema.fields:
                if f_.name == "_rid":
                    continue
                c = F.col(f_.name)
                if f_.name not in KEYS and f_.name != cat and isinstance(
                    f_.dataType, StringType
                ):
                    c = (
                        F.when(F.col("_rid") == 0, F.lit(u0))
                        .when(F.col("_rid") == 1, F.lit(u1))
                        .otherwise(c)
                    )
                cols.append(c.alias(f_.name))
            df = df.select(*cols)
        elif variant == "longtext":
            # Same per-category row shape as hostile; the dirt is
            # pathological TEXT SHAPE (r10): row 0 gets one unbroken
            # 10k-char mega-token (no whitespace at all — shingle
            # windows larger than the word count, BPE on a single
            # giant word, regex token scans), row 1 gets a 2-word
            # phrase repeated 1.5k times (degenerate repetition — LSH
            # band saturation, repetition/entropy metrics, n-gram
            # counts), row 2 gets whitespace/newline-heavy near-empty
            # text (split/line semantics, zero-token documents with
            # non-zero length).
            cat = CAT.get(t)
            if cat is not None:
                gw = PW.partitionBy(cat).orderBy(PK[t])
                df = (
                    df.withColumn("_rid", F.row_number().over(gw) - 1)
                    .where(F.col("_rid") < 3)
                )
            else:
                df = df.limit(6).withColumn(
                    "_rid", F.monotonically_increasing_id()
                )
            t0 = "x" * 10_000
            t1 = ("spam ham " * 1_500).rstrip()
            t2 = "  \n\n\t \n word \n\n\t  "
            cols = []
            for f_ in df.schema.fields:
                if f_.name == "_rid":
                    continue
                c = F.col(f_.name)
                if f_.name not in KEYS and f_.name != cat and isinstance(
                    f_.dataType, StringType
                ):
                    c = (
                        F.when(F.col("_rid") == 0, F.lit(t0))
                        .when(F.col("_rid") == 1, F.lit(t1))
                        .when(F.col("_rid") == 2, F.lit(t2))
                        .otherwise(c)
                    )
                cols.append(c.alias(f_.name))
            df = df.select(*cols)
        elif variant == "nullts":
            # Same per-category row shape as hostile, but the only dirt
            # is ts=NULL on row 0 of each category group — isolates the
            # NULL-event-time divergence class from hostile's dirt.
            cat = CAT.get(t)
            if cat is not None:
                gw = PW.partitionBy(cat).orderBy(PK[t])
                df = (
                    df.withColumn("_rid", F.row_number().over(gw) - 1)
                    .where(F.col("_rid") < 3)
                )
            else:
                df = df.limit(6).withColumn(
                    "_rid", F.monotonically_increasing_id()
                )
            cols = []
            for f_ in df.schema.fields:
                if f_.name == "_rid":
                    continue
                c = F.col(f_.name)
                if isinstance(f_.dataType, TimestampType) or f_.name == "ts":
                    c = F.when(F.col("_rid") == 0, F.lit(None)).otherwise(c)
                cols.append(c.alias(f_.name))
            df = df.select(*cols)
        else:  # hostile
            # NULL/empty dirt must reach EVERY ranked/filtered subset a
            # query might carve (ADVICE r7: nulling only global row 0
            # left the 'view' subset of events NULL-free, hiding a
            # NULLS FIRST/LAST divergence) — so tables with a category
            # column get up to 3 rows per category with rows 0/1 OF
            # EACH GROUP dirtied; the rest keep the old 6-row shape.
            cat = CAT.get(t)
            if cat is not None:
                gw = PW.partitionBy(cat).orderBy(PK[t])
                df = (
                    df.withColumn("_rid", F.row_number().over(gw) - 1)
                    .where(F.col("_rid") < 3)
                )
            else:
                df = df.limit(6).withColumn(
                    "_rid", F.monotonically_increasing_id()
                )
            cols = []
            for f_ in df.schema.fields:
                if f_.name == "_rid":
                    continue
                c = F.col(f_.name)
                if f_.name not in KEYS and f_.name != cat:
                    if isinstance(f_.dataType, StringType):
                        c = (
                            F.when(F.col("_rid") == 0, F.lit(None).cast("string"))
                            .when(F.col("_rid") == 1, F.lit(""))
                            .otherwise(c)
                        )
                    elif isinstance(f_.dataType, (DoubleType, LongType)):
                        c = F.when(F.col("_rid") == 0, F.lit(None)).otherwise(c)
                cols.append(c.alias(f_.name))
            df = df.select(*cols)
        df.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
    return out


def main() -> None:
    from dateng_data_lakes_apache_spark_spark.caching import reset_session_state
    from dateng_data_lakes_apache_spark_spark.registry import get_queries
    from dateng_data_lakes_apache_spark_spark.session import get_spark

    variants = sys.argv[1:] or DEFAULT_VARIANTS
    spark = get_spark(app_name="degenerate-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs = get_queries()
    only = os.environ.get("SPARK_GRAFT_SWEEP_ONLY", "")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        qs = {n: f for n, f in qs.items() if n in keep}
    total_fails = 0
    for variant in variants:
        sf = build(spark, variant)
        fails = {}
        for name, fn in qs.items():
            try:
                fn(spark, sf).collect()
            except Exception as exc:  # noqa: BLE001 — a sweep reports, never stops
                fails[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:160]}"
                print(f"[{variant}] {name}: {fails[name]}", flush=True)
        reset_session_state(spark)
        total_fails += len(fails)
        print(f"=== {variant}: {len(fails)} failures / {len(qs)} queries", flush=True)
    sys.exit(1 if total_fails else 0)


if __name__ == "__main__":
    main()
