"""sf1-equivalent scaling sweep for the bench heavyweights (VERDICT r4
task #6 / r5 item 7).

No driver-generated sf1 testdata exists, so this tool synthesizes a
10x shard-replicated dataset from sf0.1 into .scratch/sfsweep/sf1x/:

- ``lineitem``: 10 replicas with l_orderkey / l_partkey / l_suppkey
  shifted per replica — 10 disjoint copies of the sf0.1 world, i.e.
  10x keys at the same per-key distribution (what sf1 TPC-H data
  approximates for these queries' join/agg shapes).
- ``documents``: 10 replicas with shifted doc_id and, for replicas
  1-9, a per-replica suffix appended to EVERY word. That drops
  cross-replica shingle similarity to zero while preserving each
  replica's internal near-dup topology exactly — a true "10x corpus
  at constant duplicate density". Plain replication would instead
  turn every document into a 10-way exact-dup cluster and inflate
  candidate pairs quadratically — a different (adversarial) workload,
  not a scale-up.

The sweep times each heavyweight at sf0.1 and at the synthetic 10x and
prints a slope table (ratio / 10 = per-unit-data cost change; ~1.0 is
linear). Each point is the median of ``harness.time_passes`` passes 1-2
(pass 0 is discarded), so frame choice, warm-up and pass rule are
bench.py's (stated once in the harness module docstring). Results land
in BASELINE.md's scaling section by hand.

Usage: python tools/sf1_sweep.py [--gen-only|--sweep-only|--isolated]
($SF1_SWEEP_NAMES, comma-separated, narrows the swept names)
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1X = os.path.join(REPO, ".scratch", "sfsweep", "sf1x")
REPLICAS = 10

#: Key offsets chosen far above every sf0.1 max (orderkey 600k,
#: partkey 20k, suppkey 1k, doc_id 5k) so replica key spaces are disjoint.
OFF = {
    "orderkey": 10_000_000,
    "partkey": 1_000_000,
    "suppkey": 100_000,
    "doc": 1_000_000,
    "custkey": 1_000_000,
    "vec": 1_000_000,
}

HEAVYWEIGHTS = [
    "q_basket_lift",
    "q_graph_bfs",
    "q_pagerank",
    "q_dedup_minhash",
    "q_dedup_resolve",
    "q_dedup_cluster_stats",
    "q_dedup_rate_by_source",
    # r8: the two-pass range-partition rewrite (r7) must stay linear
    "q_quantile_normalize",
    # r8 continuation: the two new candidate-generating shapes — the
    # wedge join (Σ deg² bound) and the per-pair gram join
    "q_local_clustering",
    "q_eval_bleu",
    # r9 (VERDICT item 3): the remaining top-cost families — PQ ANN
    # (codebook build + ADC shortlist over 10x rotated vectors), the
    # Arrow cogroup kernel (10x orders/customer), the two stateful
    # stream shapes over the 10x events replay, and the Python stream
    # source (10x offsets at constant batch count via the tick knob).
    "q_ann_pq",
    "q_cogroup_reconcile",
    "q_stream_outer_join",
    "q_stream_chained",
    "q_python_stream_source",
]

#: q_python_stream_source's "10x data" is 10x stream rows, not 10x
#: catalog bytes: the sweep sets these env knobs for its sf1x leg.
TICK_10X = {"SPARK_GRAFT_TICK_TOTAL": "10000", "SPARK_GRAFT_TICK_BATCH": "5000"}


def generate(spark) -> None:
    li = spark.read.parquet(f"{SF01}/lineitem.parquet")
    reps = []
    for i in range(REPLICAS):
        reps.append(
            li.select(
                (F.col("l_orderkey") + F.lit(i * OFF["orderkey"])).alias("l_orderkey"),
                (F.col("l_partkey") + F.lit(i * OFF["partkey"])).alias("l_partkey"),
                (F.col("l_suppkey") + F.lit(i * OFF["suppkey"])).alias("l_suppkey"),
                *[c for c in li.columns if c not in ("l_orderkey", "l_partkey", "l_suppkey")],
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.repartition(32).write.mode("overwrite").parquet(f"{SF1X}/lineitem.parquet")

    d = spark.read.parquet(f"{SF01}/documents.parquet")
    reps = []
    for i in range(REPLICAS):
        text = (
            F.col("text")
            if i == 0
            else F.array_join(
                F.transform(
                    F.split("text", " "), lambda w: F.concat(w, F.lit(f"_r{i}"))
                ),
                " ",
            )
        )
        reps.append(
            d.select(
                (F.col("doc_id") + F.lit(i * OFF["doc"])).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                F.length(text).alias("n_chars"),
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.repartition(8).write.mode("overwrite").parquet(f"{SF1X}/documents.parquet")
    # events: 10 replicas with shifted event_id (r8, for the
    # quantile-normalize slope) — same value/event_type distribution,
    # 10x the ranked rows. A symlinked copy would make the 10x point
    # measure the SAME data and fake a 0.1 slope.
    ev_dst = f"{SF1X}/events.parquet"
    if os.path.islink(ev_dst):
        os.unlink(ev_dst)  # pre-r8 layouts linked events to sf0.1
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    n_ev = ev.count()
    out = None
    for i in range(REPLICAS):
        rep = ev.withColumn(
            "event_id", F.col("event_id") + F.lit(i * (n_ev + 1))
        )
        out = rep if out is None else out.unionByName(rep)
    out.repartition(16).write.mode("overwrite").parquet(ev_dst)
    # orders + customer: 10 disjoint replicas with shifted keys (r9, for
    # the cogroup-reconcile slope — its grouping key is the custkey, so
    # a symlinked copy would measure the same data).
    for tname, keys in (
        ("orders", {"o_orderkey": "orderkey", "o_custkey": "custkey"}),
        ("customer", {"c_custkey": "custkey"}),
    ):
        dst = f"{SF1X}/{tname}.parquet"
        if os.path.islink(dst):
            os.unlink(dst)  # pre-r9 layouts linked these to sf0.1
        t = spark.read.parquet(f"{SF01}/{tname}.parquet")
        out = None
        for i in range(REPLICAS):
            rep = t.select(
                *[
                    (F.col(c) + F.lit(i * OFF[keys[c]])).alias(c)
                    if c in keys
                    else F.col(c)
                    for c in t.columns
                ]
            )
            out = rep if out is None else out.unionByName(rep)
        out.repartition(16).write.mode("overwrite").parquet(dst)
    # embeddings: shifted vec_id + per-replica ROTATION of the vector
    # components (r9, for the q_ann_pq slope). Rotation keeps the norm
    # distribution and each replica's internal neighbor topology while
    # decorrelating replicas — plain copies would give every vector 9
    # exact duplicates (cosine 1.0), an adversarial near-dup workload,
    # not a scale-up. (A per-replica scalar would be worse: cosine is
    # scale-invariant, so that IS a plain copy.)
    emb_dst = f"{SF1X}/embeddings.parquet"
    if os.path.islink(emb_dst):
        os.unlink(emb_dst)
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    dim_row = emb.select(F.size("embedding").alias("d")).first()
    dim = int(dim_row["d"]) if dim_row else 0
    out = None
    for i in range(REPLICAS):
        if i == 0 or dim == 0:
            vec = F.col("embedding")
        else:
            vec = F.concat(
                F.slice("embedding", i + 1, dim - i), F.slice("embedding", 1, i)
            )
        rep = emb.select(
            (F.col("vec_id") + F.lit(i * OFF["vec"])).alias("vec_id"),
            vec.alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        )
        out = rep if out is None else out.unionByName(rep)
    out.repartition(16).write.mode("overwrite").parquet(emb_dst)
    # The remaining dimension tables are never on a sweep's data-scale
    # path; link them so catalog.table() resolves every name.
    for t in ("region", "nation", "supplier", "part"):
        dst = f"{SF1X}/{t}.parquet"
        if not os.path.lexists(dst):
            os.symlink(f"{SF01}/{t}.parquet", dst)


#: Consumers of the shared dedup resolve: each is timed in a pass that
#: first builds the resolve for the same sf, the production shape.
RESOLVE_CONSUMERS = {"q_dedup_cluster_stats", "q_dedup_rate_by_source"}


def _names() -> list[str]:
    only = os.environ.get("SF1_SWEEP_NAMES", "")
    return [n.strip() for n in only.split(",") if n.strip()] or HEAVYWEIGHTS


def sweep(spark) -> dict:
    from dateng_data_lakes_apache_spark_spark.harness import time_passes

    result: dict[str, dict] = {}
    for name in _names():
        times: dict[str, float] = {}
        passes = ["q_dedup_resolve", name] if name in RESOLVE_CONSUMERS else [name]
        for tag, sf_dir in (("sf0.1", SF01), ("sf1x", SF1X)):
            # The tick stream's scale knob is row count, not catalog bytes.
            tick_env = TICK_10X if (name == "q_python_stream_source" and sf_dir == SF1X) else {}
            saved = {k: os.environ.get(k) for k in tick_env}
            os.environ.update(tick_env)
            try:
                runs = time_passes(spark, sf_dir, passes, 3)[name]
            finally:
                for k, v in saved.items():
                    if v is None:
                        os.environ.pop(k, None)
                    else:
                        os.environ[k] = v
            # Pass 0 DISCARDED: it pays one-time codegen compilation (the
            # 16-perm minhash expressions alone are seconds of janino
            # work) — charging it to whichever sf runs first corrupted
            # the slope in the first version of this sweep (a "10x data
            # runs 2x faster" artifact).
            times[tag] = round(statistics.median(runs[1:]), 2)
        ratio = round(times["sf1x"] / max(times["sf0.1"], 1e-9), 2)
        result[name] = {**times, "ratio_10x": ratio, "per_unit": round(ratio / REPLICAS, 2)}
        print(name, result[name], flush=True)
    return result


def sweep_isolated() -> dict:
    """One fresh subprocess (own JVM) per heavyweight — the r8 protocol.

    The shared-session sweep accumulates heap/cache pressure across
    heavyweights: in the r8 run it measured q_graph_bfs at sf1x 144 s
    where a fresh session measures 14 s (and pagerank 32 s at sf0.1 vs
    its 9 s bench median). Slopes from a degrading session are not
    scaling data. Each subprocess sweeps its one name, passed through
    SF1_SWEEP_NAMES."""
    import subprocess

    result: dict[str, dict] = {}
    for name in _names():
        env = dict(os.environ, SF1_SWEEP_NAMES=name)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--sweep-only"],
            env=env,
            capture_output=True,
            text=True,
            timeout=3600,
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if not line:
            result[name] = {"error": out.stdout[-300:] + out.stderr[-300:]}
        else:
            result[name] = json.loads("".join(out.stdout.splitlines()[out.stdout.splitlines().index(line[0]):]))[name]
        print(name, result[name], flush=True)
    return result


def main() -> None:
    from dateng_data_lakes_apache_spark_spark.harness import open_session

    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    if mode == "--isolated":
        out = sweep_isolated()
        print("ISOLATED " + json.dumps(out, indent=1))
        return
    spark = open_session("sf1-sweep", SF01)
    if mode != "--sweep-only":
        if (
            not os.path.exists(f"{SF1X}/lineitem.parquet")
            or os.path.islink(f"{SF1X}/events.parquet")  # pre-r8 layout
            or os.path.islink(f"{SF1X}/embeddings.parquet")  # pre-r9 layout
            or mode == "--gen-only"
        ):
            generate(spark)
            print("generated", SF1X, flush=True)
    if mode != "--gen-only":
        out = sweep(spark)
        print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
