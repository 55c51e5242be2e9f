"""Targeted optimization probe (r11): time + plan-capture named queries.

Usage:
    python tools/opt_probe.py [--repeats N] [--plans-dir plans/r11] \
        [--tag before|after] q_name [q_name ...]

For each query: builds the frame (staged queries use their BUILDER frame,
same as bench.py), times ``noop``-sink execution median-of-N, and writes
``<plans-dir>/<name>_<tag>.txt`` with the formatted physical plan.
Session/env contract identical to bench.py ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS) so numbers are comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dateng_data_lakes_apache_spark_spark.caching import (
    release_session_caches,
    reset_session_state,
)
from dateng_data_lakes_apache_spark_spark.plans.explain import formatted_plan
from dateng_data_lakes_apache_spark_spark.registry import get_queries
from dateng_data_lakes_apache_spark_spark.session import get_spark
from dateng_data_lakes_apache_spark_spark.staging import STAGED_BUILDERS


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default=None)
    ap.add_argument("--no-time", action="store_true", help="plan capture only")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="opt_probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = get_queries()

    # Same warmups as bench.py so query 1 isn't charged session startup.
    queries["q_scan_project"](spark, sf_dir).limit(1).write.format("noop").mode(
        "overwrite"
    ).save()
    if any("stream" in n for n in args.names):
        import uuid

        warm = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "1")
            .option("numPartitions", "1")
            .load()
            .writeStream.format("memory")
            .queryName(f"warm_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        warm.awaitTermination()

    out: dict[str, dict] = {}
    for name in args.names:
        fn = STAGED_BUILDERS.get(name) or queries[name]
        spark.sparkContext.setJobDescription(f"opt_probe:{name}")
        runs = []
        reps = 1 if args.no_time else args.repeats
        for i in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            if args.plans_dir and i == 0:
                os.makedirs(args.plans_dir, exist_ok=True)
                tag = f"_{args.tag}" if args.tag else ""
                with open(os.path.join(args.plans_dir, f"{name}{tag}.txt"), "w") as f:
                    f.write(formatted_plan(df))
            release_session_caches(spark)
        reset_session_state(spark)
        out[name] = {
            "median": round(statistics.median(runs), 3),
            "runs": [round(t, 3) for t in runs],
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"probe": out}))


if __name__ == "__main__":
    main()
