"""Targeted optimization probe (r11): time + plan-capture named queries.

Usage:
    python tools/opt_probe.py [--repeats N] [--plans-dir plans/r11] \
        [--tag before|after] q_name [q_name ...]

Times the named queries with ``harness.time_passes`` (median of N
passes; ``--repeats 0`` captures plans only), so its numbers are what
bench.py measures on that subset; the harness module docstring states
the frame choice, warm-up and pass rule. With ``--plans-dir`` it also
writes ``<plans-dir>/<name>_<tag>.txt``, the formatted physical plan of
an untimed ``harness.timed_frame`` build. Session/env contract
identical to bench.py ($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dateng_data_lakes_apache_spark_spark.caching import release_session_caches
from dateng_data_lakes_apache_spark_spark.harness import (
    open_session,
    time_passes,
    timed_frame,
)
from dateng_data_lakes_apache_spark_spark.plans.explain import formatted_plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = open_session("opt_probe", sf_dir)

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
        tag = f"_{args.tag}" if args.tag else ""
        for name in args.names:
            with open(os.path.join(args.plans_dir, f"{name}{tag}.txt"), "w") as f:
                f.write(formatted_plan(timed_frame(spark, sf_dir, name)))
            release_session_caches(spark)

    runs = time_passes(spark, sf_dir, args.names, args.repeats)
    out = {
        name: {"median": round(statistics.median(ts), 3), "runs": [round(t, 3) for t in ts]}
        for name, ts in runs.items()
        if ts
    }
    print(json.dumps({"probe": out}))


if __name__ == "__main__":
    main()
