"""Record the per-query expected outputs the benchmark checks against.

    python3 perfbench/record_expected.py

Runs every query of every workload twice on the benchmark catalog (the
second time with a different shuffle fan-out), and writes
``expected.json``: the row count and the order-independent row hash
(sum of ``xxhash64`` over all columns).  A query whose hash differs
between the two runs is non-deterministic by design (sampling, float
reductions in shuffle order); only its row count is recorded.

Queries that have a DuckDB oracle are also compared, row for row,
against it on the same catalog; the script refuses to record while any
of them disagrees.  Re-run it whenever the catalog or a query's
semantics change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run
import workloads as wl


def main() -> int:
    work = run.prepare_work_dir()
    args = argparse.Namespace(workload="sql_mix", seed=0, seconds=0, trace=0)
    bench = run.Bench(args, work)
    names = list(wl.SQL_MIX + wl.INCREMENTAL)
    try:
        bench.generate()
        bench.setup()
        runs = []
        for k, partitions in enumerate(("64", "13")):
            bench.spark.conf.set("spark.sql.shuffle.partitions", partitions)
            bench.observed.clear()
            for i, name in enumerate(names):
                bench.step(name, f"record-{k}-{i}")
            bench.reset()
            runs.append(dict(bench.observed))
        bad = oracle_mismatches(bench, names)
        bench.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    missing = [n for n in names if n not in runs[0] or n not in runs[1]]
    if missing or bad:
        print(f"not recorded: failed {missing}, oracle mismatch {bad}", file=sys.stderr)
        return 1
    expected = {}
    for n in names:
        a, b = runs[0][n], runs[1][n]
        if a["rows"] != b["rows"]:
            print(f"not recorded: {n} row count differs between runs", file=sys.stderr)
            return 1
        expected[n] = {"rows": a["rows"], "hash": a["hash"] if a["hash"] == b["hash"] else None}
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    loose = sorted(n for n, e in expected.items() if e["hash"] is None)
    print(f"recorded {len(expected)} queries; row count only for {loose}")
    return 0


def oracle_mismatches(bench: run.Bench, names: list[str]) -> list[str]:
    """Names whose Spark result differs from their DuckDB oracle."""
    sys.path.insert(0, run.ROOT)
    from dateng_data_lakes_apache_spark_spark.registry import get_oracles, get_queries
    from tests.parity import compare_query

    oracles, queries = get_oracles(), get_queries()
    bad = []
    for n in names:
        if n not in oracles:
            continue
        try:
            compare_query(bench.spark, bench.catalog_dir, queries[n], oracles[n])
        except AssertionError as e:
            print(f"{n}: {str(e)[:300]}", file=sys.stderr)
            bad.append(n)
        finally:
            bench.release()
    return bad


if __name__ == "__main__":
    os.chdir(run.ROOT)
    sys.exit(main())
