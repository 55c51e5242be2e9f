"""Full local parity artifact (ADVICE r2): run EVERY registered query
against its DuckDB oracle at sf0.01 and write PARITY_r{N}.json with a
per-query machine-readable verdict — the auditable record for the ~160
queries outside the driver's 50-row correctness window.

Usage: python parity_report.py [round_number]
Writes PARITY_r{NN}.json next to this file. Rows-only queries (no
oracle) get {"mode": "rows_only", "rows": N} — their semantics live in
tests/; oracled queries get rows/schema/values verdicts from the same
comparator the pytest parity suite uses (elementwise — stricter than
the driver's value hash).

Timing protocol v2 (VERDICT r6 item 7): the session is warmed before
the sweep (the r6 record charged ~17 s of JVM/codegen warm-up to the
first query), and each entry carries ``sec_spark_median`` /
``sec_spark_spread`` from SPARK_GRAFT_PARITY_REPEATS (default 3)
repeats of the Spark side. ``caching.reset_session_state`` runs after
the warm-up, before every repeat and after every query, so each repeat
pays what a fresh session pays: the shared dedup resolve is rebuilt
even for its consumers (q_dedup_cluster_stats, q_dedup_rate_by_source,
q_split_by_cluster). That is stricter than bench.py, which resets only
between passes and lets the consumers read the resolve built earlier in
the same pass. ``sec`` remains the single-shot end-to-end compare time
(Spark + DuckDB + canonicalization) for continuity; round-over-round
comparisons should use the medians.

Oracle modes (ADVICE r5): a green hash means different things for
different oracle kinds, and the report distinguishes them —
- "oracle": DuckDB independently RE-DERIVES the result from the raw
  tables — the strongest claim;
- "staged_roundtrip": the oracle reads bytes the Spark query itself
  staged (non-SQL-expressible pipelines) — certifies determinism +
  sink/scan roundtrip only; algorithmic correctness lives in unit
  tests + the partitioning-invariance probe;
- entries whose INDEPENDENT oracle nevertheless reads another query's
  staged table (the resolve consumers) carry "depends_on_staged", and
  the summary's "staged_dependencies_green" asserts every such upstream
  artifact was independently re-derived green in the same sweep.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))

from dateng_data_lakes_apache_spark_spark.caching import reset_session_state
from dateng_data_lakes_apache_spark_spark.registry import get_oracles, get_queries
from dateng_data_lakes_apache_spark_spark.session import get_spark
from dateng_data_lakes_apache_spark_spark.staging import STAGED_BUILDERS
from parity import _canon_frame, duck_connection

#: staged table name → the query whose independent oracle re-derives it
#: (the only cross-query staged dependency today: the shared resolve).
_STAGED_TABLE_OWNER = {"dedup_resolve": "q_dedup_resolve"}


def _staged_refs(oracle_sql: str) -> list[str]:
    """Names of staged tables an oracle reads (``.../expected/<name>/current``)."""
    return sorted(set(re.findall(r"/expected/([\w.]+)/current", oracle_sql)))


def main() -> None:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    sf_dir = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")
    # SPARK_GRAFT_PARITY_OUT names the artifact — the sf0.1 sweep
    # (VERDICT r10 item 2) writes PARITY_sf01_r{N}.json beside the
    # canonical sf0.01 PARITY_r{N}.json rather than overwriting it.
    out_path = os.environ.get("SPARK_GRAFT_PARITY_OUT") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"PARITY_r{rnd:02d}.json"
    )
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_PARITY_REPEATS", "3")))
    spark = get_spark(app_name="parity-report")
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = get_queries(), get_oracles()

    # Warm the JVM/codegen/file-listing paths so the first swept query
    # doesn't absorb session start-up into its recorded time.
    queries["q_scan_project"](spark, sf_dir).toPandas()
    reset_session_state(spark)

    report: dict[str, dict] = {}
    t_start = time.time()
    for name, fn in queries.items():
        entry: dict = {}
        t0 = time.time()
        try:
            t_run = time.time()
            spark_pdf = fn(spark, sf_dir).toPandas()
            spark_times = [time.time() - t_run]
            if name in oracles:
                con = duck_connection(sf_dir)
                try:
                    duck_pdf = con.execute(oracles[name]).df()
                finally:
                    con.close()
                mode = "staged_roundtrip" if name in STAGED_BUILDERS else "oracle"
                entry = {
                    "mode": mode,
                    "rows_match": len(spark_pdf) == len(duck_pdf),
                    "schema_match": sorted(spark_pdf.columns) == sorted(duck_pdf.columns),
                    "values_match": _canon_frame(spark_pdf) == _canon_frame(duck_pdf),
                    "spark_rows": len(spark_pdf),
                    "oracle_rows": len(duck_pdf),
                }
                if mode == "oracle":
                    deps = [
                        _STAGED_TABLE_OWNER.get(t, t) for t in _staged_refs(oracles[name])
                    ]
                    if deps:
                        entry["depends_on_staged"] = deps
            else:
                entry = {"mode": "rows_only", "spark_rows": len(spark_pdf)}
            entry["err"] = None
            # single-shot end-to-end compare time (continuity with the
            # pre-v2 records) — captured BEFORE the timing repeats
            entry["sec"] = round(time.time() - t0, 2)
            # timing repeats: every repeat pays fresh-session costs,
            # and, like bench, staged queries time their BUILDER frame
            # so expectation-staging I/O stays out of the measured path
            fn_timed = STAGED_BUILDERS.get(name)
            if fn_timed is not None:
                # the correctness run above timed build+stage+re-read;
                # drop it from the timing sample so the median is purely
                # builder-frame runs (n = repeats, same as non-staged)
                spark_times, n_runs = [], repeats
            else:
                fn_timed, n_runs = fn, max(0, repeats - 1)
            for _ in range(n_runs):
                reset_session_state(spark)
                t_run = time.time()
                fn_timed(spark, sf_dir).toPandas()
                spark_times.append(time.time() - t_run)
            mid = sorted(spark_times)[len(spark_times) // 2]
            entry["sec_spark_median"] = round(mid, 2)
            entry["sec_spark_spread"] = round(max(spark_times) - min(spark_times), 2)
        except Exception as exc:  # noqa: BLE001 — report, don't abort the sweep
            entry = {"mode": "error", "err": f"{type(exc).__name__}: {exc}"}
            traceback.print_exc(file=sys.stderr)
        entry.setdefault("sec", round(time.time() - t0, 2))
        report[name] = entry
        reset_session_state(spark)
        ok = entry.get("values_match", entry.get("spark_rows") is not None)
        print(f"{name}: {'OK' if ok and not entry['err'] else 'FAIL'} ({entry['sec']}s)", flush=True)

    def _green(e: dict) -> bool:
        return bool(e.get("rows_match") and e.get("schema_match") and e.get("values_match"))

    # Every staged dependency's OWNER must be independently green in this
    # same sweep, else the dependent greens certify nothing (ADVICE r5).
    dep_owners = sorted(
        {d for e in report.values() for d in e.get("depends_on_staged", [])}
    )
    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "n_oracle_green": sum(
            1 for e in report.values() if e.get("mode") == "oracle" and _green(e)
        ),
        "n_staged_roundtrip_green": sum(
            1 for e in report.values() if e.get("mode") == "staged_roundtrip" and _green(e)
        ),
        "n_rows_only": sum(1 for e in report.values() if e.get("mode") == "rows_only"),
        "n_errors": sum(1 for e in report.values() if e.get("mode") == "error"),
        "staged_dependency_owners": dep_owners,
        "staged_dependencies_green": all(_green(report.get(o, {})) for o in dep_owners),
        "timing_protocol": {"version": 2, "repeats": repeats, "warmed_up": True},
        "total_sec": round(time.time() - t_start, 1),
    }
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "queries": report}, f, indent=1)
        f.write("\n")
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
