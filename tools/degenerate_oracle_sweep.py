"""Value-level degenerate sweep: oracle PARITY on edge-case catalogs.

tools/degenerate_sweep.py proves every query RUNS on empty / one-row /
hostile-null catalogs; this sweep proves the VALUES still match the
DuckDB oracle there — the class of defect the run-only sweep cannot see
(ADVICE r6: the cents() NaN poisoning produced wrong numbers, not an
exception, and only an oracle compare catches that).

Every oracled query runs through the same elementwise comparator as
the parity suite (``tests/parity.oracle_diff``) against each
degenerate catalog, and a mismatch prints its differing rows; name one
query in SPARK_GRAFT_SWEEP_ONLY to triage it on one variant.
Staged-expectation queries are skipped (their oracle reads bytes the query stages — a
roundtrip compare is vacuous for value-level dirt detection); they are
covered by the run-only sweep plus their unit properties.

Usage: [SPARK_GRAFT_SWEEP_ONLY=q_a,q_b] python tools/degenerate_oracle_sweep.py
       [empty one hostile ties ...]  (no args = degenerate_sweep.DEFAULT_VARIANTS)
Exit 1 on any mismatch/error. Catalogs are built (or reused) under
.scratch/degcat/ by degenerate_sweep.build.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)

from degenerate_sweep import DEFAULT_VARIANTS, build

#: Skipped ONLY on the ``unicode`` catalog, and printed loudly: these
#: two queries exist to showcase Spark's upper()/lower(), whose Unicode
#: case TAILORING legitimately differs from DuckDB's utf8proc on a few
#: codepoints (Java upper('ß')='SS' vs 'ẞ'; lower('İ')='i̇' vs 'i').
#: That is a platform semantic like libm rounding — not reproducible in
#: the oracle without replacing the function under test. Operators
#: whose SEMANTICS must be tailoring-independent (fingerprints, dedup
#: normalization) were instead FIXED to ASCII translate and stay
#: swept — the exemption is exactly the two case-function showcases.
UNICODE_TAILORING_EXEMPT = {"q_string_funcs", "q_array_setops"}


def main() -> None:
    from parity import duck_connection, oracle_diff

    from dateng_data_lakes_apache_spark_spark.caching import reset_session_state
    from dateng_data_lakes_apache_spark_spark.registry import get_oracles, get_queries
    from dateng_data_lakes_apache_spark_spark.session import get_spark
    from dateng_data_lakes_apache_spark_spark.staging import STAGED_BUILDERS

    variants = sys.argv[1:] or DEFAULT_VARIANTS
    spark = get_spark(app_name="degenerate-oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = get_queries(), get_oracles()
    names = [n for n in qs if n in oracles and n not in STAGED_BUILDERS]
    only = os.environ.get("SPARK_GRAFT_SWEEP_ONLY", "")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in keep]
    total_bad = 0
    for variant in variants:
        sf = build(spark, variant)
        bad = {}
        for name in names:
            if variant == "unicode" and name in UNICODE_TAILORING_EXEMPT:
                print(
                    f"[{variant}] {name}: SKIPPED — engine case-tailoring "
                    "showcase (documented exemption)", flush=True,
                )
                continue
            try:
                spark_pdf = qs[name](spark, sf).toPandas()
                con = duck_connection(sf)
                try:
                    duck_pdf = con.execute(oracles[name]).df()
                finally:
                    con.close()
                diff = oracle_diff(spark_pdf, duck_pdf)
                if diff is not None:
                    bad[name] = diff
            except Exception as exc:  # noqa: BLE001 — a sweep reports, never stops
                bad[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            if name in bad:
                print(f"[{variant}] {name}: {bad[name]}", flush=True)
        reset_session_state(spark)
        total_bad += len(bad)
        print(f"=== {variant}: {len(bad)} mismatches / {len(names)} oracled queries", flush=True)
    sys.exit(1 if total_bad else 0)


if __name__ == "__main__":
    main()
