"""Snapshot-isolation versioned table: the Delta/Iceberg core mechanic
(immutable data files + a version log of add/remove actions + time
travel) in pure Spark + parquet.

A *snapshot* is a set of immutable files resolved by replaying the
version log; a *commit* is copy-on-write at FILE granularity: only data
files whose [min,max] key interval intersects the update predicate are
rewritten (their untouched rows carried into the replacement file), all
other files are carried forward **by reference** — no data movement.
Old versions stay readable forever because no commit ever mutates or
deletes a data file; that is the whole isolation argument, and it is
why production lake formats get time travel "for free".

At 100 TB the economics are: commit cost ∝ files touched by the
predicate (the clustered layout makes that selective — same layout the
manifest-pruned scan exploits, cf. q_manifest_pruned_scan), log replay
cost ∝ number of commits (KB-sized JSON, driver-side metadata), reader
cost identical to a plain parquet scan of the resolved file list.

Reference scope: the reference overwrites whole tables per run
(etl.py:112,120 — ``mode("overwrite")`` everywhere); this operator is
the general form that keeps history instead of destroying it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..common import dsum, o_dsum
from ..registry import query
from ..staging import stage_once


def _vlog_dir(root: str) -> str:
    return os.path.join(root, "_vlog")


def commit(root: str, version: int, added: list[str], removed: list[str]) -> None:
    """Append one version to the log. Paths are stored relative to the
    table root so the table is relocatable (as in real lake formats)."""
    os.makedirs(_vlog_dir(root), exist_ok=True)
    entry = {
        "version": version,
        "added": sorted(os.path.relpath(p, root) for p in added),
        "removed": sorted(os.path.relpath(p, root) for p in removed),
    }
    tmp = os.path.join(_vlog_dir(root), f".v{version}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(entry, f)
    # Atomic publish: the rename IS the commit (readers either see the
    # complete log entry or no entry — parquet writes happened before).
    os.rename(tmp, os.path.join(_vlog_dir(root), f"v{version}.json"))


def snapshot_files(root: str, version: int) -> list[str]:
    """Resolve a snapshot's file set by replaying log entries 0..version."""
    live: set[str] = set()
    for v in range(version + 1):
        with open(os.path.join(_vlog_dir(root), f"v{v}.json")) as f:
            entry = json.load(f)
        live -= set(entry["removed"])
        live |= set(entry["added"])
    return sorted(os.path.join(root, p) for p in live)


def latest_version(root: str) -> int:
    return max(
        int(name[1:-5])
        for name in os.listdir(_vlog_dir(root))
        if name.startswith("v") and name.endswith(".json")
    )


def read_snapshot(spark: SparkSession, root: str, version: int) -> DataFrame:
    return spark.read.parquet(*snapshot_files(root, version))


_UPD_LO, _UPD_HI = 100, 199  # the v1 update predicate on o_custkey


def _stage_versioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """v0: orders range-clustered on o_custkey into 8 immutable files.
    v1: copy-on-write UPDATE — double o_totalprice where o_custkey in
    [100, 199] — rewriting ONLY the files whose custkey range intersects
    the predicate (resolved from per-file min/max, never by opening
    every file's rows)."""
    return stage_once(
        sf_dir, "orders", "snap_orders",
        lambda root: _write_versioned_orders(spark, sf_dir, root),
    )


def _write_versioned_orders(spark: SparkSession, sf_dir: str, root: str) -> None:
    data0 = os.path.join(root, "d0")
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(data0)
    )
    v0_files = [
        os.path.join(data0, n)
        for n in os.listdir(data0)
        if n.endswith(".parquet") and not n.startswith(".")
    ]
    commit(root, 0, added=v0_files, removed=[])

    # File-granularity predicate pruning for the CoW rewrite: per-file
    # min/max of the update key (one footer-stat scan, KB-sized result).
    stats = (
        spark.read.parquet(*v0_files)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi"))
        .collect()
    )
    # Zero-row files produce no stats row: .get keeps them untouched
    # (an empty file cannot intersect the predicate).
    by_name = {os.path.basename(r.file): r for r in stats}
    touched = [
        p
        for p in v0_files
        if (s := by_name.get(os.path.basename(p))) is not None
        and s.lo <= _UPD_HI
        and s.hi >= _UPD_LO
    ]
    if not touched:
        # The predicate matched no file: v1 is a legitimate no-op CoW
        # commit (same live set as v0) — exactly what a production
        # format records for an UPDATE that touched nothing.
        commit(root, 1, added=[], removed=[])
        return
    data1 = os.path.join(root, "d1")
    (
        spark.read.parquet(*touched)
        .withColumn(
            "o_totalprice",
            # ×2 is exact in IEEE doubles, so the oracle's CASE twin
            # reproduces the updated values bit-identically.
            F.when(
                F.col("o_custkey").between(_UPD_LO, _UPD_HI),
                F.col("o_totalprice") * 2,
            ).otherwise(F.col("o_totalprice")),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(data1)
    )
    v1_files = [
        os.path.join(data1, n)
        for n in os.listdir(data1)
        if n.endswith(".parquet") and not n.startswith(".")
    ]
    commit(root, 1, added=v1_files, removed=touched)


@query(
    "q_snapshot_read",
    oracle=f"""
    SELECT CAST(0 AS INT) AS version,
           COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price
    FROM orders
    UNION ALL
    SELECT CAST(1 AS INT) AS version,
           COUNT(*) AS n_orders,
           {o_dsum(f'''CASE WHEN o_custkey BETWEEN {_UPD_LO} AND {_UPD_HI}
                            THEN o_totalprice * 2
                            ELSE o_totalprice END''')}
             AS sum_price
    FROM orders
    """,
)
def q_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the versioned orders table: read snapshot v0
    AFTER commit v1 has been applied, and snapshot v1, in one query.

    The v0 row hash-matching the pristine ``orders`` aggregate IS the
    snapshot-isolation proof — the update commit demonstrably did not
    disturb the files the old snapshot resolves to. The v1 row proves
    the copy-on-write rewrite applied the update to exactly the
    predicate rows and carried every other row (file-level CoW
    selectivity — only intersecting files rewritten — is asserted in
    tests/test_sources.py).
    """
    root = _stage_versioned_orders(spark, sf_dir)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        ).select(F.lit(version).cast("int").alias("version"), "n_orders", "sum_price")

    v0 = agg(read_snapshot(spark, root, 0), 0)
    v1 = agg(read_snapshot(spark, root, latest_version(root)), 1)
    return v0.unionByName(v1)


def vacuum(root: str, keep_from_version: int) -> dict[str, int]:
    """Delete data files referenced ONLY by snapshots older than
    ``keep_from_version`` (Delta/Iceberg VACUUM / expire-snapshots).
    Time travel to vacuumed versions stops working — that is the
    documented retention trade-off; versions ≥ keep_from_version remain
    byte-identical. Returns {"deleted": n, "kept": m}.

    Metadata-only planning: the live set is the union of kept
    snapshots' file lists (log replay, KB-sized); no data file is
    opened. At 100 TB this is the nightly job that bounds storage at
    (live bytes × retained-version overlap) instead of all-history.
    """
    latest = latest_version(root)
    keep: set[str] = set()
    for v in range(keep_from_version, latest + 1):
        keep.update(snapshot_files(root, v))
    all_files: set[str] = set()
    for v in range(latest + 1):
        all_files.update(snapshot_files(root, v))
    doomed = sorted(all_files - keep)
    for p in doomed:
        if os.path.exists(p):
            os.remove(p)
    return {"deleted": len(doomed), "kept": len(keep)}


# --- Optimistic concurrency (multi-writer commit protocol) -------------


class CommitConflict(RuntimeError):
    """Raised when an optimistic commit loses a write-write race: a file
    this writer rewrites/removes was already removed or replaced by a
    commit it never saw (Delta's ConcurrentDeleteReadException shape).
    The writer must re-read the new snapshot and re-derive its change."""


def commit_optimistic(
    root: str, added: list[str], removed: list[str], read_version: int
) -> int:
    """Multi-writer commit with optimistic concurrency control — the
    missing half of the single-writer ``commit``: CAS on the NEXT
    version slot plus file-set conflict detection against every commit
    that landed after ``read_version``. Returns the committed version.

    Protocol (the Delta/Iceberg commit loop, filesystem-native):

    1. Resolve the current latest version L.
    2. Replay commits (read_version, L] and collect every file they
       added or removed. If this writer's ``removed`` set intersects
       it, the files it based its rewrite on are no longer live →
       ``CommitConflict`` (rebase required; retrying blindly would
       resurrect overwritten data — the lost-update anomaly).
    3. Attempt to claim slot L+1 via ``os.link(tmp, vN.json)`` — link
       creation is atomic and FAILS if vN exists, which makes it a true
       compare-and-swap on the log tail (``os.rename`` silently
       replaces and cannot arbitrate two writers).
    4. Lost the CAS → another commit just landed; loop back to 1 (the
       new commit joins the conflict scan).

    Disjoint writers (appends, or CoW rewrites of non-overlapping file
    sets) therefore serialize automatically and both land; overlapping
    rewrites deterministically fail the LATER writer. On a real object
    store step 3 maps to a conditional PUT (If-None-Match) or a log
    service, exactly as production lake formats do it.
    """
    my_removed = {os.path.relpath(p, root) for p in removed}
    entry_base = {
        "added": sorted(os.path.relpath(p, root) for p in added),
        "removed": sorted(my_removed),
    }
    while True:
        current = latest_version(root)
        touched: set[str] = set()
        for v in range(read_version + 1, current + 1):
            with open(os.path.join(_vlog_dir(root), f"v{v}.json")) as f:
                e = json.load(f)
            touched |= set(e["removed"]) | set(e["added"])
        overlap = my_removed & touched
        if overlap:
            raise CommitConflict(
                f"files {sorted(overlap)[:3]}... were modified by a commit "
                f"after read_version={read_version}"
            )
        target = current + 1
        tmp = os.path.join(
            _vlog_dir(root), f".v{target}.json.tmp.{os.getpid()}-{id(entry_base)}"
        )
        with open(tmp, "w") as f:
            json.dump({"version": target, **entry_base}, f)
        final = os.path.join(_vlog_dir(root), f"v{target}.json")
        try:
            os.link(tmp, final)  # atomic claim: fails iff vN already exists
        except FileExistsError:
            os.remove(tmp)
            continue  # lost the CAS — rescan conflicts, try the next slot
        os.remove(tmp)
        return target


_APP_LO, _APP_HI = 300, 349  # the concurrent writer's append slice
_APP_SHIFT = 10_000_000  # keeps appended orderkeys disjoint from base


def _stage_concurrent_orders(spark: SparkSession, sf_dir: str) -> str:
    """Three writers race the same v0 snapshot through the optimistic
    protocol, with a DETERMINISTIC interleaving (each writer's read /
    write / commit steps are explicit calls, so the serialized order —
    and therefore every snapshot's content — is reproducible):

    - writer B (CoW): rewrites the files intersecting o_custkey in
      [100, 199], doubling o_totalprice — lands FIRST → v1.
    - writer A (append): adds late-arriving rows derived from the
      [300, 349] custkey slice, still holding its stale v0 read — its
      first CAS loses to B, the retry finds no file overlap (pure
      append) → v2. The protocol serialized two concurrent writers
      without data loss.
    - writer C (stale CoW): tries to rewrite one of the SAME files B
      already replaced, from the same stale v0 read → CommitConflict.
      The builder asserts the conflict fires; silently succeeding here
      would be the lost-update anomaly.
    """
    return stage_once(
        sf_dir, "orders", "snap_conc",
        lambda root: _write_concurrent_orders(spark, sf_dir, root),
    )


def _write_concurrent_orders(spark: SparkSession, sf_dir: str, root: str) -> None:
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    data0 = os.path.join(root, "d0")
    (
        base.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(data0)
    )
    v0_files = [
        os.path.join(data0, n)
        for n in os.listdir(data0)
        if n.endswith(".parquet") and not n.startswith(".")
    ]
    commit(root, 0, added=v0_files, removed=[])

    # Both writers read AT v0 (stale reads are the whole point).
    read_v = 0

    # Writer B prepares its CoW rewrite (file-stat pruning, cf.
    # _stage_versioned_orders) and commits first.
    stats = (
        spark.read.parquet(*v0_files)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi"))
        .collect()
    )
    by_name = {os.path.basename(r.file): r for r in stats}
    touched = [
        p
        for p in v0_files
        if (st := by_name.get(os.path.basename(p))) is not None
        and st.lo <= _UPD_HI
        and st.hi >= _UPD_LO
    ]
    data1 = os.path.join(root, "d1")
    (
        spark.read.parquet(*touched)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_custkey").between(_UPD_LO, _UPD_HI),
                F.col("o_totalprice") * 2,
            ).otherwise(F.col("o_totalprice")),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(data1)
    )
    b_files = [
        os.path.join(data1, n)
        for n in os.listdir(data1)
        if n.endswith(".parquet") and not n.startswith(".")
    ]
    vb = commit_optimistic(root, added=b_files, removed=touched, read_version=read_v)
    assert vb == 1, vb

    # Writer A's append — prepared against v0, committed AFTER B.
    data2 = os.path.join(root, "d2")
    (
        base.where(F.col("o_custkey").between(_APP_LO, _APP_HI))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(_APP_SHIFT))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(data2)
    )
    a_files = [
        os.path.join(data2, n)
        for n in os.listdir(data2)
        if n.endswith(".parquet") and not n.startswith(".")
    ]
    va = commit_optimistic(root, added=a_files, removed=[], read_version=read_v)
    assert va == 2, va

    # Writer C: stale CoW over a file B already replaced — MUST conflict.
    if touched:
        try:
            commit_optimistic(
                root, added=[], removed=touched[:1], read_version=read_v
            )
        except CommitConflict:
            pass
        else:  # pragma: no cover — protocol violation, fail loudly
            raise RuntimeError(
                "stale overlapping rewrite committed: lost-update anomaly"
            )


@query(
    "q_snapshot_concurrent",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ),
    v1 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_custkey BETWEEN {_UPD_LO} AND {_UPD_HI}
                  THEN o_totalprice * 2 ELSE o_totalprice END AS p
      FROM base
    ),
    app AS (
      SELECT o_orderkey + {_APP_SHIFT} AS o_orderkey, o_custkey,
             o_totalprice AS p
      FROM base WHERE o_custkey BETWEEN {_APP_LO} AND {_APP_HI}
    )
    SELECT CAST(0 AS INT) AS version,
           COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS sum_price
    FROM base
    UNION ALL
    SELECT CAST(1 AS INT), COUNT(*),
           {o_dsum('p')}
    FROM v1
    UNION ALL
    SELECT CAST(2 AS INT), COUNT(*),
           {o_dsum('p')}
    FROM (SELECT p FROM v1 UNION ALL SELECT p FROM app)
    """,
)
def q_snapshot_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-writer commit race resolved by the optimistic protocol:
    two concurrent writers (a CoW UPDATE and an append) holding the
    SAME stale v0 read both land — serialized as v1 then v2 by the CAS
    — while a third writer rewriting already-replaced files is
    deterministically rejected (``CommitConflict``) in the builder.

    Each snapshot's aggregate hash-matching the oracle's serialized
    re-derivation (base → CoW applied → CoW+append) proves the race
    resolved to exactly the serial order, with no lost update and no
    doubled append. At 100 TB this is the protocol that lets N
    independent ingest jobs commit to one table: appends and disjoint
    rewrites serialize automatically; the CAS is a conditional PUT on
    the log tail; conflict cost is metadata-only (log replay, never a
    data-file read).
    """
    root = _stage_concurrent_orders(spark, sf_dir)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        ).select(
            F.lit(version).cast("int").alias("version"), "n_orders", "sum_price"
        )

    out = agg(read_snapshot(spark, root, 0), 0)
    for v in (1, 2):
        out = out.unionByName(agg(read_snapshot(spark, root, v), v))
    return out
