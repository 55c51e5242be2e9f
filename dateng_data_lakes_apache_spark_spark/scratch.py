"""Per-process scratch root — run-ID-keyed staging isolation.

Every staging/checkpoint path in the engine (staged expectations,
stream sources, roundtrip twins, bucketed tables, reference-data
extraction) lives under ONE run-scoped directory,
``.scratch/run-<pid>-<token>``. Two concurrent sessions (a pytest
suite racing a parity sweep, two suites side by side) therefore can
NEVER collide on staged bytes: the r8 closing record attributed two
6-failure pytest runs and one non-reproducible q_stream_session parity
blip to exactly this race class on the previously-shared tree
(VERDICT r8 item 1).

Cost model: isolation trades cross-PROCESS staging reuse for safety.
Within a process, derived artifacts follow one staging rule
(``staging.stage_once``): each is written once per file manifest of the
one catalog table it derives from, so queries and bench repeats share
it; only a fresh process, or a rewrite of that table, re-stages. Staged
artifacts are orders of magnitude smaller than the inputs by design, so
the re-stage cost is bounded.

Lifecycle: the run directory is removed at interpreter exit (atexit);
directories orphaned by crashed runs are pruned at import once they
age past ``_STALE_S`` AND their embedded pid is no longer alive (the
pid check is the liveness key — a dir's mtime only moves when direct
children change, so an mtime-only rule could reap a live >24h
soak/bench run). Of the intentionally-shared tool trees, only the 10x
sweep's ``sfsweep`` still lives OUTSIDE the run root (single-writer
tool artifact in a top-level dir the pruner never touches — it only
considers ``run-*`` entries); the degenerate-sweep catalogs moved
UNDER the run-scoped root in r9 (``tools/degenerate_sweep.py``
``ROOT``), so concurrent sweeps build private catalogs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import time
import uuid

#: The shared base every run root nests under (gitignored).
SCRATCH_BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

#: This process's run token: pid for liveness-debuggability, a random
#: suffix so a recycled pid can never collide with a leftover dir.
RUN_ID = f"run-{os.getpid()}-{uuid.uuid4().hex[:6]}"

#: The run-scoped scratch root all engine staging keys under.
SCRATCH = os.path.join(SCRATCH_BASE, RUN_ID)

#: Orphaned run dirs older than this are pruned at import. Generously
#: above any real session length so a live concurrent run is never hit.
_STALE_S = 24 * 3600


def _cleanup() -> None:
    shutil.rmtree(SCRATCH, ignore_errors=True)


atexit.register(_cleanup)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (PermissionError, OSError):
        return True  # exists (owned by someone else) — treat as alive
    return True


def _prune_stale() -> None:
    try:
        entries = os.listdir(SCRATCH_BASE)
    except OSError:
        return
    now = time.time()
    for n in entries:
        if not n.startswith("run-"):
            continue
        # run-<pid>-<token>: never reap a dir whose owning process is
        # still alive, however old — a soak/bench session can outlive
        # _STALE_S without touching the dir's direct children (mtime is
        # NOT a liveness signal). A recycled pid at worst delays the
        # prune to the next import after that process exits.
        parts = n.split("-")
        try:
            if len(parts) >= 2 and _pid_alive(int(parts[1])):
                continue
        except (ValueError, OverflowError):
            # OverflowError: os.kill rejects pids beyond C int range — a
            # corrupted 'run-<huge>-x' name must not break every engine
            # import (ADVICE r10); treat as not-alive and age-prune.
            pass
        p = os.path.join(SCRATCH_BASE, n)
        try:
            if now - os.path.getmtime(p) > _STALE_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


_prune_stale()
