"""Replay-granularity + state-partition invariance (VERDICT r11 item 3).

The r11 streaming optimization fixed two replay-harness constants in
``stream_queries``:

- ``_REPLAY_FPT`` (files per trigger, 2): how many of the 4
  time-ordered staged event files arrive per micro-batch;
- ``_STATE_PARTS`` (state partitions, 4): the shuffle-partition count
  baked into each stream's state store.

Both were claimed result-invariant ("emission is arithmetic on the FINAL
watermark") on manual evidence only. These tests PIN the claim: every
query whose replay reads ``maxFilesPerTrigger`` must produce the same
row multiset at FPT ∈ {1, 2, 4}, and the watermark-sensitive family must
be invariant to state partitioning at parts ∈ {2, 4, 8}. Late-row drops
and dedup/join state eviction depend on per-batch watermark advancement,
so a future edit that makes an emission watermark-path-dependent (or a
regenerated dataset that breaks the staged files' time ordering) fails
HERE instead of silently diverging from the fixed DuckDB oracle
(ADVICE r11 item 3).

Both constants are module attributes read at call time, so the tests
swap them via monkeypatch.setattr.
"""

from __future__ import annotations

from collections import Counter

import pytest

from dateng_data_lakes_apache_spark_spark.registry import get_queries
from dateng_data_lakes_apache_spark_spark.streaming import stream_queries as sq

QS = get_queries()

#: Every registered stream query whose replay reads _REPLAY_FPT
#: (grep-pinned below) — the set the FPT knob can affect.
FPT_QUERIES = [
    "q_stream_append",
    "q_stream_outer_join",
    "q_stream_transform_state",
    "q_stream_dedup_watermark",
    "q_stream_merge_upsert",
    "q_stream_chained",
    "q_stream_full_outer",
]

#: State-partitioning sweep targets: the FPT family plus the
#: checkpoint-restart query (state carried across a restart is exactly
#: where a partition-count dependency would hide).
PARTS_QUERIES = FPT_QUERIES + ["q_stream_restart"]


def _row_multiset(spark, sf_dir: str, name: str) -> Counter:
    """Row multiset of a stream query, engine-order-insensitive.

    repr-canonicalized rows: stream outputs here are scalars/strings
    only, and repr distinguishes None/0/'' while staying hashable.
    """
    df = QS[name](spark, sf_dir)
    return Counter(repr(tuple(r)) for r in df.collect())


def test_fpt_knob_list_is_current():
    """The FPT_QUERIES list above must track the source: every
    registered stream query in whose body ``_REPLAY_FPT`` appears is in
    the list, so a new replay consumer cannot dodge the invariance pin."""
    import inspect

    affected = sorted(
        name
        for name in QS
        if name.startswith("q_stream_")
        and "_REPLAY_FPT" in inspect.getsource(QS[name].__wrapped__ if hasattr(QS[name], "__wrapped__") else QS[name])
    )
    assert affected == sorted(FPT_QUERIES), (
        f"_REPLAY_FPT consumers drifted: source says {affected}"
    )


@pytest.mark.parametrize("name", FPT_QUERIES)
def test_replay_granularity_invariant(spark, sf_dir, name, monkeypatch):
    """Row sets identical at 1 / 2 / 4 files per trigger."""
    monkeypatch.setattr(sq, "_REPLAY_FPT", 2)  # the shipped value
    base = _row_multiset(spark, sf_dir, name)
    assert base, f"{name} produced no rows at sf0.001 — vacuous invariance"
    for fpt in (1, 4):
        monkeypatch.setattr(sq, "_REPLAY_FPT", fpt)
        got = _row_multiset(spark, sf_dir, name)
        assert got == base, (
            f"{name}: result depends on replay granularity "
            f"(FPT=2 vs FPT={fpt}: {len(base)} vs {len(got)} distinct rows)"
        )


@pytest.mark.parametrize("name", PARTS_QUERIES)
def test_state_partition_count_invariant(spark, sf_dir, name, monkeypatch):
    """Row sets identical at 2 / 4 / 8 state partitions."""
    monkeypatch.setattr(sq, "_STATE_PARTS", "4")  # the shipped value
    base = _row_multiset(spark, sf_dir, name)
    assert base, f"{name} produced no rows at sf0.001 — vacuous invariance"
    for parts in ("2", "8"):
        monkeypatch.setattr(sq, "_STATE_PARTS", parts)
        got = _row_multiset(spark, sf_dir, name)
        assert got == base, (
            f"{name}: result depends on state partition count "
            f"(parts=4 vs parts={parts}: {len(base)} vs {len(got)} distinct rows)"
        )
