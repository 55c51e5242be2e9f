"""Spans and Spark status-store readers for the traced run.

Spans live only in this benchmark: they wrap the calls the benchmark
makes into each layer's public functions (``catalog.table``, the
registered builder, planning, the action, ``star_schema.write_partitioned``
and so on).  Nothing inside the engine package is instrumented.

Spark-side counts come from Spark's own stores after the stopwatch
stops: jobs from the status tracker (per query job group), stage
metrics from the core status store's 5-argument ``stageList``, and
Python/Arrow node metrics from the SQL status store.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Iterator

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``dump`` writes every span once, at exit.

    While ``enabled`` is false, ``span`` records nothing and yields a
    detached span, so the same code runs traced and untraced.
    """

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Span]:
        if not self.enabled:
            yield Span(name, 0.0, attrs=dict(attrs))
            return
        parent = self._open[-1] if self._open else None
        sp = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id, attrs=dict(attrs))
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` minus the time its children cover."""
        sp = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == idx)
        covered, edge = 0.0, sp.start
        for s, e in kids:
            s = max(s, edge)
            if e > s:
                covered += e - s
                edge = e
        return sp.duration - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_time=self.self_time(i)) for i, s in enumerate(self.spans)],
                f,
            )


# -- Spark status stores ---------------------------------------------------

_STAGE_FIELDS = (
    ("tasks", "numTasks", 1.0),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("input_mb", "inputBytes", 1 / MB),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / MB),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / MB),
)


def group_job_ids(sc, group: str) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(group))


def job_stage_ids(sc, job_ids: set[int]) -> set[int]:
    out: set[int] = set()
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        if info is not None:
            out.update(info.stageIds)
    return out


def stage_totals(sc, stage_ids: set[int]) -> dict[str, float]:
    """Sum task-level stage metrics over ``stage_ids``.

    Reads ``AppStatusStore.stageList`` through its 5-argument overload
    (py4j cannot fill Scala default arguments).  Skipped stages (reused
    exchanges) report zero tasks and are counted as stages all the same.
    """
    totals = {k: 0.0 for k, _, _ in _STAGE_FIELDS}
    totals.update(stages=0.0, spill_mb=0.0)
    if not stage_ids:
        return totals
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    seen: set[int] = set()
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        if sid not in stage_ids or sid in seen:
            continue  # stageList lists every attempt; count the latest only
        seen.add(sid)
        totals["stages"] += 1
        for key, getter, scale in _STAGE_FIELDS:
            totals[key] += getattr(s, getter)() * scale
        totals["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
    return totals


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB)")
_SCALE = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0}
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _size_bytes(text: str) -> float:
    m = _SIZE.search(text or "")
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)] if m else 0.0


def execution_count(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def python_node_totals(spark, first_execution: int) -> dict[str, float]:
    """Rows out of, and MB through, the Python/Arrow nodes of every SQL
    execution with id >= ``first_execution``."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    rows = mb = 0.0
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        eid = e.executionId()
        if eid < first_execution:
            continue
        values = conv.asJava(store.executionMetrics(eid))
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            metrics = {m.name(): m.accumulatorId() for m in _seq(nodes.apply(k).metrics())}
            if _PY_RECV not in metrics:
                continue
            rows += float((values.get(metrics.get("number of output rows")) or "0").replace(",", ""))
            mb += (_size_bytes(values.get(metrics[_PY_SENT])) + _size_bytes(values.get(metrics[_PY_RECV]))) / MB
    return {"python_rows": rows, "python_mb": mb}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def storage_held(sc) -> tuple[int, float]:
    """(cached blocks, MB held) over every RDD in block-manager storage."""
    blocks, held = 0, 0.0
    for r in sc._jsc.sc().getRDDStorageInfo():
        blocks += r.numCachedPartitions()
        held += (r.memSize() + r.diskSize()) / MB
    return blocks, held


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every live descendant,
    with the CPU of the children each has already reaped (from /proc).
    For this process that covers the JVM and its Python workers."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of the JIT compiler threads of JVM
    ``pid``.  The JVM must keep its compiler threads for its whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or an exited thread's
    CPU would drop out of this sum."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                name, rest = f.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in name:
            fields = rest.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def make_batch_counter(spark):
    """Register a StreamingQueryListener that counts micro-batch progress
    events; returns the listener (``listener.batches``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchCounter(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.batches += 1

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = BatchCounter()
    spark.streams.addListener(listener)
    return listener
