"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 20 --trace 0

Load: one process, one SparkSession on ``local[<cores>]``, one client in
a closed loop (each step starts after the previous one finished).  After
set-up the run makes passes over the workload until ``--seconds`` have
elapsed, and at least ``workloads.MIN_PASSES``: the first pass meets a
fresh JVM, the later ones are warm.  Between passes the session is reset
(caches, memos and the ingest output), so no pass reads what an earlier
one left behind.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a
separate traced run that records spans around the benchmark's calls into
each layer and reports the per-layer metrics.  A traced run alternates
traced and untraced passes, so it can state its own tracing overhead.
See README.md.
"""

from __future__ import annotations

import os
import time


def process_age_s() -> float:
    """Seconds since this process started (from /proc, in 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: Process age and stopwatch at the first statement this process ran:
#: set-up time is the interpreter's start-up plus stopwatch time after it.
AGE_AT_START, T_START = process_age_s(), time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections.abc import Callable  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dateng_data_lakes_apache_spark_spark"

sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402

#: JVM heap of the local-mode driver (it is also the executor).  The
#: heap has a fixed size and the young generation is bump-allocated, so
#: the resident set is the young generation plus the most the old
#: generation ever held: peak memory tracks what the workload retains,
#: not when the collector happened to grow the heap.
DRIVER_MEMORY = "3g"
#: Compiler threads live as long as the JVM, so their CPU can be read
#: (``tracing.jit_cpu_s``) and left out of a pass's CPU time.
JVM_OPTIONS = f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY} -Xmn1g -XX:-UseDynamicNumberOfCompilerThreads"

#: The catalog every registered query reads: the engine's ten test tables
#: at scale factor 0.01, one parquet file each.
CATALOG_DIR = os.path.join(HERE, "catalog")
SPARKIFY_GLOBS = ("song_data/*/*/*/*.json", "log_data/*/*/*.json")
STAR_LAYER = [f"star.{m}.{t}" for m in ("write_s", "files", "mb_out") for t in wl.STAR_TABLES]
LAYER_METRICS = (
    [
        ("session.start_s", "s"), ("registry.load_s", "s"), ("session.warm_s", "s"),
        ("catalog.read_s", "s"), ("catalog.jobs", "count"), ("catalog.calls", "count"),
        ("build.s", "s"), ("build.jobs", "count"), ("plan.s", "s"),
        ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
        ("exec.executor_run_s", "s"), ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
        ("exec.spill_mb", "MB"), ("exec.input_mb", "MB"),
        ("functions.python_rows", "count"), ("functions.python_mb", "MB"),
        ("caching.blocks_held", "count"), ("caching.mb_held", "MB"), ("caching.reset_s", "s"),
    ]
    + [(n, "s" if ".write_s." in n else "count" if ".files." in n else "MB") for n in STAR_LAYER]
    + [
        ("star.ingest_mb_per_s", "MB/s"), ("star.bytes_out_per_in", "ratio"),
        ("sources.readback_s", "s"), ("streaming.replay_s", "s"), ("streaming.batches", "count"),
        ("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s"),
    ]
)


EXPECTED = os.path.join(HERE, "expected.json")


def load_expected() -> dict[str, dict]:
    """Per-query {"rows", "hash"} recorded by record_expected.py; empty
    when missing, so every query check then fails."""
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


@dataclass
class Pass:
    """One pass: each successful step's stopwatch time, the pass's wall
    time including the per-step releases and the reset, and the CPU time
    this process and its descendants (the JVM, Python workers) used in
    it, less JIT compilation (see ``Bench._work_cpu_s``)."""

    times: list[tuple[str, float]]
    wall: float
    cpu: float
    traced: bool


class Bench:
    """State of one run: the session, its inputs and what it measured."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.tracer = tracing.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer.enabled = self.traced
        self.catalog_dir = CATALOG_DIR
        self.lake: wl.Lake | None = None
        self.planted: gen.Planted | None = None
        self.expected = load_expected()
        self.observed: dict[str, dict] = {}
        self.rng = random.Random(args.seed)
        self.passes: list[Pass] = []
        self.attempted = 0
        self.failed = 0
        self.group = ""

    # -- inputs and set-up ---------------------------------------------
    def generate(self) -> None:
        if self.args.workload == "lake_ingest":
            raw = os.path.join(self.work, "sparkify")
            self.planted = gen.write_sparkify(raw, self.args.seed)
            self.lake = wl.Lake(
                os.path.join(raw, SPARKIFY_GLOBS[0]),
                os.path.join(raw, SPARKIFY_GLOBS[1]),
                os.path.join(self.work, "lake"),
            )

    def setup(self) -> None:
        tr = self.tracer
        with tr.span("session.start"):
            from dateng_data_lakes_apache_spark_spark.session import get_spark

            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{len(os.sched_getaffinity(0))}]",
                extra_conf={
                    "spark.driver.memory": DRIVER_MEMORY,
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                    # The output check hashes every column, maps included.
                    "spark.sql.legacy.allowHashOnMapType": "true",
                },
            )
            self.sc = self.spark.sparkContext
            self.sc.setLogLevel("ERROR")
            #: This process and its JVM: the pids whose CPU and memory count.
            self.pids = [os.getpid(), self.sc._gateway.proc.pid]
        if self.traced:
            self._wrap_layers()
        with tr.span("registry.load"):
            from dateng_data_lakes_apache_spark_spark import registry
            from dateng_data_lakes_apache_spark_spark.staging import STAGED_BUILDERS

            registry.load_all()
            queries = registry.get_queries()
            # Staged-expectation queries run their builder frame, as bench.py does.
            self.queries = {n: STAGED_BUILDERS.get(n) or queries[n] for n in queries}
        with tr.span("session.warm"):
            self._warm()

    def _warm(self) -> None:
        """Fixed warm-up, the same for every workload: one catalog scan,
        so the first timed step is not charged the first job's launch."""
        self.queries["q_scan_project"](self.spark, self.catalog_dir).limit(1).write.format(
            "noop"
        ).mode("overwrite").save()

    def _wrap_layers(self) -> None:
        """Span the layer functions the workloads call.  ``catalog.table``
        is wrapped before ``registry.load_all`` imports the operators,
        which bind the name at import time."""
        from dateng_data_lakes_apache_spark_spark import catalog

        tr, sc = self.tracer, self.sc
        table = catalog.table

        def traced_table(spark, sf_dir, name):
            if not tr.enabled:
                return table(spark, sf_dir, name)
            with tr.span("catalog.read", table=name) as sp:
                before = len(tracing.group_job_ids(sc, self.group))
                df = table(spark, sf_dir, name)
                sp.attrs["jobs"] = len(tracing.group_job_ids(sc, self.group)) - before
            return df

        def traced_write(df, out_dir, name, partition_cols=None):
            with tr.span("star.write", table=name):
                write(df, out_dir, name, partition_cols)

        catalog.table = traced_table
        from dateng_data_lakes_apache_spark_spark.pipelines import star_schema

        write = star_schema.write_partitioned
        star_schema.write_partitioned = traced_write
        self.batches = tracing.make_batch_counter(self.spark)

    # -- the measured loop ---------------------------------------------
    def measure(self) -> None:
        """Passes until ``--seconds`` have elapsed.  A traced run traces
        its even passes (the cold pass among them) and leaves the odd
        ones untraced: the difference of their warm pass times is the
        tracing overhead.  It makes at least four passes, so that two
        untraced passes bracket a traced warm one and the comparison is
        not skewed by the JVM still warming up."""
        deadline = time.perf_counter() + self.args.seconds
        min_passes = wl.MIN_PASSES[self.args.workload]
        if self.traced:
            min_passes = max(min_passes, 4)
        while len(self.passes) < min_passes or time.perf_counter() < deadline:
            k = len(self.passes)
            self.tracer.enabled = self.traced and k % 2 == 0
            t0, cpu0 = time.perf_counter(), self._work_cpu_s()
            with self.tracer.span("pass", index=k) as sp:
                batches0 = self.batches.batches if self.tracer.enabled else 0
                times = [
                    (name, t)
                    for i, name in enumerate(wl.pass_order(self.args.workload, self.rng))
                    if (t := self.step(name, f"perfbench-{k}-{i}")) is not None
                ]
                self.reset()
                if self.tracer.enabled:
                    sp.attrs["batches"] = self.batches.batches - batches0
                    sp.attrs.update(self._stage_totals(sp))
            wall, cpu = time.perf_counter() - t0, self._work_cpu_s() - cpu0
            self.passes.append(Pass(times, wall, cpu, self.tracer.enabled))
            print(f"pass {k}: {self.passes[-1].wall:.2f} s{' traced' if self.tracer.enabled else ''}", file=sys.stderr)
        self.tracer.enabled = False

    def _work_cpu_s(self) -> float:
        """CPU seconds used so far by this process and its descendants,
        less the JVM's JIT compilation: the compiler keeps optimising
        through the first passes, by an amount that differs from run to
        run, so it is warm-up work rather than work of the pass."""
        return tracing.tree_cpu_s(os.getpid()) - tracing.jit_cpu_s(self.pids[1])

    def step(self, name: str, group: str) -> float | None:
        """Run one step; returns its wall time, or None if it failed."""
        self.attempted += 1
        self.group = group
        tr = self.tracer
        try:
            with tr.span("step", step=name, group=group) as sp:
                if tr.enabled:
                    self.sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                verify = self._run_step(name, sp)
                dt = time.perf_counter() - t0
                if tr.enabled:
                    sp.attrs["timed_s"] = dt
                    with tr.span("trace.bookkeep"):
                        self._bookkeep(name, sp, group)
            problem = verify()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            problem = "raised"
        finally:
            self.release()
        if problem:
            self.failed += 1
            print(f"FAILED {name}: {problem}", file=sys.stderr)
            return None
        return dt

    def _run_step(self, name: str, sp) -> Callable[[], str | None]:
        """The timed part of a step.  Returns the output check, which the
        caller runs after the stopwatch stops."""
        spark, tr = self.spark, self.tracer
        if name == wl.PIPELINE:
            with tr.span("star.pipeline"):
                wl.run_pipeline(spark, self.lake)
            return lambda: "; ".join(wl.lake_mismatches(self.lake, self.planted)) or None
        if name in wl.SCANS:
            want = {"rows": wl.scan_rows(self.planted, name), "hash": None}
            with tr.span("sources.readback"):
                return self._execute(name, sp, wl.scan(spark, self.lake, name), want)
        with tr.span("build"):
            df = self.queries[name](spark, self.catalog_dir)
        return self._execute(name, sp, df, self.expected.get(name))

    def _execute(self, name: str, sp, df, want: dict | None) -> Callable[[], str | None]:
        """Run ``df`` and collect its rows into the driver JVM, observing
        the row count and order-independent row hash for the output check.

        The action runs on the Dataset's own QueryExecution, so in a
        traced pass the plan span times the planning the action uses,
        and the exec span holds no planning.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark, tr = self.spark, self.tracer
        if tr.enabled:
            sp.attrs["build_jobs"] = sorted(tracing.group_job_ids(self.sc, sp.attrs["group"]))
            sp.attrs["first_execution"] = tracing.execution_count(spark)
        # Positional names: the row hash must not trip over duplicate or
        # dotted column names.
        df = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
        obs = Observation("check")
        jdf = df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(F.xxhash64(*df.columns)).alias("hash"))._jdf
        if tr.enabled:
            with tr.span("plan"):
                plan = jdf.queryExecution().executedPlan().toString()
            sp.attrs["python"] = any(k in plan for k in ("Python", "InPandas", "InArrow"))
        with tr.span("exec"):
            jdf.collectAsList()
        return lambda: self.check(name, obs.get, want)

    def _bookkeep(self, name: str, sp, group: str) -> None:
        """After a traced step: split its jobs into build and exec, read
        Python node metrics, the cache blocks the step left held, and
        the files the pipeline wrote."""
        if name == wl.PIPELINE:
            sp.attrs["lake"] = {t: wl.lake_files(os.path.join(self.lake.out_dir, t)) for t in wl.STAR_TABLES}
        build = set(sp.attrs.pop("build_jobs", ()))
        sp.attrs["build_jobs"] = len(build)
        sp.attrs["exec_jobs"] = sorted(tracing.group_job_ids(self.sc, group) - build)
        if sp.attrs.pop("python", False):
            sp.attrs.update(tracing.python_node_totals(self.spark, sp.attrs["first_execution"]))
        sp.attrs["blocks"], sp.attrs["mb_held"] = tracing.storage_held(self.sc)

    def check(self, name: str, got: dict, want: dict | None) -> str | None:
        self.observed[name] = got
        if want is None:
            return "no expected output recorded"
        if got["rows"] != want["rows"]:
            return f"rows {got['rows']} != {want['rows']}"
        if want["hash"] is not None and (got["hash"] or 0) != want["hash"]:
            return f"row hash {got['hash']} != {want['hash']}"
        return None

    def release(self) -> None:
        """Per-step release, as bench.py does between measurements."""
        from dateng_data_lakes_apache_spark_spark.caching import release_caches

        release_caches()
        self.spark.catalog.clearCache()
        gc.collect()

    def reset(self) -> None:
        """The five-step session reset plus the ingest output; then the
        block manager must hold no cached block."""
        from dateng_data_lakes_apache_spark_spark.caching import release_caches
        from dateng_data_lakes_apache_spark_spark.operators.dedup import clear_resolve_memo
        from dateng_data_lakes_apache_spark_spark.staging import clear_stage_memo

        with self.tracer.span("caching.reset") as sp:
            release_caches()
            self.spark.catalog.clearCache()
            gc.collect()
            clear_stage_memo()
            clear_resolve_memo()
            if self.lake is not None:
                self.lake.clear()
        blocks, held = tracing.storage_held(self.sc)
        for _ in range(50):  # ContextCleaner unpins checkpoint blocks asynchronously
            if blocks == 0:
                break
            time.sleep(0.1)
            blocks, held = tracing.storage_held(self.sc)
        sp.attrs["blocks"], sp.attrs["mb_held"] = blocks, held
        if blocks:
            self.failed += 1
            print(f"FAILED reset: {blocks} cached blocks ({held:.1f} MB) survived the reset", file=sys.stderr)

    def _stage_totals(self, pass_span) -> dict[str, float]:
        """Status-store totals over the jobs the pass's actions ran."""
        idx = self.tracer.spans.index(pass_span)
        jobs: set[int] = set()
        for s in self.tracer.spans[idx:]:
            jobs.update(s.attrs.get("exec_jobs", ()))
        totals = tracing.stage_totals(self.sc, tracing.job_stage_ids(self.sc, jobs))
        totals["jobs"] = len(jobs)
        return totals

    # -- results ---------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark and its JVM, and wait for the JVM to exit."""
        gateway = self.sc._gateway
        proc = gateway.proc
        self.rss_mb = tracing.peak_rss_mb(self.pids)
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)

    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str]]:
        """The reported metrics, and wall-time figures printed for reading.

        Wall times of a pass swing by 20-40 % between identical runs on a
        host whose CPUs are shared (steal time), so they are printed but
        not reported.  The CPU a warm pass uses, less JIT compilation,
        spreads about half as much.
        """
        warm = self.passes[1:]
        steps = [t for p in warm for _, t in p.times]
        print(f"first_pass_s {sum(t for _, t in self.passes[0].times):.3f}")
        print(f"pass_s {statistics.median(sum(t for _, t in p.times) for p in warm):.3f}")
        print(f"query_p50_s {statistics.median(steps):.3f} over {len(steps)} warm executions")
        print(f"query_max_s {max(steps):.3f}")
        return {
            "setup_s": (setup_s, "s"),
            "pass_cpu_s": (statistics.median(p.cpu for p in warm), "s"),
            "peak_rss_mb": (self.rss_mb, "MB"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        setup = {s.name: s.duration for s in tr.spans if s.parent is None and s.name != "pass"}
        warm = [i for i, s in enumerate(tr.spans) if s.name == "pass" and s.attrs["index"] > 0]
        rows = [self._pass_layers(i) for i in warm]
        out = {name: (statistics.median(r.get(name, 0.0) for r in rows), unit) for name, unit in LAYER_METRICS}
        out["session.start_s"] = (setup["session.start"], "s")
        out["registry.load_s"] = (setup["registry.load"], "s")
        out["session.warm_s"] = (setup["session.warm"], "s")
        traced = statistics.median(p.wall for p in self.passes[1:] if p.traced)
        untraced = statistics.median(p.wall for p in self.passes[1:] if not p.traced)
        out["trace.pass_s"] = (traced, "s")
        out["trace.untraced_pass_s"] = (untraced, "s")
        out["trace.overhead_s"] = (traced - untraced, "s")
        return out

    def _pass_layers(self, idx: int) -> dict[str, float]:
        tr = self.tracer
        spans = tr.spans
        inside = {idx}
        m: dict[str, float] = {f"exec.{k}": v for k, v in spans[idx].attrs.items() if k not in ("index", "batches")}
        m["streaming.batches"] = spans[idx].attrs["batches"]
        for i in range(idx + 1, len(spans)):
            s = spans[i]
            if s.parent not in inside:
                break
            inside.add(i)
            step = spans[s.parent].attrs.get("step", "") if s.parent is not None else ""

            def add(key: str, v: float) -> None:
                m[key] = m.get(key, 0.0) + v

            if s.name == "step":
                add("functions.python_rows", s.attrs.get("python_rows", 0.0))
                add("functions.python_mb", s.attrs.get("python_mb", 0.0))
                add("build.jobs", s.attrs.get("build_jobs", 0))
                m["caching.blocks_held"] = max(m.get("caching.blocks_held", 0), s.attrs.get("blocks", 0))
                m["caching.mb_held"] = max(m.get("caching.mb_held", 0.0), s.attrs.get("mb_held", 0.0))
                if s.attrs["step"] == wl.PIPELINE:
                    m["star.ingest_mb_per_s"] = self.planted.input_bytes / tracing.MB / s.attrs["timed_s"]
                    for t, (files, size) in s.attrs["lake"].items():
                        m[f"star.files.{t}"] = files
                        m[f"star.mb_out.{t}"] = size / tracing.MB
                        add("star.bytes_out_per_in", size / self.planted.input_bytes)
            elif s.name == "catalog.read":
                add("catalog.read_s", s.duration)
                add("catalog.jobs", s.attrs["jobs"])
                add("catalog.calls", 1)
                add("build.jobs", -s.attrs["jobs"])
            elif s.name == "build":
                add("build.s", tr.self_time(i))
                if step.startswith("q_stream_"):
                    add("streaming.replay_s", s.duration)
            elif s.name in ("plan", "exec"):
                add(f"{s.name}.s", s.duration)
            elif s.name == "sources.readback":
                add("sources.readback_s", s.duration)
            elif s.name == "star.write":
                m[f"star.write_s.{s.attrs['table']}"] = s.duration
            elif s.name == "caching.reset":
                m["caching.reset_s"] = s.duration
                m["caching.blocks_held"] = max(m.get("caching.blocks_held", 0), s.attrs["blocks"])
        return m


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_work_dir() -> str:
    """Create this run's work directory inside the checkout and point
    every temp location there; Python workers must import the engine."""
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    return work


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found next to perfbench/", file=sys.stderr)
        return 2
    work = prepare_work_dir()
    bench = Bench(args, work)
    try:
        t_gen = time.perf_counter()
        bench.generate()
        gen_s = time.perf_counter() - t_gen
        bench.setup()
        setup_s = AGE_AT_START + time.perf_counter() - T_START - gen_s
        bench.measure()
        bench.stop()
        if args.trace:
            metrics = bench.per_layer()
            spans_path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json")
            bench.tracer.dump(spans_path)
            print(f"spans written to {os.path.relpath(spans_path, ROOT)}")
        else:
            metrics = bench.end_to_end(setup_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
