"""sparkgouv benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``relational`` and ``llm_ops``. The run
sets the engine up once, cold, building its inputs from ``--seed`` on
the way (untimed), runs one untimed warm pass whose results are checked
(queries against their DuckDB oracles, imports against PostgreSQL row
counts, read-backs against the pipelines' own DataFrames, curation
against its funnel counts), then repeats whole passes of the workload's
operations in a closed loop with one client until ``--seconds`` have
passed. Every operation's result is checked outside its timed interval.

The last line of standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``):

- ``setup_s``: CPU seconds from process start until the session is
  built, the registry imported and one warm-up query done, less input
  generation and PostgreSQL start-up: the interpreter's imports and the
  JVM launch are in it. Measured once per run: a second cold set-up
  needs a new process and costs as much as the rest of the run;
- ``query_cpu_s``, ``load_cpu_s``, ``readback_cpu_s``, ``curate_cpu_s``:
  CPU seconds of one operation of each kind (a query, a pipeline import
  into PostgreSQL, a ``read_pg_parallel`` read-back, a ``curate_corpus``
  run), taken over the engine's process tree (driver, JVM, Python
  workers) plus the PostgreSQL server. Each operation's CPU time is its
  median over its timed runs (the import runs three times a pass); a
  kind's figure is the mean over its operations;
- ``peak_rss_mb``: peak resident memory of the process tree, the sum of
  each process's own peak (``VmHWM``), read after every operation.

Costs are CPU time, not wall time: on a shared machine other tenants
take cores for minutes at a time, which moves wall-clock latency by
20-30% between runs of the same code. CPU time is not enough either:
when other tenants load the sibling hyperthreads, the same work costs up
to twice the CPU time, and that changes within seconds. So a fixed
calibration loop runs on every CPU during set-up and between operations
(untimed), and every cost is scaled by the run's median loop time to
the CPU seconds it would take on the reference machine at rest
(``tracing.reference_scale``). CPU time leaves out the JVM's JIT
compiler threads, whose share of a short run varies by a third, and its
garbage collector threads, whose work lands on whichever operation
fills the heap (``spark.gc_s`` reports it). It also leaves out
waiting: commit flushes and scheduler delay show only in each
operation's wall latency, which the diagnostics the run prints to
standard error record beside its CPU time.

With ``--trace 1`` the metrics are the per-layer ones (``PER_LAYER``), taken
from traced passes that alternate with untraced ones so that
``trace.overhead_frac`` compares the two on the same operations. A
traced run also writes its spans, self times and per-layer numbers to
``perfbench/results/<workload>.json``.

Which end-to-end metric each per-layer metric should move, and on which
workload, is listed in ``PER_LAYER``. Per-operation layer metrics are
means over the traced operations.

The engine runs on ``local[<cpus>]`` with a heap of at most 2 GB; Spark's
scratch space, temp files and (traced) event log stay under
``perfbench/.work``. Exit status: 0 when every check passed, 1 when an
operation failed or returned a wrong result (the JSON line is still
printed), 2 on bad arguments.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"

# operation kind -> the end-to-end metric that reports its CPU time
KIND_METRIC = {
    "query": "query_cpu_s",
    "load": "load_cpu_s",
    "readback": "readback_cpu_s",
    "curate": "curate_cpu_s",
}
END_TO_END = {"setup_s": "s", **{m: "s" for m in KIND_METRIC.values()}, "peak_rss_mb": "MB"}

# Layers whose cost is waiting (commit flushes, scheduler delay) move no
# CPU metric; they show in the operations' wall latency, recorded in the
# diagnostics.
WAIT = "wall latency only"

# name: (unit, better, end-to-end metric it should move, on which workloads)
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s", "all"),
    "queries.build_s": ("s", "lower", "query_cpu_s", "relational, llm_ops"),
    "queries.collect_s": ("s", "lower", "query_cpu_s", "llm_ops"),
    "queries.py4j_calls": ("count", "lower", "query_cpu_s", "relational, llm_ops"),
    "sources.load_table_calls": ("count", "lower", "query_cpu_s", "relational"),
    "sources.memo_hit_ratio": ("ratio", "higher", "query_cpu_s", "relational"),
    "sources.input_bytes": ("bytes", "lower", "query_cpu_s", "relational"),
    "sources.input_records": ("count", "lower", "query_cpu_s", "relational"),
    "sources.pg_read_s": ("s", "lower", "readback_cpu_s", "all"),
    "sources.pg_read_rows_per_s": ("1/s", "higher", "readback_cpu_s", "all"),
    "spark.jobs": ("count", "lower", "query_cpu_s", "relational"),
    "spark.stages": ("count", "lower", "query_cpu_s", "relational"),
    "spark.tasks": ("count", "lower", "query_cpu_s", "relational"),
    "spark.task_run_s": ("s", "lower", "query_cpu_s", "relational"),
    "spark.task_wait_s": ("s", "lower", WAIT, "relational"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "query_cpu_s", "llm_ops"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "query_cpu_s", "llm_ops"),
    "spark.spill_bytes": ("bytes", "lower", "query_cpu_s", "llm_ops"),
    "spark.task_skew": ("ratio", "lower", WAIT, "llm_ops"),
    "spark.gc_s": ("s", "lower", "peak_rss_mb", "all"),
    "jvm.heap_peak_mb": ("MB", "lower", "peak_rss_mb", "all"),
    "operators.python_bytes_sent": ("bytes", "lower", "query_cpu_s", "llm_ops"),
    "operators.python_rows_returned": ("count", "lower", "query_cpu_s", "llm_ops"),
    "pipelines.import_sirene_s": ("s", "lower", "load_cpu_s", "all"),
    "pipelines.load_rows_per_s": ("1/s", "higher", "load_cpu_s", "all"),
    "pipelines.curate_corpus_s": ("s", "lower", "curate_cpu_s", "all"),
    "pipelines.curate_docs_per_s": ("1/s", "higher", "curate_cpu_s", "all"),
    "sinks.copy_s": ("s", "lower", "load_cpu_s", "all"),
    "sinks.ddl_s": ("s", "lower", "load_cpu_s", "all"),
    "sinks.pg_commits": ("count", "lower", WAIT, "all"),
    "sinks.pg_tuples_inserted": ("count", "lower", "load_cpu_s", "all"),
    "sinks.wal_bytes_per_input_byte": ("ratio", "lower", "load_cpu_s", "all"),
    "sinks.pg_bytes_per_input_byte": ("ratio", "lower", "-", "all"),
    "streaming.batches": ("count", "lower", "query_cpu_s", "relational"),
    "streaming.trigger_s": ("s", "lower", "query_cpu_s", "relational"),
    "streaming.add_batch_s": ("s", "lower", "query_cpu_s", "relational"),
    "streaming.query_planning_s": ("s", "lower", "query_cpu_s", "relational"),
    "streaming.wal_commit_s": ("s", "lower", WAIT, "relational"),
    "streaming.state_rows": ("count", "lower", "peak_rss_mb", "relational"),
    "trace.overhead_frac": ("ratio", "lower", "-", "all"),
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smallest inputs (self-test)")
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _isolate(work: Path) -> None:
    """Keep every file the run and its child processes write under
    ``work``, and let Python workers import the package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # JIT compiler threads stay alive, so their CPU time, which
        # ``tracing.tree_cpu_s`` leaves out, never moves to the process.
        "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={work / 'tmp'} "
        f"-Dderby.system.home={work / 'tmp'}",
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Run:
    def __init__(self, args: argparse.Namespace):
        from tracing import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.cpus = _cpus()
        self.workload = WORKLOADS[args.workload]()
        self.tracer = Tracer()
        self.spark = None
        self.info: dict = {}
        self.loop_s: list[float] = []  # calibration loop samples

    # -- set-up --------------------------------------------------------------
    def setup(self, ctx) -> float:
        """Set-up cost, measured once and cold: CPU seconds of this process
        and its children (JVM, Python workers) from process start, so with
        the interpreter's imports and the JVM launch, until the session is
        built, the query registry imported and one warm-up query done,
        less input generation and PostgreSQL start. Calibration samples
        are taken on the way."""
        from tracing import calibration_s, tree_cpu_s

        from datagouv_tools_spark.session import get_spark

        me = [os.getpid()]

        def own_cpu_s() -> float:
            # the PostgreSQL server, re-parented to this process, is not set-up
            pg = self.workload.imports.pg
            return tree_cpu_s(me, exclude=(pg.pid,) if pg and pg.pid else ())

        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cpus}]", shuffle_partitions=self.cpus,
            extra_conf=spark_conf(WORK, self.args.trace == 1),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.info["get_spark_s"] = time.perf_counter() - t
        import datagouv_tools_spark.queries  # noqa: F401

        paused = own_cpu_s()
        self.loop_s.append(calibration_s())
        self.workload.prepare_data(ctx)
        paused = own_cpu_s() - paused
        self.workload.warmup(self.spark)
        ctx.spark = self.spark
        self.info["setup_wall_s"] = time.perf_counter() - PROCESS_START
        cost = own_cpu_s() - paused
        self.loop_s.append(calibration_s())
        return cost

    # -- measurement ---------------------------------------------------------
    def measure(self, ops, seconds: float):
        """Closed loop over whole passes, at least one. In trace mode
        passes alternate untraced / traced, starting and ending untraced
        so that warming up does not bias the overhead. Returns, per mode,
        each operation's latencies, and per operation the CPU times of
        its untraced runs. A calibration sample follows every operation."""
        from tracing import (
            calibration_s, jvm_gc_seconds, jvm_heap_peak_mb, patch_layers, tree_cpu_s,
            tree_peak_rss_mb,
        )

        trace = self.args.trace == 1
        samples: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
        cpu_s: dict[str, list[float]] = {}
        pg = (self.workload.imports.pg.pid,)
        roots = [os.getpid(), *pg]
        failures: list[str] = []
        attempted = 0
        rss = [tree_peak_rss_mb(exclude=pg)]
        gc0 = jvm_gc_seconds(self.spark) if trace else 0.0
        t_end = time.perf_counter() + seconds
        started = time.perf_counter()
        n_pass = 0

        def done() -> bool:
            if n_pass == 0 or time.perf_counter() < t_end:
                return False
            return not trace or (n_pass >= 3 and n_pass % 2 == 1)

        while not done():
            traced = trace and n_pass % 2 == 1
            self.tracer.active = traced
            if traced:
                self.tracer.hook_gateway(self.spark)
            try:
                with patch_layers(self.tracer) if traced else contextlib.nullcontext():
                    for op in ops:
                        attempted += 1
                        op_id = f"{op.name}#{n_pass}"
                        try:
                            with self.tracer.operation(op_id):
                                c0 = tree_cpu_s(roots)
                                t0 = time.perf_counter()
                                result = op.run()
                                dt = time.perf_counter() - t0
                                cpu = tree_cpu_s(roots) - c0
                            self.loop_s.append(calibration_s())
                        except Exception:  # noqa: BLE001 - a failed operation is a result
                            failures.append(f"{op_id}: {traceback.format_exc(limit=3)}")
                            continue
                        self.tracer.active = False
                        problems = op.check(result)
                        self.tracer.active = traced
                        if problems:
                            failures.extend(f"{op_id}: {p}" for p in problems)
                        else:
                            samples[traced].setdefault(op.name, []).append(dt)
                            if not traced:
                                cpu_s.setdefault(op.name, []).append(cpu)
                        rss.append(tree_peak_rss_mb(exclude=pg))
            finally:
                self.tracer.active = False
                self.tracer.unhook_gateway()
            n_pass += 1
        wall = time.perf_counter() - started
        self.info.update(passes=n_pass, wall_s=wall, op_s=samples[False], op_cpu_s=cpu_s)
        if trace:
            self.info["gc_s"] = jvm_gc_seconds(self.spark) - gc0
            self.info["heap_peak_mb"] = jvm_heap_peak_mb(self.spark)
        return samples, cpu_s, failures, attempted, max(rss)

    # -- whole run -----------------------------------------------------------
    def execute(self) -> dict:
        from tracing import reference_scale
        from workloads import Context

        ctx = Context(
            spark=None, tracer=self.tracer, work=WORK, seed=self.args.seed,
            tiny=self.args.tiny, cpus=self.cpus, info=self.info,
        )
        setup = self.setup(ctx)
        self.info["setup_done_s"] = time.perf_counter() - PROCESS_START
        ops = self.workload.prepare(ctx)
        self.info["prepare_done_s"] = time.perf_counter() - PROCESS_START
        if self.args.trace:
            self.pg_before = _pg_stats(self.workload.imports.pg)
        samples, cpu_s, failures, attempted, peak_rss = self.measure(ops, self.args.seconds)
        warm = self.info.get("warm_pass_problems") or {}
        failures = [f"warm pass {k}: {v}" for k, v in warm.items()] + failures
        attempted += len(ops)
        self.info["failures"] = failures[:20]
        failed = len(failures)
        if self.args.trace:
            metrics = self.per_layer(samples)
        else:
            scale = reference_scale(self.loop_s)
            by_kind: dict[str, list[float]] = {}
            for op in ops:
                if op.name in cpu_s:
                    by_kind.setdefault(op.kind, []).append(statistics.median(cpu_s[op.name]))
            if set(by_kind) != set(KIND_METRIC):
                raise RuntimeError("an operation kind never completed: " + "; ".join(failures[:3]))
            metrics = {
                "setup_s": setup * scale,
                **{KIND_METRIC[k]: statistics.mean(v) * scale for k, v in by_kind.items()},
                "peak_rss_mb": peak_rss,
            }
            self.info.update(setup_cpu_s=setup, loop_s=self.loop_s, scale=scale)
        units = {k: v[0] for k, v in PER_LAYER.items()} if self.args.trace else END_TO_END
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def per_layer(self, samples) -> dict[str, float]:
        from tracing import spark_metrics

        tr = self.tracer
        traced_s = [x for v in samples[True].values() for x in v]
        untraced_s = [x for v in samples[False].values() for x in v]
        n_ops = max(1, len(traced_s))
        st = tr.self_times()

        def total(name: str) -> float:
            return st.get(name, {}).get("total_s", 0.0)

        untraced = statistics.mean(untraced_s) if untraced_s else float("nan")
        traced = statistics.mean(traced_s) if traced_s else float("nan")
        m = {
            "session.get_spark_s": self.info["get_spark_s"],
            "queries.build_s": total("queries.build") / n_ops,
            "queries.collect_s": total("queries.collect") / n_ops,
            "queries.py4j_calls": tr.counters.get("py4j_calls", 0) / n_ops,
            "sources.load_table_calls": tr.counters.get("load_table_calls", 0) / n_ops,
            "sources.memo_hit_ratio": (
                tr.counters.get("load_table_hits", 0) / tr.counters["load_table_calls"]
                if tr.counters.get("load_table_calls") else 0.0
            ),
            "spark.gc_s": self.info["gc_s"],
            "jvm.heap_peak_mb": self.info["heap_peak_mb"],
            "trace.overhead_frac": traced / untraced - 1.0,
        }
        m.update(self.ingest_layers(st))
        self.spark.stop()
        logs = [p for p in (WORK / "eventlog").glob("*") if p.is_file()]
        sm = spark_metrics(max(logs, key=lambda p: p.stat().st_mtime), tr.op_windows) if logs else {}
        per_op = lambda k: sm.get(k, 0) / n_ops  # noqa: E731
        m.update({
            "sources.input_bytes": per_op("input_bytes"),
            "sources.input_records": per_op("input_records"),
            "spark.jobs": per_op("jobs"),
            "spark.stages": per_op("stages"),
            "spark.tasks": per_op("tasks"),
            "spark.task_run_s": per_op("task_run_s"),
            "spark.task_wait_s": per_op("task_wait_s"),
            "spark.shuffle_read_bytes": per_op("shuffle_read_bytes"),
            "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
            "spark.spill_bytes": per_op("spill_bytes"),
            "spark.task_skew": sm.get("task_skew", 1.0),
            "operators.python_bytes_sent": per_op("python_bytes_sent"),
            "operators.python_rows_returned": per_op("python_rows_returned"),
            "streaming.batches": per_op("stream_batches"),
            "streaming.state_rows": sm.get("stream_state_rows", 0),
        })
        for k in ("trigger", "add_batch", "query_planning", "wal_commit"):
            m[f"streaming.{k}_s"] = per_op(f"stream_{k}_ms") / 1000.0
        if self.args.tiny:  # self-test sizes: keep the recorded results
            return m
        tr.dump(
            BENCH / "results" / f"{self.args.workload}.json",
            {
                "workload": self.args.workload,
                "seed": self.args.seed,
                "seconds": self.args.seconds,
                "cpus": self.cpus,
                "inputs": self.info.get("rows"),
                "per_layer": {
                    k: dict(zip(("unit", "better", "moves", "on"), PER_LAYER[k]), value=v)
                    for k, v in m.items()
                },
                "spark": sm,
                "ops_traced": len(traced_s),
                "ops_untraced": len(untraced_s),
            },
        )
        return m

    def ingest_layers(self, st: dict) -> dict[str, float]:
        """Write-path and curation layers, per traced call. PostgreSQL's
        own counters are per import over every measured pass, traced or
        not."""

        def total(name: str) -> float:
            return st.get(name, {}).get("total_s", 0.0)

        def calls(name: str) -> int:
            return st.get(name, {}).get("calls", 0)

        n, curate_s = calls("pipelines.curate_corpus"), total("pipelines.curate_corpus")
        imp = self.workload.imports
        loads = calls("pipelines.import_sirene")
        import_s = total("pipelines.import_sirene")
        copy_s = total("sinks.copy_dataframe")
        read_s = total("sources.read_pg_parallel") + total("sources.pg_collect")
        reads = calls("sources.read_pg_parallel")
        all_loads = self.info["passes"] * imp.REPEAT
        after, before = _pg_stats(imp.pg), self.pg_before
        return {
            "pipelines.curate_corpus_s": curate_s / n,
            "pipelines.curate_docs_per_s": self.workload.curation.corpus["n_input"] * n / curate_s,
            "pipelines.import_sirene_s": import_s / loads,
            "pipelines.load_rows_per_s": imp.rows * loads / import_s,
            "sources.pg_read_s": read_s / reads,
            "sources.pg_read_rows_per_s": imp.rows * reads / read_s,
            "sinks.copy_s": copy_s / loads,
            "sinks.ddl_s": (import_s - copy_s) / loads,
            "sinks.pg_commits": (after["commits"] - before["commits"]) / all_loads,
            "sinks.pg_tuples_inserted": (after["inserted"] - before["inserted"]) / all_loads,
            "sinks.wal_bytes_per_input_byte": (after["wal"] - before["wal"])
            / (all_loads * imp.input_bytes),
            "sinks.pg_bytes_per_input_byte": after["bytes"] / imp.input_bytes,
        }


def _pg_stats(pg) -> dict[str, int]:
    (commits, inserted), = pg.query(
        "SELECT xact_commit, tup_inserted FROM pg_stat_database WHERE datname = current_database()"
    )
    (wal,), = pg.query("SELECT pg_current_wal_lsn() - '0/0'::pg_lsn")
    (size,), = pg.query(
        "SELECT coalesce(sum(pg_total_relation_size(c.oid)), 0) FROM pg_class c "
        "JOIN pg_namespace n ON n.oid = c.relnamespace "
        "WHERE n.nspname = 'public' AND c.relkind = 'r'"
    )
    return {"commits": int(commits), "inserted": int(inserted), "wal": int(float(wal)), "bytes": int(size)}


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    to init: the PostgreSQL server that ``pg_ctl`` starts and leaves, and
    Python workers that outlive the JVM. ``_reap`` can then wait for
    every process the run started, however deep."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _stop_jvm() -> None:
    """End the JVM behind the py4j gateway, which ``spark.stop()`` leaves
    running: it exits when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None and proc.stdin is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
    SparkContext._gateway = SparkContext._jvm = None


def _reap(timeout: float) -> None:
    """Wait until every process the run started has ended and been
    reaped; kill whatever is left after ``timeout`` seconds."""
    from tracing import descendants

    deadline = time.monotonic() + timeout
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left, live or dead
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {sorted(descendants())} did not end")
            for pid in descendants():
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.02)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(BENCH))
    args = parse_args(argv)
    _become_subreaper()
    # a terminated run still stops Spark and PostgreSQL in the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shutil.rmtree(WORK, ignore_errors=True)
    _isolate(WORK)
    run = None
    result = None
    try:
        run = Run(args)
        result = run.execute()
    finally:
        # a second SIGTERM must not cut the shutdown short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stops = (run.spark and run.spark.stop, run.workload.close) if run is not None else ()
        # the result line must print even when shutdown throws
        for stop in (*stops, _stop_jvm, lambda: _reap(60)):
            try:
                if stop:
                    stop()
            except Exception:  # noqa: BLE001
                with contextlib.suppress(OSError):  # stderr may be a closed pipe
                    traceback.print_exc()
        if run is not None:
            print(json.dumps({k: v for k, v in run.info.items() if k != "rows"}), file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    sys.stdout.flush()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
