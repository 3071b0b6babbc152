"""Traced-mode instrumentation, all of it in the benchmark's own files.

- ``Tracer`` records spans (name, start, end, parent, operation id)
  around each call the benchmark makes into the program's layers, and
  counts py4j gateway round-trips per operation. Spans stay in memory
  and are written out at the end; self time is span time minus the
  time its child spans cover.
- ``patch_layers`` wraps the package's own entry points (table loads,
  distributed COPY) in spans while a traced pass runs.
- ``spark_metrics`` reads Spark's event log after the run and assigns
  every job, task and streaming progress event to the operation whose
  time window contains it (one client, so windows never overlap).
- ``tree_peak_rss_mb`` reads the peak resident memory of this process
  and all its descendants (JVM, Python workers) from ``/proc``;
  ``tree_cpu_s`` reads their CPU time.
- ``calibration_s`` times a fixed loop on every CPU, and
  ``reference_scale`` turns a run's CPU seconds into those of the
  reference machine at rest.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.op_windows: list[tuple[str, float, float]] = []  # epoch seconds
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._op: str | None = None
        self._gateway = None
        self._orig_send = None

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def operation(self, op_id: str):
        """The root span of one operation; its window attributes Spark
        events to it."""
        if not self.active:
            yield
            return
        self._op = op_id
        wall0 = time.time()
        try:
            with self.span("op"):
                yield
        finally:
            self.op_windows.append((op_id, wall0, time.time()))
            self._op = None

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            self.counters[key] = self.counters.get(key, 0) + n

    # -- py4j round-trips ----------------------------------------------------
    def hook_gateway(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            if tracer._op is not None:
                tracer.counters["py4j_calls"] = tracer.counters.get("py4j_calls", 0) + 1
            return orig(*args, **kwargs)

        client.send_command = counted
        self._gateway, self._orig_send = client, orig

    def unhook_gateway(self) -> None:
        if self._gateway is not None:
            self._gateway.send_command = self._orig_send
            self._gateway = None

    # -- derived -------------------------------------------------------------
    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds and self seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child[s["id"]]
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
            if s["end"] is not None
        ]
        payload = {**extra, "self_time": self.self_times(), "spans": spans}
        path.write_text(json.dumps(payload, indent=1, sort_keys=True))


@contextlib.contextmanager
def patch_layers(tracer: Tracer):
    """Wrap the package's table loader and COPY sink in spans. Modules
    that imported ``load_table`` by name are patched too."""
    import sys

    from datagouv_tools_spark.sinks import pg_copy
    from datagouv_tools_spark.sources import catalog

    orig_load, orig_copy = catalog.load_table, pg_copy.copy_dataframe

    def load_table(spark, sf_dir, name):
        memo = catalog._TABLE_MEMO.get(spark, {})
        tracer.count("load_table_calls")
        if (os.path.abspath(sf_dir), name) in memo:
            tracer.count("load_table_hits")
        with tracer.span("sources.load_table"):
            return orig_load(spark, sf_dir, name)

    def copy_dataframe(df, dsn, table, num_partitions=None):
        with tracer.span("sinks.copy_dataframe"):
            return orig_copy(df, dsn, table, num_partitions)

    patched = []
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("datagouv_tools_spark"):
            if getattr(mod, "load_table", None) is orig_load:
                mod.load_table = load_table
                patched.append((mod, "load_table", orig_load))
    pg_copy.copy_dataframe = copy_dataframe
    patched.append((pg_copy, "copy_dataframe", orig_copy))
    try:
        yield
    finally:
        for mod, attr, orig in patched:
            setattr(mod, attr, orig)


def _management(spark):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory


def jvm_gc_seconds(spark) -> float:
    beans = _management(spark).getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the heap memory pools' peak used sizes since JVM start: an
    upper bound of the heap's peak use."""
    pools = _management(spark).getMemoryPoolMXBeans()
    used = sum(p.getPeakUsage().getUsed() for p in pools if p.getType().toString() == "Heap memory")
    return used / 2**20


# --- machine speed -------------------------------------------------------------

CALIBRATION_LOOP = 300_000
# the loop's cost on an idle core of the machine the benchmark was tuned on
# (4 vCPUs of an Intel Xeon); CPU costs are reported at that speed
REFERENCE_LOOP_S = 0.0175


def calibration_s() -> float:
    """Thread CPU seconds of a fixed pure-Python loop, run once on each
    CPU in turn and averaged: how fast the machine runs right now. On a
    shared host the same work costs up to twice the CPU time when other
    tenants load the sibling hyperthreads, and that changes within
    seconds."""
    cpus = os.sched_getaffinity(0)
    costs = []
    try:
        for cpu in sorted(cpus):
            os.sched_setaffinity(0, {cpu})
            t, acc = time.thread_time(), 0
            for i in range(CALIBRATION_LOOP):
                acc += i * i
            costs.append(time.thread_time() - t)
    finally:
        os.sched_setaffinity(0, cpus)
    return statistics.mean(costs)


def reference_scale(loop_s: list[float]) -> float:
    """Factor that turns CPU seconds spent while the calibration loop
    took ``loop_s`` (samples from across a run) into the CPU seconds the
    same work takes on the reference machine at rest."""
    return REFERENCE_LOOP_S / statistics.median(loop_s)


# --- /proc -------------------------------------------------------------------

# thread names (truncated to 15 characters by the kernel)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
GC_THREADS = ("GC Thread#", "G1 ")


def tree_cpu_s(roots: list[int], exclude: tuple[int, ...] = ()) -> float:
    """CPU seconds used by the ``roots`` processes and their descendants,
    reaped children included, less the JVM's JIT compiler and garbage
    collector threads. In a run this short the JIT is still compiling,
    and how much of that lands in a timed operation varies from run to
    run by a third of the total. A collection runs when the heap fills,
    whichever operation fills it: one operation in three pays a young
    collection of up to 20% of its own cost for garbage others left
    (``spark.gc_s`` reports collector time). The subtrees under
    ``exclude`` are left out."""
    ticks = 0
    for pid in _tree(roots, exclude):
        ticks += _ticks(f"/proc/{pid}", children=True)
        if _comm(f"/proc/{pid}") != "java":
            continue
        for task in glob.glob(f"/proc/{pid}/task/*"):
            if _comm(task).startswith(JIT_THREADS + GC_THREADS):
                ticks -= _ticks(task, children=False)
    return ticks / os.sysconf("SC_CLK_TCK")


def _comm(proc: str) -> str:
    try:
        with open(f"{proc}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _ticks(proc: str, children: bool) -> int:
    """utime + stime (+ cutime + cstime) of a process or thread."""
    try:
        with open(f"{proc}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11 : 15 if children else 13])


def tree_peak_rss_mb(exclude: tuple[int, ...] = ()) -> float:
    """Sum over this process and all its descendants, less the subtrees
    under ``exclude``, of each one's peak resident memory (``VmHWM``), in
    MB: an upper bound of the tree's peak that catches peaks between two
    reads without a sampler."""
    kb = 0
    for pid in _tree([os.getpid()], exclude):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def descendants() -> set[int]:
    """Every live or unreaped descendant of this process."""
    return _tree([os.getpid()]) - {os.getpid()}


def _tree(roots: list[int], exclude: tuple[int, ...] = ()) -> set[int]:
    """``roots`` and all their descendants, less the subtrees under
    ``exclude``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = set(roots)
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree and pid not in exclude:
                tree.add(pid)
                grew = True
    return tree


# --- Spark event log ---------------------------------------------------------

PYTHON_NODES = ("Python", "Pandas", "Arrow")


def _plan_python_accums(plan: dict, out: set[int]) -> None:
    name = plan.get("nodeName", "")
    if any(k in name for k in PYTHON_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _plan_python_accums(c, out)


def spark_metrics(event_log: Path, windows: list[tuple[str, float, float]]) -> dict:
    """Aggregate the event log per operation window. Returns totals over
    all traced operations plus the worst stage's task skew."""
    starts = sorted((w0 * 1000.0, w1 * 1000.0, op) for op, w0, w1 in windows)

    def op_at(ms: float) -> str | None:
        for w0, w1, op in starts:
            if w0 - 1 <= ms <= w1 + 1:
                return op
        return None

    stage_op: dict[int, str] = {}
    tot = {
        "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_wait_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "input_bytes": 0, "input_records": 0, "python_bytes_sent": 0,
        "python_rows_returned": 0, "stream_batches": 0, "stream_trigger_ms": 0.0,
        "stream_add_batch_ms": 0.0, "stream_query_planning_ms": 0.0,
        "stream_wal_commit_ms": 0.0, "stream_state_rows": 0,
    }
    stage_task_times: dict[int, list[float]] = {}
    py_accums: set[int] = set()
    with open(event_log) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                op = op_at(ev["Submission Time"])
                if op is not None:
                    tot["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stage_op and info.get("Submission Time"):
                    tot["stages"] += 1
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_python_accums(ev.get("sparkPlanInfo", {}), py_accums)
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] not in stage_op:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tot["tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                deser_ms = m.get("Executor Deserialize Time", 0)
                dur_ms = info["Finish Time"] - info["Launch Time"]
                sched_ms = max(
                    0,
                    dur_ms - run_ms - deser_ms - m.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0),
                )
                tot["task_run_s"] += run_ms / 1000.0
                tot["task_wait_s"] += (sched_ms + deser_ms) / 1000.0
                stage_task_times.setdefault(ev["Stage ID"], []).append(run_ms)
                sr = m.get("Shuffle Read Metrics", {})
                tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                tot["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics", {})
                tot["input_bytes"] += im.get("Bytes Read", 0)
                tot["input_records"] += im.get("Records Read", 0)
                for acc in info.get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == "data sent to Python workers":
                        tot["python_bytes_sent"] += int(upd)
                    elif acc.get("ID") in py_accums:
                        tot["python_rows_returned"] += int(upd)
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                prog = ev.get("progress", {})
                ts = prog.get("timestamp")
                if ts is None or op_at(_iso_ms(ts)) is None:
                    continue
                d = prog.get("durationMs", {})
                tot["stream_batches"] += 1
                tot["stream_trigger_ms"] += d.get("triggerExecution", 0)
                tot["stream_add_batch_ms"] += d.get("addBatch", 0)
                tot["stream_query_planning_ms"] += d.get("queryPlanning", 0)
                tot["stream_wal_commit_ms"] += d.get("walCommit", 0)
                tot["stream_state_rows"] = max(
                    tot["stream_state_rows"],
                    sum(s.get("numRowsTotal", 0) for s in prog.get("stateOperators", [])),
                )
    skews = [
        max(ts) / statistics.median(ts)
        for ts in stage_task_times.values()
        if len(ts) > 1 and statistics.median(ts) > 0
    ]
    tot["task_skew"] = max(skews) if skews else 1.0
    return tot


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    t = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc)
    return t.timestamp() * 1000.0
