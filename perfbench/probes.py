"""Per-layer instruments for the traced run, and the process sampler
both runs use.

Everything here observes the engine from outside its code: Spark's own
UI REST API (stage metrics), a ``QueryExecutionListener`` (Catalyst phase
times), a ``StreamingQueryListener`` (micro-batch durations), ``/proc``
(memory and Python worker CPU) and counting wrappers around two public
functions. Instruments record only while ``Tracer.on`` is set.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_file(path: str) -> tuple[int, str, list[str]] | None:
    """(ppid, comm, fields after comm) of a /proc stat file, or None."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    rp = raw.rfind(")")
    comm = raw[raw.find("(") + 1:rp]
    rest = raw[rp + 2:].split()
    return int(rest[1]), comm, rest


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    """(ppid, comm, fields after comm) of /proc/<pid>/stat, or None."""
    return _stat_file(f"/proc/{pid}/stat")


def descendants(root: int) -> dict[int, tuple[str, list[str]]]:
    """root and every process below it, with their stat fields."""
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                table[int(d)] = st
    keep = {root}
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _, _) in table.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return {p: (table[p][1], table[p][2]) for p in keep if p in table}


def tree_pss_mb(root: int) -> float:
    """Memory of root and its descendants (this process, the JVM, Python workers),
    in MB. Proportional set size, so pages that forked Python workers
    share with their daemon count once, not once per worker."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass  # the process exited between the listing and the read
    return kb / 1024


# Thread names of the JVM's JIT compilers, as /proc shows them (15 chars).
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuMeter:
    """CPU seconds (user + system) of a process tree: this process, the
    JVM, the Python daemon and its workers, with reaped children folded
    in through cutime/cstime.

    ``read()`` splits it into the JVM's JIT compiler threads and the
    rest. The compilers take a third of a short run's CPU; how much of it
    lands in a given pass depends on when the JVM decides to compile,
    so it is kept apart from the engine's own work. Time a vCPU spends
    descheduled by the host (steal) or waiting for a CPU is no process's
    CPU time, so unlike wall time neither part grows with that wait; what
    still moves it, the host's instruction rate, ``calibration_cpu_s``
    tracks.
    """

    def __init__(self, root: int):
        self.root = root
        # Last CPU ticks seen per compiler thread: a thread the JVM ends
        # keeps its ticks in its process's total, so it keeps them here.
        self._jit: dict[tuple[int, str], int] = {}

    def _scan_jit(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            st = _stat_file(f"/proc/{pid}/task/{tid}/stat")
            if st and st[1].startswith(_JIT_THREADS):
                self._jit[(pid, tid)] = int(st[2][11]) + int(st[2][12])

    def read(self) -> tuple[float, float]:
        """(CPU seconds outside the JIT compilers, CPU seconds in them)."""
        total = 0
        for pid, (comm, f) in descendants(self.root).items():
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            if comm == "java":
                self._scan_jit(pid)
        jit = sum(self._jit.values())
        return (total - jit) / _CLK, jit / _CLK


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds of the Python processes below the JVM, with
    reaped children folded in through cutime/cstime."""
    total = 0
    for pid, (comm, f) in descendants(root).items():
        if pid != root and comm.startswith("python"):
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def calibration_cpu_s() -> float:
    """CPU seconds this thread takes for a fixed piece of work that uses
    neither the engine nor its data: interpreter loops, a sort and a
    hash. It tracks how fast the host runs instructions right now."""
    import hashlib
    import random

    rng = random.Random(0)
    data = [rng.random() for _ in range(20000)]
    blob = bytes(range(256)) * 4096
    t0 = time.thread_time()
    for _ in range(5):
        acc = 0
        for i in range(60000):
            acc ^= (i * 2654435761) & 0xFFFF
        sorted(data)
        {i: x for i, x in enumerate(data)}
        hashlib.sha256(blob).digest()
    return time.thread_time() - t0


class MemorySampler:
    """Samples the process tree's memory in a thread and keeps the peak."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root, self.period = root, period_s
        self.peak_mb = 0.0
        # CPU seconds the sampling itself used, so that item CPU times
        # can leave it out: it grows with wall time, not with the work.
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            t0 = time.thread_time()
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self.cpu_s += time.thread_time() - t0
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))


_FINAL_PLAN = re.compile(r"== Final Plan ==(.*?)(== Initial Plan ==|\Z)", re.S)
_EXCHANGE = re.compile(r"^[\s:+\-|*]*(Broadcast)?Exchange\b", re.M)


def count_exchanges(plan: str) -> int:
    """Exchange nodes in an executed plan; for an adaptive plan only its
    final plan counts. Reused exchanges are not new exchanges."""
    m = _FINAL_PLAN.search(plan)
    return len(_EXCHANGE.findall(m.group(1) if m else plan))


class _PlanListener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def _record(self, qe):
        if not self.tracer.on:
            return
        phases = qe.tracker().phases()
        c = self.tracer.counts
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                c[f"plan.{name}_ms"] += p.get().durationMs()
        c["plan.exchanges"] += count_exchanges(qe.executedPlan().toString())

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        if self.tracer.on:
            self.tracer.counts["stream.queries"] += 1

    def onQueryProgress(self, event):
        if not self.tracer.on:
            return
        p = event.progress
        d = p.durationMs
        c = self.tracer.counts
        c["stream.batches"] += 1
        c["stream.trigger_ms"] += d.get("triggerExecution", 0)
        c["stream.add_batch_ms"] += d.get("addBatch", 0)
        c["stream.query_planning_ms"] += d.get("queryPlanning", 0)
        c["stream.wal_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        for op in p.stateOperators:
            c["stream.state_commit_ms"] += op.commitTimeMs
        self.tracer.state_rows[str(p.id)] = sum(op.numRowsTotal for op in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


class Tracer:
    """Per-item layer counters for one Spark session.

    ``counts`` accumulates while ``on`` is set; ``item()`` attributes the
    jobs and stages that ran since the previous call to the item just
    finished, reading Spark's UI REST API once the listener bus drained.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.on = False
        self.counts: Counter = Counter()
        self.state_rows: dict[str, int] = {}
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self._api = f"http://localhost:{port}/api/v1/applications/{self.sc.applicationId}"
        self._last_job = -1
        self._wrapped: list[tuple[object, str, object]] = []

    # -- installation ---------------------------------------------------
    def install(self):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._plan_listener = _PlanListener(self)
        self.spark._jsparkSession.listenerManager().register(self._plan_listener)
        self._stream_listener = _StreamListener(self)
        self.spark.streams.addListener(self._stream_listener)
        self._wrap_local_checkpoint()
        self._wrap_load_table()

    def uninstall(self):
        for owner, attr, orig in reversed(self._wrapped):
            setattr(owner, attr, orig)
        self._wrapped.clear()
        self.spark.streams.removeListener(self._stream_listener)
        self.spark._jsparkSession.listenerManager().unregister(self._plan_listener)

    def _wrap(self, owner, attr, wrapper):
        orig = getattr(owner, attr)
        self._wrapped.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def _wrap_local_checkpoint(self):
        # The session's concrete DataFrame class (classic PySpark defines
        # its own subclass), not the abstract pyspark.sql.DataFrame.
        DataFrame = type(self.spark.range(0))
        tracer = self

        def wrapper(orig):
            def local_checkpoint(self, *a, **kw):
                if tracer.on:
                    tracer.counts["build.local_checkpoints"] += 1
                return orig(self, *a, **kw)

            return local_checkpoint

        self._wrap(DataFrame, "localCheckpoint", wrapper)

    def _wrap_load_table(self):
        """Count and time ``sources.load_table``. Operator modules bind the
        function at import, so every module-level reference is replaced."""
        import sys

        from distributed_map_reduce_spark.sources import tables

        orig = tables.load_table
        tracer = self

        def wrapper(_):
            def load_table(*a, **kw):
                if not tracer.on:
                    return orig(*a, **kw)
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    tracer.counts["sources.load_table_calls"] += 1
                    tracer.counts["sources.load_table_s"] += time.perf_counter() - t0

            return load_table

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith("distributed_map_reduce_spark") and getattr(mod, "load_table", None) is orig:
                self._wrap(mod, "load_table", wrapper)

    # -- per item ---------------------------------------------------------
    def mark(self):
        """Start a traced pass: forget every job so far and zero the counters."""
        self.sync()
        jobs = _get(f"{self._api}/jobs")
        self._last_job = max((j["jobId"] for j in jobs), default=self._last_job)
        self.counts.clear()
        self.state_rows.clear()

    def sync(self):
        """Wait until the listener bus delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def item(self, exec_group: str, cores: int, wall_s: float, mr: bool):
        """Attribute the jobs since the last call to the item just run."""
        self.sync()
        jobs = [j for j in _get(f"{self._api}/jobs") if j["jobId"] > self._last_job]
        if not jobs:
            return
        self._last_job = max(j["jobId"] for j in jobs)
        c = self.counts
        stage_ids = set()
        for j in jobs:
            group = j.get("jobGroup")
            if group == exec_group:
                c["exec.jobs"] += 1
            else:
                c["build.jobs"] += 1
                if not group:
                    c["build.stream_thread_jobs"] += 1
            stage_ids.update(j.get("stageIds", []))
        for sid in sorted(stage_ids):
            for st in _get(f"{self._api}/stages/{sid}"):
                if st["status"] == "SKIPPED":
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                c["exec.failed_tasks"] += st["numFailedTasks"]
                c["exec.task_run_s"] += st["executorRunTime"] / 1e3
                c["exec.task_cpu_s"] += st["executorCpuTime"] / 1e9
                c["exec.gc_s"] += st["jvmGcTime"] / 1e3
                c["exec.input_mb"] += st["inputBytes"] / 2**20
                c["exec.shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                c["exec.shuffle_records"] += st["shuffleWriteRecords"]
                c["exec.spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 2**20
                if mr:
                    c["mr.records_shuffled"] += st["shuffleWriteRecords"]
                if st["numCompleteTasks"] >= 2:
                    q = _get(
                        f"{self._api}/stages/{sid}/{st['attemptId']}"
                        "/taskSummary?quantiles=0.5,1.0"
                    )["executorRunTime"]
                    if q[0] > 0:
                        c["exec.stage_skew_max"] = max(c["exec.stage_skew_max"], q[1] / q[0])
        c["core_s"] += wall_s * cores
