#!/usr/bin/env python3
"""Layered benchmark of the MR engine.

    python3 perfbench/run.py --workload mr_apps --seed 1 --seconds 25 --trace 0

One closed-loop client: a single Python process at ``local[<nproc>]``
runs the workload's items one after another. It imports the engine and
times calls into its public functions (``get_spark``, ``all_queries``,
``QuerySpec.build``, ``map_reduce``, the noop write, and the ``dedup`` /
``streaming.warmup`` set-up calls).

A run: write the fixed input tables if the checkout has none yet; start
and provision the session (``setup_s``); run every item once cold in
its declared order (``first_pass_cpu_s``), checking each output outside
the timed region; then run warm passes in the seed's order
(``pass_cpu_s``). The run stops once ``--seconds``
have passed since the cold pass began, at least ``MIN_WARM_PASSES`` warm
passes are done and at least ``summary.MIN_TAIL_SAMPLES`` item latencies
exist. An item's cost is the CPU time of the whole process tree while it
runs, less the JVM's JIT compiler threads, scaled to a reference host
speed by a calibration work timed just before the item (see
``summary``); the JIT's CPU and the wall time are per-layer metrics.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced and untraced warm passes and prints the per-layer metrics, each
a per-pass total over the traced passes, the wall-clock figures
(``wall.*``) and the tracing overhead.

The last stdout line is one JSON object with keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries the
run context and what each metric rests on. Everything the run writes
stays under ``<checkout>/.bench``. The exit code is 1 when a checked
output is wrong or an item failed, 2 when the engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import summary  # noqa: E402
from probes import (  # noqa: E402
    CpuMeter,
    MemorySampler,
    Tracer,
    calibration_cpu_s,
    descendants,
    python_worker_cpu_s,
)
from workloads import (  # noqa: E402
    MR_CORPUS_APPS,
    MR_REGISTRY_ITEMS,
    PREDICTIONS,
    WORKLOADS,
    item_order,
)

PACKAGE = "distributed_map_reduce_spark"
WORK = os.path.join(ROOT, ".bench")
DATA_DIR = os.path.join(WORK, "data", f"sf0.01-{datagen.source_digest()[:12]}")
ORACLE_DIR = os.path.join(WORK, "oracle")
ITEM_TIMEOUT_S = 60
# Warm passes an untraced run makes at least. The CPU metrics use these
# first ones only: the JIT is still warming, so a later pass costs less,
# and how many passes fit in the run depends on the host's load.
MIN_WARM_PASSES = 2
# Per traced item, build + exec must cover the item's wall time to this
# share; the rest is the benchmark's own bookkeeping between them.
ACCOUNTING_TOLERANCE = 0.05


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of this process, the JVM and Python
    workers into the run's own directory."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "warehouse", "local")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return dirs


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


@dataclass
class Item:
    name: str
    build: Callable  # () -> DataFrame
    check: Callable  # DataFrame -> None, or the reason the output is wrong
    mr: bool  # runs through map_reduce()


@dataclass
class ItemRun:
    build_s: float
    exec_s: float
    wall_s: float
    cpu_s: float  # CPU of the process tree, JIT compilers left out
    jit_s: float  # CPU of the JIT compilers
    calib_s: float  # the calibration work's time just before the item
    df: object
    exec_group: str


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, dirs: dict):
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.workload = WORKLOADS[workload]
        self.dirs = dirs
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.attempted = self.failed = self.checked = self.correct = 0
        self.mr_sequential_s = 0.0
        self.errors: list[str] = []
        # Diagnostics for the results file: per item run (name, pass,
        # build_s, exec_s), check times, and when each phase ended.
        self.samples: list[tuple[str, str, float, float]] = []
        self.check_s: dict[str, float] = {}
        self.marks: dict[str, float] = {}
        self._t0 = time.perf_counter()
        self.pid = os.getpid()
        self.cpu = CpuMeter(self.pid)
        self.calib: list[float] = []

    def _mark(self, name: str):
        self.marks[name] = time.perf_counter() - self._t0

    # -- set-up ----------------------------------------------------------------
    def _items(self, queries, answers: dict, spark) -> list[Item]:
        from distributed_map_reduce_spark.operators import mapreduce

        corpus = datagen.make_corpus(self.seed)
        # sorted-values input, one per corpus line: key = the line's first
        # word, value = the line's id
        keyed_lines = [
            (f"{name}:{i}", f"{line.split(' ', 1)[0]}\x00{name}:{i}")
            for name, contents in corpus
            for i, line in enumerate(contents.split("\n"))
        ]
        pinned = checks.load_pinned()
        items = []
        for name in self.workload.items:
            if name in MR_CORPUS_APPS:
                mapf, reducef = (getattr(mapreduce, f) for f in MR_CORPUS_APPS[name])
                inputs = keyed_lines if name == "mr_sorted_values" else corpus

                def build(inputs=inputs, mapf=mapf, reducef=reducef):
                    return mapreduce.map_reduce(spark, inputs, mapf, reducef)

                def check(df, inputs=inputs, mapf=mapf, reducef=reducef):
                    t0 = time.perf_counter()
                    expected = checks.sequential_fold(inputs, mapf, reducef)
                    self.mr_sequential_s += time.perf_counter() - t0
                    return checks.against_fold(df, expected)

                items.append(Item(name, build, check, True))
                continue
            if name in answers:
                def check(df, expected=answers[name]):
                    return checks.against_oracle(df, expected)
            else:
                def check(df, pin=pinned[name]):
                    return checks.against_pin(df, pin)

            def build(spec=queries[name]):
                return spec.build(spark, DATA_DIR)

            items.append(Item(name, build, check, name in MR_REGISTRY_ITEMS))
        return items

    def _setup(self) -> tuple[object, dict[str, float]]:
        from distributed_map_reduce_spark.session import get_spark

        steps: dict[str, float] = {}
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            master=self.master,
            extra_conf={
                "spark.sql.warehouse.dir": self.dirs["warehouse"],
                "spark.local.dir": self.dirs["local"],
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs['tmp']}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        steps["session"] = time.perf_counter() - t0
        # The warmup bench.py runs: JVM scan path, then one Python worker
        # with Arrow, so neither is billed to the first item.
        t0 = time.perf_counter()
        spark.read.parquet(f"{DATA_DIR}/region.parquet").count()
        spark.range(4).mapInPandas(lambda it: it, "id long").count()
        steps["warmup"] = time.perf_counter() - t0
        for step in self.workload.setup:
            t0 = time.perf_counter()
            if step == "pair_store":
                from distributed_map_reduce_spark.operators import dedup

                dedup.write_pair_store(spark, DATA_DIR)
            elif step == "stream_machinery":
                from distributed_map_reduce_spark.streaming.warmup import (
                    warm_streaming_machinery,
                )

                warm_streaming_machinery(spark)
            else:
                raise ValueError(f"unknown set-up step {step!r}")
            steps[step] = time.perf_counter() - t0
        return spark, steps

    # -- resources -------------------------------------------------------------
    def _resources(self, spark) -> dict[str, set]:
        """What a build can leave behind: checkpoint dirs, catalog tables
        and views, warehouse table dirs, active streams, persisted RDDs."""
        tables = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        for db in spark.catalog.listDatabases():
            tables.update(
                f"{db.name}.{t.name}"
                for t in spark.catalog.listTables(db.name)
                if not t.isTemporary
            )
        wh = self.dirs["warehouse"]
        for d in os.listdir(wh):
            if d.endswith(".db"):
                tables.update(f"{d[:-3]}.{t}" for t in os.listdir(os.path.join(wh, d)))
            else:
                tables.add(f"default.{d}")
        return {
            "tmp_dirs": {d for d in os.listdir(self.dirs["tmp"]) if d.startswith("dmrs_")},
            "tables": tables,
            "streams": {q.id for q in spark.streams.active},
            "persisted_rdds": {str(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()},
        }

    # -- items -----------------------------------------------------------------
    def _run_item(self, spark, item: Item, tag: str) -> ItemRun | None:
        """Build and execute one item with the noop sink; None when it
        failed or timed out."""
        sc = spark.sparkContext
        group = f"perfbench.{tag}.{item.name}"
        timer = threading.Timer(
            ITEM_TIMEOUT_S,
            lambda: [sc.cancelJobGroup(group + phase) for phase in (".build", ".exec")],
        )
        self.attempted += 1
        timer.start()
        # Outside the item's window: the host's speed just before it.
        calib = calibration_cpu_s()
        self.calib.append(calib)
        cpu0, jit0 = self.cpu.read()
        cpu0 -= self.mem.cpu_s
        start = time.perf_counter()
        try:
            sc.setJobGroup(group + ".build", item.name)
            t0 = time.perf_counter()
            df = item.build()
            t1 = time.perf_counter()
            sc.setJobGroup(group + ".exec", item.name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed item is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{item.name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - start
        cpu, jit = self.cpu.read()
        cpu -= self.mem.cpu_s + cpu0
        jit -= jit0
        self.samples.append((item.name, tag, t1 - t0, t2 - t1, cpu, jit, calib))
        return ItemRun(t1 - t0, t2 - t1, wall, cpu, jit, calib, df, group + ".exec")

    def _check(self, item: Item, df):
        self.checked += 1
        t0 = time.perf_counter()
        try:
            problem = item.check(df)
        except Exception as e:  # noqa: BLE001 - a check that raises is a failed check
            problem = f"check raised {type(e).__name__}: {str(e)[:300]}"
        self.check_s[item.name] = time.perf_counter() - t0
        if problem is None:
            self.correct += 1
        else:
            self.errors.append(f"{item.name}: wrong output: {problem}")

    # -- the run ---------------------------------------------------------------
    def run(self) -> dict:
        import pyspark

        load_start = os.getloadavg()
        t0 = time.perf_counter()
        from distributed_map_reduce_spark.registry import all_queries

        queries = all_queries()
        import_s = time.perf_counter() - t0
        oracle = checks.Oracle(DATA_DIR, datagen.TABLE_NAMES, ORACLE_DIR)
        answers = {
            n: oracle.answer(queries[n].oracle)
            for n in self.workload.items
            if n in queries and queries[n].oracle is not None
        }
        oracle.close()
        self._mark("imported")

        with MemorySampler(self.pid) as mem:
            self.mem = mem
            spark, steps = self._setup()
            self._mark("set_up")
            sc = spark.sparkContext
            # The cold pass visits the items in their declared order, so
            # its total does not depend on which item pays the session's
            # first-use costs; the seed orders the warm passes.
            items = self._items(queries, answers, spark)
            by_name = {it.name: it for it in items}
            warm_order = [by_name[n] for n in item_order(self.workload.items, self.seed)]
            tracer = Tracer(spark) if self.trace else None
            if tracer:
                tracer.install()
            before = self._resources(spark)
            self._mark("snapshot")

            t0 = time.perf_counter()
            first = first_jit = 0.0
            cold_cpu: list[tuple[float, float]] = []
            latencies: list[float] = []
            for it in items:
                r = self._run_item(spark, it, "p0")
                if r is None:
                    self.checked += 1
                    continue
                first += r.wall_s
                cold_cpu.append((r.cpu_s, r.calib_s))
                first_jit += r.jit_s
                latencies.append(r.wall_s)
                self._check(it, r.df)
            self._mark("first_pass")

            warm_passes: list[float] = []
            traced_passes: list[dict] = []
            untraced_walls: list[float] = []
            warm_cpu: list[tuple[str, float, float]] = []
            warm_jit: list[tuple[str, float]] = []
            unaccounted = 0.0
            p = 0
            while True:
                if self.trace:
                    enough = len(traced_passes) >= 1 and len(untraced_walls) >= 1
                else:
                    enough = len(warm_passes) >= MIN_WARM_PASSES
                enough = enough and len(latencies) >= summary.MIN_TAIL_SAMPLES
                if enough and time.perf_counter() - t0 >= self.seconds:
                    break
                p += 1
                traced = tracer is not None and p % 2 == 1
                if traced:
                    tracer.mark()
                    tracer.on = True
                    cpu0 = python_worker_cpu_s(os.getpid())
                wall = 0.0
                for it in warm_order:
                    r = self._run_item(spark, it, f"p{p}")
                    if r is None:
                        continue
                    wall += r.wall_s
                    latencies.append(r.wall_s)
                    if not traced and len(warm_passes) < MIN_WARM_PASSES:
                        warm_cpu.append((it.name, r.cpu_s, r.calib_s))
                        warm_jit.append((it.name, r.jit_s))
                    if traced:
                        tracer.counts["build.s"] += r.build_s
                        tracer.counts["exec.s"] += r.exec_s
                        tracer.item(r.exec_group, self.cores, r.wall_s, it.mr)
                        unaccounted = max(
                            unaccounted, (r.wall_s - r.build_s - r.exec_s) / r.wall_s
                        )
                if traced:
                    tracer.on = False
                    tracer.sync()
                    c = dict(tracer.counts)
                    c["exec.python_cpu_s"] = python_worker_cpu_s(os.getpid()) - cpu0
                    c["stream.state_rows"] = sum(tracer.state_rows.values())
                    c["wall"] = wall
                    traced_passes.append(c)
                elif tracer is not None:
                    untraced_walls.append(wall)
                warm_passes.append(wall)
            self._mark("warm_passes")

            after = self._resources(spark)
            java = sc._jvm.System.getProperty("java.version")
            app_id = sc.applicationId
            if tracer:
                tracer.uninstall()
            _shutdown(spark)
            self._mark("stopped")

        passes = 1 + len(warm_passes)
        left = {k: len(after[k] - before[k]) / passes for k in before}
        context = {
            "workload": self.name,
            "items": list(self.workload.items),
            "warm_order": [it.name for it in warm_order],
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "nproc": self.cores,
            "master": self.master,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "pyspark": pyspark.__version__,
            "java": java,
            "python": sys.version.split()[0],
            "app_id": app_id,
            "tables": {"dir": os.path.relpath(DATA_DIR, ROOT), "seed": datagen.TABLES_SEED},
            "corpus": {
                "files": datagen.CORPUS_FILES,
                "words_per_file": datagen.CORPUS_WORDS_PER_FILE,
                "vocabulary": datagen.CORPUS_VOCAB,
                "zipf_s": datagen.CORPUS_ZIPF_S,
                "sha256": datagen.corpus_digest(datagen.make_corpus(self.seed)),
            },
            "warm_passes": len(warm_passes),
            "phase_end_s": self.marks,
            "check_s": self.check_s,
            "resources_left": {k: sorted(map(str, after[k] - before[k]))[:20] for k in before},
            "errors": self.errors,
            "predictions": PREDICTIONS,
        }
        rec = {
            "setup_s": [sum(steps.values())],
            "first_pass_s": first,
            "cold_cpu_s": cold_cpu,
            "first_pass_jit_s": first_jit,
            "warm_passes_s": warm_passes,
            "warm_cpu_s": warm_cpu,
            "warm_jit_s": warm_jit,
            "calibration_s": self.calib,
            "items_s": latencies,
            "attempted": self.attempted,
            "failed": self.failed,
            "checked": self.checked,
            "correct": self.correct,
            "peak_pss_mb": mem.peak_mb,
        }
        if not self.trace:
            metrics = summary.render(summary.end_to_end(rec), summary.END_TO_END)
            context["annotations"] = summary.annotations(rec)
        else:
            metrics = summary.render(
                summary.per_layer(
                    steps, import_s, traced_passes, untraced_walls, left,
                    unaccounted, self.mr_sequential_s,
                    rec,
                ),
                summary.PER_LAYER,
            )
            context["annotations"] = {
                "per_pass": "median over traced warm passes of each pass total",
                "traced_passes": len(traced_passes),
                "untraced_passes": len(untraced_walls),
                "accounting_tolerance": ACCOUNTING_TOLERANCE,
                "accounted": unaccounted <= ACCOUNTING_TOLERANCE,
                "exec.core_util": summary.ratio(
                    statistics.median(c.get("exec.task_run_s", 0.0) for c in traced_passes),
                    statistics.median(c["core_s"] for c in traced_passes),
                ),
            }
        return {"context": context, "record": rec, "metrics": metrics, "samples": self.samples}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    datagen.write_tables(DATA_DIR)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = _isolate(run_dir)
    try:
        out = Run(args.workload, args.seed, args.seconds, bool(args.trace), dirs).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    rec = out["record"]
    ok = rec["failed"] == 0 and rec["correct"] == rec["checked"]
    print(json.dumps({"context": out["context"]}, default=str, separators=(",", ":")))
    print(json.dumps({
        "correct": ok,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": out["metrics"],
    }, separators=(",", ":")))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
