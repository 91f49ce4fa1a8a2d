"""Turn a run's raw samples into the named metrics the benchmark prints.

Pure functions over plain data, so the rules (tail percentile, ratio
bases, metric names) are tested without a Spark session.
"""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# Candidate tail percentiles, highest first. The reported tail is the
# highest one that leaves at least MIN_BEYOND samples above it.
TAIL_LADDER = (99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_BEYOND = 10
# The smallest sample that supports any rung of the ladder (p50).
MIN_TAIL_SAMPLES = 2 * MIN_BEYOND

# Item costs are CPU seconds of the whole process tree (driver, JVM,
# Python workers) less the JVM's JIT compiler threads, not wall seconds:
# on a shared host the wall time of the same run moves by 40% with the
# neighbours' load. CPU time still moves with how fast the host runs
# instructions (shared cores and caches, clock), within a run from one
# second to the next and by 10-20% between runs, so each item's CPU time
# is scaled to a reference speed: by CALIBRATION_REF_S over the time a
# fixed calibration work (``probes.calibration_cpu_s``) took just before
# the item. On a 4-vCPU Xeon VM this cut the spread (IQR / median) of
# ten runs' first-pass CPU from 0.19 to 0.06 on mr_apps.
# The wall-clock twins, the JIT's CPU and the calibration itself are
# per-layer metrics (``wall.*``, ``jit.*``, ``host.*``).
CALIBRATION_REF_S = 0.070
END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "correct_ratio": "ratio",
    "ok_ratio": "ratio",
    "peak_pss_mb": "MB",
}

PER_LAYER = {
    # setup
    "registry.import_s": "s",
    "setup.session_s": "s",
    "setup.warmup_s": "s",
    "setup.pair_store_s": "s",
    "setup.stream_machinery_s": "s",
    # build (the operators.* / streaming.* build functions)
    "build.s": "s",
    "build.jobs": "count",
    "build.stream_thread_jobs": "count",
    "build.local_checkpoints": "count",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    # Catalyst
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.exchanges": "count",
    # execution (Spark stage metrics)
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_util": "ratio",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_records": "count",
    "exec.spill_mb": "MB",
    "exec.stage_skew_max": "ratio",
    "exec.failed_tasks": "count",
    # MR
    "exec.python_cpu_s": "s",
    "mr.records_shuffled": "count",
    "mr.sequential_s": "s",
    # streaming
    "stream.queries": "count",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    # resources left behind, per pass over the items
    "resources.tmp_dirs_left": "count",
    "resources.tables_left": "count",
    "resources.streams_left": "count",
    "resources.persisted_rdds_left": "count",
    "resources.leaked": "count",
    # the host: median time of the calibration work (see CALIBRATION_REF_S)
    "host.calibration_ms": "ms",
    # the JVM's JIT compiler threads, left out of the end-to-end CPU
    "jit.first_pass_cpu_s": "s",
    "jit.pass_cpu_s": "s",
    # wall-clock twins of the end-to-end CPU metrics
    "wall.first_pass_s": "s",
    "wall.pass_s": "s",
    "wall.query_p50_s": "s",
    "wall.query_tail_s": "s",
    # the trace itself
    "trace.overhead_ratio": "ratio",
    "trace.unaccounted_max": "ratio",
}


def nearest_rank(values: list[float], q: float) -> float:
    """The q-th percentile by the nearest-rank rule: the smallest sample
    with at least q% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie above the nearest-rank q-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_level(n: int) -> float | None:
    """The highest ladder percentile with at least MIN_BEYOND samples
    beyond it, or None when n is too small for any rung."""
    for q in TAIL_LADDER:
        if samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def tail(values: list[float]) -> dict:
    """The tail latency with the percentile and sample count it rests on."""
    q = tail_level(len(values))
    if q is None:
        raise ValueError(
            f"{len(values)} samples support no tail percentile; "
            f"at least {MIN_TAIL_SAMPLES} are needed"
        )
    return {
        "value": nearest_rank(values, q),
        "percentile": q,
        "samples": len(values),
        "beyond": samples_beyond(len(values), q),
    }


def ratio(num: float, base: float) -> dict:
    """A ratio always travels with its numerator and base."""
    if base <= 0:
        raise ValueError(f"ratio with non-positive base {base}")
    return {"value": num / base, "num": num, "base": base}


def typical_pass(samples: list[tuple[str, float]]) -> float:
    """A warm pass from (item, cost) samples: the sum over items of each
    item's lowest cost. Interference only ever adds cost (a GC cycle, a
    Python worker forked anew, the host), and with two warm samples an
    item's median is their mean, which one such spike moves by half."""
    by_item: dict[str, list[float]] = {}
    for name, v in samples:
        by_item.setdefault(name, []).append(v)
    return sum(min(v) for v in by_item.values())


def at_reference(cpu_s: float, calibration_s: float) -> float:
    """A CPU time as it would read on the reference host, given how long
    the calibration work took just before it."""
    return cpu_s * CALIBRATION_REF_S / calibration_s


def end_to_end(run: dict) -> dict:
    """Metrics a user of the engine sees, from an untraced run record.

    ``run`` holds: ``setup_s`` (one value per setup in the run),
    ``cold_cpu_s`` ((CPU seconds, calibration seconds) per item of the
    cold pass), ``warm_cpu_s`` ((item, CPU seconds, calibration seconds)
    for every item run of the first warm passes), ``calibration_s`` (every
    calibration of the run), ``items_s`` (the wall latency of every timed
    item run, cold pass included), the item counts
    ``checked``/``correct``/``attempted``/``failed`` and ``peak_pss_mb``.
    """
    return {
        "setup_s": statistics.median(run["setup_s"]),
        "first_pass_cpu_s": sum(at_reference(c, k) for c, k in run["cold_cpu_s"]),
        "pass_cpu_s": typical_pass([(n, at_reference(c, k)) for n, c, k in run["warm_cpu_s"]]),
        "correct_ratio": ratio(run["correct"], run["checked"])["value"],
        "ok_ratio": ratio(run["attempted"] - run["failed"], run["attempted"])["value"],
        "peak_pss_mb": run["peak_pss_mb"],
    }


def annotations(run: dict) -> dict:
    """What the bare metric values rest on: the base of every ratio, the
    sample counts, and the wall-clock figures of the same run with the
    tail's percentile and sample count."""
    return {
        "correct_ratio": ratio(run["correct"], run["checked"]),
        "ok_ratio": ratio(run["attempted"] - run["failed"], run["attempted"]),
        "pass_cpu_s": {
            "passes": len(run["warm_passes_s"]),
            "unscaled": typical_pass([(n, c) for n, c, _ in run["warm_cpu_s"]]),
        },
        "first_pass_cpu_s": {"unscaled": sum(c for c, _ in run["cold_cpu_s"])},
        "calibration": {
            "median_s": statistics.median(run["calibration_s"]),
            "samples": len(run["calibration_s"]),
            "reference_s": CALIBRATION_REF_S,
        },
        "setup_s": {"setups": len(run["setup_s"])},
        "wall": {
            "first_pass_s": run["first_pass_s"],
            "pass_s": statistics.median(run["warm_passes_s"]),
            "query_p50_s": statistics.median(run["items_s"]),
            "query_tail_s": tail(run["items_s"]),
        },
    }


def per_layer(
    steps: dict[str, float],
    import_s: float,
    traced: list[dict],
    untraced_walls: list[float],
    left: dict[str, float],
    unaccounted: float,
    mr_sequential_s: float,
    run: dict,
) -> dict:
    """Layer metrics of a traced run.

    ``traced`` holds one dict of counter totals per traced warm pass
    (keys from PER_LAYER, plus ``core_s``, the pass's item wall time
    times cores, and ``wall``); each metric is the median over those
    passes. ``steps`` are the run's set-up step times, ``left`` the
    resources left behind per pass, and ``untraced_walls`` the walls of
    the untraced warm passes the tracing overhead is measured against.
    ``run`` is the run record (see ``end_to_end``), with the JIT's CPU in
    ``first_pass_jit_s`` and ``warm_jit_s``.
    """

    def med(key):
        return statistics.median(c.get(key, 0.0) for c in traced)

    out = {name: med(name) for name in PER_LAYER}
    out["exec.stage_skew_max"] = max(c.get("exec.stage_skew_max", 0.0) for c in traced)
    out["exec.core_util"] = ratio(med("exec.task_run_s"), med("core_s"))["value"]
    out["registry.import_s"] = import_s
    for step in ("session", "warmup", "pair_store", "stream_machinery"):
        out[f"setup.{step}_s"] = steps.get(step, 0.0)
    out["mr.sequential_s"] = mr_sequential_s
    for kind in ("tmp_dirs", "tables", "streams", "persisted_rdds"):
        out[f"resources.{kind}_left"] = left[kind]
    out["resources.leaked"] = sum(left.values())
    out["trace.overhead_ratio"] = ratio(med("wall"), statistics.median(untraced_walls))["value"]
    out["trace.unaccounted_max"] = unaccounted
    out["host.calibration_ms"] = statistics.median(run["calibration_s"]) * 1e3
    out["jit.first_pass_cpu_s"] = run["first_pass_jit_s"]
    out["jit.pass_cpu_s"] = typical_pass(run["warm_jit_s"])
    out["wall.first_pass_s"] = run["first_pass_s"]
    out["wall.pass_s"] = statistics.median(untraced_walls)
    out["wall.query_p50_s"] = statistics.median(run["items_s"])
    out["wall.query_tail_s"] = tail(run["items_s"])["value"]
    return out


def render(values: dict, units: dict) -> dict:
    """{name: value} -> {name: {"value", "unit"}}, checking that exactly
    the declared names are present and every value is a finite number."""
    if set(values) != set(units):
        missing = sorted(set(units) - set(values))
        extra = sorted(set(values) - set(units))
        raise ValueError(f"metric set mismatch: missing={missing} extra={extra}")
    out = {}
    for name, unit in units.items():
        v = values[name]
        if not NAME_RE.fullmatch(name) or not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} is not a finite number: {v!r}")
        out[name] = {"value": v, "unit": unit}
    return out
