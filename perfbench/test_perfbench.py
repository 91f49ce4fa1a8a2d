"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import summary  # noqa: E402
from workloads import PREDICTIONS, WORKLOADS, item_order  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


# -- seeded inputs ----------------------------------------------------------

def test_same_seed_gives_identical_corpus_and_order():
    a, b = datagen.make_corpus(11), datagen.make_corpus(11)
    assert a == b
    assert datagen.corpus_digest(a) == datagen.corpus_digest(b)
    for w in WORKLOADS.values():
        assert item_order(w.items, 11) == item_order(w.items, 11)


def test_different_seed_gives_different_corpus_and_order():
    assert datagen.corpus_digest(datagen.make_corpus(11)) != datagen.corpus_digest(
        datagen.make_corpus(12)
    )
    for w in WORKLOADS.values():
        orders = {tuple(item_order(w.items, s)) for s in range(11, 16)}
        assert len(orders) > 1
        assert all(sorted(o) == sorted(w.items) for o in orders)


def test_tables_are_a_pure_function_of_their_seed():
    a, b = datagen.build_tables(), datagen.build_tables()
    assert sorted(a) == sorted(datagen.TABLE_NAMES)
    assert all(a[t].equals(b[t]) for t in a)
    for t, n in datagen.ROWS.items():
        assert a[t].num_rows == n


def test_corpus_words_follow_a_skewed_law():
    from collections import Counter

    counts = Counter(w for _, text in datagen.make_corpus(3) for w in text.split())
    top = [c for _, c in counts.most_common(10)]
    assert top[0] > 5 * top[-1]  # Zipf(1.1): rank 1 is ~12x rank 10
    assert len(counts) > datagen.CORPUS_VOCAB / 2


# -- summary logic ----------------------------------------------------------

@pytest.mark.parametrize(
    "n,level",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (49, 75.0), (50, 80.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_level_leaves_at_least_ten_samples_beyond(n, level):
    assert summary.tail_level(n) == level
    if level is not None:
        assert summary.samples_beyond(n, level) >= summary.MIN_BEYOND
        higher = [q for q in summary.TAIL_LADDER if q > level]
        assert all(summary.samples_beyond(n, q) < summary.MIN_BEYOND for q in higher)


def test_tail_reports_percentile_and_sample_count():
    values = [float(i) for i in range(1, 101)]
    t = summary.tail(values)
    assert t == {"value": 90.0, "percentile": 90.0, "samples": 100, "beyond": 10}
    assert sum(v > t["value"] for v in values) == t["beyond"]
    with pytest.raises(ValueError):
        summary.tail(values[:19])


CAL = summary.CALIBRATION_REF_S


def _record(n_items=22):
    return {
        "setup_s": [20.0],
        "first_pass_s": 12.0,
        "cold_cpu_s": [(30.0, CAL), (10.0, CAL)],
        "warm_passes_s": [8.0, 7.5],
        "warm_cpu_s": [("a", 3.0, CAL), ("b", 1.0, CAL), ("a", 2.0, CAL), ("b", 1.5, CAL)],
        "first_pass_jit_s": 20.0,
        "warm_jit_s": [("a", 1.0), ("b", 0.5), ("a", 0.0), ("b", 0.5)],
        "calibration_s": [CAL] * 4,
        "items_s": [0.1 * (i + 1) for i in range(n_items)],
        "attempted": 33,
        "failed": 1,
        "checked": 11,
        "correct": 10,
        "peak_pss_mb": 1500.0,
    }


def test_every_ratio_is_reported_with_its_base():
    notes = summary.annotations(_record())
    ratios = [n for n, u in summary.END_TO_END.items() if u == "ratio"]
    assert ratios
    for name in ratios:
        assert {"value", "num", "base"} <= set(notes[name])
        assert notes[name]["value"] == notes[name]["num"] / notes[name]["base"]
    assert notes["correct_ratio"]["base"] == 11
    assert notes["ok_ratio"] == {"value": 32 / 33, "num": 32, "base": 33}
    with pytest.raises(ValueError):
        summary.ratio(1, 0)


def test_every_name_is_well_formed():
    names = (
        list(summary.END_TO_END) + list(summary.PER_LAYER) + list(WORKLOADS)
        + [m["name"] for key in ("end_to_end", "per_layer") for m in BENCHMARK[key]]
    )
    for name in names:
        assert summary.NAME_RE.fullmatch(name), name
        assert len(name) <= 64
    assert len(set(names[: len(summary.END_TO_END) + len(summary.PER_LAYER)])) == len(
        summary.END_TO_END
    ) + len(summary.PER_LAYER)


def test_benchmark_json_declares_what_the_benchmark_emits():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == summary.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == summary.PER_LAYER
    e2e = {m["name"]: m for m in BENCHMARK["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def _per_layer(workload):
    steps = {"session": 5.0, "warmup": 6.0}
    steps.update({s: 1.0 for s in WORKLOADS[workload].setup})
    traced = [{"build.s": 3.0, "exec.task_run_s": 8.0, "core_s": 40.0, "wall": 10.0,
               "exec.stage_skew_max": 2.0}]
    left = {"tmp_dirs": 1.0, "tables": 2.0, "streams": 0.0, "persisted_rdds": 0.0}
    run = {**_record(21), "first_pass_s": 12.0}
    return summary.per_layer(steps, 0.2, traced, [9.5], left, 0.001, 0.3, run)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_workload_emits_every_declared_metric(workload):
    e2e = summary.render(summary.end_to_end(_record()), summary.END_TO_END)
    assert set(e2e) == set(summary.END_TO_END)
    layers = summary.render(_per_layer(workload), summary.PER_LAYER)
    assert set(layers) == set(summary.PER_LAYER)
    assert layers["exec.core_util"]["value"] == pytest.approx(0.2)
    assert layers["resources.leaked"]["value"] == 3.0
    assert layers["trace.overhead_ratio"]["value"] == pytest.approx(10.0 / 9.5)
    assert layers["wall.query_tail_s"]["value"] == pytest.approx(1.1)
    assert layers["jit.pass_cpu_s"]["value"] == pytest.approx(0.0 + 0.5)


def test_a_typical_pass_sums_per_item_minima():
    samples = [("a", 3.0), ("b", 1.0), ("a", 2.0), ("b", 9.0)]
    assert summary.typical_pass(samples) == pytest.approx(2.0 + 1.0)
    e2e = summary.end_to_end(_record())
    assert e2e["pass_cpu_s"] == pytest.approx(2.0 + 1.0)


def test_cpu_times_are_scaled_to_the_reference_host_item_by_item():
    # a calibration that takes twice the reference time marks a host
    # running at half speed while that item ran
    rec = {
        **_record(),
        "cold_cpu_s": [(30.0, 2 * CAL), (10.0, CAL)],
        "warm_cpu_s": [("a", 3.0, CAL), ("a", 4.0, 2 * CAL), ("b", 1.0, CAL)],
    }
    e2e = summary.end_to_end(rec)
    assert e2e["first_pass_cpu_s"] == pytest.approx(30.0 / 2 + 10.0)
    assert e2e["pass_cpu_s"] == pytest.approx(4.0 / 2 + 1.0)
    notes = summary.annotations(rec)
    assert notes["first_pass_cpu_s"]["unscaled"] == pytest.approx(40.0)
    assert notes["pass_cpu_s"]["unscaled"] == pytest.approx(3.0 + 1.0)


def test_render_refuses_missing_extra_or_non_finite_metrics():
    values = summary.end_to_end(_record())
    with pytest.raises(ValueError):
        summary.render({k: v for k, v in values.items() if k != "pass_cpu_s"}, summary.END_TO_END)
    with pytest.raises(ValueError):
        summary.render({**values, "extra": 1.0}, summary.END_TO_END)
    with pytest.raises(ValueError):
        summary.render({**values, "pass_cpu_s": float("nan")}, summary.END_TO_END)


def test_predictions_name_only_declared_metrics_and_workloads():
    declared = set(summary.END_TO_END) | set(summary.PER_LAYER)
    for layer in PREDICTIONS.values():
        assert set(layer["metrics"]) <= declared
        for metric, workloads in layer["moves"].items():
            assert metric in declared
            assert set(workloads) <= set(WORKLOADS)
        assert set(layer.get("none", [])) <= set(WORKLOADS)


# -- checks -----------------------------------------------------------------

def test_sequential_fold_matches_reference_semantics():
    def mapf(name, contents):
        return [(w, "1") for w in contents.split()]

    def reducef(key, values):
        return str(len(values))

    out = checks.sequential_fold([("a", "x y x"), ("b", "y x")], mapf, reducef)
    assert out == [("x", "3"), ("y", "2")]


def test_canonical_rows_ignore_column_and_row_order():
    a = checks.canonical_rows(["k", "v"], [("b", 2.0), ("a", -0.0)])
    b = checks.canonical_rows(["v", "k"], [(0.0, "a"), (2.0, "b")])
    assert a == b == ["a|0.0", "b|2.0"]
