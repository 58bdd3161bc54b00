"""Self-test of the benchmark's pure logic; needs neither Spark nor the engine.

    python3 perfbench/test_plan.py        (or: python3 -m pytest perfbench)
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import plan  # noqa: E402
from perfbench.tracing import _union_ms  # noqa: E402


def _spec() -> dict:
    with open(plan.benchmark_json_path()) as f:
        return json.load(f)


def test_same_seed_same_schedule():
    for w in plan.RUNNABLE:
        assert plan.make_schedule(w, 7) == plan.make_schedule(w, 7)


def test_different_seeds_different_schedules():
    for w in plan.RUNNABLE:
        assert plan.make_schedule(w, 7) != plan.make_schedule(w, 8)


def test_schedule_cycles_hold_every_class():
    for w in plan.RUNNABLE:
        sched = plan.make_schedule(w, 3, n_cycles=4)
        for cycle in range(4):
            ops = {r["op"] for r in sched if r["cycle"] == cycle}
            assert ops == set(plan.OP_CLASSES[w]) - {"build"}
        assert plan.INTERACTIVE[w] in plan.OP_CLASSES[w]
    assert plan.make_schedule("ingest", 3)[0]["op"] == "build"


def test_ingest_cycle_order_is_fixed():
    ops = [r["op"] for r in plan.make_schedule("ingest", 5, n_cycles=2)]
    assert ops == ["build", *plan.CYCLES["ingest"], *plan.CYCLES["ingest"]]


def test_percentile_rule_keeps_ten_beyond():
    for n in range(1, 3000):
        p = plan.reportable_percentile(n)
        if p is None:
            assert n - math.ceil(n * 50 / 100) < plan.MIN_BEYOND
            continue
        assert n - math.ceil(n * p / 100) >= plan.MIN_BEYOND
        higher = [q for q in plan.PERCENTILE_LADDER if q > p]
        for q in higher:
            assert n - math.ceil(n * q / 100) < plan.MIN_BEYOND


def test_percentile_rule_examples():
    assert plan.reportable_percentile(19) is None
    assert plan.reportable_percentile(20) == 50
    assert plan.reportable_percentile(100) == 90
    assert plan.reportable_percentile(99) == 75
    assert plan.percentile([3.0, 1.0, 2.0, 4.0], 50) == 2.0


def test_printed_names_match_benchmark_json():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == plan.END_TO_END
    assert plan.declared_metrics(False) == plan.END_TO_END
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == plan.per_layer_units()
    assert plan.declared_metrics(True) == plan.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(plan.WORKLOADS)


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names + [w["name"] for w in spec["workloads"]])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert unit.match(m["unit"]) and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    assert {m["better"] for m in spec["end_to_end"] + spec["per_layer"]} <= {"lower", "higher"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 2 <= len(spec["workloads"]) <= 8 and 1 <= len(spec["per_layer"]) <= 128
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               for w in spec["workloads"])


def test_statistics():
    assert plan.median([3, 1, 2]) == 2.0
    assert math.isclose(plan.geomean([1.0, 4.0]), 2.0)


def test_union_of_stage_intervals():
    assert _union_ms([]) == 0.0
    assert _union_ms([(0, 10), (5, 15), (20, 30)]) == 25.0
    assert _union_ms([(5, 5), (7, 3)]) == 0.0


if __name__ == "__main__":
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for n, f in tests:
        f()
        print(f"ok {n}")
    print(f"{len(tests)} passed")
