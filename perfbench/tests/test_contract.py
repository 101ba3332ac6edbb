"""The result line carries exactly the metrics BENCHMARK.json names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers, tracing  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_names_and_units_match_benchmark_json():
    rec = tracing.Recorder()
    with rec.span("pipeline.chunk", keep_durations=True):
        with rec.span("iceberg.append"):
            pass
    stages = {
        "task_s": 2.0, "jvm_cpu_s": 0.5, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "peak_exec_mem_bytes": 0, "stages": 1,
    }
    phases = {"untraced": ([], [1.0, 1.2], None), "traced": ([], [1.1], None)}
    m = layers.per_layer(
        phases, rec.snapshot(), tracing.merge([]), stages,
        {"assign_s": 0.5, "scale_eff_1to4": 0.9}, {"images": 10, "ocean": 1},
    )
    want = {x["name"]: x["unit"] for x in _bench()["per_layer"]}
    assert {k: u for k, (_, u) in m.items()} == want
    assert m["trace.overhead_s"][0] == pytest.approx(0.0)
    assert m["spark.py_arrow_s"][0] == 1.5


def test_benchmark_json_workloads_exist():
    from perfbench import workloads

    listed = [w["name"] for w in _bench()["workloads"]]
    assert set(listed) <= set(workloads.WORKLOADS)
    assert set(workloads.WORKLOADS) - set(listed) == {"tiles_rect"}


def test_self_time_excludes_children():
    rec = tracing.Recorder()
    with rec.span("outer"):
        with rec.span("inner"):
            sum(range(100_000))
    snap = rec.snapshot()
    assert snap["calls"] == {"outer": 1, "inner": 1}
    assert snap["self_s"]["outer"] < snap["self_s"]["inner"] + 0.01


def test_merge_sums_worker_snapshots():
    a = {"self_s": {"geom.pip": 1.0}, "calls": {"geom.pip": 2}, "counts": {"geom.pip_pts": 5}}
    b = {"self_s": {"geom.pip": 0.5}, "calls": {"geom.pip": 1}, "counts": {"geom.pip_pts": 7}}
    m = tracing.merge([a, b])
    assert m["self_s"]["geom.pip"] == 1.5 and m["counts"]["geom.pip_pts"] == 12


def test_closed_loop_alternates_abba_and_ends_on_a_full_cycle():
    import time
    from contextlib import nullcontext

    from perfbench import run

    class Fake:
        def iterate(self, tag):
            time.sleep(0.05)
            return tag

    out = run.closed_loop(Fake(), 0.15, {"a": nullcontext, "b": nullcontext})
    assert out["a"][0] == ["a-0", "a-3"] and out["b"][0] == ["b-1", "b-2"]
    assert out["a"][2] is None and len(out["b"][1]) == 2
