"""Span self-time arithmetic, /proc CPU attribution and the metric lists.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import procfs  # noqa: E402
import run  # noqa: E402
from spans import Tracer, self_intervals, self_time  # noqa: E402


def _span(i, name, start, end, parent):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "run_id": "r"}


def test_self_time_subtracts_children():
    spans = [
        _span(0, "pipeline", 0.0, 10.0, None),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 2.0, 3.0, 1),
        _span(3, "c", 5.0, 9.0, 0),
    ]
    st = self_time(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0})
    # self times partition the root: they add back up to its duration
    assert sum(st.values()) == pytest.approx(10.0)
    assert self_intervals(spans)[0] == [(0.0, 1.0), (4.0, 5.0), (9.0, 10.0)]


def test_self_time_child_clipped_to_parent():
    spans = [_span(0, "p", 0.0, 2.0, None), _span(1, "c", 1.5, 3.0, 0)]
    assert self_time(spans)[0] == pytest.approx(1.5)


def test_tracer_wraps_and_restores():
    class Mod:
        @staticmethod
        def work(stage):
            time.sleep(0.01)
            return stage

    tracer = Tracer()
    orig = Mod.work
    tracer.wrap(Mod, "work", lambda a, k: f"layer.{a[0]}" if a[0] != "skip" else None)
    root = tracer.open("pipeline")
    assert Mod.work("x") == "x"
    assert Mod.work("skip") == "skip"
    tracer.close(root)
    tracer.restore()
    assert Mod.work is orig
    spans = tracer.to_json()
    assert [s["name"] for s in spans] == ["pipeline", "layer.x"]
    assert spans[1]["parent"] == 0 and len({s["run_id"] for s in spans}) == 1
    assert sum(self_time(spans).values()) == pytest.approx(spans[0]["end"] - spans[0]["start"])


def test_cpu_between_interpolates():
    samples = [(0.0, 0.0, 0.0, 1), (1.0, 2.0, 1.0, 5), (2.0, 2.0, 1.0, 3)]
    assert procfs.cpu_between(samples, 0.5, 1.5) == pytest.approx((1.0, 0.5))
    assert procfs.cpu_between(samples, -1.0, 5.0) == pytest.approx((2.0, 1.0))
    assert procfs.peak_rss(samples, 0.0, 2.0) == 5


def test_tree_usage_counts_children_and_python_share():
    """A spinning Python child of this process shows up as Python-worker
    CPU of this process's tree."""
    spin = "import time\nt=time.time()\nwhile time.time()-t<1.5: pass\n"
    child = subprocess.Popen([sys.executable, "-c", spin])
    try:
        sampler = procfs.TreeSampler(os.getpid(), interval=0.05).start()
        time.sleep(0.8)
        sampler.stop()  # before the child is reaped into this process's cutime
    finally:
        child.wait()
    t0, t1 = sampler.samples[0][0], sampler.samples[-1][0]
    cpu, py = procfs.cpu_between(sampler.samples, t0, t1)
    assert py > 0.2
    assert cpu >= py


def test_benchmark_json_lists_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
