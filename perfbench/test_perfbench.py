"""Self-tests of the benchmark (not part of the package's suite).

    python3 -m pytest perfbench -q

The smoke tests run every workload end to end at a tiny scale factor
through ``run.py``, once untraced and once traced, and take a few
minutes; ``-k "not smoke"`` skips them.
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import threading
import time

import pytest

from perfbench.layers import metric_units
from perfbench.tracing import Span, Tracer, self_times
from perfbench.workloads import REFRESH_SOURCES, Cache, Refresh

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
END_TO_END = {"setup_s": "s", "cold_op_s": "s", "op_p50_s": "s"}


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_self_time_nested_and_overlapping_children():
    spans = [
        Span(1, None, "op", "0", 1, 0.0, 10.0),
        Span(2, 1, "a", "0", 1, 1.0, 4.0),
        Span(3, 1, "b", "0", 1, 3.0, 6.0),  # overlaps a
        Span(4, 2, "c", "0", 1, 2.0, 3.0),
        Span(5, 1, "d", "0", 1, 9.0, 12.0),  # runs past its parent
    ]
    got = self_times(spans)
    assert got == pytest.approx({1: 10 - 5 - 1, 2: 2.0, 3: 3.0, 4: 1.0,
                                 5: 3.0})


def test_self_time_cross_thread_children():
    """Spans opened in pool threads hang under the main thread's open
    span; the parent's self time excludes the union of their
    intervals, not their sum."""
    tracer = Tracer()
    tracer.op = "0"

    def work():
        with tracer.span("worker"):
            time.sleep(0.05)

    with tracer.span("load_all"):
        threads = [threading.Thread(target=work) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=5)
            assert not t.is_alive()
    parent = next(s for s in tracer.spans if s.name == "load_all")
    workers = [s for s in tracer.spans if s.name == "worker"]
    assert all(w.parent == parent.sid for w in workers)
    union = max(w.t1 for w in workers) - min(w.t0 for w in workers)
    got = self_times(tracer.spans)
    assert got[parent.sid] == pytest.approx(
        parent.t1 - parent.t0 - union, abs=1e-9)
    assert sum(got[w.sid] for w in workers) > union


def test_disabled_tracer_records_nothing():
    tracer = Tracer()
    tracer.enabled = False
    assert tracer.wrap("x", lambda v: v + 1)(1) == 2
    assert tracer.spans == []


def test_every_metric_is_declared_with_its_unit():
    spec = declared()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == END_TO_END
    assert layers == metric_units()
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(spec["end_to_end"], key=lambda m: m["bound"])["bound"] == (
        next(m["bound"] for m in spec["end_to_end"]
             if m["name"] == "setup_s"))


def test_refresh_cycles_follow_the_package_schedule(tmp_path):
    wl = Refresh(Cache(str(tmp_path), ROOT), seed=3)
    daily = {"hpd_violations", "hpd_complaints"}
    assert wl.scheduled(datetime.date(2021, 3, 11)) == daily | {
        "hpd_registrations"}
    assert wl.scheduled(datetime.date(2021, 3, 12)) == daily | {"acris"}
    assert wl.scheduled(datetime.date(2021, 1, 31)) == daily | {
        "hpd_registrations"}
    # Jan 1: the yearly slot and an odd day
    assert wl.scheduled(datetime.date(2021, 1, 1)) == set(
        REFRESH_SOURCES) - {"acris"}
    # a traced run's four warm cycles stay inside one year and never
    # reach the yearly slot
    for seed in range(200):
        wl = Refresh(Cache(str(tmp_path), ROOT), seed)
        days = [wl.day(c) for c in range(1, 5)]
        assert all(d.year == 2021 and d != datetime.date(2021, 1, 1)
                   for d in days)
        assert {d.day % 2 for d in days[:2]} == {0, 1} or days[0].day == 31


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize(
    "workload", [w["name"] for w in declared()["workloads"]])
def test_smoke(workload, trace):
    env = dict(os.environ, PERFBENCH_SF="0.001")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    spec = declared()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    if trace:
        share = result["metrics"]["trace.self_share"]["value"]
        assert share == pytest.approx(1.0, abs=0.05) or (
            workload == "refresh" and share >= 1.0)
