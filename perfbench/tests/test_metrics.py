"""The metric names the benchmark prints are the ones BENCHMARK.json lists."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import metrics
from perfbench.tracing import Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _recorder() -> metrics.Recorder:
    rec = metrics.Recorder(attempted=3)
    rec.builds["step"] += [1.0, 2.0, 3.0]
    rec.reads["op"] += [0.1, 0.2, 0.3]
    return rec


def test_workload_names_match_benchmark_json():
    from perfbench.run import WORKLOAD_NAMES
    from perfbench.workloads import WORKLOADS

    declared = [w["name"] for w in _benchmark()["workloads"]]
    assert declared == list(WORKLOAD_NAMES) == list(WORKLOADS)


def test_end_to_end_definitions_match_benchmark_json():
    declared = [(m["name"], m["unit"], m["better"], m["bound"]) for m in _benchmark()["end_to_end"]]
    assert declared == list(metrics.END_TO_END)


def test_per_layer_definitions_match_benchmark_json():
    declared = [(m["name"], m["unit"], m["better"]) for m in _benchmark()["per_layer"]]
    assert declared == list(metrics.PER_LAYER)


def test_untraced_result_line_prints_every_end_to_end_metric():
    rec = _recorder()
    values = metrics.end_to_end(5.0, 2**30, rec, items_per_s=10.0, accuracy=0.9)
    line = metrics.result_line(True, rec, values, metrics.END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert list(line["metrics"]) == [m["name"] for m in _benchmark()["end_to_end"]]
    assert line["metrics"]["build_s"] == {"value": 2.0, "unit": "s"}
    assert line["metrics"]["peak_pss_mb"]["value"] == 1024.0


def test_traced_result_line_prints_every_per_layer_metric():
    spans = [Span("functions.lc.lc_table", "functions.lc.lc_table#0", None, 0.0, 2.0, 0.5)]
    values = metrics.per_layer(spans, {}, cores=4, counts={"tracing_overhead_s": 0.01})
    line = metrics.result_line(True, _recorder(), values, metrics.PER_LAYER)
    assert list(line["metrics"]) == [m["name"] for m in _benchmark()["per_layer"]]
    assert line["metrics"]["functions.lc.lc_table.wall_s"]["value"] == 2.0
    assert line["metrics"]["functions.lc.lc_table.plan_build_s"]["value"] == 0.5
    assert line["metrics"]["tracing_overhead_s"]["value"] == 0.01


def _scaled_pass(units, probes):
    from perfbench import hostspeed
    from perfbench.run import run_pass
    from perfbench.tracing import NullTracer

    class Workload:
        pass

    Workload.units = units
    it = iter(probes)
    rec = metrics.Recorder()
    run_pass(Workload, NullTracer(), rec, lambda: next(it) * hostspeed.REF_S)
    rec.rescale(hostspeed.slowdown)
    return rec


def test_each_operation_is_scaled_by_the_probes_around_it():
    # the host runs at the reference speed, then 3x slower, then 2x slower
    rec = _scaled_pass(
        [lambda tr, rec: rec.builds["step"].append(1.0), lambda tr, rec: rec.reads["op"].append(0.3)],
        [1.0, 3.0, 2.0],
    )
    assert rec.slowdowns == [2.0, 2.0]
    assert rec.builds["step"] == [0.5]
    assert rec.reads["op"] == [pytest.approx(0.15)]


def test_one_slow_probe_does_not_move_the_scaling():
    step = lambda tr, rec: rec.builds["step"].append(1.0)  # noqa: E731
    rec = _scaled_pass([step] * 4, [1.0, 1.0, 9.0, 1.0, 1.0])
    assert rec.slowdowns == [1.0] * 4
    assert rec.builds["step"] == [1.0] * 4


def test_no_probes_no_scaling():
    from perfbench import hostspeed

    rec = metrics.Recorder()
    rec.builds["step"].append(1.0)
    rec.rescale(hostspeed.slowdown)
    assert rec.builds["step"] == [1.0] and rec.slowdowns == []
    assert hostspeed.slowdown([]) == 1.0


def test_failed_operations_are_counted():
    rec = metrics.Recorder()
    assert rec.attempt(lambda: 1 / 0) is None
    assert rec.attempt(lambda: 42) == 42
    rec.check([])
    rec.check(["wrong answer"])
    assert (rec.attempted, rec.failed) == (2, 2)
