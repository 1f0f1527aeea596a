"""A run whose operations all raise still prints its result line, with
every operation counted failed."""

from __future__ import annotations

import json
import math

import pytest

from perfbench import metrics
from perfbench.run import run_pass
from perfbench.tracing import NullTracer
from perfbench.workloads import WORKLOADS


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_every_operation_failing_still_gives_a_result(name, tmp_path):
    # without a session every call into the engine raises
    wl = WORKLOADS[name](None, str(tmp_path), seed=1)
    rec = metrics.Recorder()
    run_pass(wl, NullTracer(), rec)
    values = metrics.end_to_end(1.0, 2**20, rec, wl.items_per_s(rec), wl.accuracy())
    line = json.loads(json.dumps(metrics.result_line(rec.failed == 0, rec, values, metrics.END_TO_END)))
    assert line["correct"] is False
    assert line["attempted"] == len(wl.units) == line["failed"]
    assert all(math.isfinite(m["value"]) for m in line["metrics"].values())
    assert line["metrics"]["accuracy"]["value"] == 0.0


def test_a_kind_without_samples_summarises_to_zero():
    rec = metrics.Recorder()
    rec.builds["ok"] += [1.0, 3.0]
    rec.builds["always_failed"] = []
    rec.reads["always_failed"] = []
    assert rec.build_s() == 2.0
    assert rec.read_s() == 0.0
