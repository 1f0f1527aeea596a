"""Metric definitions, the per-run recorder, and the result line.

``BENCHMARK.json`` lists the same names, units and directions; a test
keeps the two in step.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.eventlog import GroupStats
from perfbench.tracing import Span

# name, unit, better, bound
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("peak_pss_mb", "MB", "lower", 0.25),
    ("build_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("accuracy", "ratio", "higher", 0.05),
)

SPANS = (
    "sources.load_table",
    "functions.sketch.approx_distinct_table",
    "functions.lc.lc_table",
    "functions.kmv.kmv_table",
    "functions.qsketch.quantile_sketch_table",
    "functions.sketch.sketch_merge_agg",
    "functions.lc.lc_merge_agg",
    "functions.kmv.kmv_merge_table",
    "functions.qsketch.qsketch_merge_table",
    "operators.dedup.exact_dedup",
    "operators.dedup.near_dup_pairs",
    "operators.dedup.dedup_clusters",
    "operators.dedup.minhash_signature",
    "operators.dedup.lsh_candidate_pairs",
    "operators.dedup.connected_components",
    "operators.similarity.kmeans_centroids",
    "operators.similarity.ann_ivf",
    "operators.similarity.ann_hyperplane_lsh",
)

# measure, unit, better
SPAN_MEASURES = (
    ("wall_s", "s", "lower"),
    ("plan_build_s", "s", "lower"),
    ("single_task_stages", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("effective_parallelism", "ratio", "higher"),
    ("shuffle_write_bytes", "bytes", "lower"),
)

COUNTS = (
    ("functions.sketch.bytes_per_sketch", "bytes", "lower"),
    ("functions.lc.bytes_per_sketch", "bytes", "lower"),
    ("functions.kmv.bytes_per_sketch", "bytes", "lower"),
    ("functions.qsketch.bytes_per_sketch", "bytes", "lower"),
    ("functions.sketch.rel_err_max", "ratio", "lower"),
    ("functions.lc.rel_err_max", "ratio", "lower"),
    ("functions.kmv.rel_err_max", "ratio", "lower"),
    ("functions.qsketch.rank_err_max", "ratio", "lower"),
    ("operators.dedup.candidates", "count", "lower"),
    ("operators.dedup.verified_pairs", "count", "higher"),
    ("operators.dedup.verify_yield", "ratio", "higher"),
    ("operators.dedup.clusters", "count", "lower"),
    ("operators.similarity.ann_ivf.recall_at_10", "ratio", "higher"),
    ("operators.similarity.ann_hyperplane_lsh.recall_at_10", "ratio", "higher"),
    ("operators.util.rr_rehashed_exchanges", "count", "lower"),
    ("tracing_overhead_s", "s", "lower"),
)

PER_LAYER = tuple((f"{s}.{m}", u, b) for s in SPANS for m, u, b in SPAN_MEASURES) + COUNTS


@dataclass
class Recorder:
    """What one run observed: seconds per write-phase step and per read
    operation, and every operation attempted with its outcome."""

    builds: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    reads: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)  # per-layer counts
    probes: list[float] = field(default_factory=list)  # hostspeed.probe_s samples
    slowdowns: list[float] = field(default_factory=list)  # one per scaled operation
    op_starts: list[tuple[int, dict]] = field(default_factory=list)  # (probes so far, sample counts)

    def attempt(self, fn):
        """Run one operation; an exception counts it failed, returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # a failed operation must not end the run
            self.failed += 1
            self.notes.append(f"{type(exc).__name__}: {exc}"[:500])
            return None

    def start_op(self) -> None:
        """Mark where the next operation's timings start."""
        self.op_starts.append((len(self.probes), self._sizes()))

    def _sizes(self) -> dict[tuple[str, str], int]:
        return {(part, kind): len(v) for part in ("builds", "reads") for kind, v in getattr(self, part).items()}

    def rescale(self, slowdown) -> None:
        """Divide each operation's timings by the host's slowdown around it:
        ``slowdown`` of the probes from three before the operation to
        three after it. A median over six probes follows contention that
        drifts during the run, and one slow probe does not move it."""
        if not self.probes:
            return
        ends = [sizes for _, sizes in self.op_starts[1:]] + [self._sizes()]
        for (n_before, start), end in zip(self.op_starts, ends):
            factor = slowdown(self.probes[max(0, n_before - 3) : n_before + 3])
            self.slowdowns.append(factor)
            for (part, kind), stop in end.items():
                v = getattr(self, part)[kind]
                for i in range(start.get((part, kind), 0), stop):
                    v[i] /= factor

    def check(self, problems: list[str]) -> None:
        """Count the current operation failed if its output had problems."""
        if problems:
            self.failed += 1
            self.notes.extend(problems[:5])

    def build_s(self) -> float:
        """The write phase: the sum of each step's median time."""
        return sum(_median(v) for v in self.builds.values())

    def read_s(self) -> float:
        """Each read kind's median time, averaged over the kinds, so that
        every kind weighs the same however many samples it has."""
        return ratio(sum(_median(v) for v in self.reads.values()), len(self.reads))

    def pass_s(self) -> float:
        """One of each step and each read, at its median time."""
        return self.build_s() + sum(_median(v) for v in self.reads.values())


def _median(values: list[float]) -> float:
    # a kind whose every call failed has no samples; the run then prints
    # its result with correct=false instead of crashing
    return statistics.median(values) if values else 0.0


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def end_to_end(setup_s: float, peak_pss_bytes: int, rec: Recorder, items_per_s: float, accuracy: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "peak_pss_mb": peak_pss_bytes / 2**20,
        "build_s": rec.build_s(),
        "items_per_s": items_per_s,
        "op_p50_ms": rec.read_s() * 1000.0,
        "accuracy": accuracy,
    }


def per_layer(spans: list[Span], groups: dict[str, GroupStats], cores: int, counts: dict[str, float]) -> dict[str, float]:
    """Per-call means of each span's measures (0 for spans this workload
    never calls), effective parallelism over all its calls, and counts."""
    by_name: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        by_name[sp.name].append(sp)
    out: dict[str, float] = {}
    rr_total = 0
    for name in SPANS:
        calls = by_name.get(name, [])
        stats = [groups.get(sp.group, GroupStats()) for sp in calls]
        n = max(1, len(calls))
        wall = sum(sp.wall_s for sp in calls)
        run = sum(st.executor_run_s for st in stats)
        out[f"{name}.wall_s"] = wall / n
        out[f"{name}.plan_build_s"] = sum(sp.plan_build_s for sp in calls) / n
        out[f"{name}.single_task_stages"] = sum(st.single_task_stages for st in stats) / n
        out[f"{name}.executor_run_s"] = run / n
        out[f"{name}.effective_parallelism"] = run / (wall * cores) if wall > 0 else 0.0
        out[f"{name}.shuffle_write_bytes"] = sum(st.shuffle_write_bytes for st in stats) / n
        # plans repeat call to call; count each span's worst call once
        rr_total += max((st.rr_rehashed_exchanges for st in stats), default=0)
    for name, _, _ in COUNTS:
        out[name] = float(counts.get(name, 0.0))
    out["operators.util.rr_rehashed_exchanges"] = float(rr_total)
    return out


def result_line(correct: bool, rec: Recorder, values: dict[str, float], defs) -> dict:
    units = {name: unit for name, unit, *_ in defs}
    return {
        "correct": correct,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {name: {"value": values[name], "unit": units[name]} for name, *_ in defs},
    }
