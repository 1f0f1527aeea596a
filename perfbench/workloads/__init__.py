"""The benchmark's workloads. Each is a closed loop with one client (the
driver thread), which runs the workload's ``units`` in turn: write-phase
steps (recorded in ``Recorder.builds``) and read operations (recorded in
``Recorder.reads``), each checked against ground truth.

``prepare`` generates the inputs and their ground truth,
``items_per_s`` and ``accuracy`` summarise the run, and ``extras`` adds
the traced run's counts."""

from perfbench.workloads.corpus_pipeline import CorpusPipeline
from perfbench.workloads.sketch_rollup import SketchRollup

WORKLOADS = {w.name: w for w in (SketchRollup, CorpusPipeline)}
