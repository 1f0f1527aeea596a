"""corpus_pipeline: the LLM-data pipeline over single-row-group inputs.

A pass interleaves the dedup stage (exact dedup and its write,
near-duplicate pairs, clusters) with the similarity-search stage (IVF
training, then the query batch through ``ann_ivf`` and through
``ann_hyperplane_lsh``)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from perfbench.metrics import Recorder, ratio
from perfbench.workloads.ann_search import AnnSearch
from perfbench.workloads.dedup_corpus import DedupCorpus


class CorpusPipeline:
    name = "corpus_pipeline"

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.stages = (
            DedupCorpus(spark, os.path.join(work_dir, "dedup"), seed),
            AnnSearch(spark, os.path.join(work_dir, "ann"), seed),
        )
        (exact, pairs, clusters), (train, ivf, lsh) = (stage.units for stage in self.stages)
        self.units = [exact, pairs, train, ivf, clusters, lsh]

    def prepare(self) -> None:
        for stage in self.stages:
            stage.prepare()

    def items_per_s(self, rec: Recorder) -> float:
        """Documents deduplicated plus queries answered, per second of the
        pipeline with each step once at its median time."""
        return ratio(sum(s.items_per_pass for s in self.stages), rec.pass_s())

    def accuracy(self) -> float:
        """Mean of planted-pair recall and each ANN path's recall@10."""
        recalls = [r for stage in self.stages for r in stage.recalls()]
        return ratio(sum(recalls), len(recalls))

    def extras(self, tr, rec: Recorder) -> None:
        for stage in self.stages:
            stage.extras(tr, rec)
