"""Similarity-search stage: train an IVF coarse quantizer (the write),
then answer the query batch with ``ann_ivf`` and with
``ann_hyperplane_lsh`` (the reads) against the latest centroids."""

from __future__ import annotations

import math
import os
import shutil
from functools import partial

import numpy as np
from pyspark.sql import SparkSession

from hive_udf_spark.operators.similarity import ann_hyperplane_lsh, ann_ivf, kmeans_centroids
from hive_udf_spark.sources.tables import load_table
from perfbench import gen, truth
from perfbench.metrics import Recorder, ratio

N_VEC = 4_000
BATCH = 100  # queries; every pass asks the same batch
K = 10
N_CENTROIDS = 32
NPROBE = 4
COS_TOL = 1e-5

PATHS = {
    "operators.similarity.ann_ivf": lambda corpus, q, C: ann_ivf(
        corpus, q, k=K, n_centroids=N_CENTROIDS, nprobe=NPROBE, centroids=C
    ),
    "operators.similarity.ann_hyperplane_lsh": lambda corpus, q, C: ann_hyperplane_lsh(corpus, q, k=K),
}


class AnnSearch:
    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark, self.seed = spark, seed
        self.data_dir = os.path.join(work_dir, "data")
        self.query_dir = os.path.join(self.data_dir, "queries.parquet")
        self.recall: dict[str, list[float]] = {p: [] for p in PATHS}
        self.centroids: np.ndarray | None = None
        self.units = [self._train] + [partial(self._search, p) for p in PATHS]
        self.items_per_pass = len(PATHS) * BATCH  # queries answered per pass

    def prepare(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        corpus, queries = gen.embeddings(self.seed, N_VEC, BATCH)
        gen.write_single_row_group(corpus, os.path.join(self.data_dir, "embeddings.parquet"))
        gen.write_single_row_group(queries, self.query_dir)
        cv, qv = gen.vectors(corpus), gen.vectors(queries)
        self.corpus_ids = corpus.column("vec_id").to_numpy()
        self.row_of = {int(i): r for r, i in enumerate(self.corpus_ids)}
        self.cv = cv
        self.qv = {int(i): v for i, v in zip(queries.column("vec_id").to_numpy(), qv)}
        top = truth.cosine_topk(cv, qv, K)
        self.exact = {qid: {int(self.corpus_ids[r]) for r in row} for qid, row in zip(self.qv, top)}

    def _train(self, tr, rec: Recorder) -> None:
        def op():
            with tr.span("sources.load_table"):
                corpus = load_table(self.spark, self.data_dir, "embeddings")
            with tr.span("operators.similarity.kmeans_centroids") as sp:
                C = kmeans_centroids(corpus, n_centroids=N_CENTROIDS)
            return C, sp.wall_s

        got = rec.attempt(op)
        if got is None:
            return
        self.centroids, wall = got
        rec.builds["kmeans_centroids"].append(wall)
        C = self.centroids
        if C.shape != (N_CENTROIDS, gen.DIM) or not np.allclose(np.linalg.norm(C, axis=1), 1.0):
            rec.check([f"kmeans_centroids returned {C.shape} centroids that are not unit rows"])

    def _search(self, span: str, tr, rec: Recorder) -> None:
        def op():
            with tr.span("sources.load_table"):
                corpus = load_table(self.spark, self.data_dir, "embeddings")
            q = self.spark.read.parquet(self.query_dir)
            with tr.span(span) as sp:
                df = PATHS[span](corpus, q, self.centroids)
                sp.mark_built()
                rows = df.collect()
            return sp.wall_s, rows

        got = rec.attempt(op)
        if got is not None:
            rec.reads[span].append(got[0])
            rec.check(self._check(span, got[1]))

    def _check(self, span: str, rows: list) -> list[str]:
        per_query: dict[int, list] = {q: [] for q in self.qv}
        for r in rows:
            if r["query_id"] not in per_query or r["neighbor_id"] not in self.row_of:
                return [f"{span}: unknown pair ({r['query_id']}, {r['neighbor_id']})"]
            per_query[r["query_id"]].append(r)
        hits = 0
        for qid, res in per_query.items():
            res.sort(key=lambda r: r["rank"])
            if len(res) > K or [r["rank"] for r in res] != list(range(1, len(res) + 1)):
                return [f"{span}: query {qid} ranks {[r['rank'] for r in res]}"]
            for r in res:
                exact = truth.cosine(self.qv[qid], self.cv[self.row_of[r["neighbor_id"]]])
                if not math.isclose(r["cos_sim"], exact, abs_tol=COS_TOL):
                    return [f"{span}: cos({qid},{r['neighbor_id']}) = {r['cos_sim']}, exact {exact}"]
            hits += len({r["neighbor_id"] for r in res} & self.exact[qid])
        self.recall[span].append(hits / (K * len(per_query)))
        return []

    def extras(self, tr, rec: Recorder) -> None:
        for span, vals in self.recall.items():
            rec.counts[f"{span}.recall_at_10"] = ratio(sum(vals), len(vals))

    def recalls(self) -> list[float]:
        # a path whose every batch failed has recall 0
        return [ratio(sum(v), len(v)) for v in self.recall.values()]
