"""Corpus dedup stage: exact dedup of a single-row-group document file,
written back as one file, then near-duplicate pairs and clusters over it."""

from __future__ import annotations

import glob
import os
import shutil
from functools import partial

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hive_udf_spark.functions.text import word_set
from hive_udf_spark.operators.dedup import (
    connected_components,
    dedup_clusters,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature,
    near_dup_pairs,
)
from hive_udf_spark.sources.tables import load_table
from perfbench import gen, truth
from perfbench.metrics import Recorder, ratio

N_BASE = 2_000
N_NEAR = 400
N_EXACT = 200
THRESHOLD = 0.7
THRESHOLD_PPM = 700_000  # integer form of THRESHOLD, as the engine compares
# near_dup_pairs defaults, repeated for the traced building blocks
NUM_HASHES, BANDS = 16, 8


def _similar(inter: int, union: int) -> bool:
    return inter * 1_000_000 >= THRESHOLD_PPM * union


class DedupCorpus:
    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark, self.seed = spark, seed
        self.data_dir = os.path.join(work_dir, "data")
        self.stage_dir = os.path.join(work_dir, "stage")
        self.recall: list[float] = []
        self.last_pairs: list[tuple[int, int]] = []
        self.last_clusters = 0
        self.items_per_pass = N_BASE + N_NEAR + N_EXACT
        self.units = [
            self._exact,
            partial(
                self._read,
                "operators.dedup.near_dup_pairs",
                lambda kept: near_dup_pairs(kept, "doc_id", "text", threshold=THRESHOLD),
                self._check_pairs,
            ),
            partial(
                self._read,
                "operators.dedup.dedup_clusters",
                lambda kept: dedup_clusters(kept, "doc_id", "text", threshold=THRESHOLD),
                self._check_clusters,
            ),
        ]

    def prepare(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        table, planted = gen.documents(self.seed, N_BASE, N_NEAR, N_EXACT)
        gen.write_single_row_group(table, os.path.join(self.data_dir, "documents.parquet"))
        ids, texts = table.column("doc_id").to_pylist(), table.column("text").to_pylist()
        self.kept = truth.exact_kept_ids(ids, texts)
        self.sets = truth.word_sets(ids, texts)
        self.planted = {(p.base_id, p.variant_id) for p in planted if p.jaccard >= THRESHOLD}

    def _exact(self, tr, rec: Recorder) -> None:
        def op():
            with tr.span("sources.load_table"):
                docs = load_table(self.spark, self.data_dir, "documents")
            with tr.span("operators.dedup.exact_dedup") as sp:
                out = exact_dedup(docs, "text", "doc_id")
                sp.mark_built()
                out.coalesce(1).write.mode("overwrite").parquet(os.path.join(self.stage_dir, "documents.parquet"))
            return sp.wall_s

        wall = rec.attempt(op)
        if wall is not None:
            rec.builds["exact_dedup"].append(wall)
            rec.check(self._check_kept())

    def _read(self, span: str, call, check, tr, rec: Recorder) -> None:
        def op():
            with tr.span("sources.load_table"):
                kept = load_table(self.spark, self.stage_dir, "documents")
            with tr.span(span) as sp:
                df = call(kept)
                sp.mark_built()
                rows = df.collect()
            return sp.wall_s, rows

        got = rec.attempt(op)
        if got is not None:
            rec.reads[span].append(got[0])
            rec.check(check(got[1]))

    def _check_kept(self) -> list[str]:
        files = glob.glob(os.path.join(self.stage_dir, "documents.parquet", "*.parquet"))
        ids = [i for f in files for i in pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()]
        if len(files) != 1:
            return [f"exact_dedup wrote {len(files)} files, expected 1"]
        if len(ids) != len(self.kept) or set(ids) != self.kept:
            return [f"exact_dedup kept {len(ids)} rows, expected {len(self.kept)}"]
        return []

    def _check_pairs(self, rows: list) -> list[str]:
        problems = []
        found = set()
        for r in rows:
            a, b = r["id_a"], r["id_b"]
            inter, union = truth.jaccard_parts(self.sets[a], self.sets[b])
            if (r["inter_size"], r["union_size"]) != (inter, union) or not _similar(inter, union):
                problems.append(f"pair ({a},{b}): engine {r['inter_size']}/{r['union_size']}, exact {inter}/{union}")
            if a not in self.kept or b not in self.kept or a >= b:
                problems.append(f"pair ({a},{b}) not an ordered pair of kept documents")
            found.add((a, b))
        self.recall.append(len(self.planted & found) / len(self.planted))
        self.last_pairs = sorted(found)
        return problems

    def _check_clusters(self, rows: list) -> list[str]:
        ids = [r["doc_id"] for r in rows]
        if len(ids) != len(self.kept) or set(ids) != self.kept:
            return [f"dedup_clusters returned {len(ids)} rows for {len(self.kept)} kept documents"]
        members: dict[int, list[int]] = {}
        for r in rows:
            if r["is_canonical"] != (r["doc_id"] == r["cluster"]):
                return [f"doc {r['doc_id']}: is_canonical disagrees with cluster {r['cluster']}"]
            members.setdefault(r["cluster"], []).append(r["doc_id"])
        self.last_clusters = len(members)
        for cid, docs in members.items():
            if min(docs) != cid:
                return [f"cluster {cid} is not its lowest member {min(docs)}"]
            if len(docs) > 1 and not self._connected(docs):
                return [f"cluster {cid} is not connected by pairs with Jaccard >= {THRESHOLD}"]
        return []

    def _connected(self, docs: list[int]) -> bool:
        seen, todo = {docs[0]}, [docs[0]]
        while todo:
            a = todo.pop()
            for b in docs:
                if b not in seen:
                    inter, union = truth.jaccard_parts(self.sets[a], self.sets[b])
                    if _similar(inter, union):
                        seen.add(b)
                        todo.append(b)
        return len(seen) == len(docs)

    def extras(self, tr, rec: Recorder) -> None:
        """Time the pipeline's building blocks on materialized inputs."""
        kept = load_table(self.spark, self.stage_dir, "documents")
        tokens = (
            kept.select(F.col("doc_id").alias("__id"), word_set("text").alias("__ws"))
            .filter(F.size("__ws") > 0)
            .localCheckpoint(eager=True)
        )
        with tr.span("operators.dedup.minhash_signature") as sp:
            sig = tokens.withColumn("sig", minhash_signature(F.col("__ws"), NUM_HASHES))
            sp.mark_built()
            sig = sig.localCheckpoint(eager=True)
        with tr.span("operators.dedup.lsh_candidate_pairs") as sp:
            cands = lsh_candidate_pairs(sig, "__id", "sig", BANDS, NUM_HASHES // BANDS, hashed_band_key=True)
            sp.mark_built()
            n_cands = cands.count()
        edges = self.spark.createDataFrame(self.last_pairs or [(0, 0)], "id_a long, id_b long")
        nodes = kept.select(F.col("doc_id").alias("id")).localCheckpoint(eager=True)
        with tr.span("operators.dedup.connected_components") as sp:
            comps = connected_components(edges.filter(F.col("id_a") != F.col("id_b")), nodes)
            sp.mark_built()
            n_comps = comps.select("component").distinct().count()
        rec.check(self._check_components(n_comps))
        rec.counts["operators.dedup.candidates"] = float(n_cands)
        rec.counts["operators.dedup.verified_pairs"] = float(len(self.last_pairs))
        rec.counts["operators.dedup.verify_yield"] = ratio(len(self.last_pairs), n_cands)
        rec.counts["operators.dedup.clusters"] = float(self.last_clusters)

    def _check_components(self, n_comps: int) -> list[str]:
        parent = {i: i for i in self.kept}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.last_pairs:
            parent[find(a)] = find(b)
        expect = len({find(i) for i in self.kept})
        return [] if n_comps == expect else [f"connected_components: {n_comps} components, union-find {expect}"]

    def recalls(self) -> list[float]:
        # a pass whose pairs failed has no recall: count it as 0
        return [min(self.recall, default=0.0)]
