"""sketch_rollup: build per-(day, event_type) sketch tables from an event
log, store them as parquet, then answer rollup queries by merging the
stored sketches (the paper's sketch-as-data protocol)."""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_udf_spark.functions.kmv import kmv_merge_table, kmv_table
from hive_udf_spark.functions.lc import lc_merge_agg, lc_table
from hive_udf_spark.functions.qsketch import qsketch_merge_table, qsketch_quantile, quantile_sketch_table
from hive_udf_spark.functions.sketch import approx_distinct_table, sketch_merge_agg
from hive_udf_spark.sources.tables import load_table
from perfbench import gen, truth
from perfbench.metrics import Recorder, ratio

N_ROWS = 100_000
N_USERS = 10_000
N_FILES = 8
N_WINDOWS = 2
N_QUERIES = 8  # one pass asks all of them, two of each kind
LC_BYTES = 65_536
KMV_K = 64
QS_K = 256
# an estimate outside these is a wrong answer: ~5 standard errors of
# each sketch at its size (HLL lgK 16, LC 64 KiB, KMV k=64, sample k=256)
TOLERANCE = {"hll": 0.05, "lc": 0.05, "kmv": 0.6, "quantile": 0.15}
GROUPS = ["day", "event_type"]

BUILD = {
    "hll": ("functions.sketch.approx_distinct_table", lambda ev: approx_distinct_table(ev, GROUPS, "user_id")),
    "lc": ("functions.lc.lc_table", lambda ev: lc_table(ev, GROUPS, "user_id", size_bytes=LC_BYTES)),
    "kmv": ("functions.kmv.kmv_table", lambda ev: kmv_table(ev, GROUPS, "user_id", k=KMV_K)),
    "quantile": (
        "functions.qsketch.quantile_sketch_table",
        lambda ev: quantile_sketch_table(ev, GROUPS, "value", "event_id", k=QS_K),
    ),
}
MERGE_SPAN = {
    "hll": "functions.sketch.sketch_merge_agg",
    "lc": "functions.lc.lc_merge_agg",
    "kmv": "functions.kmv.kmv_merge_table",
    "quantile": "functions.qsketch.qsketch_merge_table",
}
ERR_COUNT = {
    "hll": "functions.sketch.rel_err_max",
    "lc": "functions.lc.rel_err_max",
    "kmv": "functions.kmv.rel_err_max",
    "quantile": "functions.qsketch.rank_err_max",
}


def _merge(kind: str, src: DataFrame, g: list[str], q: gen.RollupQuery) -> DataFrame:
    if kind == "hll":
        return src.groupBy(*g).agg(sketch_merge_agg("approx_distinct").alias("m")).select(*g, F.col("m.cardinality").alias("est"))
    if kind == "lc":
        return src.groupBy(*g).agg(lc_merge_agg("approx_distinct.binary").alias("m")).select(*g, F.col("m.cardinality").alias("est"))
    if kind == "kmv":
        return kmv_merge_table(src, g, "kmv", KMV_K).select(*g, F.col("est_kmv").alias("est"))
    return qsketch_merge_table(src, g, "qs", "n_rows", QS_K).select(*g, qsketch_quantile("qs", q.q).alias("est"))


class SketchRollup:
    name = "sketch_rollup"

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark, self.seed = spark, seed
        self.data_dir = os.path.join(work_dir, "data")
        self.store = os.path.join(work_dir, "sketches")
        self.windows, self.queries = gen.rollup_queries(seed, N_QUERIES, N_WINDOWS)
        self.errors: dict[str, list[float]] = {k: [] for k in BUILD}
        # the four builds, then the whole query stream
        self.units = [partial(self._build, kind) for kind in BUILD] + [partial(self._query, i) for i in range(N_QUERIES)]

    def prepare(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        gen.write_multi_file(gen.events(self.seed, N_ROWS, N_USERS), os.path.join(self.data_dir, "events.parquet"), N_FILES)
        raw = self.spark.read.parquet(os.path.join(self.data_dir, "events.parquet"))
        self.truth = truth.rollup_truth(raw.withColumn("day", F.to_date("ts")), self.windows)

    def _build(self, kind: str, tr, rec: Recorder) -> None:
        span, build = BUILD[kind]

        def op():
            with tr.span("sources.load_table"):
                events = load_table(self.spark, self.data_dir, "events")
            with tr.span(span) as sp:
                out = build(events.withColumn("day", F.to_date("ts")))
                sp.mark_built()
                out.write.mode("overwrite").parquet(os.path.join(self.store, kind))
            return sp.wall_s

        wall = rec.attempt(op)
        if wall is not None:
            rec.builds[kind].append(wall)

    def _query(self, i: int, tr, rec: Recorder) -> None:
        q = self.queries[i]
        rows = rec.attempt(lambda: self._run_query(tr, rec, q))
        if rows is not None:
            rec.check(self._check(q, rows))

    def items_per_s(self, rec: Recorder) -> float:
        """Raw rows per second of the write phase."""
        return ratio(N_ROWS, rec.build_s())

    def _run_query(self, tr, rec: Recorder, q: gen.RollupQuery) -> list:
        first, last = self.windows[q.window]
        g = ["event_type"] if q.by_type else []
        with tr.span(MERGE_SPAN[q.kind]) as sp:
            src = self.spark.read.parquet(os.path.join(self.store, q.kind))
            src = src.filter(F.col("day").between(truth.day(first), truth.day(last)))
            df = _merge(q.kind, src, g, q)
            sp.mark_built()
            rows = df.collect()
        rec.reads[q.kind].append(sp.wall_s)
        return rows

    def _check(self, q: gen.RollupQuery, rows: list) -> list[str]:
        expect = {k for k in self.truth if k[0] == q.window and (k[1] is not None) == q.by_type}
        got = {(q.window, r["event_type"] if q.by_type else None): r["est"] for r in rows}
        if set(got) != expect:
            return [f"{q}: groups {sorted(map(str, got))} != {sorted(map(str, expect))}"]
        if None in got.values():
            return [f"{q}: NULL estimate"]
        errs = []
        for key, est in got.items():
            n, values = self.truth[key]
            errs.append(truth.rank_error(values, est, q.q) if q.kind == "quantile" else abs(est - n) / n)
        self.errors[q.kind].extend(errs)
        worst = max(errs)
        if worst > TOLERANCE[q.kind]:
            return [f"{q}: error {worst:.4f} > {TOLERANCE[q.kind]}"]
        return []

    def extras(self, tr, rec: Recorder) -> None:
        sizes = {
            "functions.sketch.bytes_per_sketch": ("hll", F.length("approx_distinct.binary")),
            "functions.lc.bytes_per_sketch": ("lc", F.length("approx_distinct.binary")),
            "functions.kmv.bytes_per_sketch": ("kmv", F.size("kmv") * 8),
            "functions.qsketch.bytes_per_sketch": ("quantile", F.size("qs") * 16),
        }
        for name, (kind, size) in sizes.items():
            stored = self.spark.read.parquet(os.path.join(self.store, kind))
            rec.counts[name] = float(stored.agg(F.avg(size)).first()[0])
        for kind, name in ERR_COUNT.items():
            rec.counts[name] = max(self.errors[kind], default=0.0)

    def accuracy(self) -> float:
        """One minus the mean error over every answered group (relative
        error for distinct counts, rank error for quantiles)."""
        errs = [e for kind in self.errors.values() for e in kind]
        return 1.0 - sum(errs) / len(errs) if errs else 0.0
