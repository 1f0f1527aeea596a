#!/usr/bin/env python
"""Record, and compare between two checkouts, the executed plans of the
set-similarity joins in ``operators/dedup.py``, the edit-distance join in
``operators/fuzzy.py``, the vector-search operators in
``operators/similarity.py`` and the sketch builds and merges in
``functions/{sketch,lc,kmv,qsketch,hllp,pcsa}.py``.

Each entry point runs on the ``documents`` (dedup; fuzzy on titles
synthesized from it, as the registry's ``fuzzy_edit_join``), ``embeddings``
(similarity) or ``events`` (sketches) table of ``--sf`` under its own job
group with the event log on; the ``*_no_broadcast`` cases run with
``spark.sql.autoBroadcastJoinThreshold=-1``, so their joins are
sort-merge or shuffled-hash joins. The merge cases read sketch tables built and
collected before the first case, so they record merge plans only. From
the log it records, per entry point, the AQE-final plan of every SQL
execution the call starts (plan build plus collect), read with
``perfbench.eventlog.final_plans``, as a tree of operator names with
each Exchange's partitioning kind, and the number of Spark jobs; from the
collected output, its schema, row count and an order-insensitive row
digest. After every entry point has run once, each runs a second time
in the same session (outside its job group), which records what a
repeated call pays: the seconds its plan build takes (the entry point's
call, eager jobs included) and the number of classes the JVM compiles
for that build and collect (0 when every generated class is still
cached).

Usage:
    python scripts/plan_shapes.py --repo CHECKOUT --sf DIR --out shapes.json
    python scripts/plan_shapes.py --compare old.json new.json

``--repo`` is the checkout whose ``hive_udf_spark`` is imported (default:
this one), so a second checkout of an older commit can be recorded with
this script. ``--compare`` exits 1 when any entry point differs; it
prints the second run's classes and plan-build seconds beside the
verdict, as information that does not enter it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shlex
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
from perfbench.eventlog import final_plans, read_events  # noqa: E402


def _tree(node: dict) -> list:
    """``[name, children]`` of an event-log plan node. An Exchange is
    named with its partitioning kind, a broadcast hash join with its join
    type and build side; codegen stage ids are dropped, since they number
    stages in the order AQE planned them."""
    name, desc = node["nodeName"], node.get("simpleString", "")
    if name.startswith("WholeStageCodegen"):
        name = "WholeStageCodegen"
    elif name == "Exchange":
        name += " " + re.match(r"Exchange (\w+)", desc).group(1)
    elif name == "BroadcastHashJoin":
        name += " " + " ".join(re.search(r", (\w+), (Build\w+),", desc).groups())
    return [name, [_tree(c) for c in node.get("children", [])]]


def _sequence(node: list) -> list[str]:
    """Operator names in tree (pre-)order."""
    return [node[0]] + [n for child in node[1] for n in _sequence(child)]


def _shape(node: list) -> str:
    """The tree with the one run-to-run choice taken out: when both sides
    of an inner join fit a broadcast, AQE builds the one whose query stage
    finishes first, so the build side varies between runs of the same
    code. Such a join's children are listed sorted, without build side."""
    name, children = node
    kids = [_shape(c) for c in children]
    if name.startswith("BroadcastHashJoin Inner"):
        name = "BroadcastHashJoin Inner"
        kids.sort()
    return name + (f"({', '.join(kids)})" if kids else "")


def record(repo: str, sf: str, out: str) -> None:
    log_dir = os.path.abspath(out) + ".eventlog"
    os.makedirs(log_dir, exist_ok=True)
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    submit = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, repo)
    from pyspark.sql import functions as F

    from hive_udf_spark.functions import hllp as H
    from hive_udf_spark.functions import kmv as KMV
    from hive_udf_spark.functions import lc as LC
    from hive_udf_spark.functions import pcsa as P
    from hive_udf_spark.functions import qsketch as Q
    from hive_udf_spark.functions import sketch as SK
    from hive_udf_spark.operators import dedup as D
    from hive_udf_spark.operators import fuzzy as FZ
    from hive_udf_spark.operators import similarity as S
    from hive_udf_spark.session import get_spark
    from hive_udf_spark.sources import load_table

    spark = get_spark("plan-shapes", shuffle_partitions=8)
    docs = load_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    half = docs.filter(F.col("doc_id") % 2 != 0)
    other_half = docs.filter(F.col("doc_id") % 2 == 0)
    # the registry's fuzzy_edit_join input: one typo'd title per document
    titles = docs.select("doc_id", F.expr(FZ.synth_title_sql("spark")).alias("title"))
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    # trained outside every job group: the cases that take them record
    # search plans only, while ann_pq and semdedup below train inline
    centroids = S.kmeans_centroids(emb, n_centroids=8)
    books = S.pq_codebooks(emb, n_subspaces=8, n_codes=16)
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", F.to_date("ts").alias("day"),
        F.col("value").cast("bigint").alias("value"),
    )
    g = ["event_type", "day"]

    def stored(df):
        return spark.createDataFrame(df.collect(), df.schema)

    hll_in = stored(SK.approx_distinct_table(ev, g, "user_id"))
    lc_in = stored(LC.lc_table(ev, g, "user_id", size_bytes=8192))
    kmv_in = stored(KMV.kmv_table(ev, g, "user_id", k=64))
    qs_in = stored(Q.quantile_sketch_table(ev, g, "value", "event_id", k=64))
    cases = {
        "near_dup_pairs": lambda: D.near_dup_pairs(docs, "doc_id", "text"),
        "near_dup_pairs_portable": lambda: D.near_dup_pairs(docs, "doc_id", "text", portable=True),
        "near_dup_pairs_hashed": lambda: D.near_dup_pairs(docs, "doc_id", "text", hashed_tokens=True),
        "near_dup_pairs_prefilter": lambda: D.near_dup_pairs(
            docs, "doc_id", "text", sig_prefilter_margin=0.25
        ),
        "near_dup_pairs_hashed_prefilter": lambda: D.near_dup_pairs(
            docs, "doc_id", "text", hashed_tokens=True, sig_prefilter_margin=0.25
        ),
        "dedup_clusters_star": lambda: D.dedup_clusters(docs, "doc_id", "text", mode="star"),
        "dedup_clusters_exact": lambda: D.dedup_clusters(docs, "doc_id", "text", mode="exact"),
        "probe_minhash_index": lambda: D.probe_minhash_index(
            D.build_minhash_index(corpus, "doc_id", "text", 16, hashed_tokens=True),
            batch, "doc_id", "text", hashed_tokens=True,
        ),
        # the two probe regimes of bench.py's incremental_dedup entries;
        # the *_no_broadcast cases run with broadcast joins disabled
        "probe_minhash_index_no_broadcast": lambda: D.probe_minhash_index(
            D.build_minhash_index(half, "doc_id", "text", 16, hashed_tokens=True),
            other_half, "doc_id", "text", hashed_tokens=True,
        ),
        "near_dup_pairs_no_broadcast": lambda: D.near_dup_pairs(docs, "doc_id", "text"),
        "prefix_filter_pairs": lambda: D.prefix_filter_pairs(docs, "doc_id", "text", threshold=0.8),
        "containment_pairs": lambda: D.containment_pairs(
            docs, "doc_id", "text", threshold=0.8, shingle_n=3
        ),
        "edit_distance_join": lambda: FZ.edit_distance_join(titles, "doc_id", "title", max_dist=2),
        "topk_cosine": lambda: S.topk_cosine(emb, queries, k=5),
        "ann_ivf": lambda: S.ann_ivf(emb, queries, k=5, nprobe=2, centroids=centroids),
        "ann_hyperplane_lsh": lambda: S.ann_hyperplane_lsh(emb, queries, k=5),
        "ann_hyperplane_lsh_probes": lambda: S.ann_hyperplane_lsh(emb, queries, k=5, probes=2),
        "ann_pq": lambda: S.ann_pq(emb, queries, k=5, n_codes=16, refine=20),
        "ann_pq_codes": lambda: S.ann_pq(
            emb, queries, k=5, refine=20, books=books, codes=S.pq_encode(emb, books)
        ),
        "embedding_near_pairs_lsh": lambda: S.embedding_near_pairs_lsh(emb, min_cosine=0.35),
        "embedding_dedup_clusters": lambda: S.embedding_dedup_clusters(emb, min_cosine=0.35),
        "semdedup": lambda: S.semdedup(emb, min_cosine=0.35, n_centroids=8),
        "approx_distinct_table_hll": lambda: SK.approx_distinct_table(ev, g, "user_id"),
        "approx_distinct_table_lc_agg": lambda: SK.approx_distinct_table(ev, g, "user_id", kind="lc", b=8192),
        "approx_distinct_table_lc_table": lambda: SK.approx_distinct_table(ev, g, "user_id", kind="lc", b=65536),
        "sketch_merge_agg": lambda: hll_in.groupBy("event_type").agg(SK.sketch_merge_agg("approx_distinct")),
        "lc_merge_agg": lambda: lc_in.groupBy("event_type").agg(LC.lc_merge_agg("approx_distinct.binary")),
        "kmv_table": lambda: KMV.kmv_table(ev, g, "user_id", k=64),
        "kmv_merge_table": lambda: KMV.kmv_merge_table(kmv_in, ["event_type"], "kmv", 64),
        "quantile_sketch_table": lambda: Q.quantile_sketch_table(ev, g, "value", "event_id", k=64),
        "quantile_sketch_table_global": lambda: Q.quantile_sketch_table(ev, [], "value", "event_id", k=64),
        "qsketch_merge_table": lambda: Q.qsketch_merge_table(qs_in, ["event_type"], "qs", "n_rows", 64),
        "hllp_estimate": lambda: H.hllp_estimate(H.hllp_table(ev, g, "user_id"), g),
        "pcsa_estimate": lambda: P.pcsa_estimate(P.pcsa_table(ev, g, "user_id"), g),
        "lc_two_phase": lambda: LC.lc_two_phase(ev, g, "user_id", size_bytes=8192),
    }
    docs.count()  # one-off session work stays out of the first case
    emb.count()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    result = {}
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    def start(name: str, group: str) -> None:
        spark.sparkContext.setJobGroup(group, group)
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", "-1" if name.endswith("_no_broadcast") else threshold
        )

    for name, build in cases.items():
        start(name, name)
        df = build()
        rows = df.collect()
        result[name] = {
            "schema": df.schema.simpleString(),
            "rows": len(rows),
            "digest": hashlib.sha1(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest(),
        }
    # every case again, after all of them ran once, in job groups that
    # the plan record does not read: what a repeated call pays
    for name, build in cases.items():
        start(name, f"{name}#2")
        compiled = codegen.METRIC_COMPILATION_TIME().getCount()
        t0 = time.perf_counter()
        df = build()
        result[name]["warm_build_s"] = round(time.perf_counter() - t0, 3)
        df.collect()
        result[name]["warm_classes"] = codegen.METRIC_COMPILATION_TIME().getCount() - compiled
    spark.stop()  # flushes the event log

    events = read_events(log_dir)
    jobs: Counter = Counter()
    exec_group: dict[int, str] = {}
    for ev in events:
        props = ev.get("Properties") or {}
        if ev.get("Event") == "SparkListenerJobStart" and props.get("spark.jobGroup.id") in result:
            jobs[props["spark.jobGroup.id"]] += 1
            if props.get("spark.sql.execution.id") is not None:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), props["spark.jobGroup.id"])
    for name in result:
        result[name]["jobs"] = jobs[name]
        result[name]["trees"] = []
    for eid, plan in sorted(final_plans(events).items()):
        if eid in exec_group:
            result[exec_group[eid]]["trees"].append(_tree(plan))
    for name, r in result.items():
        print(name, r["jobs"], "jobs", len(r["trees"]), "executions", flush=True)
    with open(out, "w") as f:
        json.dump(result, f, indent=1)


def compare(old_path: str, new_path: str) -> bool:
    with open(old_path) as f:
        old = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    same_all = True
    for name, a in old.items():
        b = new.get(name, {"trees": []})
        shapes_a = [_shape(t) for t in a["trees"]]
        shapes_b = [_shape(t) for t in b["trees"]]
        same = shapes_a == shapes_b and all(
            a.get(k) == b.get(k) for k in ("jobs", "schema", "rows", "digest")
        )
        exact = [_sequence(t) for t in a["trees"]] == [_sequence(t) for t in b["trees"]]
        same_all &= same
        n_ops = sum(len(_sequence(t)) for t in a["trees"])
        n_ex = sum(op.startswith("Exchange") for t in a["trees"] for op in _sequence(t))
        verdict = ("same" if exact else "same up to broadcast build side") if same else "DIFFERENT"
        print(
            f"{name:32s} jobs {a['jobs']}/{b.get('jobs')} executions "
            f"{len(a['trees'])}/{len(b['trees'])} operators {n_ops} exchanges {n_ex} "
            f"rows {a['rows']}/{b.get('rows')} {verdict}"
            f" | second call: classes {a.get('warm_classes')}/{b.get('warm_classes')}"
            f" build_s {a.get('warm_build_s')}/{b.get('warm_build_s')}"
        )
        for i, (p, q) in enumerate(zip(shapes_a, shapes_b)):
            if p != q:
                print(f"  execution {i}\n    old {p}\n    new {q}")
    return same_all


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=HERE)
    ap.add_argument("--sf")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("OLD", "NEW"))
    args = ap.parse_args()
    if args.compare:
        return 0 if compare(*args.compare) else 1
    if not (args.sf and args.out):
        ap.error("--sf and --out are required unless --compare is given")
    record(os.path.abspath(args.repo), args.sf, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
