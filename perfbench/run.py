#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload sketch_rollup --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with a span around every library call and Spark's event log on,
and prints the per-layer metrics. Everything the run writes stays under
``.bench_work/`` in the repository root; the traced run also leaves its
spans there as ``trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from dataclasses import asdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
SETUP_REPEATS = 3  # setup_s reports the median data-generation + ground-truth time
WARM_PROBES = 5  # the probe's own warm-up, right before the measured loop
DRIVER_MEM = "1g"
# perfbench.workloads imports the library, which must wait for configure_env
WORKLOAD_NAMES = ("sketch_rollup", "corpus_pipeline")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> dict[str, str]:
    """Pin Spark to the cores this process may use and keep every file it writes
    under ``work``. Must run before pyspark or the library is imported:
    the library reads ``SPARK_GRAFT_CPUS`` at import time."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    event_dir = os.path.join(work, "eventlog")
    for d in (tmp, event_dir):
        os.makedirs(d, exist_ok=True)
    submit = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return env


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session, shut the JVM down and wait until every process
    it started (``pids``, sampled while it ran) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run_pass(wl, tracer, rec, probe=None) -> None:
    """Run every unit once. With a ``probe``, it also runs before the
    first unit and after each one (see ``Recorder.rescale``)."""
    if probe is not None:
        rec.probes.append(probe())
    for unit in wl.units:
        rec.start_op()
        unit(tracer, rec)
        if probe is not None:
            rec.probes.append(probe())


def measure(args: argparse.Namespace, work: str) -> dict:
    """Set up, warm up and run the measured loop in a fresh session; the
    session and every process it started are gone when this returns."""
    from hive_udf_spark import get_spark
    from perfbench import hostspeed, metrics, procs
    from perfbench.tracing import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS

    with procs.PeakPss() as mem:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            prepare_s = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                wl.prepare()
                prepare_s.append(time.perf_counter() - t0)

            # warm-up: one pass fills caches and spins up Python workers;
            # its timings are dropped, its failures still count
            cores = len(os.sched_getaffinity(0))
            probe = lambda: hostspeed.probe_s(spark, cores)  # noqa: E731
            warm = metrics.Recorder()
            t0 = time.perf_counter()
            run_pass(wl, NullTracer(), warm)
            for _ in range(WARM_PROBES):
                probe()
            warmup_s = time.perf_counter() - t0

            # every pass runs the same operations on the same inputs, so
            # the number of passes that fit changes only the sample count
            rec = metrics.Recorder()
            tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
            t0 = time.perf_counter()
            passes = 0
            while passes == 0 or time.perf_counter() < t0 + args.seconds:
                run_pass(wl, tracer, rec, probe)
                passes += 1
            measured_s = time.perf_counter() - t0
            rec.rescale(hostspeed.slowdown)
            if args.trace:
                rec.attempt(lambda: wl.extras(tracer, rec))
            items_per_s, accuracy = wl.items_per_s(rec), wl.accuracy()
            conf = dict(spark.sparkContext.getConf().getAll())
        finally:
            stop_spark(spark, [p for p in procs.tree_pids(os.getpid()) if p != os.getpid()])
    rec.attempted += warm.attempted
    rec.failed += warm.failed
    rec.notes = warm.notes + rec.notes
    # setup ran before the first probe: scale it by the run's median slowdown
    setup_s = session_s + statistics.median(prepare_s)
    slow = hostspeed.slowdown(rec.probes)
    return {
        "rec": rec,
        "tracer": tracer,
        "end_to_end": metrics.end_to_end(setup_s / slow, mem.peak_bytes, rec, items_per_s, accuracy),
        "slowdown": slow,
        "phases_s": {"session": session_s, "prepare": prepare_s, "warmup": warmup_s, "measured": measured_s},
        "warmup_samples_s": {**warm.builds, **warm.reads},
        "pss_at_peak_mb": {k: [n, b / 2**20] for k, (n, b) in mem.at_peak.items()},
        "pss_sampling_s": mem.sampling_s,
        "passes": passes,
        "spark_conf": {k: v for k, v in sorted(conf.items()) if not k.startswith(("spark.app.", "spark.driver.host", "spark.driver.port"))},
    }


def trace_metrics(args: argparse.Namespace, work: str, run: dict, info: dict) -> dict[str, float]:
    """Per-layer metrics from the spans and the event log; also writes
    the spans to the trace file."""
    from perfbench import eventlog, metrics

    tracer, rec = run["tracer"], run["rec"]
    groups = eventlog.group_stats(eventlog.read_events(os.path.join(work, "eventlog")))
    rec.counts["tracing_overhead_s"] = tracer.overhead_s
    values = metrics.per_layer(tracer.spans, groups, info["nproc"], rec.counts)
    spans = []
    for sp, own in zip(tracer.spans, tracer.self_times()):
        span = {"name": sp.name, "parent": sp.parent, "wall_s": sp.wall_s, "self_s": own, "plan_build_s": sp.plan_build_s}
        if sp.group in groups:
            span.update(asdict(groups[sp.group]))
        spans.append(span)
    record = {**info, "end_to_end": run["end_to_end"], "per_layer": values, "spans": spans}
    with open(os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    return values


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hive_udf_spark", "__init__.py")):
        print(f"hive_udf_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = configure_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    import pyspark

    from perfbench import metrics, procs

    steal0 = procs.steal_s()
    try:
        run = measure(args, work)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "pyspark": pyspark.__version__,
            "phases_s": run["phases_s"],
            "host_steal_s": procs.steal_s() - steal0,
            "passes": run["passes"],
            "slowdown": run["slowdown"],
            "probes_s": run["rec"].probes,
            "slowdowns": run["rec"].slowdowns,
            "samples_s": {"builds": run["rec"].builds, "reads": run["rec"].reads},
            "warmup_samples_s": run["warmup_samples_s"],
            "pss_at_peak_mb": run["pss_at_peak_mb"],
            "pss_sampling_s": run["pss_sampling_s"],
            "env": env,
            "spark_conf": run["spark_conf"],
        }
        if args.trace:
            values, defs = trace_metrics(args, work, run, info), metrics.PER_LAYER
        else:
            values, defs = run["end_to_end"], metrics.END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec = run["rec"]
    for note in rec.notes[:20]:
        print(f"failed: {note}", file=sys.stderr)
    print(json.dumps({"run": info}))
    print(json.dumps(metrics.result_line(rec.failed == 0, rec, values, defs)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
