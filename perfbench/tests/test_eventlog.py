"""Plan lint and per-job-group attribution over a real event log."""

from __future__ import annotations

import os
import shlex

import pytest

from perfbench import eventlog
from perfbench.tracing import Tracer


def _node(name: str, simple: str = "", *children: dict) -> dict:
    return {"nodeName": name, "simpleString": simple or name, "children": list(children)}


RR = _node("Exchange", "Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=1]", _node("Range"))
HASH = "Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=2]"


def test_rr_rehashed_through_wrappers():
    plan = _node("SortMergeJoin", "", _node("Sort", "", _node("Exchange", HASH, _node("ShuffleQueryStage", "", RR))))
    assert eventlog.rr_rehashed(plan) == 1


def test_rr_feeding_per_row_work_passes():
    plan = _node("Exchange", HASH, _node("WholeStageCodegen (1)", "", _node("Project", "", _node("InputAdapter", "", RR))))
    assert eventlog.rr_rehashed(plan) == 0
    assert eventlog.rr_rehashed(_node("BroadcastHashJoin", "", RR, _node("Range"))) == 0


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    """A local session that writes an uncompressed event log. The JVM
    reads its launch arguments once, so this module must own the first
    session of its process."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        pytest.skip("a Spark session already exists in this process")
    log_dir = tmp_path_factory.mktemp("eventlog")
    saved = os.environ.get("PYSPARK_SUBMIT_ARGS")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "pyspark-shell",
        ]
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from hive_udf_spark import get_spark

    spark = get_spark("perfbench-eventlog-test")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark, str(log_dir)
    spark.stop()
    if saved is None:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    else:
        os.environ["PYSPARK_SUBMIT_ARGS"] = saved


def test_lint_flags_repartition_then_join(traced_spark):
    spark, log_dir = traced_spark
    tr = Tracer(spark.sparkContext)
    left = spark.range(2_000).withColumnRenamed("id", "k")
    right = spark.range(2_000).withColumnRenamed("id", "k")
    with tr.span("scattered_join"):
        assert left.repartition(3).join(right, "k").count() == 2_000
    with tr.span("plain_join"):
        assert left.join(right, "k").count() == 2_000
    with tr.span("scattered_projection"):
        assert left.repartition(3).selectExpr("k * 2 AS k2").collect()
    stats = eventlog.group_stats(eventlog.read_events(log_dir))
    scattered, plain, projection = (stats[sp.group] for sp in tr.spans)
    assert scattered.rr_rehashed_exchanges == 1
    assert plain.rr_rehashed_exchanges == 0
    assert projection.rr_rehashed_exchanges == 0
    assert scattered.executor_run_s > 0 and scattered.shuffle_write_bytes > 0
    assert scattered.stages >= 2
