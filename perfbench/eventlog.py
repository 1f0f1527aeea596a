"""Read Spark's uncompressed event log: per-job-group task numbers and
a lint over the adaptive-execution final plans.

The traced run tags each call's jobs with a unique job group
(``tracing.Tracer``). ``SparkListenerJobStart`` carries that group and
the SQL execution id in its properties, stages map to their first job,
task-end events carry run time and shuffle bytes, and
``SparkListenerSQLAdaptiveExecutionUpdate`` carries each execution's
re-planned physical plan, the last of which is the final one.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# plan nodes that only wrap or re-read another node's output: a round-
# robin exchange seen through them still feeds its consumer directly
_WRAPPERS = ("ShuffleQueryStage", "AQEShuffleRead", "InputAdapter", "WholeStageCodegen", "ColumnarToRow")


@dataclass
class GroupStats:
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    stages: int = 0
    single_task_stages: int = 0
    rr_rehashed_exchanges: int = 0


def read_events(log_dir: str) -> list[dict]:
    """All events of the single application log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    with open(paths[0], encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _is_rr_exchange(node: dict) -> bool:
    return node.get("nodeName") == "Exchange" and "RoundRobinPartitioning" in node.get("simpleString", "")


def _rehashes(node: dict) -> bool:
    name = node.get("nodeName", "")
    return name == "SortMergeJoin" or (name == "Exchange" and "hashpartitioning" in node.get("simpleString", ""))


def rr_rehashed(plan: dict) -> int:
    """Round-robin exchanges whose output goes straight into a hash
    exchange or a sort-merge join, seen only through wrapper nodes — the
    scatter's layout is discarded before any per-row work runs on it."""
    count = 0

    def visit(node: dict, consumer: dict | None) -> None:
        nonlocal count
        if _is_rr_exchange(node) and consumer is not None and _rehashes(consumer):
            count += 1
        name = node.get("nodeName", "")
        wraps = any(name.startswith(w) for w in _WRAPPERS)
        for child in node.get("children", []):
            visit(child, consumer if wraps else node)

    visit(plan, None)
    return count


def final_plans(events: list[dict]) -> dict[int, dict]:
    """Execution id → its last planned tree (the AQE-final plan when the
    execution was re-planned)."""
    plans: dict[int, dict] = {}
    for ev in events:
        if ev.get("Event") in (_SQL_START, _SQL_AQE_UPDATE):
            plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
    return plans


def group_stats(events: list[dict]) -> dict[str, GroupStats]:
    """Job group → summed task numbers, stage counts and plan lint."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        props = ev.get("Properties") or {}
        group = props.get("spark.jobGroup.id")
        if group is None:
            continue
        for sid in ev.get("Stage IDs", []):
            stage_group.setdefault(int(sid), group)
        if props.get("spark.sql.execution.id") is not None:
            exec_group.setdefault(int(props["spark.sql.execution.id"]), group)

    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd":
            group = stage_group.get(int(ev["Stage ID"]))
            metrics = ev.get("Task Metrics") or {}
            if group is None or not metrics:
                continue
            st = out[group]
            st.executor_run_s += metrics.get("Executor Run Time", 0) / 1000.0
            st.shuffle_write_bytes += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(int(info["Stage ID"]))
            if group is None:
                continue
            out[group].stages += 1
            out[group].single_task_stages += int(info.get("Number of Tasks", 0) == 1)
    for eid, plan in final_plans(events).items():
        group = exec_group.get(eid)
        if group is not None:
            out[group].rr_rehashed_exchanges += rr_rehashed(plan)
    return dict(out)
