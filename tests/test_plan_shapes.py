"""The plan normalization of ``scripts/plan_shapes.py`` on hand-built
event-log plan nodes (no Spark session): what two recordings of the same
code may differ in compares equal, and what a change to the plan does not."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "plan_shapes.py")
_spec = importlib.util.spec_from_file_location("plan_shapes", _PATH)
plan_shapes = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_shapes)


def _node(name: str, desc: str = "", *children: dict) -> dict:
    return {"nodeName": name, "simpleString": desc or name, "children": list(children)}


def _side(exchange: str = "hashpartitioning(id#1L, 8)") -> dict:
    scan = _node("Scan parquet", "FileScan parquet [id#1L,v#2]")
    shuffle = _node("Exchange", f"Exchange {exchange}, ENSURE_REQUIREMENTS, [plan_id=7]", scan)
    return _node("WholeStageCodegen (2)", "", _node("Project", "Project [id#1L]", shuffle))


def _self_join(build: str, side=_side) -> dict:
    """An inner self-join with the broadcast on the ``build`` side."""
    left, right = side(), side()
    if build == "BuildLeft":
        left = _node("BroadcastExchange", "BroadcastExchange HashedRelationBroadcastMode", left)
    else:
        right = _node("BroadcastExchange", "BroadcastExchange HashedRelationBroadcastMode", right)
    join = _node(
        "BroadcastHashJoin", f"BroadcastHashJoin [id#1L], [id#3L], Inner, {build}, false", left, right
    )
    return _node("WholeStageCodegen (5)", "", join)


def _shape(plan: dict) -> str:
    return plan_shapes._shape(plan_shapes._tree(plan))


def test_tree_names_exchange_kind_and_drops_codegen_ids():
    tree = plan_shapes._tree(_side())
    assert plan_shapes._sequence(tree) == [
        "WholeStageCodegen", "Project", "Exchange hashpartitioning", "Scan parquet"
    ]
    join = plan_shapes._sequence(plan_shapes._tree(_self_join("BuildRight")))
    assert join[1] == "BroadcastHashJoin Inner BuildRight"


def test_swapped_broadcast_build_side_compares_equal():
    right, left = _self_join("BuildRight"), _self_join("BuildLeft")
    assert plan_shapes._sequence(plan_shapes._tree(right)) != plan_shapes._sequence(
        plan_shapes._tree(left)
    )
    assert _shape(right) == _shape(left)


def test_changed_exchange_kind_or_extra_operator_compares_different():
    base = _shape(_self_join("BuildRight"))
    round_robin = _shape(_self_join("BuildRight", lambda: _side("RoundRobinPartitioning(8)")))
    assert round_robin != base

    def extra_project():
        return _node("Project", "Project [id#1L]", _side())

    assert _shape(_self_join("BuildRight", extra_project)) != base
