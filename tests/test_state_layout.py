"""The versioned state-directory layout of the foreachBatch sinks lives
in one module, ``sources/sinks.py`` (``read_state_version``,
``hwm_skip``, ``commit_state_version``): no module under ``streaming/``
resolves the ``<state>`` symlink, swaps a version in, or reads or
writes ``meta.json`` on its own. Spark-free."""

from __future__ import annotations

import ast
import pathlib

STREAMING = pathlib.Path(__file__).resolve().parents[1] / "hive_udf_spark" / "streaming"


def _docstrings(tree: ast.AST) -> set[int]:
    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, scopes)
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def _layout_uses(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    docs = _docstrings(tree)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name == "_resolve":
                found.append(f"{path.name}:{node.lineno} defines _resolve")
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "swap_dir":
                found.append(f"{path.name}:{node.lineno} calls swap_dir(")
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "meta.json" in node.value
            and id(node) not in docs
        ):
            found.append(f"{path.name}:{node.lineno} names meta.json in code")
    return found


def test_streaming_modules_leave_state_layout_to_sources_sinks():
    modules = sorted(STREAMING.glob("*.py"))
    assert len(modules) > 10
    assert [u for p in modules for u in _layout_uses(p)] == []


def test_layout_check_sees_each_pattern(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        '"""meta.json in a docstring is prose, not code."""\n'
        "def _resolve(p):\n"
        "    return p\n"
        "def commit(p, d):\n"
        "    sinks.swap_dir(p, d)\n"
        '    open(f"{d}/meta.json", "w")\n'
    )
    assert _layout_uses(bad) == [
        "bad.py:2 defines _resolve",
        "bad.py:5 calls swap_dir(",
        "bad.py:6 names meta.json in code",
    ]
