"""Static audit: rows the driver already holds reach Spark as an Arrow
local relation, never through ``createDataFrame(list)``.

Classic ``createDataFrame(list)`` goes through ``parallelize`` into a
``PythonRDD``: every consumer of the frame (a broadcast, a join, a write)
then runs ``defaultParallelism`` Python-worker tasks to re-serialize a
handful of rows, and each task pays the worker's per-task set-up. The
package builds such frames with ``sources/tables.py:local_frame`` (a
``LocalTableScan``); this test keeps a ``createDataFrame(`` call from
coming back anywhere else.
"""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_engineering_project_spark",
)


def _create_data_frame_calls(tree: ast.AST):
    """(line, enclosing function) of every ``….createDataFrame(`` call."""
    stack: list[str] = []

    def visit(node):
        is_def = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        if is_def:
            stack.append(node.name)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            yield node.lineno, stack[0] if stack else None
        for child in ast.iter_child_nodes(node):
            yield from visit(child)
        if is_def:
            stack.pop()

    yield from visit(tree)


def test_create_data_frame_only_inside_local_frame():
    hits = []
    for dirpath, _dirs, files in os.walk(_PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, _PKG)
            src = open(path, encoding="utf-8").read()
            for lineno, func in _create_data_frame_calls(ast.parse(src)):
                if (rel, func) != (os.path.join("sources", "tables.py"), "local_frame"):
                    hits.append(f"{rel}:{lineno} (in {func})")
    assert not hits, (
        "createDataFrame outside sources/tables.py:local_frame — build "
        "driver-held rows with local_frame:\n" + "\n".join(hits)
    )
