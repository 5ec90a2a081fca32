"""Static audit: the report contract is stated once.

The batch run, the streaming writers and the warehouse load share five
decisions. Each has one home, and a second copy has drifted before (the
warehouse key lost the NULL guard ``compose_datetime`` has; the stream
counted every user agent and the ``views`` rows the batch dead-letters):

- the filename projection — ``sources/events.py:with_filename_event_time``
  over ``_metadata.file_path``; ``input_file_name()`` is not used;
- the ``date + hour → datetime`` key — ``functions/scalars.py:
  compose_datetime`` is the only ``"%02d:00:00"`` composition;
- the event type → count column map — ``operators/report.py:TYPE_COLUMNS``;
- the 24-hour grid — ``operators/report.py:day_hours``; the spine/densify
  pair it replaced stays gone;
- the row selection — ``pipeline.py:select_report_rows`` is the only place
  that reads the UA column or checks the event type against the map.
"""

from __future__ import annotations

import ast
import glob
import os
import re

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_engineering_project_spark",
)


def _hits(pattern: str) -> dict[str, list[int]]:
    """Package-relative path → line numbers matching ``pattern``."""
    rx = re.compile(pattern)
    out: dict[str, list[int]] = {}
    for path in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, _PKG)
        for lineno, line in enumerate(open(path, encoding="utf-8"), 1):
            if rx.search(line):
                out.setdefault(rel, []).append(lineno)
    return out


def _functions_hit(pattern: str) -> set[tuple[str, str | None]]:
    """(package-relative path, innermost enclosing function or ``None`` at
    module level) of every line matching ``pattern``."""
    out = set()
    for rel, lines in _hits(pattern).items():
        tree = ast.parse(open(os.path.join(_PKG, rel), encoding="utf-8").read())
        funcs = [
            n
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for lineno in lines:
            inside = [f for f in funcs if f.lineno <= lineno <= f.end_lineno]
            name = max(inside, key=lambda f: f.lineno).name if inside else None
            out.add((rel, name))
    return out


def test_no_input_file_name():
    assert _hits(r"input_file_name\(") == {}


def test_filename_projection_lives_in_events():
    assert set(_hits(r"filename_(batch_ts|event_type)\(")) == {
        os.path.join("sources", "events.py")
    }


def test_datetime_key_composed_only_in_compose_datetime():
    assert set(_hits(r"%02d:00:00")) == {os.path.join("functions", "scalars.py")}


def test_type_column_map_stated_once():
    assert set(_hits(r"""["']impressions["']\s*:""")) == {
        os.path.join("operators", "report.py")
    }


def test_hour_grid_stated_once():
    assert set(_hits(r"sequence\(F\.lit\(0\), F\.lit\(23\)\)")) == {
        os.path.join("operators", "report.py")
    }
    assert _hits(r"\b(hour_spine|densify_hours)\b") == {}


def test_row_selection_stated_once():
    home = ("pipeline.py", "select_report_rows")
    # the UA column is defined at module level and read only by the selection
    assert _functions_hit(r"\bUA_COLUMN\b") == {("pipeline.py", None), home}
    assert _functions_hit(r"filter_equals\(") == {
        home,
        (os.path.join("operators", "report.py"), "filter_equals"),  # its def
    }
    # the type rule: the stream's own copy in its report writer stays gone
    assert _functions_hit(r"isin\(\*TYPE_COLUMNS") == {home}
