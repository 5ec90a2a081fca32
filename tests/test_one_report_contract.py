"""Static audit: the report contract is stated once.

The batch run, the streaming writers and the warehouse load share four
decisions. Each has one home, and a second copy has drifted before (the
warehouse key lost the NULL guard ``compose_datetime`` has):

- the filename projection — ``sources/events.py:with_filename_event_time``
  over ``_metadata.file_path``; ``input_file_name()`` is not used;
- the ``date + hour → datetime`` key — ``functions/scalars.py:
  compose_datetime`` is the only ``"%02d:00:00"`` composition;
- the event type → count column map — ``operators/report.py:TYPE_COLUMNS``;
- the 24-hour grid — ``operators/report.py:day_hours``; the spine/densify
  pair it replaced stays gone.
"""

from __future__ import annotations

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
