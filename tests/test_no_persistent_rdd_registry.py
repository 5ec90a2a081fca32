"""Static audit: no engine code reads the SparkContext's RDD registry.

``getPersistentRDDs`` lists every persisted RDD of the whole context, so
code that picks "its" checkpoints out of it by diffing snapshots also
picks up whatever another caller persisted in the same window, and frees
it. Operators release their checkpoints through the frame they hold
(``operators/components.py:release``). Tests may still read the registry
to count what a call leaves behind.
"""

from __future__ import annotations

import glob
import os

_PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_engineering_project_spark",
)


def test_no_get_persistent_rdds_in_engine_sources():
    hits = []
    for path in glob.glob(os.path.join(_PKG_DIR, "**", "*.py"), recursive=True):
        for lineno, line in enumerate(open(path, encoding="utf-8"), 1):
            if "getPersistentRDDs" in line:
                rel = os.path.relpath(path, _PKG_DIR)
                hits.append(f"{rel}:{lineno}: {line.strip()}")
    assert not hits, (
        "getPersistentRDDs in engine code — release a checkpoint through "
        "its own frame (operators/components.py:release):\n" + "\n".join(hits)
    )
