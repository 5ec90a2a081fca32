"""Static audit: the vector kernels cross the JVM/Python boundary through
Arrow, never ``mapInPandas``.

``mapInPandas`` turns NaN into NULL on return, and its pandas conversion
turns a NULL element into NaN on the way in, so a pandas kernel silently
changes the NULL/NaN semantics the similarity and clustering operators pin
against their expression forms. Their kernels run on the shared contract
in ``operators/kernels.py`` (``mapInArrow``/``applyInArrow`` with explicit
validity masks); this test keeps a pandas kernel from coming back into
either module.
"""

from __future__ import annotations

import os

_OPS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_engineering_project_spark",
    "operators",
)


def test_no_map_in_pandas_in_vector_operators():
    hits = []
    for name in ("similarity.py", "clustering.py"):
        path = os.path.join(_OPS_DIR, name)
        for lineno, line in enumerate(open(path, encoding="utf-8"), 1):
            if "mapInPandas(" in line:
                hits.append(f"{name}:{lineno}: {line.strip()}")
    assert not hits, (
        "mapInPandas in a vector operator — use mapInArrow on the "
        "operators/kernels.py contract:\n" + "\n".join(hits)
    )
