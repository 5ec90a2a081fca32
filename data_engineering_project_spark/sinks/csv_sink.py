"""Per-date CSV report sink.

The reference writes one headered CSV per date named
``task1_output_{date}.csv`` via ``coalesce(1)`` → ``toPandas()`` → ``to_csv``
(``src/Task1/data_processing.py:179, 381-408``).

The report is bounded: the dense grid has exactly 24 rows per date, whatever
the event volume. So the driver collects it in one action — the action that
also fills the run's observations — and writes each file itself. A Spark file
write would add a shuffle on ``date``, a staging directory, a commit
protocol and a rename pass around what is a few hundred bytes per date.
Each file is written under a temporary name and ``os.replace``-d into place,
so a reader never sees a half-written report.
"""

from __future__ import annotations

import os
from itertools import groupby

from pyspark.sql import DataFrame


def write_daily_csv(report: DataFrame, out_dir: str) -> list[str]:
    """Write one headered CSV per distinct ``date`` (the first column), rows
    in ``hour`` order, from one collect; returns the paths written, in date
    order."""
    rows = sorted(report.collect(), key=lambda r: (r["date"], r["hour"]))
    header = ",".join(report.columns) + "\n"
    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []
    for date_val, day in groupby(rows, key=lambda r: r["date"]):
        target = os.path.join(out_dir, f"task1_output_{date_val}.csv")
        tmp = target + ".tmp"
        with open(tmp, "w") as f:
            f.write(header)
            f.writelines(",".join(map(str, r)) + "\n" for r in day)
        os.replace(tmp, target)
        written.append(target)
    return written
