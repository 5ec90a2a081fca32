"""Per-date CSV report sink.

The reference writes one headered CSV per date named
``task1_output_{date}.csv`` via ``coalesce(1)`` → ``toPandas()`` → ``to_csv``
(``src/Task1/data_processing.py:179, 381-408``) — a driver-memory bottleneck:
the whole report materializes in the Python driver.

Here the executors write: ``repartition(date)`` → ``partitionBy(date)``
headered CSV (one file per date partition because each date hashes to one
task), then a driver-side *rename* pass flattens
``date=YYYY-MM-DD/part-*.csv`` → ``task1_output_YYYY-MM-DD.csv``. Renames are
filesystem metadata ops — O(#dates), independent of data volume — so the
sink holds at any report size, and a report is ≤24 rows/date anyway.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_daily_csv(report: DataFrame, out_dir: str) -> list[str]:
    """Write one headered CSV per distinct ``date``; returns the paths
    written."""
    staging = os.path.join(out_dir, "_staging")
    (
        report.repartition("date")
        .sortWithinPartitions("hour")
        .write.option("header", True)
        .partitionBy("date")
        .mode("overwrite")
        .csv(staging)
    )

    written: list[str] = []
    for part_dir in sorted(glob.glob(os.path.join(staging, "date=*"))):
        date_val = os.path.basename(part_dir).split("=", 1)[1]
        parts = sorted(glob.glob(os.path.join(part_dir, "part-*.csv")))
        target = os.path.join(out_dir, f"task1_output_{date_val}.csv")
        if len(parts) == 1:
            shutil.move(parts[0], target)
        else:  # >1 part for a date (never at ≤24 rows/date, but stay correct)
            with open(target, "w") as out:
                for i, p in enumerate(parts):
                    with open(p) as f:
                        lines = f.readlines()
                    out.writelines(lines if i == 0 else lines[1:])
        _reinsert_date_column(target, date_val)
        written.append(target)
    shutil.rmtree(staging, ignore_errors=True)
    return written


def _reinsert_date_column(path: str, date_val: str) -> None:
    """partitionBy drops the partition column from the file body; the
    reference's golden CSVs carry the date as the first column
    (``output/task1_output_2022-05-26.csv``) — restore it."""
    with open(path) as f:
        lines = f.read().splitlines()
    if not lines:
        return
    out = [f"date,{lines[0]}"]
    out += [f"{date_val},{line}" for line in lines[1:]]
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
