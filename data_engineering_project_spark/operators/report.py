"""The reference's core query surface as composable DataFrame operators.

Pipeline (reference ``src/Task1/data_processing.py``):
  filter on a (possibly nested) column == literal   (:139-141)
  → count events per (date, hour, type)             (:268-288)
  → densify to all 24 hours per date                (:306-338)
  → zero-fill missing buckets                       (:338)
  → fixed column order                              (:359-362)

Differences from the reference, on purpose:
- ONE plan across all dates (no per-date driver loop): each date's ≤24
  sparse hourly rows fold into an hour→counts map that explodes over
  0..23, so a single job densifies every date without a spine join.
- No eager count/collect logging (the reference re-executes lineage ≥8 times
  per date, ``:134-136,144,252,268-291``). Use ``df.observe`` for metrics.

This module, ``sources/events.py`` (the filename projection) and
``functions/scalars.py:compose_datetime`` (the ``date + hour`` warehouse
key) hold the report contract the batch run, the streaming writers and the
warehouse load share: :data:`TYPE_COLUMNS` names the counted event types
and their report columns, and :func:`combine_hourly_reports` is the
24-rows-per-date grid.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: event type (from the file name) → its count column in the daily report
#: and the warehouse table (reference ``src/Task1/data_processing.py:359``)
TYPE_COLUMNS: dict[str, str] = {
    "impressions": "impression_count",
    "clicks": "click_count",
}


def day_hours() -> Column:
    """The hour grid: one row per hour 0..23 (an ``explode``, aliased
    ``hour``) — every date of a report gets exactly these 24 rows."""
    return F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour")


def filter_equals(df: DataFrame, column: str, value) -> DataFrame:
    """Equality filter on a column path; nested paths (``a.b.c``) work and the
    predicate is pushed into the parquet scan by Catalyst
    (reference ``src/Task1/data_processing.py:139-141``)."""
    return df.filter(F.col(column) == F.lit(value))


def hourly_type_counts(
    df: DataFrame,
    *,
    date_col: Column | str,
    hour_col: Column | str,
    type_col: Column | str,
    types: Sequence[str],
) -> DataFrame:
    """Count events per (date, hour), one ``<type>_count`` column per type.

    One hash aggregate with count-if columns (map-side partial agg is
    automatic) — the reference computes each type in a separate job and joins
    (``src/Task1/data_processing.py:273-288, 318-333``); a single conditional
    aggregate is one shuffle instead of two jobs + a join.
    """
    date_col = F.col(date_col) if isinstance(date_col, str) else date_col
    hour_col = F.col(hour_col) if isinstance(hour_col, str) else hour_col
    type_col = F.col(type_col) if isinstance(type_col, str) else type_col

    aggs = [
        F.count(F.when(type_col == t, F.lit(1))).alias(f"{t}_count") for t in types
    ]
    return df.groupBy(date_col.alias("date"), hour_col.alias("hour")).agg(*aggs)


def combine_hourly_reports(
    df: DataFrame,
    *,
    date_col: Column | str,
    hour_col: Column | str,
    type_col: Column | str,
    types: Sequence[str],
) -> DataFrame:
    """Full report: counts → densify → zero-fill → ordered columns.

    Output schema mirrors the reference's daily report
    (``date, hour, <type>_count...``; exactly 24 rows per observed date,
    golden example ``output/task1_output_2022-05-26.csv``).

    Rows come back unordered: a global orderBy would add a range-partition
    exchange + sort stage that no consumer needs — the CSV sink orders rows
    per date-partition itself, and relational consumers treat row order as
    meaningless.
    """
    counts = hourly_type_counts(
        df, date_col=date_col, hour_col=hour_col, type_col=type_col, types=types
    )
    fill = [f"{t}_count" for t in types]
    # Densify WITHOUT a spine join: fold each date's ≤24 sparse rows into an
    # hour→counts map (one tiny post-agg shuffle on date), explode the full
    # 0..23 sequence, and zero-fill lookup misses. The round-2 design joined
    # a spine derived from `counts` back against `counts`, which needed a
    # persist barrier (Catalyst otherwise collapses distinct-over-agg into a
    # SECOND full scan of the raw events) — and that cache leaked across
    # catalog sweeps. This shape is single-scan by construction: no cache to
    # leak, no join, and the per-date map is bounded at 24 entries.
    per_date = counts.groupBy("date").agg(
        F.map_from_entries(
            F.collect_list(F.struct("hour", F.struct(*fill)))
        ).alias("_by_hour")
    )
    exploded = per_date.select("date", day_hours(), "_by_hour")
    return exploded.select(
        "date",
        "hour",
        *[
            F.coalesce(F.col("_by_hour")[F.col("hour")][c], F.lit(0)).alias(c)
            for c in fill
        ],
    )
