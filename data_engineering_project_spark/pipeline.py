"""Batch pipeline: the reference's Task-1 flow as one declarative plan.

Reference lifecycle (``src/Task1/data_processing.py:15-192``): driver-side
``os.listdir`` manifest → per-(date, type) Spark jobs → per-date CSV. Here:
ONE scan over the landing directory, filename-derived metadata columns, one
aggregation across all dates and event types, one map-explode densification,
one partitioned CSV write. No driver loops, no re-executed lineage; at 100 TB
this is a single shuffle (the groupBy) over the filtered events.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark import quality as Q
from data_engineering_project_spark.operators.report import (
    TYPE_COLUMNS,
    combine_hourly_reports,
    filter_equals,
)
from data_engineering_project_spark.sinks.csv_sink import write_daily_csv
from data_engineering_project_spark.sources.events import read_event_files

#: the reference's filter column (``src/Task1/data_processing.py:139-141``)
UA_COLUMN = "device_settings.user_agent"


@dataclass
class PipelineResult:
    report: DataFrame
    invalid: DataFrame
    csv_paths: list[str]
    #: rows_matched / n_dates / null_ua_rows, filled by the write action
    observation: Observation
    #: the dead-letter split's n_rows / n_invalid, filled by the same action
    quality: Observation

    @property
    def dead_letter_rows(self) -> int:
        """Rows routed to ``invalid``, counted by the write job — reading
        it runs no second scan."""
        return self.quality.get["n_invalid"]


def build_daily_report(
    spark: SparkSession,
    input_dir: str,
    *,
    user_agent: str | None = None,
    schema=None,
    observation: Observation | None = None,
) -> tuple[DataFrame, Q.SplitResult]:
    """Landing dir → (dense daily report, dead-letter split).

    Steps mirror the reference exactly (filter on the nested UA column
    :139-141; hour from filename :238-244; out-of-domain hours excluded
    :247-265; dense 24h grid :306-338) but compiled into one Catalyst plan.

    ``observation``: the reference fires ≥8 eager count/collect actions per
    date purely for logging, re-executing lineage each time
    (data_processing.py:134-291 — SURVEY.md §3.1). ``df.observe`` collects
    the same numbers as a side effect of the one real action, at zero extra
    jobs; read ``observation.get`` after the write. The split carries its
    own observation (``n_rows``/``n_invalid``) the same way.
    """
    raw = read_event_files(spark, input_dir, schema=schema)
    filtered = (
        filter_equals(raw, UA_COLUMN, user_agent) if user_agent is not None else raw
    )
    if observation is not None:
        filtered = filtered.observe(
            observation,
            F.count(F.lit(1)).alias("rows_matched"),
            # observed metrics forbid DISTINCT aggregates; the set of dates
            # is tiny (one batch spans days) and exact, where the HLL sketch
            # already misreads 7 dates as 6
            F.size(F.collect_set(F.col("event_date"))).alias("n_dates"),
            F.count(F.when(F.col(UA_COLUMN).isNull(), 1)).alias("null_ua_rows"),
        )
    split = Q.split_valid_invalid(
        filtered,
        [
            Q.domain_rule("event_hour", 0, 23, name="Invalid hour"),
            Q.Rule("Unknown event type", ~F.col("event_type").isin(*TYPE_COLUMNS)),
        ],
        source_file=F.col("source_file"),
        observe=True,
    )
    report = combine_hourly_reports(
        split.valid,
        date_col=F.date_format("event_date", "yyyy-MM-dd"),
        hour_col="event_hour",
        type_col="event_type",
        types=tuple(TYPE_COLUMNS),
    )
    report = report.select(
        "date",
        "hour",
        *[F.col(f"{t}_count").alias(c) for t, c in TYPE_COLUMNS.items()],
    )
    return report, split


def run_daily_report(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    *,
    user_agent: str | None = None,
    schema=None,
) -> PipelineResult:
    """Full Task-1 analog: build the report and write one CSV per date."""
    observation = Observation("task1_metrics")
    report, split = build_daily_report(
        spark,
        input_dir,
        user_agent=user_agent,
        schema=schema,
        observation=observation,
    )
    paths = write_daily_csv(report, output_dir)
    return PipelineResult(
        report=report,
        invalid=split.invalid,
        csv_paths=paths,
        observation=observation,
        quality=split.observation,
    )
