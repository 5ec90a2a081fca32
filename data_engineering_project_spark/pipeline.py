"""Batch pipeline: the reference's Task-1 flow as one declarative plan.

Reference lifecycle (``src/Task1/data_processing.py:15-192``): driver-side
``os.listdir`` manifest → per-(date, type) Spark jobs → per-date CSV. Here:
ONE scan over the landing directory, filename-derived metadata columns, one
aggregation across all dates and event types, one densification join, one
partitioned CSV write. No driver loops, no re-executed lineage; at 100 TB
this is a single shuffle (the groupBy) over the filtered events.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark import quality as Q
from data_engineering_project_spark.operators.report import (
    combine_hourly_reports,
    filter_equals,
)
from data_engineering_project_spark.sinks.csv_sink import write_daily_csv
from data_engineering_project_spark.sources.events import read_event_files

DEFAULT_TYPE_COLUMNS: Mapping[str, str] = {
    "impressions": "impression_count",
    "clicks": "click_count",
}


@dataclass
class PipelineResult:
    report: DataFrame
    invalid: DataFrame
    csv_paths: list[str]
    #: filled after the write action; None when observation was disabled
    observation: Observation | None = None


def build_daily_report(
    spark: SparkSession,
    input_dir: str,
    *,
    user_agent: str | None = None,
    ua_column: str = "device_settings.user_agent",
    type_columns: Mapping[str, str] = DEFAULT_TYPE_COLUMNS,
    schema=None,
    observation: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Landing dir → (dense daily report, invalid-rows dead letter).

    Steps mirror the reference exactly (filter on the nested UA column
    :139-141; hour from filename :238-244; out-of-domain hours excluded
    :247-265; dense 24h grid :306-338) but compiled into one Catalyst plan.

    ``observation``: the reference fires ≥8 eager count/collect actions per
    date purely for logging, re-executing lineage each time
    (data_processing.py:134-291 — SURVEY.md §3.1). ``df.observe`` collects
    the same numbers as a side effect of the one real action, at zero extra
    jobs; read ``observation.get`` after the write.
    """
    raw = read_event_files(spark, input_dir, schema=schema)
    filtered = (
        filter_equals(raw, ua_column, user_agent) if user_agent is not None else raw
    )
    if observation is not None:
        filtered = filtered.observe(
            observation,
            F.count(F.lit(1)).alias("rows_matched"),
            # observed metrics forbid DISTINCT aggregates; the set of dates
            # is tiny (one batch spans days) and exact, where the HLL sketch
            # already misreads 7 dates as 6
            F.size(F.collect_set(F.col("event_date"))).alias("n_dates"),
            F.count(F.when(F.col(ua_column).isNull(), 1)).alias("null_ua_rows"),
        )
    split = Q.split_valid_invalid(
        filtered,
        [
            Q.domain_rule("event_hour", 0, 23, name="Invalid hour"),
            Q.Rule("Unknown event type", ~F.col("event_type").isin(*type_columns)),
        ],
        source_file=F.col("source_file"),
    )
    report = combine_hourly_reports(
        split.valid,
        date_col=F.date_format("event_date", "yyyy-MM-dd"),
        hour_col="event_hour",
        type_col="event_type",
        types=tuple(type_columns),
    )
    for etype, out_col in type_columns.items():
        report = report.withColumnRenamed(f"{etype}_count", out_col)
    report = report.select("date", "hour", *type_columns.values())
    return report, split.invalid


def run_daily_report(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    *,
    user_agent: str | None = None,
    type_columns: Mapping[str, str] = DEFAULT_TYPE_COLUMNS,
    schema=None,
    observe: bool = True,
) -> PipelineResult:
    """Full Task-1 analog: build the report and write one CSV per date."""
    observation = Observation("task1_metrics") if observe else None
    report, invalid = build_daily_report(
        spark,
        input_dir,
        user_agent=user_agent,
        type_columns=type_columns,
        schema=schema,
        observation=observation,
    )
    paths = write_daily_csv(report, output_dir)
    return PipelineResult(
        report=report, invalid=invalid, csv_paths=paths, observation=observation
    )
