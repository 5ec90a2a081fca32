"""Batch pipeline: the reference's Task-1 flow as one declarative plan.

Reference lifecycle (``src/Task1/data_processing.py:15-192``): driver-side
``os.listdir`` manifest → per-(date, type) Spark jobs → per-date CSV. Here:
ONE scan over the landing directory, filename-derived metadata columns, one
aggregation across all dates and event types, one map-explode densification,
one collect of the bounded report (24 rows per date), from which the driver
writes the per-date CSVs. No driver loops, no re-executed lineage; at 100 TB
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
    #: rows_matched / n_dates / null_ua_rows, filled by the report's collect
    observation: Observation
    #: the dead-letter split's n_rows / n_invalid, filled by the same action
    quality: Observation

    @property
    def dead_letter_rows(self) -> int:
        """Rows routed to ``invalid``, counted by the report's collect —
        reading it runs no second scan."""
        return self.quality.get["n_invalid"]


def select_report_rows(
    events: DataFrame,
    user_agent: str | None,
    observation: Observation | None = None,
) -> Q.SplitResult:
    """The report's rows, for the batch run and the stream alike: the
    ``user_agent`` match on :data:`UA_COLUMN` (reference :139-141), then the
    dead-letter split on the file-name hour (:247-265) and the
    :data:`TYPE_COLUMNS` types. ``observation`` gets the UA-matched rows'
    counts; a batch split counts ``n_rows``/``n_invalid`` (a stream counts
    nothing: ``Observation`` does not support streaming Datasets)."""
    if user_agent is not None:
        events = filter_equals(events, UA_COLUMN, user_agent)
    if observation is not None:
        events = events.observe(
            observation,
            F.count(F.lit(1)).alias("rows_matched"),
            # observed metrics forbid DISTINCT aggregates; the set of dates
            # is tiny (one batch spans days) and exact, where the HLL sketch
            # already misreads 7 dates as 6
            F.size(F.collect_set(F.col("event_date"))).alias("n_dates"),
            F.count(F.when(F.col(UA_COLUMN).isNull(), 1)).alias("null_ua_rows"),
        )
    return Q.split_valid_invalid(
        events,
        [
            Q.domain_rule("event_hour", 0, 23, name="Invalid hour"),
            Q.Rule("Unknown event type", ~F.col("event_type").isin(*TYPE_COLUMNS)),
        ],
        observe=not events.isStreaming,
    )


def build_daily_report(
    spark: SparkSession,
    input_dir: str,
    *,
    user_agent: str | None = None,
    schema=None,
    observation: Observation | None = None,
) -> tuple[DataFrame, Q.SplitResult]:
    """Landing dir → (dense daily report, dead-letter split).

    Steps mirror the reference exactly (rows chosen by
    :func:`select_report_rows`; hour from filename :238-244; dense 24h grid
    :306-338) but compiled into one Catalyst plan.

    ``observation``: the reference fires ≥8 eager count/collect actions per
    date purely for logging, re-executing lineage each time
    (data_processing.py:134-291 — SURVEY.md §3.1). ``df.observe`` collects
    the same numbers as a side effect of the one real action, at zero extra
    jobs; read ``observation.get`` (and the split's) after the report is
    collected.
    """
    split = select_report_rows(
        read_event_files(spark, input_dir, schema=schema), user_agent, observation
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
