"""Unit tests for the core report operators — the reference's semantic edge
cases (FIXTURES.md §A: empty inputs still yield 24 dense rows, clicks may
exceed impressions and stay uncorrected, out-of-domain hours excluded)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_project_spark.operators.report import (
    combine_hourly_reports,
    filter_equals,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("d", T.DateType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("etype", T.StringType()),
    ]
)

D1 = datetime.date(2022, 5, 26)
D2 = datetime.date(2022, 5, 27)


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def test_dense_grid_zero_fill(spark):
    # reference golden shape: hour 11=(0,10), hour 12=(10,20), rest zeros
    rows = (
        [(D2, 11, "clicks")] * 10
        + [(D2, 12, "impressions")] * 10
        + [(D2, 12, "clicks")] * 20
    )
    out = combine_hourly_reports(
        _events(spark, rows),
        date_col="d",
        hour_col="h",
        type_col="etype",
        types=("impressions", "clicks"),
    ).collect()
    assert len(out) == 24
    by_hour = {r["hour"]: (r["impressions_count"], r["clicks_count"]) for r in out}
    assert by_hour[11] == (0, 10)
    # clicks exceed impressions: reported upstream, NOT corrected here
    assert by_hour[12] == (10, 20)
    assert all(by_hour[h] == (0, 0) for h in range(24) if h not in (11, 12))


def test_multi_date_single_plan(spark):
    rows = [(D1, 11, "impressions")] * 4 + [(D2, 12, "clicks")] * 3
    out = combine_hourly_reports(
        _events(spark, rows),
        date_col="d",
        hour_col="h",
        type_col="etype",
        types=("impressions", "clicks"),
    ).collect()
    # 24 rows per observed date, one plan over all dates
    assert len(out) == 48
    dates = {str(r["date"]) for r in out}
    assert dates == {"2022-05-26", "2022-05-27"}


def test_empty_input_empty_report(spark):
    out = combine_hourly_reports(
        _events(spark, []),
        date_col="d",
        hour_col="h",
        type_col="etype",
        types=("impressions", "clicks"),
    ).collect()
    # no observed dates → no spine rows (per-date zero grids require the
    # date to appear in the data)
    assert out == []


def test_filter_equals_nested(spark):
    df = spark.createDataFrame(
        [(("agent-a", 1),), (("agent-b", 2),)],
        T.StructType(
            [
                T.StructField(
                    "device_settings",
                    T.StructType(
                        [
                            T.StructField("user_agent", T.StringType()),
                            T.StructField("browser_id", T.IntegerType()),
                        ]
                    ),
                )
            ]
        ),
    )
    out = filter_equals(df, "device_settings.user_agent", "agent-a").collect()
    assert len(out) == 1
    assert out[0]["device_settings"]["browser_id"] == 1
