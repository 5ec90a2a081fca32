"""Warehouse load orchestration — the reference's Task-2 semantics.

``ClientReportETL.load_data`` (reference ``src/Task2/warehouse.py:391-485``):
read report CSV → compose datetime → validate (route invalid) → atomically
archive/replace/insert → verify. The reference does all of it in pandas on
the driver; here preparation + validation are Spark plans and only the final
merge transaction runs on the warehouse (see sinks/warehouse_sink.py).

DDL matches ``docker/init/01-init-db.sql:5-31``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_project_spark import quality as Q
from data_engineering_project_spark.functions.scalars import compose_datetime

REPORT_CSV_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType()),
        T.StructField("hour", T.IntegerType()),
        T.StructField("impression_count", T.LongType()),
        T.StructField("click_count", T.LongType()),
    ]
)

# reference docker/init/01-init-db.sql:5-31 (warehouse-portable subset)
DDL = {
    "client_report": """
        CREATE TABLE IF NOT EXISTS client_report (
            datetime TIMESTAMP PRIMARY KEY,
            impression_count BIGINT,
            click_count BIGINT,
            audit_loaded_datetime TIMESTAMP
        )""",
    "client_report_archive": """
        CREATE TABLE IF NOT EXISTS client_report_archive (
            datetime TIMESTAMP,
            impression_count BIGINT,
            click_count BIGINT,
            audit_loaded_datetime TIMESTAMP
        )""",
    "client_report_invalid": """
        CREATE TABLE IF NOT EXISTS client_report_invalid (
            datetime TIMESTAMP,
            impression_count BIGINT,
            click_count BIGINT,
            audit_loaded_datetime TIMESTAMP,
            validation_error TEXT,
            source_file TEXT,
            PRIMARY KEY (datetime, source_file)
        )""",
}


def read_report_csv(spark: SparkSession, path: str) -> DataFrame:
    """Task-1 output CSV → DataFrame (reference pd.read_csv, :406)."""
    return spark.read.option("header", True).schema(REPORT_CSV_SCHEMA).csv(path)


def prepare_report(df: DataFrame) -> DataFrame:
    """date + hour → datetime key, casts, audit timestamp, load order
    (reference prepare_data, warehouse.py:331-389 — minus the row-wise
    .apply; the composition is one vectorized expression, F9). A NULL date
    or hour keys to a NULL datetime."""
    return df.select(
        compose_datetime("date", "hour").alias("datetime"),
        F.col("impression_count").cast("long"),
        F.col("click_count").cast("long"),
        F.current_timestamp().alias("audit_loaded_datetime"),
    ).orderBy("datetime")


def validate_report(prepared: DataFrame, source_file: str) -> Q.SplitResult:
    """V1-V4 over the prepared frame (reference validate_data,
    warehouse.py:91-177). Non-fatal: caller loads `valid`, dead-letters
    `invalid`."""
    Q.required_columns(prepared, ["datetime", "impression_count", "click_count"])
    rules = [
        Q.null_rule(["datetime", "impression_count", "click_count"]),
        Q.negative_rule(["impression_count", "click_count"]),
        Q.clicks_exceed_impressions_rule(),
    ]
    return Q.split_valid_invalid(prepared, rules, source_file=source_file)


def verify_load(connection, table: str = "client_report") -> dict:
    """Post-load verification aggregates (reference verify_load,
    warehouse.py:487-527): count, key range, totals — read back from the
    warehouse, not trusted from the writer."""
    row = connection.execute(
        f"""SELECT count(*) AS record_count,
                   min(datetime) AS min_datetime,
                   max(datetime) AS max_datetime,
                   sum(impression_count) AS total_impressions,
                   sum(click_count) AS total_clicks
            FROM {table}"""
    ).fetchone()
    return {
        "record_count": row[0],
        "min_datetime": row[1],
        "max_datetime": row[2],
        "total_impressions": row[3],
        "total_clicks": row[4],
    }
