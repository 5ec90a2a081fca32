from data_engineering_project_spark.operators.report import (  # noqa: F401
    combine_hourly_reports,
    filter_equals,
    hourly_type_counts,
)
