"""Event-file source with filename-derived batch time.

The reference's defining non-standard semantic: the event *hour* comes from
the batch timestamp embedded in the filename
(``{impressions|clicks}_processed_dk_<yyyyMMddHHmmss><ms>_<lo>-<hi>_<part>.parquet``),
not from any column (reference ``src/Task1/data_processing.py:61-67,238-244``
and ``src/utils.py:26-43``).

The reference does this with a *driver-side* ``os.listdir`` loop that groups
files by date and runs one Spark job per (date, type). Here the whole thing is
ONE declarative plan: read every file, derive ``event_type`` / ``batch_ts`` /
``event_date`` / ``event_hour`` columns from the file path, and let
downstream groupBys handle all dates at once. At 100 TB this matters: no
driver-memory manifest, no per-date job scheduling overhead, and Catalyst can
pipeline the filename projection into the scan.

The path is read from the file source's hidden ``_metadata.file_path``
column, not from Spark's ``input_file_name`` function: the metadata column
resolves on the scan itself, so it works for batch and streaming file
sources alike and stays correct once the plan grows joins (SURVEY.md §7.3
hard item 1). The batch run and the streaming twin both project through
:func:`with_filename_event_time` — there is one filename projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# filename pattern pieces (reference src/Task1/data_processing.py:61-67)
BATCH_TS_RE = r"dk_(\d{14})"
EVENT_TYPE_RE = r"([a-z]+)_processed_dk_"
BATCH_TS_FMT = "yyyyMMddHHmmss"


def filename_batch_ts(file_col: Column) -> Column:
    """``.../impressions_processed_dk_20220526113212045_..parquet`` → timestamp
    2022-05-26 11:32:12. Distributed equivalent of the reference's regex +
    ``strptime`` (``src/Task1/data_processing.py:368-379``)."""
    raw = F.regexp_extract(file_col, BATCH_TS_RE, 1)
    # empty extract (unparseable name) → NULL timestamp, surfaced by the
    # quality layer rather than throwing mid-scan
    return F.when(raw != "", F.to_timestamp(raw, BATCH_TS_FMT))


def filename_event_type(file_col: Column) -> Column:
    """``impressions_processed_dk_…`` → ``impressions``."""
    name = F.element_at(F.split(file_col, "/"), -1)
    et = F.regexp_extract(name, EVENT_TYPE_RE, 1)
    return F.when(et != "", et)


def with_filename_event_time(df: DataFrame) -> DataFrame:
    """Attach ``source_file``, ``event_type``, ``batch_ts``, ``event_date``,
    ``event_hour`` columns derived from the file path of a batch or
    streaming file-source frame."""
    file_col = F.col("_metadata.file_path")
    batch_ts = filename_batch_ts(file_col)
    return (
        df.withColumn("source_file", file_col)
        .withColumn("event_type", filename_event_type(file_col))
        .withColumn("batch_ts", batch_ts)
        .withColumn("event_date", F.to_date(batch_ts))
        .withColumn("event_hour", F.hour(batch_ts))
    )


def read_event_files(
    spark: SparkSession,
    input_dir: str,
    *,
    schema=None,
) -> DataFrame:
    """Scan an event landing directory (impressions + clicks mixed) into one
    DataFrame with filename-derived metadata columns.

    ``recursiveFileLookup`` + a ``*.parquet`` ``pathGlobFilter`` replace the
    reference's ``os.listdir`` manifest
    (``src/Task1/data_processing.py:43-67``). Supplying a pinned ``schema``
    makes bad files fail fast and skips schema inference's extra listing
    pass — at 100 TB, always pin the schema.
    """
    reader = (
        spark.read.option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("mergeSchema", "false")
    )
    if schema is not None:
        reader = reader.schema(schema)
    return with_filename_event_time(reader.parquet(input_dir))
