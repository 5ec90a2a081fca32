"""Parquet table catalog over a scale-factor directory.

The synthetic star schema (TPC-H-ish tables + an ``events`` stream table +
``documents``/``embeddings`` for the training-data operators) lives at
``$SPARK_GRAFT_SF_DIR`` — one parquet file per table. A 100 TB deployment
replaces the flat files with partitioned/bucketed layouts; the loader only
assumes "a parquet path per table name", so that swap is a config change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Column pruning + predicate pushdown happen at the
    parquet scan (verify with ``df.explain`` → ``PushedFilters``/``ReadSchema``).
    """
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _ensure_read_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _normalize_nanos(df)


def _ensure_read_conf(spark: SparkSession) -> None:
    """The engine must work under a caller-supplied SparkSession (the
    verification driver builds its own), so the two read-semantics confs we
    depend on are asserted at runtime, not only in session.py:

    - nanosAsLong: parquet TIMESTAMP(NANOS) is an illegal type for the
      reader otherwise (events.parquet is pandas-written with ns precision)
    - UTC session timezone: hour()/to_date() on timestamps must be
      wall-clock-deterministic regardless of host timezone
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Let AQE re-size the output partitioning of cached plans (off by
    # default to preserve a cached frame's partitioning for reuse). The
    # engine's iterative operators persist small loop-invariant frames
    # (PageRank's edge⋈degree table, BFS edges); without this conf the
    # cache pins them at spark.sql.shuffle.partitions, so every
    # iteration schedules hundreds of near-empty tasks — with it AQE
    # coalesces to byte-sized partitions and the 3-round PageRank drops
    # 19.6 → 5.5 s (median of 3) at sf0.1/local[32]. Scale-sound: AQE
    # sizes by bytes, so big frames keep big partition counts.
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    _ensure_pyfiles(spark)


def _ensure_pyfiles(spark: SparkSession) -> None:
    """Ship this package to executors. The external driver imports
    ``__spark_entry__`` from an arbitrary cwd, so Python workers can't
    resolve ``data_engineering_project_spark`` from their own sys.path;
    any UDF that cloudpickle serializes by reference (module-level
    function, class method) would die with ModuleNotFoundError. A one-time
    ``addPyFile`` of a package zip makes by-reference pickles safe."""
    sc = spark.sparkContext
    if getattr(sc, "_dep_spark_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parent = os.path.dirname(pkg_root)
    zpath = os.path.join(
        tempfile.gettempdir(), f"dep_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_root):
                for fn in filenames:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, parent))
    try:
        sc.addPyFile(zpath)
    except Exception:  # noqa: BLE001 — duplicate adds raise on some versions
        pass
    sc._dep_spark_pkg_shipped = True


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """Parquet TIMESTAMP(NANOS) columns arrive as raw nano longs (the
    `nanosAsLong` reader flag — Spark has no nanosecond timestamp type).
    Convert to microsecond timestamps with integer division so truncation
    matches every micros-native engine's read of the same file.
    """
    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            df = df.withColumn(
                f.name, F.timestamp_micros(F.expr(f"{f.name} div 1000"))
            )
    return df


def local_frame(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """A frame over rows the driver already holds, as an Arrow
    ``LocalRelation``: the plan is a ``LocalTableScan``, so a broadcast,
    join or write of it runs no Python worker. ``createDataFrame(list)``
    instead goes through ``parallelize`` into a ``PythonRDD``, and every
    consumer then starts ``defaultParallelism`` Python tasks (each pays the
    worker's per-task import set-up) to re-serialize a handful of rows.

    ``schema`` is a DDL string or a ``StructType``; ``rows`` are tuples or
    ``Row``s (positional, as in ``createDataFrame``) or ``[]``. Values go
    through ``StructType.toInternal`` first, so timestamps and dates keep
    ``createDataFrame``'s semantics (a naive datetime is local wall-clock
    time of the driver process)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (
        schema
        if isinstance(schema, T.StructType)
        else T._parse_datatype_string(schema)
    )
    arrow = to_arrow_schema(struct)
    internal = [struct.toInternal(r) for r in rows]
    columns = list(zip(*internal)) if internal else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read the full catalog and register each table as a temp view so both
    the DataFrame API and ``spark.sql`` reach the same scans. Tables whose
    parquet is absent from ``sf_dir`` are skipped (a partial directory —
    e.g. documents-only — still serves ad-hoc SQL over what's there, the
    same contract as the bench's DuckDB twin registration)."""
    import os

    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        if not os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
