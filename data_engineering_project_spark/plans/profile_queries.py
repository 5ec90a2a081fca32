"""Observability queries: single-pass column profiling and mergeable
histogram-quantile rollups.

Beyond-reference family (SURVEY.md §2.11) — the two shapes a warehouse
team runs against every table they ingest:

- **Column profile** (deequ/dbt-style): null count, exact distinct count,
  min/max for every profiled column in ONE scan. The multiple exact
  ``count(DISTINCT …)`` aggregates compile to a single pass with an
  Expand (row replication ×columns) — still one scan of the table; at
  100 TB swap the exact distincts for ``approx_count_distinct`` and the
  Expand disappears (the catalog documents that trade; the oracle needs
  the exact form).
- **Histogram quantiles**: per-day log-binned histograms (geometric bins,
  factor 1.2 → ≤20 % relative error) are MERGEABLE sketches — the range
  rollup is a vector add, never a re-scan of raw data. The quantile
  estimate is a deterministic function of the merged bins, so unlike
  t-digest/KLL the whole sketch path is exactly oracle-checkable. This is
  the quantile analog of the HLL daily rollup
  (``events_hll_daily_rollup``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table, local_frame

_PROFILE_COLS = (
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
)
#: double-typed profile columns get a canonical non-finite rendering:
#: Spark casts NaN/-inf to 'NaN'/'-Infinity' (Java Double.toString) where
#: DuckDB yields 'nan'/'-inf' — the round-10 hostile-numeric sweep caught
#: the split. Signed zero is normalized too (the engines may surface
#: different representatives of the equal keys -0.0/0.0 as a min/max).
_PROFILE_DOUBLE_COLS = frozenset(
    {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
)


def _sql_render_double(c: str) -> str:
    return f"""CASE
        WHEN isnan({c}) THEN 'NaN'
        WHEN {c} = CAST('inf' AS DOUBLE) THEN 'Infinity'
        WHEN {c} = CAST('-inf' AS DOUBLE) THEN '-Infinity'
        WHEN {c} = 0 THEN '0.0'
        ELSE CAST({c} AS VARCHAR) END"""

_LOG_BASE = 1.2
_QUANTILES = (0.5, 0.9, 0.99)


def _profile_sql() -> str:
    parts = []
    for c in _PROFILE_COLS:
        if c in _PROFILE_DOUBLE_COLS:
            mn = _sql_render_double(f"min({c})")
            mx = _sql_render_double(f"max({c})")
        else:
            mn, mx = f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"
        parts.append(
            f"""
        SELECT '{c}' AS col_name,
               CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               {mn} AS min_value,
               {mx} AS max_value
        FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


@register(
    "lineitem_column_profile",
    sql=_profile_sql(),
    doc="Single-pass column profiling (nulls / exact distincts / min / max "
    "per column) — deequ-style table observability. The oracle unions one "
    "SELECT per column; the Spark plan computes every stat in ONE scan "
    "and pivots to rows with an explode, no per-column re-reads.",
    tags=("profile", "quality", "aggregate"),
)
def lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # the multi-countDistinct Expand multiplies rows x(cols+1) BEFORE the
    # partial agg; spread it over all cores explicitly (the scan's few
    # partitions otherwise bound the whole Expand+agg CPU)
    li = li.repartition(spark.sparkContext.defaultParallelism)
    def _render(col):
        # canonical non-finite/zero rendering; mirrors _sql_render_double
        return (
            F.when(F.isnan(col), F.lit("NaN"))
            .when(col == F.lit(float("inf")), F.lit("Infinity"))
            .when(col == F.lit(float("-inf")), F.lit("-Infinity"))
            .when(col == 0, F.lit("0.0"))
            .otherwise(col.cast("string"))
        )

    aggs = []
    for c in _PROFILE_COLS:
        mn, mx = F.min(c), F.max(c)
        if c in _PROFILE_DOUBLE_COLS:
            mn, mx = _render(mn), _render(mx)
        else:
            mn, mx = mn.cast("string"), mx.cast("string")
        aggs += [
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            mn.alias(f"{c}__min"),
            mx.alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


@register(
    "events_value_quantile_rollup",
    sql=f"""
    WITH binned AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(floor(ln(value) / ln({_LOG_BASE})) AS BIGINT) AS bin,
               count(*) AS n
        FROM events WHERE value > 0 GROUP BY 1, 2
    ),
    merged AS (SELECT bin, sum(n) AS n FROM binned GROUP BY bin),
    cum AS (
        SELECT bin, sum(n) OVER (ORDER BY bin) AS running,
               (SELECT sum(n) FROM merged) AS total
        FROM merged
    ),
    qs AS (SELECT unnest(ARRAY{list(_QUANTILES)}) AS p)
    SELECT p,
           min(bin) AS bin,
           ROUND(pow({_LOG_BASE}, min(bin)), 4) AS est_lo
    FROM qs JOIN cum ON running >= ceil(p * total)
    GROUP BY p
    """,
    doc="Mergeable histogram-quantile sketch: per-day geometric-bin "
    "(factor 1.2) histograms rolled up by vector add, quantiles read off "
    "the merged cumulative bins — ≤20 % relative error by construction, "
    "zero raw-data re-scan for any date-range rollup, and (unlike "
    "t-digest/KLL) deterministic, so the sketch path itself is exactly "
    "oracle-checked.",
    tags=("sketch", "quantile", "timeseries"),
)
def events_value_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the geometric sketch is defined on the POSITIVE support (same guard
    # as events_cusum_drift_alarm): Spark's ln(<=0) is NULL but DuckDB's
    # ln(0) raises — sf0.1 has a zero-valued event and found the hole
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    binned = ev.groupBy(
        F.col("ts").cast("date").alias("d"),
        F.floor(F.ln("value") / F.lit(math.log(_LOG_BASE)))
        .cast("bigint")
        .alias("bin"),
    ).agg(F.count("*").alias("n"))
    merged = binned.groupBy("bin").agg(F.sum("n").alias("n"))
    # sketch-sized frames from here on (≤ ~60 geometric bins): the global
    # window and broadcast join never see raw data
    cum = merged.select(
        "bin",
        F.sum("n").over(Window.orderBy("bin")).alias("running"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    qs = local_frame(spark, [(p,) for p in _QUANTILES], "p double")
    return (
        F.broadcast(qs)
        .join(cum, F.col("running") >= F.ceil(F.col("p") * F.col("total")))
        .groupBy("p")
        .agg(
            F.min("bin").alias("bin"),
            F.round(F.pow(F.lit(_LOG_BASE), F.min("bin")), 4).alias("est_lo"),
        )
    )


@register(
    "events_cusum_drift_alarm",
    sql=f"""
    WITH b AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(floor(ln(value) / ln({_LOG_BASE})) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM events WHERE value > 0 GROUP BY 1, 2
    ),
    grid AS (
        SELECT d.day, g.bin, COALESCE(b.n, 0) AS n
        FROM (SELECT DISTINCT day FROM b) d
        CROSS JOIN (SELECT DISTINCT bin FROM b) g
        LEFT JOIN b ON b.day = d.day AND b.bin = g.bin
    ),
    cum AS (
        SELECT day, bin,
               sum(n) OVER (PARTITION BY day ORDER BY bin) AS f,
               sum(n) OVER (PARTITION BY day) AS tot
        FROM grid
    ),
    ks AS (
        SELECT cur.day AS day,
               max(abs(cur.f * prev.tot - prev.f * cur.tot)) AS d_num,
               max(cur.tot) AS n_day,
               max(prev.tot) AS n_prev
        FROM cum cur JOIN cum prev
          ON cur.bin = prev.bin AND cur.day = prev.day + 1
        GROUP BY 1
    ),
    x AS (
        SELECT day,
               CAST(floor(CAST(d_num AS DOUBLE)
                          / (CAST(n_day AS DOUBLE) * n_prev)
                          * 1000000 + 0.5) AS BIGINT) AS ks_micro
        FROM ks
    ),
    w AS (
        SELECT day, ks_micro,
               sum(ks_micro - 50000) OVER (ORDER BY day) AS w_d
        FROM x
    )
    SELECT day,
           CAST(ks_micro AS BIGINT) AS ks_micro,
           CAST(w_d - LEAST(0, min(w_d) OVER (ORDER BY day)) AS BIGINT)
               AS cusum_micro,
           (w_d - LEAST(0, min(w_d) OVER (ORDER BY day))) > 200000 AS alarm
    FROM w
    """,
    doc="Batch twin of the streaming Page-CUSUM drift alarm "
    "(streaming/pipeline.py upsert_drift_cusum): per-day geometric-bin "
    "value histograms → day-over-day binned KS (integer sup-distance "
    "numerator, one final division) → CUSUM S_d = max(0, S_(d-1) + "
    "ks_d − allowance) in closed form S_d = W_d − min(0, min_(j≤d) W_j), "
    "alarming on persistent mild shifts no one-shot threshold catches. "
    "KS values are floor-quantized to integer micro-units per day before "
    "the cross-day cumulative sum, so the alarm state is accumulation-"
    "order-independent on both engines. The day grid is calendar-bounded "
    "(saturating), so the ordered windows run over a metadata-sized "
    "table; the raw scan contributes one map-side-combined groupBy.",
    tags=("timeseries", "drift", "sketch", "streaming-twin"),
)
def events_cusum_drift_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.filter(F.col("value") > 0)
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            F.floor(F.ln("value") / F.lit(math.log(_LOG_BASE)))
            .cast("bigint")
            .alias("bin"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .persist()
    )
    grid = (
        b.select("day").distinct()
        .crossJoin(b.select("bin").distinct())
        .join(b, ["day", "bin"], "left")
        .na.fill(0, ["n"])
    )
    cum = grid.select(
        "day",
        "bin",
        F.sum("n").over(Window.partitionBy("day").orderBy("bin")).alias("f"),
        F.sum("n").over(Window.partitionBy("day")).alias("tot"),
    )
    cur, prev = cum.alias("cur"), cum.alias("prev")
    ks = (
        cur.join(
            prev,
            (F.col("cur.bin") == F.col("prev.bin"))
            & (F.col("cur.day") == F.date_add(F.col("prev.day"), 1)),
        )
        .groupBy(F.col("cur.day").alias("day"))
        .agg(
            F.max(
                F.abs(
                    F.col("cur.f") * F.col("prev.tot")
                    - F.col("prev.f") * F.col("cur.tot")
                )
            ).alias("d_num"),
            F.max(F.col("cur.tot")).alias("n_day"),
            F.max(F.col("prev.tot")).alias("n_prev"),
        )
    )
    x = ks.select(
        "day",
        F.floor(
            F.col("d_num").cast("double")
            / (F.col("n_day").cast("double") * F.col("n_prev"))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ks_micro"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = F.col("w_d") - F.least(
        F.lit(0).cast("bigint"), F.min("w_d").over(w)
    )
    return (
        x.withColumn("w_d", F.sum(F.col("ks_micro") - 50_000).over(w))
        .select(
            "day",
            "ks_micro",
            cusum.cast("bigint").alias("cusum_micro"),
            (cusum > 200_000).alias("alarm"),
        )
    )


@register(
    "events_value_trend",
    sql="""
    WITH pts AS (
        SELECT event_type,
               date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS x,
               ROUND(value * 100, 0) AS yu
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(yu) AS BIGINT) AS syu,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * yu) AS BIGINT) AS sxyu
        FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CAST(n * sxyu - sx * syu AS DOUBLE)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / 100,
                 8) AS slope_per_hour,
           ROUND((CAST(syu AS DOUBLE) / 100
                  - (CAST(n * sxyu - sx * syu AS DOUBLE)
                     / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     / 100) * sx) / n,
                 6) AS intercept
    FROM s
    """,
    doc="Distributed OLS trend per event type: slope/intercept from the five "
    "sufficient statistics (n, Σx, Σy, Σx², Σxy), each an EXACT integer "
    "(hours since epoch-of-dataset × centi-unit values stay below 2^53) — "
    "so the whole regression is one map-side-combinable aggregation with "
    "bit-stable output in any accumulation order, unlike float regr_slope. "
    "The closed form runs on the grouped row; no second pass, no driver "
    "math.",
    tags=("analytics", "regression", "aggregate"),
)
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = (
        F.unix_timestamp(F.col("ts").cast("timestamp"))
        - F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    ) / 3600
    pts = ev.select(
        "event_type",
        F.floor(x).cast("bigint").alias("x"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("yu"),
    )
    s = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yu").alias("syu"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("yu")).alias("sxyu"),
    )
    num = (F.col("n") * F.col("sxyu") - F.col("sx") * F.col("syu")).cast("double")
    den = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    slope = num / den / 100
    return s.select(
        "event_type",
        "n",
        F.round(slope, 8).alias("slope_per_hour"),
        F.round(
            (F.col("syu").cast("double") / 100 - slope * F.col("sx")) / F.col("n"),
            6,
        ).alias("intercept"),
    )
