"""Core relational query surface — SURVEY.md §2 inventory over the synthetic tables.

Each query is the Spark-first expression of an operator class the reference
implements (file:line cited) or explicitly lacks but the engine exposes.
All plans are pure DataFrame API → Catalyst handles pushdown, pruning,
broadcast selection, and partial aggregation; comments note the physical
plan property that matters at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_engineering_project_spark.functions import scalars as S
from data_engineering_project_spark.functions.scalars import (
    compose_datetime,
    sql_exact_avg,
    sql_exact_sum,
    sql_half_up_div,
)
from data_engineering_project_spark.operators.hints import broadcast_if_small
from data_engineering_project_spark.operators.report import (
    combine_hourly_reports,
    hourly_type_counts,
)
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Reference-pipeline analogs over the `events` table: filter → hour bucket →
# dense spine report (SURVEY.md §2.2-§2.4, src/Task1/data_processing.py)
# --------------------------------------------------------------------------

@register(
    "hourly_report_dense",
    sql="""
    WITH base AS (
        SELECT CAST(ts AS DATE) AS d, CAST(hour(ts) AS INTEGER) AS h, event_type
        FROM events
        WHERE event_type IN ('view', 'click') AND ts IS NOT NULL
    ),
    counts AS (
        SELECT d, h,
               count(*) FILTER (event_type = 'view')  AS view_count,
               count(*) FILTER (event_type = 'click') AS click_count
        FROM base GROUP BY d, h
    ),
    spine AS (
        SELECT d, CAST(h AS INTEGER) AS h
        FROM (SELECT DISTINCT d FROM base) CROSS JOIN generate_series(0, 23) AS t(h)
    )
    SELECT strftime(spine.d, '%Y-%m-%d') AS date,
           spine.h AS hour,
           COALESCE(view_count, 0)  AS view_count,
           COALESCE(click_count, 0) AS click_count
    FROM spine LEFT JOIN counts ON spine.d = counts.d AND spine.h = counts.h
    """,
    doc="FLAGSHIP: the reference's daily report (dense 24h grid, zero-filled) "
    "over the events stream. Reference src/Task1/data_processing.py:299-366.",
    tags=("report", "join", "agg", "spine"),
)
def hourly_report_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # ts non-null: an hourly report has no bucket for a timestamp-less
    # event, and a NULL date would be an illegal map key in the dense
    # map-explode (null-fuzz finding)
    base = ev.filter(
        F.col("event_type").isin("view", "click") & F.col("ts").isNotNull()
    )
    report = combine_hourly_reports(
        base,
        date_col=F.to_date("ts"),
        hour_col=F.hour("ts"),
        type_col=F.col("event_type"),
        types=("view", "click"),
    )
    return report.select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.col("hour").cast("int").alias("hour"),
        "view_count",
        "click_count",
    )


@register(
    "event_type_counts",
    sql="""
    SELECT event_type, count(*) AS n,
           ROUND(sum(CAST(ROUND(value * 10000, 0) AS BIGINT)) / 10000.0, 4)
               AS total_value
    FROM events GROUP BY event_type
    """,
    doc="Hash aggregate with count + sum (reference A1/A5, "
    "src/Task1/data_processing.py:268-277). The sum rides the "
    "integer-unit device — raw double sums are addition-order-dependent "
    "once magnitudes mix (round-10 hostile-numeric sweep).",
    tags=("agg",),
)
def event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(S.decimal_units(F.col("value"), 10_000)) / 10_000, 4
        ).alias("total_value"),
    )


@register(
    "dq_value_violations",
    sql="""
    SELECT event_type,
           count(*) FILTER (value IS NULL)               AS null_count,
           count(*) FILTER (value < 0)                   AS negative_count,
           count(*) FILTER (value IS NOT NULL AND value >= 0) AS valid_count
    FROM events GROUP BY event_type
    """,
    doc="Data-quality counters: null / negative / valid per group "
    "(reference V2-V3, src/Task2/warehouse.py:117-138; count-if A2, "
    "src/Task1/data_processing.py:273-277).",
    tags=("quality", "agg"),
)
def dq_value_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        F.count(F.when(v.isNull(), 1)).alias("null_count"),
        F.count(F.when(v < 0, 1)).alias("negative_count"),
        F.count(F.when(v.isNotNull() & (v >= 0), 1)).alias("valid_count"),
    )


@register(
    "dq_clicks_exceed_views",
    sql="""
    WITH counts AS (
        SELECT CAST(ts AS DATE) AS d, CAST(hour(ts) AS INTEGER) AS hour,
               count(*) FILTER (event_type = 'view')  AS view_count,
               count(*) FILTER (event_type = 'click') AS click_count
        FROM events WHERE event_type IN ('view', 'click')
        GROUP BY d, hour
    )
    SELECT strftime(d, '%Y-%m-%d') AS date, hour, view_count, click_count
    FROM counts WHERE click_count > view_count
    """,
    doc="Column-vs-column theta predicate over aggregates: hours where clicks "
    "exceed impressions — detected, NOT corrected, preserving the reference's "
    "asymmetry (P6/V4, src/Task1/data_processing.py:341-349).",
    tags=("quality", "agg", "filter"),
)
def dq_clicks_exceed_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = hourly_type_counts(
        ev.filter(F.col("event_type").isin("view", "click")),
        date_col=F.to_date("ts"),
        hour_col=F.hour("ts"),
        type_col=F.col("event_type"),
        types=("view", "click"),
    )
    return counts.filter(F.col("click_count") > F.col("view_count")).select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.col("hour").cast("int").alias("hour"),
        "view_count",
        "click_count",
    )


@register(
    "json_props_stats",
    sql="""
    WITH j AS (
        SELECT event_type,
               CASE WHEN json_valid(props)
                    THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
               END AS k
        FROM events
    )
    SELECT event_type, ROUND(avg(k), 4) AS avg_k, max(k) AS max_k
    FROM j GROUP BY event_type
    """,
    doc="JSON-in-string extraction (the reference's data has "
    "device_info_json/ext_vars but never parses them — SURVEY.md §1.2; the "
    "engine exposes F.get_json_object).",
    tags=("json", "agg"),
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "report_datetime_compose",
    sql="""
    WITH counts AS (
        SELECT CAST(ts AS DATE) AS d, CAST(hour(ts) AS INTEGER) AS h, count(*) AS n
        FROM events GROUP BY d, h
    )
    SELECT strftime(d + to_hours(h), '%Y-%m-%d %H:%M:%S') AS event_datetime, n
    FROM counts
    """,
    doc="date + hour → datetime composition, vectorized (the reference does "
    "this row-wise in pandas with .apply — F9, src/Task2/warehouse.py:345-358).",
    tags=("functions",),
)
def report_datetime_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.to_date("ts").alias("d"), F.hour("ts").alias("h")
    ).agg(F.count("*").alias("n"))
    # route through the NULL-propagating composer: a NULL (d, h) group
    # (timestamp-less events) must compose to NULL, not to the string
    # 'null:00:00' that aborts the ANSI timestamp cast (null-fuzz)
    dt = compose_datetime(F.col("d"), F.col("h"))
    return counts.select(
        F.date_format(dt, "yyyy-MM-dd HH:mm:ss").alias("event_datetime"),
        "n",
    )


# --------------------------------------------------------------------------
# Generalized relational surface over the TPC-H-ish tables (SURVEY.md §2.3,
# §2.4, §2.6: joins / aggregates / sorts / set-ops the reference lacks but a
# user of the engine gets "for free" via Catalyst)
# --------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(sum(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) / 100.0, 2)
               AS sum_qty,
           ROUND(sum(ROUND(l_extendedprice * 100, 0)) / 100, 2) AS sum_base_price,
           {sql_exact_sum('l_extendedprice * (1 - l_discount)', 10000, 2)}
               AS sum_disc_price,
           {sql_exact_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 1000000, 2)} AS sum_charge,
           {sql_exact_avg('l_quantity', 100, 4)} AS avg_qty,
           {sql_exact_avg('l_extendedprice', 100, 4)} AS avg_price,
           {sql_exact_avg('l_discount', 100, 4)} AS avg_disc,
           count(*)                         AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: wide hash aggregate, partial+final agg, "
    "predicate pushed to parquet scan. The canonical scan-heavy benchmark "
    "query (generalizes reference A1-A5).",
    tags=("tpch", "agg"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # quantity rides the same integer-unit device as the money
            # sums (round-10 hostile-numeric sweep: raw double sums are
            # addition-order-dependent once magnitudes mix)
            F.round(
                F.sum(S.decimal_units(F.col("l_quantity"), 100)) / 100, 2
            ).alias("sum_qty"),
            # money sums snap terms to integer units so the result is
            # independent of partial-agg merge order (functions/scalars.py)
            S.exact_decimal_sum(F.col("l_extendedprice"), 100).alias("sum_base_price"),
            S.exact_decimal_sum(disc_price, 10_000).alias("sum_disc_price"),
            S.exact_decimal_sum(charge, 1_000_000).alias("sum_charge"),
            # averages ride the exact integer-unit device too: a raw
            # ROUND(avg(double), 4) is the same merge-order sensitivity
            # as a raw double sum, divided by a count (r10 verdict #5)
            S.exact_avg(F.col("l_quantity"), 100, 4).alias("avg_qty"),
            S.exact_avg(F.col("l_extendedprice"), 100, 4).alias("avg_price"),
            S.exact_avg(F.col("l_discount"), 100, 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "top_customers_by_revenue",
    sql=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_exact_sum('o.o_totalprice', 1000, 2)} AS revenue,
           count(*) AS order_count
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey LIMIT 10
    """,
    doc="Join + agg + deterministic top-k (reference O1/O3 sort+limit, "
    "src/Task1/data_processing.py:362, :234). Customer side broadcasts when "
    "small; at scale AQE picks shuffled hash join.",
    tags=("tpch", "join", "topk"),
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # Aggregate orders BEFORE the join: the map-side combine collapses the
    # fact table to one row per customer, so the join (and at 100 TB the
    # shuffle) moves |customers| rows instead of |orders|. c_name is
    # functionally dependent on c_custkey, so grouping pre-join is
    # equivalent to the join-then-group form.
    per_cust = o.groupBy("o_custkey").agg(
        S.exact_decimal_sum(F.col("o_totalprice"), 1000).alias("revenue"),
        F.count("*").alias("order_count"),
    )
    return (
        c.join(per_cust, c["c_custkey"] == per_cust["o_custkey"])
        .select("c_custkey", "c_name", "revenue", "order_count")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


@register(
    "customers_without_orders",
    sql="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Anti join — the archive-dedup NOT EXISTS pattern "
    "(J2, src/Task2/warehouse.py:427-445) as a first-class operator.",
    tags=("join", "anti"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "customers_without_big_orders",
    sql="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
    doc="Anti join with a NON-EMPTY result at every test SF: "
    "customers_without_orders is vacuously empty on the synthetic data "
    "(every customer has orders), so its green oracle row never "
    "discriminates a broken anti join — this one returns rows per segment "
    "(round-1 verdict #4). Same plan shape: filtered build side, left_anti, "
    "aggregate.",
    tags=("join", "anti", "agg"),
)
def customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    return (
        c.join(big, c["c_custkey"] == big["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "big_spender_segments",
    sql="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c_mktsegment
    """,
    doc="Semi join (absent in the reference — SURVEY.md §2.3 'absent join "
    "types'): customers having any order > 300k, counted per segment.",
    tags=("join", "semi"),
)
def big_spender_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000)
    return (
        c.join(big, c["c_custkey"] == big["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "nation_revenue_rollup",
    sql=f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           {sql_exact_sum('o.o_totalprice', 1000, 2)} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(region_name, nation_name)
    """,
    doc="Multi-join star query + ROLLUP grouping sets (absent in reference — "
    "SURVEY.md §2.4). nation/region are classic broadcast dimensions.",
    tags=("tpch", "join", "rollup"),
)
def nation_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            "o_totalprice",
        )
    )
    return joined.rollup("region_name", "nation_name").agg(
        S.exact_decimal_sum(F.col("o_totalprice"), 1000).alias("revenue")
    )


@register(
    "distinct_supplier_counts",
    sql="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Distinct aggregates (absent in reference — SURVEY.md §2.4): "
    "expand+two-phase agg under the hood; at 100 TB prefer "
    "approx_count_distinct where exactness isn't required.",
    tags=("agg", "distinct"),
)
def distinct_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Two single-distinct plans joined on the tiny group key instead of one
    # multi-distinct aggregate: Spark plans 2+ distinct columns as an
    # Expand that multiplies every input row ×3 through the shuffle. A/B at
    # sf0.1 (round-3 verdict item #4): marginal cost 0.10 s vs 0.26 s per
    # sf0.1-worth of rows — the extra column-pruned scan is cheaper than
    # 3× row expansion, and each single-distinct agg gets map-side partial
    # dedup. The result join is a broadcast over a handful of flag rows.
    s = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count("*").alias("n_rows"),
    )
    p = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts")
    )
    # NULL-SAFE join key: groupBy keeps a NULL-flag group, but a plain
    # equi-join would silently drop it — the single-distinct rewrite must
    # not change NULL-group semantics vs the multi-distinct plan it
    # replaced (null-fuzz finding)
    return s.join(
        p, s["l_returnflag"].eqNullSafe(p["l_returnflag"])
    ).select(
        s["l_returnflag"].alias("l_returnflag"),
        "n_suppliers",
        "n_parts",
        "n_rows",
    )


_RUNNING_SU = """sum(ROUND(o_totalprice * 1000, 0)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""


@register(
    "running_revenue_window",
    sql=f"""
    SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderkey,
           {sql_half_up_div(_RUNNING_SU, 1000, 2)} AS running_revenue
    FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    """,
    doc="Window function: per-customer running revenue (SURVEY.md §2.7 — "
    "Window imported but unused in the reference). One shuffle on the "
    "partition key; deterministic ROWS frame with a total tie-break order.",
    tags=("window",),
)
def running_revenue_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()  # null-fuzz: rank/window measures must be non-null
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "o_orderkey",
        S.half_up_div(
            F.sum(S.decimal_units(F.col("o_totalprice"), 1000)).over(w), 1000, 2
        ).alias("running_revenue"),
    )


@register(
    "top3_orders_per_customer",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
    doc="Top-k per group via row_number window — the scalable 'grouped limit' "
    "(a driver-side loop in the reference's per-date processing; here one "
    "shuffle, no loop).",
    tags=("window", "topk"),
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "engaged_purchasers",
    sql="""
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
    doc="Set operation (absent in reference — SURVEY.md §2.6): users who both "
    "clicked and purchased.",
    tags=("setop",),
)
def engaged_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


@register(
    "order_priority_check",
    sql="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS correlated subquery → left-semi join + agg.",
    tags=("tpch", "join", "semi"),
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"]
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q5_local_supplier_volume",
    sql=f"""
    SELECT n.n_name AS nation_name,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 10000, 2)} AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5: 6-table star join with a same-nation correlation. "
    "Dimension sides broadcast; the lineitem⋈orders shuffle keys co-locate.",
    tags=("tpch", "join", "agg"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Selective-dimension-first join order (Catalyst has no stats-based
    # reorder here): region='ASIA' → nations → suppliers prunes the
    # supplier side to ~1/|regions| BEFORE lineitem touches a shuffle, so
    # the expensive lineitem⋈orders exchange carries only ASIA-supplier
    # line items (~5× less at any scale).
    asia_nations = n.join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA")),
        n["n_regionkey"] == r["r_regionkey"],
    ).select("n_nationkey", "n_name")
    s_asia = s.join(
        F.broadcast(asia_nations), s["s_nationkey"] == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    # The same-nation correlation implies c_nationkey ∈ ASIA, but Catalyst
    # cannot infer that from the theta condition — the explicit broadcast
    # semi-join prunes the customer shuffle ~|regions|× before it happens
    # (A/B at sf0.1: marginal cost 0.36 → 0.28 s/ninety-k-rows).
    c_asia = c.join(
        F.broadcast(asia_nations.select("n_nationkey")),
        c["c_nationkey"] == F.col("n_nationkey"),
        "left_semi",
    )
    # Gate the supplier-dim broadcast on the BASE supplier scan's size, not
    # the join-output estimate (round-6 codegen-dump find): Catalyst's
    # no-column-stats estimate for supplier⋈nation blew past the threshold,
    # the hint declined, and the planner hashed LINEITEM as the build side
    # (BuildLeft) — streaming the ~4k-row dim through a fact-table hash
    # relation. s_asia has ≤ |supplier| rows by construction, so the base
    # scan upper-bounds it; the gate still declines when supplier itself
    # outgrows the threshold (TPC-H suppliers scale with SF — a hard hint
    # would OOM at 100 TB, round-1 verdict #3). A/B 3/3 sessions
    # (tools/ab_q5_buildside.py): raw 1.37→1.06, 1.36→0.88, 1.35→0.84 s at
    # sf0.1; marginal 0.44→0.13, 0.47→0.13 in two.
    return (
        li.join(
            broadcast_if_small(s_asia, estimate_from=s),
            li["l_suppkey"] == s_asia["s_suppkey"],
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(
            c_asia,
            (o["o_custkey"] == c_asia["c_custkey"])
            & (c_asia["c_nationkey"] == s_asia["s_nationkey"]),
        )
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(S.exact_decimal_sum(revenue, 10_000).alias("revenue"))
    )
