"""Extended relational surface: pivot, set ops, statistical aggregates,
range joins, tumbling windows, and the remaining classic TPC-H shapes.

SURVEY.md §2 lists these operator classes as absent in the reference
(§2.3 'Absent join types', §2.4 'Absent aggregates', §2.6 set ops) — the
engine exposes them anyway because a user at 100 TB reaches for each of
them within the first week. Every query notes the physical-plan property
that makes it survive a 1000-executor scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.scalars import (
    decimal_units,
    exact_avg,
    exact_decimal_sum,
    half_up_div,
    half_up_ratio,
    sql_exact_avg,
    sql_exact_sum,
    sql_half_up_div,
    sql_half_up_ratio,
)
from data_engineering_project_spark.operators import similarity as S
from data_engineering_project_spark.operators import sketch as K
from data_engineering_project_spark.operators.skew import salted_aggregate
from data_engineering_project_spark.operators.hints import broadcast_if_small
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_daily_type_pivot",
    sql="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'error')    AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'view')     AS view
    FROM events GROUP BY date
    """,
    doc="Pivot: one column per event type, one row per day. The explicit "
    "value list keeps it a single-pass pivot (no extra distinct job to "
    "discover the columns) — mandatory at 100 TB where the discovery pass "
    "would rescan the fact table.",
    tags=("pivot", "agg"),
)
def events_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("date"))
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0, list(EVENT_TYPES))
    )


@register(
    "repeat_buyer_setops",
    sql="""
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= DATE '1995-01-01'
                   AND o_orderdate < DATE '1996-01-01'),
    y96 AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1997-01-01')
    SELECT o_custkey, 'both_years' AS cohort
    FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
    UNION ALL
    SELECT o_custkey, '1995_only' FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
    UNION ALL
    SELECT o_custkey, '1996_only' FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)
    """,
    doc="Set operators (SURVEY.md §2.6: unused in the reference): customer "
    "cohorts via INTERSECT / EXCEPT / UNION ALL. Catalyst rewrites intersect "
    "and except into semi/anti joins on the distinct sets — same shuffle "
    "count as hand-written joins, clearer plan.",
    tags=("setops", "join"),
)
def repeat_buyer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def year_customers(y: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= f"{y}-01-01")
                & (F.col("o_orderdate") < f"{y + 1}-01-01")
            )
            .select("o_custkey")
            .distinct()
        )

    y95, y96 = year_customers(1995), year_customers(1996)
    tag = lambda df, t: df.withColumn("cohort", F.lit(t))  # noqa: E731
    return (
        tag(y95.intersect(y96), "both_years")
        .unionByName(tag(y95.exceptAll(y96), "1995_only"))
        .unionByName(tag(y96.exceptAll(y95), "1996_only"))
    )


@register(
    "lineitem_price_stats",
    sql=f"""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_extendedprice), 2) AS price_stddev,
           {sql_exact_avg('l_extendedprice', 100, 2)} AS price_avg,
           ROUND(corr(l_quantity, l_extendedprice), 4) + 0 AS qty_price_corr,
           ROUND(covar_samp(l_discount, l_tax), 6) + 0 AS disc_tax_covar,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Statistical aggregates (absent in reference — SURVEY.md §2.4): "
    "stddev / corr / covar per group. All are single-pass partial-aggregable "
    "moments, so the plan is the same partial+final hash aggregate as a "
    "plain SUM — no extra shuffle for the second moment. corr/covar of "
    "near-independent columns round to ZERO, and IEEE rounding can land on "
    "-0.0 in one engine and +0.0 in the other (observed at sf0.01: DuckDB "
    "-0.0 vs Spark 0.0 — different string AND different bits, so the "
    "driver's value hash flips); `+ 0` normalizes signed zero on both "
    "sides.",
    tags=("agg", "stats"),
)
def lineitem_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
        # exact integer-unit average (r10 verdict #5: ROUND(avg(double))
        # is merge-order-sensitive like a raw double sum)
        exact_avg(F.col("l_extendedprice"), 100, 2).alias("price_avg"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias(
            "qty_price_corr"
        ),
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + F.lit(0.0)).alias(
            "disc_tax_covar"
        ),
        F.count("*").alias("n"),
    )


@register(
    "purchase_click_attribution_1h",
    sql="""
    SELECT p.event_id,
           CAST(count(c.event_id) AS BIGINT) AS n_clicks_1h,
           ROUND(coalesce(sum(c.value), 0), 4) AS click_value_1h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    GROUP BY p.event_id
    """,
    doc="Range (interval) join — SURVEY.md §2.3 lists interval joins as "
    "absent: clicks attributed to each purchase within the preceding hour. "
    "The user_id equi-key carries the shuffle (hash join); the time range is "
    "a post-join filter, so there is no quadratic cross product — per-key "
    "fan-out is bounded by a user's own event count.",
    tags=("join", "range"),
)
def purchase_click_attribution_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
        F.col("event_id").alias("c_event_id"),
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    return joined.groupBy("event_id").agg(
        F.count("c_event_id").alias("n_clicks_1h"),
        F.round(F.coalesce(F.sum("c_value"), F.lit(0.0)), 4).alias(
            "click_value_1h"
        ),
    )


@register(
    "events_hourly_tumbling",
    sql=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           {sql_exact_sum('value', 10000, 4)} AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY window_start, event_type
    """,
    doc="Tumbling 1-hour event-time window via F.window() — the exact "
    "batch analog of the Structured Streaming windowed aggregation in "
    "streaming/pipeline.py (SURVEY.md §2.8 T2), sharing semantics with the "
    "reference's filename-hour bucketing (data_processing.py:238-244). "
    "total_value rides the integer-unit device (round-10 hostile-numeric "
    "sweep: the prior raw-double total diverged between engines once one "
    "extreme value raised the accumulator magnitude past where addition "
    "order matters).",
    tags=("window", "agg", "streaming-analog"),
)
def events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_decimal_sum(F.col("value"), 10000, 4).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "q3_shipping_priority",
    sql="""
    SELECT l.l_orderkey,
           ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-01-01'
      AND l.l_shipdate > DATE '1998-01-01'
    GROUP BY l.l_orderkey, orderdate, o.o_orderpriority
    HAVING sum(l.l_extendedprice * (1 - l.l_discount)) > 100000
    """,
    doc="TPC-H Q3 shape (unshipped high-revenue orders for one segment): "
    "3-way star join. customer filters to ~1/5 then broadcasts; the two date "
    "predicates push into the orders/lineitem scans. HAVING replaces Q3's "
    "LIMIT 10 so the result set is deterministic under the order-insensitive "
    "hash compare (float near-ties at a LIMIT boundary are not).",
    tags=("tpch", "join", "agg"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") > "1998-01-01")
        .join(
            o.filter(F.col("o_orderdate") < "1998-01-01"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            broadcast_if_small(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).alias("rev_raw"))
        .filter(F.col("rev_raw") > 100000)
        .select(
            "l_orderkey",
            # 4dp: revenue values are exact 4-decimal sums (2dp price ×
            # 2dp discount); ROUND(x,2) lands on .005 boundaries where the
            # engines' different summation order flips the rounding
            F.round("rev_raw", 4).alias("revenue"),
            "orderdate",
            "o_orderpriority",
        )
    )


@register(
    "q18_large_orders",
    sql="""
    WITH big AS (
        SELECT l_orderkey,
               sum(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS qty_units
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) > 18000
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o.o_totalprice, 2) AS totalprice,
           ROUND(big.qty_units / 100.0, 2) AS sum_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="TPC-H Q18 shape (large-volume orders): aggregate-then-join. The "
    "HAVING runs before the joins so only qualifying orderkeys shuffle into "
    "the join — at 100 TB this ordering (agg first, join after) is the "
    "difference between shuffling 2% of lineitem and all of it. sum_qty "
    "rides the integer-unit device (round-10 hostile-numeric sweep: a raw "
    "double sum silently diverges between engines once a single extreme "
    "value pushes the accumulator past the magnitude where addition order "
    "matters; the LONG unit sum is order-independent and exact to 2^63).",
    tags=("tpch", "join", "agg"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(decimal_units(F.col("l_quantity"), 100)).alias("qty_units")
        )
        .filter(F.col("qty_units") > 18000)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            # scale == 10^dp, the width where the plain ROUND is safe
            F.round(F.col("qty_units") / 100, 2).alias("sum_qty"),
        )
    )


@register(
    "brand_disjunctive_revenue",
    sql=f"""
    SELECT {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 10000, 2)} AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#4' AND l.l_quantity BETWEEN 1 AND 25)
       OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 35)
    """,
    doc="TPC-H Q19 shape: disjunctive multi-clause predicate across both "
    "join sides. Catalyst extracts the common subexpressions "
    "(p_brand IN (...), l_quantity <= 35) as pushable conjuncts so each scan "
    "still prunes, leaving the full OR as the post-join filter.",
    tags=("tpch", "join", "predicate"),
)
def brand_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(broadcast_if_small(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (F.col("p_brand") == "Brand#4") & F.col("l_quantity").between(1, 25)
    ) | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 35))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.filter(cond).agg(
        exact_decimal_sum(rev, 10_000).alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


_BLOCKED_PAIRS_CTE = """
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
"""


def _blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked exact-cosine candidate pairs (shared by the near-pair
    listing and the duplicate-cluster queries)."""
    from data_engineering_project_spark.plans.similarity_queries import (
        EMB_DIM,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # r14 (guide §4 "hand whole blocks to vectorized native code"): the
    # pair stage is S.blocked_cosine_pairs' Arrow kernel — each block
    # ships once through applyInArrow and the pair triangle is emitted by
    # a numpy strict-left-fold accumulation (bit-identical doubles). The
    # operator pins its own explicit block-key repartition (AQE byte-
    # advisory coalescing would single-thread the CPU-bound blocks), so
    # no repartition here. r13 history: fold (interpreted HOF) 17.5 s →
    # presplit compiled columns 2.4 s sf0.5 marginal (OPTIMIZATION_r13.md);
    # the presplit's 64-wide projection cost ~+1 s planning constant per
    # consumer at sf0.1 — the Arrow kernel removes both.
    return S.blocked_cosine_pairs(
        e, id_col="vec_id", vec_col="embedding", block_col="label",
        dim=EMB_DIM,
    ).withColumnRenamed("cosine", "c")


_CURVE_THRESHOLDS = (0.30, 0.35, 0.40, 0.45, 0.50)
_CURVE_LIST = ", ".join(f"CAST({t} AS DOUBLE)" for t in _CURVE_THRESHOLDS)


@register(
    "emb_dup_threshold_curve",
    sql=_BLOCKED_PAIRS_CTE
    + f""",
    t AS (SELECT unnest([{_CURVE_LIST}]) AS threshold)
    SELECT t.threshold,
           CAST(sum(CASE WHEN p.c >= t.threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT CASE WHEN p.c >= t.threshold THEN p.id_b END)
                AS BIGINT) AS n_removable
    FROM pairs p CROSS JOIN t
    GROUP BY t.threshold
    """,
    doc="Semantic-dedup threshold-tuning curve: for each candidate cosine "
    "cutoff, how many blocked near-dup pairs qualify and how many vectors "
    "the keep-lowest-id rule would remove (distinct higher-id members of "
    "qualifying pairs). THE table a data engineer reads before committing "
    "a dedup threshold at 100 TB — one pass over the blocked pairs "
    "(exactly emb_blocked_near_pairs' bounded O(sum of block^2) join), "
    "each pair fanned out once per threshold with map-side combine, so "
    "the curve costs one shuffle of |thresholds| x |blocks| partial rows. "
    "Cosines are bit-identical across engines (emb_dup_clusters "
    "precedent), so the >= cuts agree exactly.",
    tags=("similarity", "dedup", "profile"),
)
def emb_dup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _blocked_pairs(spark, sf_dir)
    long = pairs.select(
        "c",
        "id_b",
        F.explode(
            F.array(*[F.lit(float(t)) for t in _CURVE_THRESHOLDS])
        ).alias("threshold"),
    )
    qual = F.col("c") >= F.col("threshold")
    return long.groupBy("threshold").agg(
        F.sum(qual.cast("int")).cast("bigint").alias("n_pairs"),
        F.count_distinct(F.when(qual, F.col("id_b")))
        .cast("bigint")
        .alias("n_removable"),
    )


@register(
    "emb_blocked_near_pairs",
    sql=_BLOCKED_PAIRS_CTE
    + """
    SELECT id_a, id_b, label, ROUND(c, 6) AS cosine
    FROM pairs WHERE c >= 0.35
    """,
    doc="Blocked exact near-duplicate search: self-join only within a "
    "blocking key (label — in production: an LSH bucket or IVF cell), exact "
    "cosine inside the block, threshold filter. The equi-join on the block "
    "key is what keeps this O(sum of block²) instead of O(n²) — the "
    "oracle-checked exact complement to emb_lsh_near_pairs. (0.35 floor "
    "suits the synthetic random vectors; real corpora use ~0.95.)",
    tags=("similarity", "dedup", "join"),
)
def emb_blocked_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _blocked_pairs(spark, sf_dir)
    return pairs.filter(F.col("c") >= 0.35).select(
        "id_a", "id_b", "label", F.round("c", 6).alias("cosine")
    )


@register(
    "events_value_histogram",
    sql="""
    SELECT event_type,
           CAST(floor(value / 50) AS INTEGER) AS bucket,
           count(*) AS n,
           ROUND(min(value), 4) AS min_value,
           ROUND(max(value), 4) AS max_value
    FROM events GROUP BY event_type, bucket
    """,
    doc="Equi-width histogram (50-unit buckets) per event type — the "
    "distribution-profiling primitive for skew diagnosis. A pure "
    "partial-aggregable groupBy: the bucket expression is computed map-side, "
    "so the shuffle carries only (type, bucket) partial rows.",
    tags=("agg", "histogram"),
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 50).cast("int").alias("bucket"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


@register(
    "events_salted_type_stats",
    sql="""
    SELECT event_type,
           count(*) AS n,
           ROUND(min(value), 4) AS min_value,
           ROUND(max(value), 4) AS max_value,
           ROUND(sum(ROUND(value * 100, 0)) / 100, 2) AS total_value
    FROM events GROUP BY event_type
    """,
    doc="Skew-proof aggregation via salting (operators/skew.py): the 5 "
    "event types are genuinely hot keys — a plain groupBy sends ~20% of the "
    "table to each of 5 reducers regardless of cluster size. Salting "
    "scatters each key over 16 sub-keys (first shuffle), then merges 16 "
    "partial rows per key (second, trivial shuffle). Results are identical "
    "to the plain aggregate — the oracle IS the plain aggregate.",
    tags=("agg", "skew", "salting"),
)
def events_salted_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = salted_aggregate(
        ev,
        ["event_type"],
        [
            ("count", "*", "n"),
            ("min", "value", "min_raw"),
            ("max", "value", "max_raw"),
            # integer-unit sum stays order-independent under salting
            ("sum", F.round(F.col("value") * 100, 0), "total_units"),
        ],
        n_salt=16,
    )
    return agg.select(
        "event_type",
        "n",
        F.round("min_raw", 4).alias("min_value"),
        F.round("max_raw", 4).alias("max_value"),
        F.round(F.col("total_units") / 100, 2).alias("total_value"),
    )


@register(
    "q7_nation_volume",
    sql=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 10000, 2)} AS volume
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, ship_year
    """,
    doc="TPC-H Q7 shape (bilateral trade volume): the same dimension table "
    "joined twice under different roles (supplier vs customer nation) with a "
    "symmetric disjunctive filter. Both nation sides broadcast; the "
    "fact-side shuffle is only lineitem⋈orders.",
    tags=("tpch", "join", "agg"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(broadcast_if_small(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(exact_decimal_sum(rev, 10_000).alias("volume"))
    )


@register(
    "q10_returned_items",
    sql="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(sum(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0))
                 / 10000, 4) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    HAVING sum(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)) / 10000
             > 50000
    """,
    doc="TPC-H Q10 shape (returned-item revenue by customer): selective "
    "fact filters (returnflag + date window) push to the scans before the "
    "3-way join; HAVING keeps the result deterministic instead of Q10's "
    "LIMIT 20 over float ordering.",
    tags=("tpch", "join", "agg"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev_units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10_000, 0
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-07-01")
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(rev_units) / 10_000).alias("rev_raw"), F.count("*").alias("n_items"))
        .filter(F.col("rev_raw") > 50_000)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            # 4dp = the exact decimal width of price*(1-disc) sums; a 2dp
            # round would hit .005 values where Spark (shortest-decimal) and
            # DuckDB (binary) rounding disagree
            F.round("rev_raw", 4).alias("revenue"),
            "n_items",
        )
    )


@register(
    "q16_part_supplier_variety",
    sql="""
    SELECT p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (10, 20, 30)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape: COUNT(DISTINCT) per group with a NOT IN "
    "anti-subquery (excluded suppliers). Catalyst plans NOT IN as a "
    "null-aware anti join against the (broadcast) exclusion list; the "
    "distinct count adds its own Expand+agg pass.",
    tags=("tpch", "join", "anti", "distinct"),
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    excluded = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            broadcast_if_small(excluded),
            li["l_suppkey"] == excluded["s_suppkey"],
            "left_anti",
        )
        .join(
            broadcast_if_small(p.filter(F.col("p_size").isin(10, 20, 30))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "events_map_roundtrip",
    sql="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
           event_type,
           count(*) AS n
    FROM events
    WHERE props IS NOT NULL
      AND trim(props, ' ' || chr(9) || chr(10) || chr(13)) <> ''
      AND event_type IS NOT NULL
    GROUP BY date, event_type
    """,
    doc="Map-type surface (SURVEY.md §2.5 lists array/map functions as "
    "absent): per-date counts are packed into a map<event_type, n> via "
    "collect_list + map_from_entries, then exploded back to rows. The "
    "round-trip hash-matches the plain aggregate, proving the map "
    "construction/explosion is lossless; rows with NULL/blank props are "
    "excluded by the exact predicate PERMISSIVE from_json nullness would "
    "induce (stated directly with btrim — the per-row parse whose output "
    "fed only this check was the query's whole data-scaled cost; the "
    "declared-schema from_json surface lives in sources/jsonl.py).",
    tags=("map", "json", "functions"),
)
def events_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # event_type is the MAP KEY below — a NULL key is illegal in Spark
    # maps (and the oracle mirrors both filters; null-fuzz finding: the
    # Spark side filtered unparseable props while the oracle counted them).
    # r13 (guide §4): this filter used to be `from_json(props, 'k INT')
    # IS NOT NULL` — a per-row Jackson parse whose output was consumed
    # ONLY as this null check. PERMISSIVE from_json returns a NULL struct
    # exactly for NULL or all-ASCII-whitespace input — malformed JSON
    # ('{not json', 'null', '[]') yields an all-null-fields ROW, which IS
    # NOT NULL — i.e. precisely the predicate the oracle states directly:
    # props IS NOT NULL AND trim(props, ' \\t\\n\\r') <> '' (plain trim()
    # strips only spaces — the r10 hostile-string sweep caught '\\t'
    # diverging; json-parse recipe). Stating it with btrim drops the
    # parse: sf0.5 marginal 1.45 → 0.24 s (tools/ab_wave_d.py). The
    # declared-schema from_json surface lives in sources/jsonl.py.
    parsed = ev.filter(F.col("event_type").isNotNull()).filter(
        F.col("props").isNotNull() & (F.btrim("props", F.lit(" \t\n\r")) != "")
    )
    counts = parsed.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("date"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    as_map = counts.groupBy("date").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("type_counts")
    )
    return as_map.select(
        "date", F.explode("type_counts").alias("event_type", "n")
    )


@register(
    "orders_decimal_struct_roundtrip",
    sql="""
    SELECT o_orderkey, ROUND(o_totalprice, 3) AS decoded_price
    FROM orders WHERE o_orderkey % 100 = 0
    """,
    doc="The raw data's 128-bit struct-encoded decimal (SURVEY.md §1.2: "
    "rtb_vars.winning_price struct<lo,hi,signScale>; §7.3 hard item 4): "
    "encode o_totalprice into the wire struct, then reconstruct through "
    "functions/scalars.py:decimal_from_struct — the oracle checks the "
    "round-trip reproduces the original value in exact decimal space.",
    tags=("functions", "decimal"),
)
def orders_decimal_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.functions.scalars import decimal_from_struct

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    # build the wire encoding: unscaled = price * 10^3 (fits a long),
    # signScale = scale<<1 | sign-bit
    unscaled = F.round(F.col("o_totalprice") * 1000, 0).cast("long")
    encoded = o.withColumn(
        "wire",
        F.struct(
            F.abs(unscaled).alias("lo"),
            F.lit(0).cast("int").alias("hi"),
            (F.lit(3 << 1) + F.when(unscaled < 0, 1).otherwise(0))
            .cast("int")
            .alias("signScale"),
        ),
    )
    decoded = decimal_from_struct("wire", max_scale=3)
    # emit as double: the driver hash-compares stringified values, and a
    # DECIMAL(38,3) prints '….260' where the oracle's double prints '….26'
    return encoded.select(
        "o_orderkey", decoded.cast("double").alias("decoded_price")
    )


@register(
    "emb_dup_clusters",
    sql=_BLOCKED_PAIRS_CTE.replace("WITH e AS", "WITH RECURSIVE e AS") + """
    , edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs WHERE c >= 0.35
        UNION ALL
        SELECT id_b, id_a FROM pairs WHERE c >= 0.35
    ),
    reach (node, root) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS vec_id, min(root) AS cluster_id
             FROM reach GROUP BY node)
    SELECT vec_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
    FROM comp
    """,
    doc="Near-dup PAIRS → duplicate CLUSTERS: connected components over the "
    "similarity graph via iterative min-label propagation "
    "(operators/components.py) — the one genuinely iterative algorithm in a "
    "dedup pipeline (transitive closure; A~B~C must collapse into one "
    "cluster even though A≁C). Each round is one distributed join+min; the "
    "driver only sees the convergence counter. The oracle restates it as a "
    "recursive CTE, so the fixpoint itself is hash-checked.",
    tags=("dedup", "components", "iterative"),
)
def emb_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.components import (
        connected_components,
    )

    edges = _blocked_pairs(spark, sf_dir).filter(F.col("c") >= 0.35)
    comp = connected_components(edges, src="id_a", dst="id_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


@register(
    "q22_dormant_rich_customers",
    sql=f"""
    WITH cutoff AS (
        SELECT sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS su,
               count(c_acctbal) AS cnt
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           count(*) AS n_customers,
           {sql_exact_sum('c.c_acctbal', 1000, 2)} AS total_acctbal
    FROM customer c, cutoff
    WHERE CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) * cutoff.cnt
          > cutoff.su
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '2000-01-01')
    GROUP BY c.c_nationkey
    """,
    doc="TPC-H Q22 shape (recently-dormant high-balance customers): a "
    "scalar aggregate subquery (global avg → broadcast single row) gates "
    "the filter, then NOT EXISTS over date-filtered orders plans as a "
    "left-anti join. Two subquery kinds in one plan; the date predicate "
    "pushes into the anti-join's build-side scan.",
    tags=("tpch", "subquery", "anti", "agg"),
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # the avg threshold as an exact integer cross-multiplication:
    # acctbal > su/(100*cnt)  <=>  units(acctbal)*cnt > su — no double
    # division anywhere, so the gate cannot flip on a merge-order ulp for
    # a customer sitting exactly at the mean (r10 verdict #5 class).
    # units*cnt stays far below 2^63 (units ~1e6, cnt bounded by rows).
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(decimal_units(F.col("c_acctbal"), 100)).alias("su"),
        F.count("c_acctbal").alias("cnt"),
    )
    rich = c.crossJoin(F.broadcast(stats)).filter(
        decimal_units(F.col("c_acctbal"), 100) * F.col("cnt") > F.col("su")
    )
    recent = o.filter(F.col("o_orderdate") >= "2000-01-01")
    dormant = rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        half_up_div(
            F.sum(decimal_units(F.col("c_acctbal"), 1000)), 1000, 2
        ).alias("total_acctbal"),
    )


@register(
    "q15_top_supplier",
    sql=f"""
    WITH rev AS (
        SELECT l_suppkey,
               sum(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)) AS units
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           {sql_half_up_div('rev.units', 10000, 2)} AS total_revenue
    FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE rev.units = (SELECT max(units) FROM rev)
    """,
    doc="TPC-H Q15 shape (top supplier by quarterly revenue): an aggregate "
    "CTE consumed twice — once joined, once reduced to a max scalar "
    "subquery. The equality against max is exact because revenue sums are "
    "integer-snapped, so ties and float drift can't make the engines "
    "disagree on who is top.",
    tags=("tpch", "subquery", "agg"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    units = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10_000, 0)
    )
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(units.alias("units"))
    )
    top = rev.agg(F.max("units").alias("max_units"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("units") == F.col("max_units"))
        .join(broadcast_if_small(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            half_up_div(F.col("units"), 10_000, 2).alias("total_revenue"),
        )
    )


@register(
    "q11_part_value_concentration",
    sql=f"""
    WITH pv AS (
        SELECT l_partkey,
               sum(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)) AS units
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey,
           {sql_half_up_div('units', 10000, 2)} AS part_value
    FROM pv
    WHERE units > (SELECT sum(units) FROM pv) * 0.0007
    """,
    doc="TPC-H Q11 shape (value concentration): per-part revenue kept only "
    "when above a fraction of the GLOBAL total — an aggregate compared "
    "against a scalar subquery over the same aggregate. One shuffle builds "
    "pv; the grand total reduces from pv, not from a second lineitem scan.",
    tags=("tpch", "subquery", "agg"),
)
def q11_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    units = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10_000, 0)
    )
    pv = li.groupBy("l_partkey").agg(units.alias("units")).persist()
    total = pv.agg(F.sum("units").alias("total_units"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("units") > F.col("total_units") * 0.0007)
        .select(
            "l_partkey",
            half_up_div(F.col("units"), 10_000, 2).alias("part_value"),
        )
    )


@register(
    "sql_interface_shipmode_profile",
    sql="""
    SELECT l_linestatus,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           count(*) AS n_items,
           ROUND(sum(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) / 100.0, 2)
               AS total_qty
    FROM lineitem
    GROUP BY l_linestatus, ship_year
    """,
    doc="The SQL entry point: this query is authored as a spark.sql string "
    "over the registered temp-view catalog (sources/tables.py:load_tables) "
    "rather than the DataFrame API — both compile to the same Catalyst "
    "plan, and the engine supports either surface (the reference's only "
    "SQL-string usage is a smoke test, verify_setup.py:288-289). total_qty "
    "rides the integer-unit device in its SQL form (round-10 "
    "hostile-numeric sweep).",
    tags=("sql", "agg"),
)
def sql_interface_shipmode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.sources.tables import load_tables

    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_linestatus,
               CAST(year(l_shipdate) AS INT) AS ship_year,
               count(*) AS n_items,
               ROUND(sum(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                     / CAST(100 AS DOUBLE), 2) AS total_qty
        FROM lineitem
        GROUP BY l_linestatus, ship_year
        """
    )


@register(
    "q2_min_cost_supplier",
    sql="""
    WITH part_supp AS (
        SELECT DISTINCT l.l_partkey, l.l_suppkey, s.s_acctbal, s.s_name
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ),
    ranked AS (
        SELECT l_partkey, l_suppkey, s_name, s_acctbal,
               min(s_acctbal) OVER (PARTITION BY l_partkey) AS min_bal
        FROM part_supp
    )
    SELECT l_partkey, l_suppkey, s_name, ROUND(s_acctbal, 2) AS s_acctbal
    FROM ranked
    WHERE s_acctbal = min_bal AND l_partkey < 100
    """,
    doc="TPC-H Q2 shape (min-cost supplier per part): the correlated "
    "'WHERE x = (SELECT min(..) ... WHERE same part)' subquery expressed as "
    "a window min over the part partition — one shuffle instead of a "
    "re-scanning correlated subquery, the standard decorrelation Catalyst "
    "itself would apply.",
    tags=("tpch", "window", "subquery"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    ps = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(broadcast_if_small(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("l_partkey", "l_suppkey", "s_acctbal", "s_name")
    )
    w = Window.partitionBy("l_partkey")
    ranked = ps.withColumn("min_bal", F.min("s_acctbal").over(w))
    return (
        ranked.filter(
            (F.col("s_acctbal") == F.col("min_bal")) & (F.col("l_partkey") < 100)
        )
        .select(
            "l_partkey",
            "l_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


@register(
    "q20_excess_stock_suppliers",
    sql="""
    WITH shipped AS (
        SELECT l_suppkey, l_partkey,
               sum(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS qty_units
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        GROUP BY l_suppkey, l_partkey
    ),
    heavy AS (SELECT DISTINCT l_suppkey FROM shipped WHERE qty_units > 5000)
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
      AND n.n_regionkey = 1
    """,
    doc="TPC-H Q20 shape (suppliers with heavy part movements): an IN "
    "subquery over an aggregate (planned as a left-semi join against the "
    "pre-aggregated, thus tiny, qualifying set) chained with a broadcast "
    "dimension filter — aggregate-then-semi-join keeps the fact shuffle to "
    "one pass.",
    tags=("tpch", "semi", "subquery", "agg"),
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_suppkey", "l_partkey")
        # integer-unit sum: the >50 membership test must not flip with
        # addition order (round-10 hostile-numeric sweep)
        .agg(F.sum(decimal_units(F.col("l_quantity"), 100)).alias("qty_units"))
    )
    heavy = (
        shipped.filter(F.col("qty_units") > 5000).select("l_suppkey").distinct()
    )
    return (
        s.join(broadcast_if_small(heavy), s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(
            F.broadcast(n.filter(F.col("n_regionkey") == 1)),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "q17_small_quantity_revenue",
    sql="""
    WITH pa AS (
        SELECT l_partkey, avg(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(sum(ROUND(l.l_extendedprice * 100, 0)) / 100 / 7.0, 2)
               AS avg_yearly,
           count(*) AS n_small_lines
    FROM lineitem l
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.4 * pa.avg_qty
    """,
    doc="TPC-H Q17 shape (small-quantity order revenue): each lineitem "
    "compared against ITS part's average quantity — the correlated "
    "aggregate decorrelated into an aggregate-then-join. avg_qty is exact "
    "(integer quantities sum losslessly), so the strict comparison is "
    "engine-deterministic.",
    tags=("tpch", "subquery", "join", "agg"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(pa, F.col("pa_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.4 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(decimal_units(F.col("l_extendedprice"), 100)) / 100 / 7.0, 2
            ).alias("avg_yearly"),
            F.count("*").alias("n_small_lines"),
        )
    )


@register(
    "q21_sole_returned_supplier",
    sql="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_returnflag = 'R'
      AND o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape (sole at-fault supplier): EXISTS + NOT EXISTS over "
    "two aliases of the fact table — a semi join (another supplier shares "
    "the order) stacked with an anti join (no OTHER supplier also "
    "returned) on the same order key, then the dimension join and count. "
    "The richest subquery nesting in the suite; both rewrites shuffle on "
    "l_orderkey once each.",
    tags=("tpch", "semi", "anti", "subquery"),
)
def q21_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
    )
    shared = l1.join(
        l2,
        (F.col("l2_orderkey") == F.col("l_orderkey"))
        & (F.col("l2_suppkey") != F.col("l_suppkey")),
        "left_semi",
    )
    sole = shared.join(
        l3,
        (F.col("l3_orderkey") == F.col("l_orderkey"))
        & (F.col("l3_suppkey") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        sole.join(
            o.filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "q6_forecast_revenue",
    sql=f"""
    SELECT {sql_exact_sum('l_extendedprice * l_discount', 10000, 2)}
               AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount >= 0.045 AND l_discount <= 0.075
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (forecast revenue change): pure scan-filter-"
    "aggregate with NO join and NO groupBy — the canonical pushdown "
    "benchmark. All three predicates (date range, discount band, quantity "
    "cap) reach the parquet reader as PushedFilters; at 100 TB this is an "
    "embarrassingly parallel partial-agg with a single-row final merge. "
    "Discount band uses 0.045/0.075 bounds so no stored 2dp value sits on "
    "a comparison boundary. Reference analog: the compound range predicate "
    "of src/Task1/data_processing.py:248-252 (P5).",
    tags=("tpch", "scan", "agg", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.045)
            & (F.col("l_discount") <= 0.075)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_decimal_sum(
                F.col("l_extendedprice") * F.col("l_discount"), 10_000
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q13_customer_order_distribution",
    sql="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape (customer order-count distribution): LEFT OUTER "
    "join with a predicate ON THE JOIN CONDITION (not a post-filter — "
    "customers whose only orders are urgent must still appear with "
    "c_count=0), a per-customer count, then a second aggregation over the "
    "counts. Two shuffles (o_custkey, then c_count); the second input is "
    "one row per customer so the re-aggregation is cheap at any scale. "
    "The urgent-priority exclusion mirrors Q13's NOT LIKE comment filter.",
    tags=("tpch", "join", "outer", "agg"),
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


_Q8_NAT_SU = """sum(CASE WHEN supp_nation = 'NATION_0'
                          THEN volume_units ELSE 0 END)"""


@register(
    "q8_nation_market_share",
    sql=f"""
    WITH vol AS (
        SELECT CAST(strftime(o.o_orderdate, '%Y') AS INT) AS o_year,
               ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
                   AS volume_units,
               n.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
           {sql_half_up_div(_Q8_NAT_SU, 10000, 2)}
               AS nation_volume,
           {sql_half_up_div('sum(volume_units)', 10000, 2)} AS total_volume,
           {sql_half_up_ratio(_Q8_NAT_SU, 'sum(volume_units)', 6)}
               AS mkt_share
    FROM vol
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): conditional share of "
    "revenue attributable to one supplier nation per order year. The "
    "numerator is a count-if-style conditional SUM (SURVEY.md §2.4 A2) "
    "inside the same aggregate pass as the denominator — one shuffle, not "
    "two plans. supplier+nation are broadcast; the orders join shuffles "
    "on l_orderkey. Both sums snap 4dp volume terms to integer units "
    "first, so numerator, denominator, and their ratio are bit-identical "
    "across engines and merge orders.",
    tags=("tpch", "join", "agg", "broadcast"),
)
def q8_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10_000, 0
    )
    nation_units = F.when(F.col("n_name") == "NATION_0", F.col("volume_units")).otherwise(
        F.lit(0.0)
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            units.alias("volume_units"),
            F.col("n_name"),
        )
        .groupBy("o_year")
        .agg(
            half_up_div(F.sum(nation_units), 10_000, 2).alias("nation_volume"),
            half_up_div(F.sum("volume_units"), 10_000, 2).alias("total_volume"),
            half_up_ratio(
                F.sum(nation_units), F.sum("volume_units"), 6
            ).alias("mkt_share"),
        )
    )


# md5-derived bucket hash (operators/sketch.py:_probes): depth-row i's
# bucket is the i-th disjoint 8-hex (32-bit) window of ONE md5 digest of
# "42:{key}" — one digest feeds all four rows (the 1.8× build win), and
# each 32-bit window mod the power-of-two width is congruence-safe
# (2^32 ≡ 0 mod 2^11).
_CMS_BUCKET = (
    "(CAST('0x' || substr(md5('42:' || k), 1 + 8 * i, 8) AS BIGINT) % 2048)"
)


@register(
    "events_cms_heavy_hitters",
    sql=f"""
    WITH ev AS (SELECT user_id, CAST(user_id AS VARCHAR) AS k FROM events),
    probes AS (
        SELECT user_id, i, {_CMS_BUCKET} AS bucket
        FROM ev CROSS JOIN range(4) t(i)
    ),
    sketch AS (SELECT i, bucket, COUNT(*) AS cnt FROM probes GROUP BY 1, 2),
    total AS (SELECT COUNT(*) AS n FROM events),
    cand AS (SELECT DISTINCT user_id, i, bucket FROM probes),
    est AS (
        SELECT c.user_id, MIN(s.cnt) AS est_count
        FROM cand c JOIN sketch s USING (i, bucket)
        GROUP BY 1
    )
    SELECT e.user_id, e.est_count, t.n AS total_count
    FROM est e CROSS JOIN total t
    WHERE e.est_count >= 0.008 * t.n
    """,
    doc="φ-heavy-hitters over event user_ids via a count-min sketch "
    "(operators/sketch.py): pass 1 folds the stream into a fixed "
    "depth×width counter table (the shuffle is sketch-sized, independent "
    "of data volume — THE property that matters at 100 TB where exact "
    "per-key state for billions of long-tail keys would dominate "
    "memory); pass 2 broadcast-probes candidate keys and keeps "
    "est ≥ φ·N. Overestimate-only error: recall of true heavy hitters "
    "is 100% by construction (property-tested in tests/test_sketch.py). "
    "The md5-derived bucket hash makes the whole sketch "
    "engine-portable, so the DuckDB oracle rebuilds it and hash-matches "
    "exactly (was rows-only under xxhash64 in round 2).",
    tags=("sketch", "approx", "agg"),
)
def events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # pre_agg: user_id is a bounded-cardinality key (the per-key exact
    # fold's exchange carries distinct-users-per-partition partials, tiny
    # here), so the weighted build — md5 per DISTINCT key, one probed
    # frame reused by build + estimate — wins outright: A/B tools/
    # ab_cms.py on the sf0.1->sf0.5 denominators measured marginal
    # 2.00 s -> ~0 with identical output (slope 7.3 -> fixed). The
    # operator DEFAULT stays stream-shaped for billions-of-long-tail-keys
    # workloads where the sketch-sized shuffle is the whole point.
    return K.cms_heavy_hitters(
        ev, "user_id", threshold_frac=0.008, pre_agg=True
    )


@register(
    "events_spacesaving_topk",
    sql="""
    SELECT CAST(LEAST(10, count(DISTINCT user_id)) AS BIGINT) AS k_returned,
           TRUE AS bounds_hold,
           (SELECT CAST(max(c) AS BIGINT)
            FROM (SELECT count(*) AS c FROM events GROUP BY user_id))
               AS exact_top1_count,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    """,
    doc="Deterministic top-10 users via merged Misra-Gries (space-saving "
    "family) summaries — the ONE-pass, hard-guarantee alternative to the "
    "two-pass CMS heavy hitters above: est_lower ≤ true ≤ est_upper always "
    "(no failure probability), per-partition state capped at 32 counters "
    "regardless of key cardinality, shuffle ≤ capacity rows/partition. "
    "The raw bounds depend on partitioning, so the HASHED output is the "
    "bound WITNESS: Spark joins the sketch's top-k to exact per-key counts "
    "and emits bool_and(est_lower ≤ exact ≤ est_upper) plus "
    "oracle-computable exact ground truth (top-1 count, N) — a broken "
    "sketch flips bounds_hold and the value hash. Raw-output bounds + "
    "exactness-when-tight stay value-checked in tests/test_oracle_parity; "
    "merge math property-tested in tests/test_sketch.py.",
    tags=("sketch", "approx", "agg"),
)
def events_spacesaving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    topk = K.space_saving_topk(ev, "user_id", k=10, capacity=32)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    witness = (
        topk.join(exact, "user_id", "left")
        .agg(
            F.count("*").alias("k_returned"),
            F.bool_and(
                (F.col("est_lower") <= F.col("exact_count"))
                & (F.col("exact_count") <= F.col("est_upper"))
            ).alias("bounds_hold"),
        )
    )
    truth = ev.agg(F.count("*").alias("n_events")).crossJoin(
        exact.agg(F.max("exact_count").alias("exact_top1_count"))
    )
    return witness.crossJoin(truth).select(
        "k_returned", "bounds_hold", "exact_top1_count", "n_events"
    )


@register(
    "events_hll_distinct_users",
    sql="""
    SELECT event_type,
           TRUE AS sketch_within_5pct,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Mergeable distinct-count sketches: per-event-type distinct users "
    "via hll_sketch_agg/hll_sketch_estimate (Apache DataSketches, "
    "JVM-side). The 100 TB story: HLL state is a fixed 2^lgK-register "
    "sketch that MERGES associatively, so partial aggregation works like "
    "any sum — unlike exact countDistinct, whose Expand+dedup state grows "
    "with key cardinality and whose merges must keep every key. Sketches "
    "from different partitions/days union losslessly (union = register "
    "max), enabling pre-aggregated daily sketches rolled into arbitrary "
    "ranges. The DataSketches estimate can't hash-match DuckDB's HLL "
    "implementation, so the hashed output is exact ground truth plus the "
    "error-bound WITNESS |est−exact|/exact ≤ 5% (lgK=12 → ~1.6% typical; "
    "low cardinality is exact-mode, error 0) — a broken sketch flips the "
    "boolean and the hash (same device as user_distinct_profile's "
    "hll_within_5pct; est error bound also property-tested in "
    "tests/test_sketch.py).",
    tags=("sketch", "approx", "agg"),
)
def events_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).alias("est_users"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("sketch_within_5pct"),
            "exact_users",
            "n_events",
        )
    )


@register(
    "events_hll_daily_rollup",
    sql="""
    SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS direct_within_5pct,
           TRUE AS union_within_5pct,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_total_users
    FROM events WHERE ts IS NOT NULL
    """,
    doc="Sketch ROLLUP — the reason sketches beat exact state at 100 TB: "
    "one HLL sketch per DAY (the pre-aggregation a warehouse would "
    "persist alongside each partition), then hll_union_agg folds the 30 "
    "daily sketches into the full-range distinct-user count WITHOUT "
    "touching raw events again. Union is register-wise max — associative, "
    "commutative, lossless w.r.t. the retained state — so arbitrary date "
    "ranges cost one tiny merge over fixed-size state where exact "
    "countDistinct would re-scan and re-shuffle every raw key. The hashed "
    "output states the property AS DATA: BOTH the folded-union estimate "
    "and the direct full-range estimate sit within the 5% error bound of "
    "the oracle-computable exact ground truth — DuckDB asserts both TRUE, "
    "so a broken union or estimator flips the hash. (An earlier form "
    "asserted union == direct bit-equality; that is NOT a property of the "
    "DataSketches HLL — a stream-built sketch answers with the HIP "
    "estimator while a union result must fall back to the composite "
    "estimator, so the two agree only while every sketch is still in "
    "coupon mode. sf0.01 satisfied that by luck; sf0.1 promoted the daily "
    "sketches and falsified it. Same property asserted in "
    "tests/test_sketch.py.)",
    tags=("sketch", "approx", "agg", "rollup"),
)
def events_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()  # a DAILY rollup covers timestamped events
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    rolled = daily.agg(
        F.count("*").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est"),
    )
    direct = ev.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("direct_est"),
        F.countDistinct("user_id").alias("exact_total_users"),
    )
    # vacuously true on an empty slice (exact = 0): the witness guards
    # the estimate's error, and an absent estimate has none
    def within_5pct(est):
        return (
            F.when(
                F.col("exact_total_users") > 0,
                F.abs(est - F.col("exact_total_users"))
                / F.col("exact_total_users")
                <= 0.05,
            )
            .otherwise(F.lit(True))
        )

    return rolled.crossJoin(direct).select(
        "n_days",
        within_5pct(F.col("direct_est")).alias("direct_within_5pct"),
        within_5pct(F.col("union_est")).alias("union_within_5pct"),
        "exact_total_users",
    )


@register(
    "q12_priority_by_linestatus",
    sql="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
    doc="TPC-H Q12 shape (shipping modes vs order priority): fact⋈fact "
    "join with DUAL complementary conditional counts in one aggregate "
    "pass — urgent/high vs everything else per line status (the schema's "
    "shipmode analog). The ship-date window pushes to the lineitem scan; "
    "one shuffle on l_orderkey for the join, then a 2-group aggregate. "
    "Distinct from order_priority_check (Q4's EXISTS): this counts BOTH "
    "branches of the predicate simultaneously (SURVEY.md §2.4 A2 "
    "count-if, doubled).",
    tags=("tpch", "join", "agg"),
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q9_nation_profit",
    sql=f"""
    SELECT n.n_name AS nation,
           CAST(strftime(o.o_orderdate, '%Y') AS INT) AS o_year,
           -- half-up from the EXACT integer unit sum (su ≡ 50 mod 100
           -- lands the double su/10⁴ just below .xx5: binary rounding
           -- says .68 where Spark's shortest-decimal BigDecimal says
           -- .69 — found by the sf0.1 parity sweep, nation_2/1997)
           {sql_exact_sum(
               'l.l_extendedprice * (1 - l.l_discount)'
               ' - l.l_quantity * (p.p_retailprice * 0.6)', 10000, 2)} AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type = 'STANDARD'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape (product-type profit by nation and year): the "
    "5-table join — lineitem against orders (shuffle on l_orderkey) plus "
    "THREE broadcast dimensions (supplier, nation, part) — with a "
    "computed profit measure aggregated by supplier nation × order year. "
    "The synthetic schema has no partsupp/ps_supplycost, so cost is "
    "modeled as 60% of p_retailprice — same plan shape, same join "
    "degree, same measure arithmetic as Q9. Profit terms are snapped to "
    "integer 1/10000ths pre-sum (both engines compute the identical "
    "double from the same parquet bits and literals, so the snap is "
    "bit-deterministic). p_type filter prunes the part build side before "
    "broadcast.",
    tags=("tpch", "join", "agg", "broadcast"),
)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    profit_units = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("l_quantity") * (F.col("p_retailprice") * 0.6)
        )
        * 10_000,
        0,
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(broadcast_if_small(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(broadcast_if_small(p), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            profit_units.alias("profit_units"),
        )
        .groupBy("nation", "o_year")
        .agg(half_up_div(F.sum("profit_units"), 10_000, 2).alias("profit"))
    )


@register(
    "q19_bracketed_revenue",
    sql=f"""
    SELECT {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 10000, 2)} AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (disjunctive bracket predicates): three OR'd "
    "brand/size/quantity brackets that each touch BOTH sides of the join. "
    "Catalyst extracts the shared p_partkey = l_partkey equi-key and leaves "
    "the disjunction as a post-join filter; the plan adds the brackets' "
    "single-table envelopes (l_quantity 1-30, p_size 1-15, brand IN (...)) "
    "explicitly so they push into each parquet scan — at 100 TB the "
    "envelope cuts the fact scan before the join instead of after "
    "(reference has no disjunctive-predicate query; brief §2.3 requires "
    "the join surface).",
    tags=("tpch", "join", "agg", "pushdown"),
)
def q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    brackets = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    # single-table envelopes of the disjunction, stated redundantly so each
    # pushes into its own scan (Catalyst does not distribute the OR itself)
    li_env = li.filter(F.col("l_quantity").between(1, 30))
    p_env = p.filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & F.col("p_size").between(1, 15)
    )
    rev_units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10_000, 0
    )
    return (
        li_env.join(
            broadcast_if_small(p_env), F.col("p_partkey") == F.col("l_partkey")
        )
        .filter(brackets)
        .agg(
            half_up_div(F.sum(rev_units), 10_000, 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "events_user_state_diff",
    sql="""
    WITH a AS (
        SELECT user_id,
               CASE WHEN json_valid(props)
                    THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
               END AS k,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS units
        FROM events WHERE ts IS NOT NULL AND CAST(ts AS DATE) < DATE '2024-01-16'
        GROUP BY 1, 2
    ),
    b AS (
        SELECT user_id,
               CASE WHEN json_valid(props)
                    THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
               END AS k,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS units
        FROM events WHERE ts IS NOT NULL AND CAST(ts AS DATE) >= DATE '2024-01-16'
        GROUP BY 1, 2
    ),
    diff AS (
        SELECT CASE WHEN a.user_id IS NULL THEN 'added'
                    WHEN b.user_id IS NULL THEN 'removed'
                    WHEN md5(CAST(a.n AS VARCHAR) || '|'
                             || COALESCE(CAST(a.units AS VARCHAR), 'null'))
                         <> md5(CAST(b.n AS VARCHAR) || '|'
                                || COALESCE(CAST(b.units AS VARCHAR), 'null'))
                         THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(a.units, 0) AS units_a,
               COALESCE(b.units, 0) AS units_b
        FROM a FULL OUTER JOIN b
          ON a.user_id = b.user_id AND a.k = b.k
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(units_a) AS BIGINT) AS units_a,
           CAST(sum(units_b) AS BIGINT) AS units_b
    FROM diff GROUP BY status
    """,
    doc="Snapshot diff — the regression-check operator between two "
    "pipeline runs: aggregate each side to one row per key, FULL OUTER "
    "JOIN on the key, classify added / removed / changed / unchanged by "
    "row-digest comparison (md5 over a canonical field encoding), and "
    "reduce to per-class counts. Here the two 'runs' are the first and "
    "second half-month of per-(user, props-key) event state, a grain at which every class (added / removed / changed / unchanged) is populated. Both sides shuffle once "
    "on the join key and the digest compare is a map-side expression — "
    "at 100 TB this is the cheapest correct way to answer 'what did the "
    "new pipeline version change?' without row-by-row eyeballing.",
    tags=("diff", "join", "quality"),
)
def events_user_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()  # null-fuzz: timeline ops
    )

    def side(pred):
        return (
            ev.filter(pred)
            .groupBy(
                "user_id",
                F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            )
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum(decimal_units(F.col("value"), 10000))
                .cast("bigint")
                .alias("units"),
            )
        )

    cutoff = F.to_date("ts") < F.lit("2024-01-16")
    a, b = side(cutoff).alias("a"), side(~cutoff).alias("b")
    # NULL units must be digest-EXPLICIT: concat_ws silently skips NULLs
    # (digest collides with a different n) while the oracle's || nulls the
    # whole digest (every NULL pair reads 'unchanged') — null-fuzz finding
    digest = lambda s: F.md5(
        F.concat_ws(
            "|",
            F.col(f"{s}.n").cast("string"),
            F.coalesce(F.col(f"{s}.units").cast("string"), F.lit("null")),
        )
    )
    diff = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.k") == F.col("b.k")),
        "full_outer",
    ).select(
        F.when(F.col("a.user_id").isNull(), F.lit("added"))
        .when(F.col("b.user_id").isNull(), F.lit("removed"))
        .when(digest("a") != digest("b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        F.coalesce(F.col("a.units"), F.lit(0).cast("bigint")).alias("units_a"),
        F.coalesce(F.col("b.units"), F.lit(0).cast("bigint")).alias("units_b"),
    )
    return diff.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("units_a").cast("bigint").alias("units_a"),
        F.sum("units_b").cast("bigint").alias("units_b"),
    )


@register(
    "events_approx_quantile_witness",
    sql="""
    SELECT event_type,
           p AS quantile,
           TRUE AS rank_ok,
           CAST(count(value) AS BIGINT) AS n_rows
    FROM events CROSS JOIN (VALUES (0.5), (0.9), (0.99)) t(p)
    GROUP BY event_type, p
    """,
    doc="approx_percentile (Greenwald-Khanna sketch, JVM-side) with its "
    "rank-error guarantee checked exactly in-engine — the quantile member "
    "of the sketch family next to HLL/CMS/Misra-Gries, and the operator "
    "the docs of `orders_price_quantiles` point to at 100 TB (bounded "
    "sketch state + associative merge vs exact percentile's global sort). "
    "Protocol, same device as `events_hll_distinct_users`: the estimate "
    "can't hash-match another engine's sketch, so the hashed row is exact "
    "ground truth plus a WITNESS boolean. GK returns an actual data value "
    "v whose rank spans [#{x<v}+1, #{x<=v}] (duplicates) and promises "
    "that interval, widened by 2x the mergeable-GK bound 4N/accuracy (+2 ranks of slack; Spark merges one compressed summary per partition, GK merge error is additive, and the merge count follows the harness parallelism), contains the target rank ceil(p*N). Both "
    "endpoints are exact counts from one broadcast-join pass (15 "
    "sketch rows against the fact scan); the containment check runs in "
    "pure BIGINT after an integer ceil-div and scaling by the accuracy, so the boolean is "
    "bit-deterministic. A broken sketch (or a regression in the accuracy "
    "contract) flips rank_ok and the driver hash. Two scans total: sketch "
    "pass + rank pass; at 100 TB both are map-side-combined aggregates.",
    tags=("sketch", "approx", "quantile"),
)
def events_approx_quantile_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ACC = 10_000
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(ACC)
        ).alias("ests"),
        F.count("value").alias("n"),
    )
    p_ppms = F.array(F.lit(500_000), F.lit(900_000), F.lit(990_000))
    # an all-NULL-value group has ests = NULL: posexplode would DROP the
    # group (the oracle keeps it with a vacuous witness) — expand to an
    # explicit 3-NULL array so each quantile row survives (null-fuzz)
    null_d = F.lit(None).cast("double")
    est = sk.select(
        F.col("event_type").alias("sk_type"),
        "n",
        F.posexplode(
            F.coalesce(F.col("ests"), F.array(null_d, null_d, null_d))
        ).alias("idx", "est"),
    ).select(
        "sk_type",
        "n",
        "est",
        F.element_at(p_ppms, F.col("idx") + 1).cast("bigint").alias("p_ppm"),
    )
    ranks = (
        # null-safe: a NULL event_type group must survive the re-join
        ev.join(F.broadcast(est), F.col("event_type").eqNullSafe(F.col("sk_type")))
        .groupBy("event_type", "p_ppm", "n")
        .agg(
            F.sum(F.when(F.col("value") < F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("lo"),
            F.sum(F.when(F.col("value") <= F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("hi"),
        )
    )
    # Spark's QuantileSummaries targets rank T = ceil(p*N) (verified
    # empirically per event type: fractional p*N rounds UP, integral p*N
    # stays). The per-summary error is eps*N, but ApproximatePercentile
    # MERGES one compressed summary per partition and GK merge error is
    # additive — the classic mergeable bound is 2*eps*N (observed: rank
    # gaps up to 2 at eps*N = 1.99, and the constant grows with the
    # number of per-partition summaries merged, which the harness's
    # parallelism decides). Witness allows 2x the mergeable bound plus 2
    # ranks of ceil/headroom slack — partitioning-independent, while a
    # broken sketch still misses by orders of magnitude. Integer units of
    # 1/ACC:  ACC*(lo+1) - 4N - 2*ACC  <=  ACC*T  <=  ACC*hi + 4N + 2*ACC
    A = F.lit(ACC).cast("bigint")
    target = A * F.expr("(p_ppm * n + 999999) div 1000000")
    lo_bound = A * (F.col("lo") + 1) - 4 * F.col("n") - 2 * A
    hi_bound = A * F.col("hi") + 4 * F.col("n") + 2 * A
    return ranks.select(
        "event_type",
        (F.col("p_ppm").cast("double") / 1_000_000).alias("quantile"),
        ((target >= lo_bound) & (target <= hi_bound)).alias("rank_ok"),
        F.col("n").alias("n_rows"),
    )


@register(
    "users_spend_topk_mg",
    sql="""
    SELECT CAST(LEAST(10, count(DISTINCT user_id)) AS BIGINT) AS k_returned,
           TRUE AS bounds_hold,
           (SELECT CAST(max(s) AS BIGINT) FROM (
                SELECT sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s
                FROM events GROUP BY user_id))
               AS exact_top1_cents,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    """,
    doc="Top-10 users by TOTAL SPEND via weighted Misra-Gries summaries — "
    "the weighted twin of `events_spacesaving_topk`: each occurrence "
    "adds its integer cents instead of 1, state stays capped at 32 "
    "counters per partition no matter how many users exist, and "
    "est_lower <= true_spend <= est_upper is a hard guarantee (weighted "
    "MG is the textbook generalization — one w-unit update per row). "
    "Same bound-WITNESS hashing device as the count twin: Spark joins "
    "the sketch's top-k to exact per-user spend and emits "
    "bool_and(bounds hold) plus oracle-computable ground truth (top-1 "
    "spend, total cents); a broken weighted path flips the boolean and "
    "the hash. The streaming maintenance twin is "
    "upsert_mg_summaries(weight_col=...).",
    tags=("sketch", "approx", "agg"),
)
def users_spend_topk_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.functions.scalars import (
        decimal_units,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", decimal_units(F.col("value"), 100).alias("cents")
    )
    topk = K.space_saving_topk(
        ev, "user_id", k=10, capacity=32, weight_col="cents"
    )
    exact = ev.groupBy("user_id").agg(F.sum("cents").alias("exact_cents"))
    witness = topk.join(exact, "user_id", "left").agg(
        F.count("*").alias("k_returned"),
        F.bool_and(
            (F.col("est_lower") <= F.col("exact_cents"))
            & (F.col("exact_cents") <= F.col("est_upper"))
        ).alias("bounds_hold"),
    )
    truth = ev.agg(F.sum("cents").cast("bigint").alias("total_cents")).crossJoin(
        exact.agg(F.max("exact_cents").cast("bigint").alias("exact_top1_cents"))
    )
    return witness.crossJoin(truth).select(
        "k_returned", "bounds_hold", "exact_top1_cents", "total_cents"
    )


@register(
    "events_variant_props_stats",
    sql="""
    WITH j AS (
        SELECT event_type,
               CASE WHEN json_valid(props)
                    THEN CAST(props->>'$.k' AS BIGINT)
               END AS k
        FROM events WHERE props IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM j GROUP BY event_type
    """,
    doc="Semi-structured props through Spark 4's VARIANT type — the modern "
    "path for open-schema JSON columns (vs the string-probing "
    "get_json_object in json_props_stats and the closed-schema from_json "
    "in events_map_roundtrip): parse_json materializes a binary VARIANT "
    "once, variant_get extracts a TYPED field with cast semantics, and "
    "the aggregate runs on real BIGINTs. At 100 TB this is the shape that "
    "matters: the variant binary encoding parses each JSON document once "
    "at ingest instead of per-path re-parsing strings in every "
    "expression, and typed extraction keeps the aggregate in codegen.",
    tags=("functions", "json", "variant"),
)
def events_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: a malformed document yields a NULL
    # variant (k extracts NULL) instead of aborting the job — mirrored by
    # the oracle's json_valid guard (hostile-string sweep, r11)
    v = ev.filter(F.col("props").isNotNull()).withColumn(
        "pv", F.try_parse_json("props")
    )
    k = F.variant_get("pv", "$.k", "bigint")
    return v.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).cast("bigint").alias("min_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )
