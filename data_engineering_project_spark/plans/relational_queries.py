"""Relational-shape coverage: skyline, bipartite projection,
gaps-and-islands streaks.

Round-4 additions extending SURVEY.md §2.11 (PIVOT/UNPIVOT already live in
`analytics_queries.py`). Each is a classic warehouse operator shape the
reference cannot express (its ceiling is groupBy-count + a 24-row left
join, src/Task1/data_processing.py:268-338), restated Spark-first with the
repo's determinism invariants: integer-unit money and total tie-break
orders under every LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.scalars import decimal_units
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table

#: price bin width for the skyline prefix prune, in centi-units ($100).
_SKY_BIN = 10_000


@register(
    "parts_pareto_frontier",
    sql="""
    WITH u AS (
        SELECT p_partkey, p_name, p_size,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_u
        FROM part WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
    )
    SELECT p.p_partkey, p.p_name, p.p_size,
           ROUND(p.price_u / 100.0, 2) AS p_retailprice
    FROM u p
    WHERE NOT EXISTS (
        SELECT 1 FROM u q
        WHERE q.price_u <= p.price_u AND q.p_size >= p.p_size
          AND (q.price_u < p.price_u OR q.p_size > p.p_size)
    )
    """,
    doc="Skyline / Pareto frontier: parts not strictly dominated on "
    "(cheaper price, larger size). Distributed plan is the two-phase "
    "grid prune: (1) one groupBy computes max(size) per $100 price bin "
    "(tiny), a prefix-max window over the ordered bins yields the best "
    "size seen in any STRICTLY cheaper bin; (2) rows beaten by that "
    "broadcast threshold are discarded map-side — survivors are a small "
    "candidate set; (3) exact strict-dominance anti-join runs only among "
    "candidates (skyline(candidates) = skyline(all): dominance is "
    "transitive, every pruned row's dominator chain ends in a candidate). "
    "The naive O(n²) NOT-EXISTS never touches the full table — the only "
    "nested-loop join is over the pruned candidates against their own "
    "broadcast copy. Prices compare as exact integer centi-units.",
    tags=("relational", "skyline"),
)
def parts_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL dims poison the skyline: a NULL bin/bin_max propagates through
    # the prefix max and prunes EVERYTHING (0 rows on fuzzed data) — a
    # point with unknown price/size is simply not comparable (null-fuzz)
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            F.col("p_size").isNotNull() & F.col("p_retailprice").isNotNull()
        )
        .select(
            "p_partkey",
            "p_name",
            "p_size",
            decimal_units(F.col("p_retailprice"), 100).alias("price_u"),
        )
    )
    binned = part.withColumn(
        "bin", F.floor(F.col("price_u") / _SKY_BIN)
    )
    # phase 1: per-bin best size, then best over all strictly-cheaper bins
    bins = binned.groupBy("bin").agg(F.max("p_size").alias("bin_max"))
    prefix = bins.select(
        "bin",
        F.max("bin_max")
        .over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("cheaper_max"),
    )
    # phase 2: map-side prune against the broadcast thresholds
    cand = binned.join(F.broadcast(prefix), "bin").filter(
        F.col("cheaper_max").isNull()
        | (F.col("p_size") > F.col("cheaper_max"))
    )
    # the candidate set feeds both sides of the dominance anti-join;
    # persist the (small) survivors or the base table is scanned a third
    # time to rebuild them for the broadcast side
    cand = cand.persist()
    # phase 3: exact strict dominance among the surviving candidates only
    dom = F.broadcast(
        cand.select(
            F.col("price_u").alias("q_price"), F.col("p_size").alias("q_size")
        )
    )
    frontier = cand.join(
        dom,
        (F.col("q_price") <= F.col("price_u"))
        & (F.col("q_size") >= F.col("p_size"))
        & (
            (F.col("q_price") < F.col("price_u"))
            | (F.col("q_size") > F.col("p_size"))
        ),
        "left_anti",
    )
    return frontier.select(
        "p_partkey",
        "p_name",
        "p_size",
        F.round(F.col("price_u") / 100.0, 2).alias("p_retailprice"),
    )


@register(
    "suppliers_cooccurrence",
    sql="""
    WITH ol AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM ol a JOIN ol b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    )
    SELECT supp_a, supp_b, n_orders
    FROM pairs
    ORDER BY n_orders DESC, supp_a, supp_b
    LIMIT 20
    """,
    doc="Bipartite projection: the order×supplier incidence collapses to a "
    "supplier co-occurrence graph (suppliers fulfilling the same order), "
    "top-20 edges. The self-join fan-out is bounded by lines-per-order "
    "choose 2 (≤ ~21 for TPC-H's ≤7 lines), NOT |suppliers|² — the "
    "distinct-first projection is what keeps the 100 TB shape safe, and "
    "and the Spark plan needs NO JOIN AT ALL: one groupBy folds each "
    "order's distinct suppliers into a sorted array, pair combinations "
    "unfold array-side (transform×slice — ≤21 structs per order, never "
    "materializing a second copy of the table), and one more groupBy "
    "counts edges. Two shuffles, one scan, zero self-join — the classic "
    "distinct+self-join formulation (the oracle's phrasing) scans twice "
    "and shuffles the incidence table twice. Top-k runs as TakeOrdered "
    "with a total (count, a, b) tie-break order, so the selected edge "
    "SET is deterministic under ties.",
    tags=("relational", "graph", "projection"),
)
def suppliers_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup (orderkey, suppkey) in a codegen HashAggregate BEFORE the
    # collect_set fold: the ObjectHashAggregate (no codegen) then sees
    # pre-shrunk, pre-combined input. A/B (ROADMAP.md at a5831e4^) at
    # sf0.1: marginal 0.89→0.75 s and 1.32→0.82 s across two sessions;
    # the all-codegen distinct+self-join variant measured WORSE (extra
    # shuffle outweighs the codegen win at ≤7 lines/order).
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("supps"))
    )
    # all (a < b) combinations from the sorted distinct-supplier array:
    # for each element x at i, pair with every later element y. The pair is
    # PACKED into one 64-bit key (a·2³² + b — suppkeys are < 2³¹) instead
    # of a two-long struct: the edge-count exchange carries half the key
    # bytes and hashes one word, and because a<b the packed ordering equals
    # the (n_orders, a, b) tie-break order (A/B: 1.57→1.38 s at sf0.1)
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(supps, (x, i) -> "
                "transform(slice(supps, i + 2, size(supps)), "
                "y -> x * 4294967296L + y)))"
            )
        ).alias("pk")
    )
    counts = pairs.groupBy("pk").agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
    top = counts.orderBy(F.desc("n_orders"), "pk").limit(20)
    return top.select(
        F.expr("CAST(pk div 4294967296L AS BIGINT)").alias("supp_a"),
        F.expr("CAST(pk % 4294967296L AS BIGINT)").alias("supp_b"),
        "n_orders",
    )


@register(
    "users_activity_streaks",
    sql="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    isl AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER)
                   AS anchor
        FROM days
    ),
    runs AS (
        SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS run_len
        FROM isl GROUP BY 1, 2
    ),
    best AS (
        SELECT user_id,
               max(run_len) AS best_streak,
               CAST(sum(run_len) AS BIGINT) AS n_active_days
        FROM runs GROUP BY 1
    )
    SELECT user_id, best_streak, n_active_days
    FROM best
    ORDER BY best_streak DESC, n_active_days DESC, user_id
    LIMIT 20
    """,
    doc="Gaps-and-islands: longest consecutive-active-day streak per user "
    "(the retention/engagement staple). The anchor trick — day minus the "
    "per-user day rank is constant exactly within a consecutive run — "
    "turns run detection into a plain groupBy, no iterative logic. All "
    "windows partition BY USER (parallel across the key space; nothing "
    "global), the distinct-first projection caps the window input at one "
    "row per (user, day), and the final top-20 is TakeOrdered under a "
    "total tie-break order.",
    tags=("relational", "window", "behavior"),
)
def users_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    isl = days.select(
        "user_id",
        "day",
        F.date_sub(
            F.col("day"),
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("day"))
            .cast("int"),
        ).alias("anchor"),
    )
    runs = isl.groupBy("user_id", "anchor").agg(
        F.count("*").cast("bigint").alias("run_len")
    )
    best = runs.groupBy("user_id").agg(
        F.max("run_len").alias("best_streak"),
        F.sum("run_len").cast("bigint").alias("n_active_days"),
    )
    return best.orderBy(
        F.desc("best_streak"), F.desc("n_active_days"), "user_id"
    ).limit(20)
