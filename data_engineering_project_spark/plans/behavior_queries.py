"""Behavioral analytics: RFM segmentation, funnel conversion, cohort
retention, and co-occurrence triangle affinity.

Beyond-reference family (SURVEY.md §2.11): these are the four workhorse
shapes of product/user analytics over an event + order store. Each is a
single declarative plan whose shuffles are keyed on the entity id
(``o_custkey`` / ``user_id``), so at 100 TB they scale as one hash
repartition of the fact table plus narrow per-key work:

- **RFM** scores with *fixed threshold buckets* (map-side ``CASE``), not a
  global ``NTILE``: a global quantile window needs a single-partition sort
  that cannot scale; thresholds make scoring embarrassingly parallel and
  stable across re-runs (the thresholds themselves would be refreshed
  offline from ``orders_price_quantiles``-style approx quantiles).
- **Funnel** stages are computed per user with unbounded conditional
  ``MIN`` windows over one hash partitioning — no self-joins per stage.
- **Cohort retention** is two narrow aggregations behind a single shuffle
  on ``user_id`` (window first-touch, then distinct user-week, then the
  cohort grid).
- **Triangle affinity** uses the canonical oriented wedge join (each
  triangle a<b<c enumerated exactly once) over a *weight-thresholded*
  co-occurrence graph — the threshold is the sparsifier that keeps the
  edge set and the wedge fan-out bounded at scale, the same reason
  production co-citation graphs drop weight-1 edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_project_spark.functions import scalars as S
from data_engineering_project_spark.functions.scalars import (
    half_up_ratio,
    sql_exact_sum,
    sql_half_up_ratio,
)
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table, local_frame

# Fixed RFM score boundaries (refreshed offline in production; quartiles of
# the synthetic order history, stable across scale factors because
# per-customer frequency and order value are sf-invariant).
_REC_BREAKS = (70, 170, 330)  # days since last order: <=70 → 4 ... >330 → 1
_FREQ_BREAKS = (13, 11, 9)  # orders: >=13 → 4 ... <9 → 1
_MON_BREAKS = (3_000_000.0, 2_500_000.0, 1_900_000.0)  # lifetime value


@register(
    "customer_rfm_segments",
    sql=f"""
    WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
    per_cust AS (
        SELECT o_custkey AS custkey,
               date_diff('day', max(o_orderdate), (SELECT mxd FROM mx))
                   AS recency_days,
               count(*) AS frequency,
               {sql_exact_sum('o_totalprice', 1000, 2)} AS monetary
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT custkey, recency_days, frequency, monetary,
               CASE WHEN recency_days <= {_REC_BREAKS[0]} THEN 4
                    WHEN recency_days <= {_REC_BREAKS[1]} THEN 3
                    WHEN recency_days <= {_REC_BREAKS[2]} THEN 2
                    ELSE 1 END AS r_score,
               CASE WHEN frequency >= {_FREQ_BREAKS[0]} THEN 4
                    WHEN frequency >= {_FREQ_BREAKS[1]} THEN 3
                    WHEN frequency >= {_FREQ_BREAKS[2]} THEN 2
                    ELSE 1 END AS f_score,
               CASE WHEN monetary >= {_MON_BREAKS[0]} THEN 4
                    WHEN monetary >= {_MON_BREAKS[1]} THEN 3
                    WHEN monetary >= {_MON_BREAKS[2]} THEN 2
                    ELSE 1 END AS m_score
        FROM per_cust
    )
    SELECT custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation with "
    "map-side threshold scoring — one shuffle on o_custkey, no global "
    "sort/NTILE (which cannot scale past one partition). Monetary uses the "
    "order-independent integer-snap sum (functions/scalars.py).",
    tags=("analytics", "segmentation", "aggregate"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mxd"))
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            S.exact_decimal_sum(F.col("o_totalprice"), 1000).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))  # 1-row scalar: broadcast is exact here
        .withColumn("recency_days", F.datediff("mxd", "last_order"))
    )

    def _bucket(col, breaks, descending):
        c = F.col(col)
        if descending:  # smaller is better (recency)
            expr = F.when(c <= breaks[0], 4).when(c <= breaks[1], 3)
            expr = expr.when(c <= breaks[2], 2).otherwise(1)
        else:  # larger is better (frequency / monetary)
            expr = F.when(c >= breaks[0], 4).when(c >= breaks[1], 3)
            expr = expr.when(c >= breaks[2], 2).otherwise(1)
        return expr

    scored = per_cust.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        _bucket("recency_days", _REC_BREAKS, descending=True).alias("r_score"),
        _bucket("frequency", _FREQ_BREAKS, descending=False).alias("f_score"),
        _bucket("monetary", _MON_BREAKS, descending=False).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


@register(
    "events_funnel_conversion",
    sql="""
    WITH pu AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS v
        FROM events GROUP BY 1
    ),
    pc AS (
        SELECT e.user_id, min(e.ts) AS c
        FROM events e JOIN pu ON e.user_id = pu.user_id
        WHERE e.event_type = 'click' AND e.ts > pu.v
        GROUP BY 1
    ),
    pp AS (
        SELECT e.user_id, min(e.ts) AS p
        FROM events e JOIN pc ON e.user_id = pc.user_id
        WHERE e.event_type = 'purchase' AND e.ts > pc.c
        GROUP BY 1
    )
    SELECT count(pu.v) AS viewed,
           count(pc.c) AS clicked_after_view,
           count(pp.p) AS purchased_after_click,
           ROUND(CAST(count(pc.c) AS DOUBLE) / count(pu.v), 4)
               AS view_to_click,
           ROUND(CAST(count(pp.p) AS DOUBLE) / count(pc.c), 4)
               AS click_to_purchase
    FROM pu
    LEFT JOIN pc ON pu.user_id = pc.user_id
    LEFT JOIN pp ON pu.user_id = pp.user_id
    """,
    doc="Ordered funnel view → click → purchase: each stage's timestamp "
    "must strictly follow the previous stage's first touch. One shuffle on "
    "user_id; stages are conditional MIN windows over that partitioning, "
    "not per-stage self-joins (the oracle uses joins because SQL windows "
    "cannot reference each other; the Spark plan reuses one exchange).",
    tags=("analytics", "funnel", "window"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    w = Window.partitionBy("user_id")
    # v/c are per-user constants: unbounded conditional MINs over one hash
    # partitioning; c references v so Catalyst stacks two Window nodes on
    # the SAME exchange (no second shuffle — asserted in plan tests).
    staged = ev.withColumn(
        "v", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    ).withColumn(
        "c",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("v")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("v").alias("v"),
        F.first("c").alias("c"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c")),
                F.col("ts"),
            )
        ).alias("p"),
    )
    return per_user.agg(
        F.count("v").alias("viewed"),
        F.count("c").alias("clicked_after_view"),
        F.count("p").alias("purchased_after_click"),
        # guarded: an empty/viewless slice yields NULL rates, not an ANSI
        # divide-by-zero (empty partitions are routine at scale)
        F.round(
            F.when(
                F.count("v") > 0, F.count("c").cast("double") / F.count("v")
            ),
            4,
        ).alias("view_to_click"),
        F.round(
            F.when(
                F.count("c") > 0, F.count("p").cast("double") / F.count("c")
            ),
            4,
        ).alias("click_to_purchase"),
    )


@register(
    "events_cohort_retention",
    sql="""
    WITH first_touch AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY 1
    ),
    user_weeks AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               date_trunc('week', e.ts) AS active_week
        FROM events e JOIN first_touch f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort_week, active_week) // 7 AS BIGINT)
               AS week_offset,
           count(*) AS n_users
    FROM user_weeks
    GROUP BY cohort_week, week_offset
    """,
    doc="Weekly cohort retention grid: users bucketed by ISO week of first "
    "event, counted in each later active week. Single shuffle on user_id "
    "(window first-touch), then distinct user-week and the small cohort "
    "grid aggregate — offsets are exact multiples of 7 days so the "
    "integer division is engine-portable.",
    tags=("analytics", "cohort", "window"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    user_weeks = (
        ev.withColumn(
            "cohort_week", F.date_trunc("week", F.min("ts").over(w))
        )
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("active_week"),
        )
        .distinct()
    )
    return user_weeks.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        (F.datediff("active_week", "cohort_week") / 7)
        .cast("long")
        .alias("week_offset"),
    ).agg(F.count("*").alias("n_users"))


@register(
    "events_cohort_serving",
    sql="""
    WITH first_touch AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY 1
    ),
    user_weeks AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               date_trunc('week', e.ts) AS active_week
        FROM events e JOIN first_touch f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort_week, active_week) // 7 AS BIGINT)
               AS week_offset,
           count(*) AS n_users
    FROM user_weeks
    GROUP BY cohort_week, week_offset
    """,
    doc="The streaming cohort-state maintenance path end-to-end, driver-"
    "hashable (round-10 verdict #3, events_ewma_serving precedent): "
    "events split into three deterministic micro-batches through "
    "upsert_cohort_state's foreachBatch writer — one state table of "
    "(user, active_week, min(ts)), committed once per batch by a replay-"
    "idempotent min merge (no batch_id protocol needed) — with batch 1 "
    "DELIVERED TWICE (replay must be a no-op) and batch 2 KILLED inside "
    "its state swap (new state written, old state moved aside, the swap "
    "never finished) then replayed (the swap's recovery restores the old "
    "state and the replay must reach the same fixpoint). "
    "read_cohort_retention then re-derives the grid as a pure "
    "function of the state, bit-identical to events_cohort_retention for "
    "any batch split — exactly what the oracle (the batch SQL verbatim) "
    "restates. The grid is cohort-weeks × offsets rows, collected and "
    "rebuilt locally so the temp state dir can be reclaimed eagerly "
    "(events_ewma_serving precedent); the distributed work — per-batch "
    "pre-aggregates, idempotent state merges, the read-side window — "
    "happens through the state table.",
    tags=("analytics", "cohort", "streaming", "serving"),
)
def events_cohort_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from data_engineering_project_spark.streaming import pipeline
    from data_engineering_project_spark.streaming.pipeline import (
        read_cohort_retention,
        upsert_cohort_state,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    tmp = tempfile.mkdtemp(prefix="cohort_serving_")
    real_swap = pipeline._atomic_swap_write
    try:
        writer = upsert_cohort_state(tmp, time_col="ts")
        batches = [
            ev.filter(
                F.coalesce(F.pmod("event_id", F.lit(3)), F.lit(0)) == i
            )
            for i in range(3)
        ]
        writer(batches[0], 0)
        writer(batches[1], 1)
        writer(batches[1], 1)  # crash re-delivery: idempotent no-op

        # crash inside the swap: batch 2's state is written and the old
        # state moved aside, then the writer dies before the final rename
        # — the replay must recover the old state and heal
        def _dying_swap(merged, target_dir):
            merged.write.parquet(target_dir + "_next")
            os.rename(target_dir, target_dir + "_old")
            raise RuntimeError("killed inside the state swap")

        pipeline._atomic_swap_write = _dying_swap
        try:
            writer(batches[2], 2)
        except RuntimeError:
            pass
        finally:
            pipeline._atomic_swap_write = real_swap
        writer(batches[2], 2)  # replay recovers the old state and heals

        rows = read_cohort_retention(spark, tmp).collect()
    finally:
        pipeline._atomic_swap_write = real_swap
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(
        spark,
        [
            (
                r["cohort_week"],
                None if r["week_offset"] is None else int(r["week_offset"]),
                int(r["n_users"]),
            )
            for r in rows
        ],
        "cohort_week string, week_offset bigint, n_users bigint",
    )


@register(
    "parts_triangle_affinity",
    sql="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM op a
        JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    tri AS (
        SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        FROM e e1
        JOIN e e2 ON e1.p2 = e2.p1
        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ),
    corners AS (
        SELECT a AS part_key FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT part_key, count(*) AS n_triangles
    FROM corners GROUP BY 1
    """,
    doc="Triangle participation per part over the weight-thresholded "
    "co-purchase graph (parts appearing together in >= 2 orders). The "
    "p1 < p2 orientation enumerates each triangle a<b<c exactly once via "
    "the standard distributed wedge join; the weight threshold is the "
    "sparsifier that bounds edge count and wedge fan-out at 100 TB "
    "(production co-citation graphs drop weight-1 edges for the same "
    "reason).",
    tags=("graph", "join", "dedup"),
)
def parts_triangle_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Edge build is JOIN-FREE (the suppliers_cooccurrence pattern): one
    # groupBy folds each order's distinct parts into a sorted array
    # (collect_set absorbs the dedup — no separate distinct shuffle), pair
    # combinations unfold array-side with bounded fan-out (≤ lines/order
    # choose 2), one more groupBy counts edge weights. vs the
    # distinct+self-join formulation (the oracle's phrasing): one scan
    # instead of two, two shuffles instead of four — A/B at sf0.1:
    # 2.9 → 1.9 s, marginal cost per sf-decade halved.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS p1, y AS p2))))"
            )
        ).alias("e")
    )
    edges = (
        pairs.groupBy(F.col("e.p1").alias("p1"), F.col("e.p2").alias("p2"))
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("p1", "p2")
        # feeds all three wedge-join sides — cache the (small, thresholded)
        # edge list or the whole build re-runs per side
        .persist()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.p2") == F.col("e2.p1"))
        .join(
            e3,
            (F.col("e3.p1") == F.col("e1.p1"))
            & (F.col("e3.p2") == F.col("e2.p2")),
        )
        .select(
            F.col("e1.p1").alias("a"),
            F.col("e1.p2").alias("b"),
            F.col("e2.p2").alias("c"),
        )
    )
    corners = (
        tri.select(F.col("a").alias("part_key"))
        .unionAll(tri.select(F.col("b").alias("part_key")))
        .unionAll(tri.select(F.col("c").alias("part_key")))
    )
    return corners.groupBy("part_key").agg(F.count("*").alias("n_triangles"))


@register(
    "events_markov_transitions",
    sql="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events WHERE ts IS NOT NULL
    ),
    pairs AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(floor(n * 1000000.0 /
                      sum(n) OVER (PARTITION BY from_type) + 0.5)
                AS BIGINT) AS prob_ppm
    FROM pairs
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lag() within one hash partitioning on user_id (ties "
    "broken by event_id for total determinism), pair counts, and "
    "row-normalized transition probabilities in parts-per-million via "
    "the portable floor(x+0.5) round. The sequence window and the "
    "normalizing window both reuse keyed partitionings — no global sort; "
    "the matrix itself is |event_types|^2 rows. The sequence-mining "
    "sibling of the ordered funnel: conversion says WHETHER users "
    "advance, the transition matrix says WHERE they go instead.",
    tags=("behavior", "window", "markov"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()  # null-fuzz: timeline ops
    )
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(seq_w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    norm_w = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.floor(F.col("n") * 1000000.0 / F.sum("n").over(norm_w) + F.lit(0.5))
        .cast("bigint")
        .alias("prob_ppm"),
    )


#: association-rule mining support floor (distinct orders containing the pair)
_RULE_MIN_SUPPORT = 3


@register(
    "parts_association_rules",
    sql=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_ord AS (SELECT count(DISTINCT l_orderkey) AS n FROM op),
    item AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
        FROM op GROUP BY l_partkey
        HAVING count(*) >= {_RULE_MIN_SUPPORT}
    ),
    pairs AS (
        SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
               CAST(count(*) AS BIGINT) AS n_both
        FROM op a
        JOIN item ia ON a.l_partkey = ia.l_partkey
        JOIN op b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey <> b.l_partkey
        JOIN item ib ON b.l_partkey = ib.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {_RULE_MIN_SUPPORT}
    )
    SELECT p.antecedent, p.consequent, p.n_both,
           ia.n_item AS n_antecedent,
           CAST(floor(p.n_both * 1000000.0 / ia.n_item + 0.5) AS BIGINT)
               AS confidence_ppm,
           CAST(floor(p.n_both * 1000000.0 * (SELECT n FROM n_ord)
                      / (ia.n_item * ib.n_item) + 0.5) AS BIGINT)
               AS lift_ppm
    FROM pairs p
    JOIN item ia ON p.antecedent = ia.l_partkey
    JOIN item ib ON p.consequent = ib.l_partkey
    """,
    doc="Association-rule mining (the scoring step of market-basket "
    "A-priori): distinct order-part pairs, frequent single items first "
    "(support >= 3 — the A-priori prune that bounds the self-join's "
    "fan-out, the same sparsifier idea as the triangle query's weight "
    "threshold), directed co-occurrence counts, then confidence "
    "n(a,b)/n(a) and lift n(a,b)*N/(n(a)*n(b)) in ppm via the portable "
    "floor round. The self-join shuffles on l_orderkey only; frequent-"
    "item filters broadcast; the deduped incidence frame is persisted "
    "once for its four consumers (n_ord, item support, both join legs) "
    "— one scan+distinct instead of four. All counts are exact "
    "integers; the two ratios are single divisions of identical doubles "
    "on both engines. Slope floor-ratified r13 (tools/ab_association.py, "
    "4 variants: persist / basket-fold / packed-pair-key vs incumbent — "
    "none beats the self-join's marginal; growth is sublinear in data, "
    "the >2x ratio is a constant-factor floor vs the columnar oracle).",
    tags=("behavior", "association", "join"),
)
def parts_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    li = load_table(spark, sf_dir, "lineitem")
    op = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_ord = op.select(
        F.countDistinct("l_orderkey").alias("n")
    )
    item = (
        op.groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("n_item"))
        .filter(F.col("n_item") >= _RULE_MIN_SUPPORT)
    )
    a = (
        op.join(
            F.broadcast(item.select(F.col("l_partkey"))), "l_partkey"
        )
        .select(
            F.col("l_orderkey"), F.col("l_partkey").alias("antecedent")
        )
    )
    b = (
        op.join(
            F.broadcast(item.select(F.col("l_partkey"))), "l_partkey"
        )
        .select(
            F.col("l_orderkey"), F.col("l_partkey").alias("consequent")
        )
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= _RULE_MIN_SUPPORT)
    )
    scored = (
        pairs.join(
            F.broadcast(
                item.select(
                    F.col("l_partkey").alias("antecedent"),
                    F.col("n_item").alias("n_antecedent"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                item.select(
                    F.col("l_partkey").alias("consequent"),
                    F.col("n_item").alias("n_consequent"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n_ord))
    )
    return scored.select(
        "antecedent",
        "consequent",
        "n_both",
        "n_antecedent",
        F.floor(
            F.col("n_both") * 1000000.0 / F.col("n_antecedent") + F.lit(0.5)
        )
        .cast("bigint")
        .alias("confidence_ppm"),
        F.floor(
            F.col("n_both")
            * 1000000.0
            * F.col("n")
            / (F.col("n_antecedent") * F.col("n_consequent"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lift_ppm"),
    )


@register(
    "events_type_dow_pmi",
    sql="""
    WITH cells AS (
        SELECT event_type,
               CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                     + 4) % 7 AS INTEGER) AS dow,
               CAST(count(*) AS BIGINT) AS n_xy
        FROM events GROUP BY 1, 2
    ),
    marg AS (
        SELECT event_type, dow, n_xy,
               sum(n_xy) OVER (PARTITION BY event_type) AS n_x,
               sum(n_xy) OVER (PARTITION BY dow) AS n_y,
               sum(n_xy) OVER () AS n
        FROM cells
    )
    SELECT event_type, dow, n_xy,
           CAST(floor(ln(n_xy * 1.0 * n / (n_x * n_y)) * 1000000 + 0.5)
                AS BIGINT) AS pmi_micro_nats
    FROM marg
    """,
    doc="Pointwise mutual information between event type and day-of-week "
    "— the dependence-profiling operator behind feature selection and "
    "leakage audits ('does this categorical leak the time axis?'). All "
    "marginals are window sums over the tiny post-aggregation cell grid "
    "(|types| x 7 rows), so the raw scan reduces once; PMI is computed "
    "per cell (no cross-row double summation — the determinism trap an "
    "aggregate MI total would hit), in micro-nats via the portable floor "
    "round; ln on identical integer-derived doubles matches across "
    "engines (same precedent as the PSI drift monitor).",
    tags=("behavior", "profile", "information"),
)
def events_type_dow_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        ((F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + 4) % 7)
        .cast("int")
        .alias("dow"),
    ).agg(F.count("*").cast("bigint").alias("n_xy"))
    marg = cells.select(
        "event_type",
        "dow",
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("event_type")).alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("dow")).alias("n_y"),
        F.sum("n_xy").over(Window.partitionBy()).alias("n"),
    )
    return marg.select(
        "event_type",
        "dow",
        "n_xy",
        F.floor(
            F.log(
                F.col("n_xy") * 1.0 * F.col("n") / (F.col("n_x") * F.col("n_y"))
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("pmi_micro_nats"),
    )


@register(
    "events_type_daily_mode",
    sql="""
    WITH counts AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT day, event_type, n,
               row_number() OVER (PARTITION BY day
                                  ORDER BY n DESC, event_type) AS rn
        FROM counts
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           event_type AS mode_type,
           CAST(n AS BIGINT) AS n_events
    FROM ranked WHERE rn = 1
    """,
    doc="Per-day modal event type (argmax with a DETERMINISTIC tie-break: "
    "highest count, then lexicographically first type). Spark's built-in "
    "`mode()` aggregate picks an arbitrary value among ties — a hidden "
    "nondeterminism that flips hash checks and production diffs alike — "
    "so the mode is a rank-1 selection over the tiny (day × type) count "
    "grid instead. One raw-data shuffle; the ranking window partitions by "
    "day over ≤ |types| rows each, so no global sort at any scale.",
    tags=("behavior", "agg", "argmax"),
)
def events_type_daily_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    ranked = counts.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("day").orderBy(F.desc("n"), F.asc("event_type"))
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("event_type").alias("mode_type"),
        F.col("n").cast("bigint").alias("n_events"),
    )


@register(
    "orders_cohort_revenue_triangle",
    sql="""
    WITH o AS (
        SELECT o_custkey,
               (EXTRACT(year FROM o_orderdate) - 1992) * 12
                   + EXTRACT(month FROM o_orderdate) - 1 AS m,
               CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT) AS units
        FROM orders
    ),
    w AS (
        SELECT o_custkey, m, units,
               min(m) OVER (PARTITION BY o_custkey) AS m0
        FROM o
    )
    SELECT CAST(1992 + m0 // 12 AS INTEGER) AS cohort_year,
           CAST(1 + m0 % 12 AS INTEGER) AS cohort_month,
           CAST(m - m0 AS INTEGER) AS age_months,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
           ROUND(sum(units) / 1000.0, 3) AS revenue
    FROM w GROUP BY m0, age_months
    """,
    doc="Cohort revenue triangle over orders: customers grouped by their "
    "FIRST order month, revenue and active-customer counts laid out by "
    "cohort age — the LTV/retention matrix every growth team maintains, "
    "built on the relational tables instead of the event stream "
    "(complements `events_cohort_retention`). The cohort assignment is a "
    "min-window partitioned by customer — ONE hash shuffle shared with "
    "nothing else; the triangle aggregation then runs on the "
    "|cohort×age| grid. Revenue snaps to integer milli-units before "
    "summing (o_totalprice carries 3 decimals — the ROADMAP width rule).",
    tags=("behavior", "cohort", "window"),
)
def orders_cohort_revenue_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    from data_engineering_project_spark.functions.scalars import decimal_units

    base = o.select(
        "o_custkey",
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12
            + F.month("o_orderdate")
            - 1
        ).alias("m"),
        decimal_units(F.col("o_totalprice"), 1000).alias("units"),
    )
    w = base.withColumn(
        "m0", F.min("m").over(Window.partitionBy("o_custkey"))
    )
    return (
        w.groupBy("m0", (F.col("m") - F.col("m0")).alias("age_months"))
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_active"),
            F.round(F.sum("units") / 1000.0, 3).alias("revenue"),
        )
        .select(
            (F.lit(1992) + F.expr("m0 div 12")).cast("int").alias("cohort_year"),
            (F.lit(1) + F.col("m0") % 12).cast("int").alias("cohort_month"),
            F.col("age_months").cast("int"),
            "n_active",
            "revenue",
        )
    )


@register(
    "events_stickiness_dau_mau",
    sql=f"""
    WITH daily AS (
        SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
               CAST(ts AS DATE) AS day,
               count(DISTINCT user_id) AS dau
        FROM events GROUP BY 1, 2
    ),
    monthly AS (
        SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
               count(DISTINCT user_id) AS mau
        FROM events GROUP BY 1
    )
    SELECT strftime(d.month, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(d.dau) AS BIGINT) AS dau_day_sum,
           CAST(max(m.mau) AS BIGINT) AS mau,
           {sql_half_up_ratio('sum(d.dau)',
                              'count(*) * CAST(max(m.mau) AS HUGEINT)',
                              6)} AS stickiness
    FROM daily d JOIN monthly m ON m.month = d.month
    GROUP BY d.month
    """,
    doc="DAU/MAU stickiness per month — the engagement ratio every product "
    "dashboard leads with (avg daily actives over monthly actives; 1.0 = "
    "every monthly user shows up every day). Two distinct-count "
    "aggregations (per day, per month) joined on the month; both are "
    "single-shuffle exact countDistincts whose state at 100 TB would "
    "switch to the HLL sketches this engine also ships "
    "(`events_hll_daily_rollup` — same rollup algebra, mergeable state). "
    "The ratio derives from exact integers; one defensive ROUND.",
    tags=("behavior", "engagement", "agg"),
)
def events_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("month", F.col("ts").cast("date")).alias("month"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.count_distinct("user_id").alias("dau"))
    monthly = ev.groupBy(
        F.date_trunc("month", F.col("ts").cast("date")).alias("month")
    ).agg(F.count_distinct("user_id").alias("mau"))
    return (
        daily.join(monthly, "month")
        .groupBy("month")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("dau").cast("bigint").alias("dau_day_sum"),
            F.max("mau").cast("bigint").alias("mau"),
            half_up_ratio(
                F.sum("dau"),
                # decimal(38,0): days * mau is a LONG product; oracle
                # twin pre-casts to HUGEINT (round-10 advice #1)
                F.count("*") * F.max("mau").cast("decimal(38,0)"),
                6,
            ).alias("stickiness"),
        )
        .select(
            F.date_format("month", "yyyy-MM").alias("month"),
            "n_days",
            "dau_day_sum",
            "mau",
            "stickiness",
        )
    )


@register(
    "users_power_share",
    sql=f"""
    WITH per_user AS (
        SELECT user_id, count(*) AS c FROM events GROUP BY 1
    ),
    stats AS (
        SELECT count(*) AS n_users, sum(c) AS total FROM per_user
    ),
    topk AS (
        SELECT c
        FROM per_user
        ORDER BY c DESC, user_id
        LIMIT (SELECT CAST(ceil(n_users / 100.0) AS BIGINT) FROM stats)
    )
    SELECT CAST(s.n_users AS BIGINT) AS n_users,
           CAST((SELECT count(*) FROM topk) AS BIGINT) AS k,
           CAST(s.total AS BIGINT) AS total_events,
           CAST((SELECT sum(c) FROM topk) AS BIGINT) AS topk_events,
           {sql_half_up_ratio('(SELECT sum(c) FROM topk)', 's.total', 6)} AS power_share
    FROM stats s
    """,
    doc="Power-user concentration: share of all events produced by the top "
    "1% most active users — the single-number skew headline next to the "
    "full Gini curve (`events_user_gini`). k = ⌈n/100⌉ users are selected "
    "by a deterministic (count DESC, user_id) order via distributed "
    "TakeOrdered (no global sort of the user table); everything else is "
    "exact integer sums off the same per-user aggregate.",
    tags=("behavior", "skew", "profile"),
)
def users_power_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    per_user = per_user.persist()
    stats = per_user.agg(
        F.count("*").alias("n_users"), F.sum("c").alias("total")
    )
    n_users = stats.collect()[0]["n_users"]  # 1-row driver read, O(1)
    k = -(-n_users // 100)
    topk = per_user.orderBy(F.desc("c"), F.asc("user_id")).limit(int(k))
    tk = topk.agg(F.sum("c").alias("topk_events"))
    return (
        stats.crossJoin(tk)
        .select(
            F.col("n_users").cast("bigint"),
            F.lit(int(k)).cast("bigint").alias("k"),
            F.col("total").cast("bigint").alias("total_events"),
            F.col("topk_events").cast("bigint"),
            half_up_ratio(F.col("topk_events"), F.col("total"), 6).alias(
                "power_share"
            ),
        )
    )


@register(
    "events_time_decay_attribution",
    sql="""
    WITH p AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts,
               epoch_us(ts) AS p_us,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts AS c_ts, epoch_us(ts) AS c_us
        FROM events WHERE event_type = 'click'
    ),
    touch AS (
        SELECT p.p_id, p.cents, c.c_ts,
               CAST(floor(pow(2.0, -((p.p_us - c.c_us) / 3600000000.0))
                          * 1000000 + 0.5) AS BIGINT) AS w_ppm
        FROM p JOIN c
          ON c.user_id = p.user_id
         AND c.c_ts >= p.p_ts - INTERVAL 24 HOUR AND c.c_ts < p.p_ts
    ),
    credit AS (
        SELECT p_id, cents, c_ts,
               (w_ppm * 1000000) // sum(w_ppm) OVER (PARTITION BY p_id)
                   AS credit_ppm
        FROM touch WHERE w_ppm > 0
    )
    SELECT CAST(hour(c_ts) AS INTEGER) AS click_hour,
           CAST(count(*) AS BIGINT) AS n_touches,
           ROUND(CAST(sum(credit_ppm) AS DOUBLE) / 1000000, 6)
               AS credited_purchases,
           ROUND(CAST(sum(credit_ppm * cents) AS DOUBLE) / 100000000, 4)
               AS attributed_value
    FROM credit
    GROUP BY click_hour
    """,
    doc="Multi-touch attribution with exponential time decay — the "
    "credit-splitting operator class next to the last/any-touch interval "
    "join (`purchase_click_attribution_1h`): every click in the 24 h "
    "before a purchase earns weight 2^(-Δhours), each purchase's credit "
    "is normalized to 1 across its touches, and credited conversions + "
    "revenue roll up by click hour-of-day. Shape: the same "
    "user_id-equi-key range join (per-key fan-out bounded by a user's own "
    "events, no cross product), one window-partition sum per purchase, "
    "one final groupBy — two shuffles on user-sized frames. Determinism "
    "at each step: Δ is exact integer micros (÷3.6e9 exact in double "
    "below 2^53); the transcendental 2^(-Δh) floor-quantizes to integer "
    "ppm per touch BEFORE any cross-row sum; the per-purchase "
    "normalization is pure integer division (w·1e6 // Σw), so credits "
    "are exact ppm integers and every downstream sum is "
    "order-independent integer addition; purchase values snap to cents. "
    "Touches whose weight floors to 0 ppm (≳20 h stale under the 1-hour "
    "half-life) carry no creditable mass and are dropped before "
    "normalization — also the guard that keeps Σw > 0. Purchases with no "
    "surviving touch drop out of the inner join (the funnel query family "
    "covers untouched conversion counting).",
    tags=("behavior", "attribution", "range", "window"),
)
def events_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        us("ts").alias("p_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        us("ts").alias("c_us"),
    )
    touch = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select(
        "p_id",
        "cents",
        "c_ts",
        F.floor(
            F.pow(
                F.lit(2.0),
                -((F.col("p_us") - F.col("c_us")) / F.lit(3_600_000_000.0)),
            )
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("w_ppm"),
    )
    w_p = Window.partitionBy("p_id")
    # a touch >~20 h out floor-quantizes to 0 ppm: no credit to assign, and
    # a purchase whose touches are ALL stale would divide by Σw = 0
    touch = touch.filter(F.col("w_ppm") > 0)
    credit = touch.select(
        "p_id",
        "cents",
        "c_ts",
        F.expr("w_ppm * 1000000").cast("bigint").alias("w_scaled"),
        F.sum("w_ppm").over(w_p).alias("sum_w"),
    ).select(
        "p_id",
        "cents",
        "c_ts",
        F.expr("w_scaled div sum_w").alias("credit_ppm"),
    )
    return (
        credit.groupBy(F.hour("c_ts").cast("int").alias("click_hour"))
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.round(F.sum("credit_ppm").cast("double") / 1_000_000, 6).alias(
                "credited_purchases"
            ),
            F.round(
                F.sum(F.col("credit_ppm") * F.col("cents")).cast("double")
                / 100_000_000,
                4,
            ).alias("attributed_value"),
        )
    )
