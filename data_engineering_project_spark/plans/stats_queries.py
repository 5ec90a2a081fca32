"""Statistical time-series / dependence profiling queries.

Round-4 additions: autocorrelation, correlation matrix, entropy profiling,
and two-window mean-shift changepoint scoring. All follow the repo's
determinism invariants (ROADMAP "Known-good invariants"):

- every float aggregate snaps to exact integer units BEFORE the sum
  (``decimal_units``) so Spark's nondeterministic partial-agg merge order
  cannot flip a bit vs the oracle;
- cross-row sums of transcendental terms (ln) floor-quantize each term to
  integer micro-nats FIRST, then sum integers (the PMI/PSI precedent) —
  summing raw doubles across rows is order-dependent;
- products of integer units that could exceed 2**63 route through
  DECIMAL(38,0) on the Spark side and HUGEINT on the DuckDB side — both
  exact, both cast to double only in the final closed-form expression, so
  the doubles are bit-identical before the defensive ROUND.

Beyond-reference family (SURVEY.md §2.11 "Profiling"); the reference has no
statistical profiling at all — its analytics ceiling is groupBy-count
(src/Task1/data_processing.py:268-291).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.scalars import (
    decimal_units,
    half_up_ratio,
    sql_half_up_ratio,
)
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table, local_frame

#: integer-unit scale for `events.value` (2 decimal places in the data; 100
#: keeps daily sums ~1e7 — far from the 2**63 ceiling even at SF 1e5).
CENTS = 100


@register(
    "events_daily_acf",
    sql=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               sum(CAST(floor(value * {CENTS} + 0.5) AS BIGINT)) AS units
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (
        SELECT l.lag, a.units AS x, b.units AS y
        FROM daily a
        JOIN lags l ON TRUE
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
    ),
    stats AS (
        SELECT lag,
               count(*) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
    FROM stats
    WHERE n >= 2 AND n * sxx > sx * sx AND n * syy > sy * sy
    """,
    doc="Sample autocorrelation of the daily total value series at calendar "
    "lags 1..7 — the seasonality detector feeding the weekly decomposition "
    "(`events_seasonal_decompose`). The lag pairing is a calendar self-join "
    "(day+k), not a positional LAG, so missing days pair with nothing "
    "instead of silently shifting the series. Everything after the one "
    "daily groupBy runs on the ~|days|-row aggregate: the 7-lag dimension "
    "is a broadcast range, the pair join is broadcast, and the Pearson r "
    "per lag derives closed-form from exact integer sufficient statistics "
    "(n, Σx, Σy, Σxy, Σx², Σy² of centi-units) — bit-identical across "
    "engines before the defensive ROUND. One raw-data shuffle total.",
    tags=("stats", "timeseries", "profile"),
)
def events_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(decimal_units(F.col("value"), CENTS)).alias("units")
    )
    # both pair sides read the same ~|days|-row aggregate; persist it or
    # Catalyst re-runs the raw scan+groupBy for each side
    daily = daily.persist()
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = daily.select(F.col("day").alias("day_x"), F.col("units").alias("x"))
    b = daily.select(F.col("day").alias("day_y"), F.col("units").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("day_y")
            == F.date_add(F.col("day_x"), F.col("lag").cast("int")),
        )
    )
    s = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return (
        s.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
            & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
        )
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round(num / F.sqrt(dx) / F.sqrt(dy), 6).alias("acf"),
        )
    )


@register(
    "lineitem_corr_matrix",
    sql="""
    WITH u AS (
        SELECT CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT) AS q,
               CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT) AS p,
               CAST(floor(l_discount * 100 + 0.5) AS HUGEINT) AS d
        FROM lineitem
    ),
    m AS (
        SELECT count(*) AS n,
               sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
               sum(q * q) AS sqq, sum(p * p) AS spp, sum(d * d) AS sdd,
               sum(q * p) AS sqp, sum(q * d) AS sqd, sum(p * d) AS spd
        FROM u
    )
    SELECT col_x, col_y,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS pearson_r
    FROM (
        SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
               n, sq AS sx, sp AS sy, sqp AS sxy, sqq AS sxx, spp AS syy
        FROM m
        UNION ALL
        SELECT 'l_quantity', 'l_discount',
               n, sq, sd, sqd, sqq, sdd FROM m
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount',
               n, sp, sd, spd, spp, sdd FROM m
    )
    """,
    doc="Pairwise Pearson correlation matrix over (l_quantity, "
    "l_extendedprice, l_discount) — the single-pass numeric dependence "
    "profile (complements `lineitem_column_profile`'s univariate stats). "
    "ONE scan computes all ten sufficient statistics as exact integers; "
    "the 3 matrix cells unfold from that 1-row aggregate driver-side-free "
    "via a literal UNION (Spark: union of three 1-row projections — no "
    "second scan, Catalyst reuses the aggregated subplan). Determinism at "
    "scale: Σp², Σqp overflow 2**63 around SF 1 — products route through "
    "DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), both exact, cast to double "
    "only inside the final closed-form r. Built-in corr() would NOT "
    "hash-match across engines (float accumulation order).",
    tags=("stats", "profile"),
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(19,0)"
    q = decimal_units(F.col("l_quantity"), 100).cast(dec)
    p = decimal_units(F.col("l_extendedprice"), 100).cast(dec)
    d = decimal_units(F.col("l_discount"), 100).cast(dec)
    m = li.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(q).alias("sq"),
        F.sum(p).alias("sp"),
        F.sum(d).alias("sd"),
        F.sum(q * q).alias("sqq"),
        F.sum(p * p).alias("spp"),
        F.sum(d * d).alias("sdd"),
        F.sum(q * p).alias("sqp"),
        F.sum(q * d).alias("sqd"),
        F.sum(p * d).alias("spd"),
    )
    # the 1-row sufficient-statistics frame feeds all three matrix cells;
    # persist it or each unioned cell re-aggregates the full scan
    m = m.persist()

    def cell(name_x, name_y, sx, sy, sxy, sxx, syy):
        num = (F.col("n") * F.col(sxy) - F.col(sx) * F.col(sy)).cast(
            "double"
        )
        dx = (F.col("n") * F.col(sxx) - F.col(sx) * F.col(sx)).cast(
            "double"
        )
        dy = (F.col("n") * F.col(syy) - F.col(sy) * F.col(sy)).cast(
            "double"
        )
        return m.select(
            F.lit(name_x).alias("col_x"),
            F.lit(name_y).alias("col_y"),
            F.round(num / F.sqrt(dx) / F.sqrt(dy), 6).alias("pearson_r"),
        )

    return (
        cell("l_quantity", "l_extendedprice", "sq", "sp", "sqp", "sqq", "spp")
        .unionAll(
            cell("l_quantity", "l_discount", "sq", "sd", "sqd", "sqq", "sdd")
        )
        .unionAll(
            cell(
                "l_extendedprice", "l_discount", "sp", "sd", "spd", "spp",
                "sdd",
            )
        )
    )


@register(
    "events_dow_entropy",
    sql="""
    WITH cells AS (
        SELECT CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                     + 4) % 7 AS INTEGER) AS dow,
               count(*) AS c
        FROM events GROUP BY 1, event_type
    ),
    terms AS (
        SELECT dow,
               CAST(sum(c) AS BIGINT) AS n,
               sum(CAST(floor(c * ln(c) * 1000000 + 0.5) AS BIGINT))
                   AS s_micro
        FROM cells GROUP BY dow
    )
    SELECT dow, n,
           ROUND(ln(n) - s_micro / 1000000.0 / n, 6) AS entropy_nats
    FROM terms
    """,
    doc="Shannon entropy (nats) of the event-type distribution per "
    "day-of-week — the categorical-balance probe behind mixture/quota "
    "monitoring ('did the type mix collapse on weekends?'). Identity "
    "H = ln(n) − (Σ c·ln c)/n avoids materializing probabilities; each "
    "c·ln(c) term floor-quantizes to integer micro-nats BEFORE the "
    "cross-row sum (the PMI precedent — raw double summation across type "
    "rows is accumulation-order-dependent in Spark partial aggs), so both "
    "engines sum identical integers and the final doubles are "
    "bit-identical before ROUND. Single shuffle on the (dow, type) grid.",
    tags=("stats", "profile", "information"),
)
def events_dow_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        ((F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + 4) % 7)
        .cast("int")
        .alias("dow"),
        "event_type",
    ).agg(F.count("*").alias("c"))
    terms = cells.groupBy("dow").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(
            F.floor(
                F.col("c") * F.log(F.col("c").cast("double")) * 1000000
                + F.lit(0.5)
            ).cast("bigint")
        ).alias("s_micro"),
    )
    return terms.select(
        "dow",
        "n",
        F.round(
            F.log(F.col("n").cast("double"))
            - F.col("s_micro") / 1000000.0 / F.col("n"),
            6,
        ).alias("entropy_nats"),
    )


@register(
    "events_mean_shift",
    sql=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(ROUND(sum(CAST(floor(value * {CENTS} + 0.5) AS BIGINT))
                          * 1.0 / count(*), 0) AS BIGINT) AS mu
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, day, mu,
               count(*) OVER pre  AS np, sum(mu) OVER pre  AS sp,
               count(*) OVER post AS nf, sum(mu) OVER post AS sf
        FROM daily
        WINDOW pre AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
               post AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           ROUND(abs(CAST(sf * np - sp * nf AS DOUBLE))
                 / (np * nf) / {CENTS}, 4) AS shift_score
    FROM w
    WHERE np = 3 AND nf = 3
      AND abs(CAST(sf * np - sp * nf AS DOUBLE)) / (np * nf) / {CENTS} > 0.5
    """,
    doc="Two-window mean-shift changepoint score: per (event_type, day), "
    "|mean of the NEXT 3 day-means − mean of the PREVIOUS 3| — the "
    "sliding-window CUSUM alternative that stays SQL-expressible (true "
    "CUSUM is a recursive fold; this binary-segmentation statistic is the "
    "standard non-recursive screen and flags the same level shifts). Day "
    "means snap to integer centi-units (`events_daily_anomalies` "
    "precedent); both frames carry only integer (count, Σμ) so the score "
    "re-derives closed-form from exact integers — the cross-mean "
    "difference uses the common-denominator form (Σf·np − Σp·nf)/(np·nf) "
    "to stay integer until one final double division. Windows run on the "
    "~(types×days)-row aggregate, never raw events.",
    tags=("stats", "timeseries", "anomaly", "window"),
)
def events_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()  # timeline ops exclude timestamp-less rows
    )
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.round(
            F.sum(decimal_units(F.col("value"), CENTS)) / F.count("*"), 0
        )
        .cast("bigint")
        .alias("mu")
    )
    pre = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, -1)
    )
    post = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(1, 3)
    )
    w = daily.select(
        "event_type",
        "day",
        F.count("*").over(pre).alias("np"),
        F.sum("mu").over(pre).alias("sp"),
        F.count("*").over(post).alias("nf"),
        F.sum("mu").over(post).alias("sf"),
    )
    score = (
        F.abs(
            (F.col("sf") * F.col("np") - F.col("sp") * F.col("nf")).cast(
                "double"
            )
        )
        / (F.col("np") * F.col("nf"))
        / CENTS
    )
    return (
        w.filter((F.col("np") == 3) & (F.col("nf") == 3) & (score > 0.5))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(score, 4).alias("shift_score"),
        )
    )


@register(
    "events_interarrival_stats",
    sql="""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    ),
    g AS (SELECT event_type, gap_us FROM gaps WHERE gap_us IS NOT NULL),
    ranked AS (
        SELECT event_type, gap_us,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY gap_us) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n,
               sum(gap_us) OVER (PARTITION BY event_type) AS s
        FROM g
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_gaps,
           ROUND(((2 * CAST(max(s) AS HUGEINT) + 1000 * max(n))
                   // (2000 * max(n))) / 1000, 3) AS mean_gap_s,
           ROUND(((2 * CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END)
                            AS HUGEINT)
                   + 1000) // 2000) / 1000, 3) AS p50_gap_s,
           ROUND(((2 * CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END)
                            AS HUGEINT)
                   + 1000) // 2000) / 1000, 3) AS p90_gap_s
    FROM ranked
    GROUP BY event_type
    """,
    doc="Inter-arrival time profile: per event type, the distribution of "
    "per-user gaps between consecutive events (count, mean, exact p50 / "
    "p90) — the queueing/telemetry primitive behind rate limiting, bot "
    "detection (sub-second median gaps), and session-timeout tuning. "
    "Gaps are exact integer microseconds (unix_micros both sides — no "
    "float epoch), quantiles are exact rank selections over integer "
    "units (never an engine percentile builtin — interpolation rules "
    "differ), with the lower-median / ceil(0.9n) conventions restated "
    "identically in the oracle. Two keyed shuffles: the per-(user,type) "
    "lag window, then the per-type rank window over the gap rows.",
    tags=("stats", "timeseries", "profile"),
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wl = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = ev.select(
        "event_type",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(wl)
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    wt = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(wt.orderBy("gap_us")).alias("rn"),
        F.count("*").over(wt).alias("n"),
        F.sum("gap_us").over(wt).alias("s"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.round(
            F.call_function(
                "div",
                2 * F.max("s") + 1000 * F.max("n"),
                2000 * F.max("n"),
            )
            / 1000,
            3,
        ).alias("mean_gap_s"),
        F.round(
            F.call_function(
                "div",
                2
                * F.max(
                    F.when(
                        F.col("rn")
                        == F.floor((F.col("n") + 1) / 2).cast("long"),
                        F.col("gap_us"),
                    )
                )
                + 1000,
                F.lit(2000),
            )
            / 1000,
            3,
        ).alias("p50_gap_s"),
        F.round(
            F.call_function(
                "div",
                2
                * F.max(
                    F.when(
                        F.col("rn")
                        == F.floor((9 * F.col("n") + 9) / 10).cast("long"),
                        F.col("gap_us"),
                    )
                )
                + 1000,
                F.lit(2000),
            )
            / 1000,
            3,
        ).alias("p90_gap_s"),
    )


@register(
    "users_rank_shift",
    sql="""
    WITH bounds AS (
        SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    tagged AS (
        SELECT e.user_id, e.value,
               CASE WHEN epoch_us(e.ts) - b.lo < (b.hi - b.lo) // 2
                    THEN 0 ELSE 1 END AS half
        FROM events e, bounds b
        WHERE e.event_type = 'purchase'
    ),
    per AS (
        SELECT user_id, half,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS rev_units
        FROM tagged GROUP BY 1, 2
    ),
    ranked AS (
        SELECT user_id, half, rev_units,
               row_number() OVER (PARTITION BY half
                                  ORDER BY rev_units DESC, user_id) AS rnk
        FROM per
    )
    SELECT a.user_id,
           a.rnk AS rank_first_half,
           b.rnk AS rank_second_half,
           CAST(a.rnk - b.rnk AS BIGINT) AS rank_gain
    FROM ranked a JOIN ranked b
      ON a.user_id = b.user_id AND a.half = 0 AND b.half = 1
    ORDER BY rank_gain DESC, a.user_id
    LIMIT 15
    """,
    doc="Leaderboard rank-shift ('top movers'): users whose purchase-"
    "revenue rank improved most from the first to the second half of the "
    "observed period (midpoint split on exact integer microseconds via a "
    "broadcast 1-row bounds aggregate — no driver-side collect). Revenue "
    "compares as exact centi-units; ranks are total-ordered "
    "(units desc, user_id) so the rank join and the final top-15 are "
    "deterministic under ties. Shape: one scan, one (user, half) "
    "aggregate shuffle, two half-sized rank windows, self-join on the "
    "post-agg frame.",
    tags=("stats", "behavior", "window"),
)
def users_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("lo"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("hi"),
    )
    tagged = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.when(
                F.unix_micros(F.col("ts").cast("timestamp")) - F.col("lo")
                < F.expr("(hi - lo) div 2"),
                F.lit(0),
            )
            .otherwise(F.lit(1))
            .alias("half"),
            decimal_units(F.col("value"), 100).alias("units"),
        )
    )
    per = tagged.groupBy("user_id", "half").agg(
        F.sum("units").alias("rev_units")
    )
    w = Window.partitionBy("half").orderBy(
        F.desc("rev_units"), F.asc("user_id")
    )
    ranked = per.select(
        "user_id", "half", F.row_number().over(w).alias("rnk")
    )
    a = ranked.filter(F.col("half") == 0).select(
        "user_id", F.col("rnk").alias("rank_first_half")
    )
    b = ranked.filter(F.col("half") == 1).select(
        F.col("user_id").alias("uid2"), F.col("rnk").alias("rank_second_half")
    )
    return (
        a.join(b, a["user_id"] == b["uid2"])
        .select(
            "user_id",
            "rank_first_half",
            "rank_second_half",
            (F.col("rank_first_half") - F.col("rank_second_half"))
            .cast("bigint")
            .alias("rank_gain"),
        )
        .orderBy(F.desc("rank_gain"), "user_id")
        .limit(15)
    )


@register(
    "events_time_to_convert",
    sql=f"""
    WITH u AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    ann AS (
        SELECT user_id, event_type, us,
               min(CASE WHEN event_type = 'click' THEN us END)
                   OVER (PARTITION BY user_id) AS fc
        FROM u
    ),
    conv AS (
        SELECT user_id, min(us) AS cv, min(fc) AS fc
        FROM ann
        WHERE event_type = 'purchase' AND us > fc
        GROUP BY user_id
    ),
    clk AS (
        SELECT count(DISTINCT user_id) AS n_clickers
        FROM u WHERE event_type = 'click'
    ),
    d AS (
        SELECT cv - fc AS d_us,
               row_number() OVER (ORDER BY cv - fc) AS rn,
               count(*) OVER () AS n,
               sum(cv - fc) OVER () AS s
        FROM conv
    )
    SELECT CAST(max(d.n) AS BIGINT) AS n_converted,
           {sql_half_up_ratio('max(d.n)', 'max(clk.n_clickers)', 6)}
               AS conversion_rate,
           ROUND(((2 * CAST(max(d.s) AS HUGEINT) + 1000 * max(d.n))
                   // (2000 * max(d.n))) / 1000, 3) AS mean_s,
           ROUND(((2 * CAST(max(CASE WHEN d.rn = (d.n + 1) // 2
                                     THEN d.d_us END) AS HUGEINT)
                   + 1000) // 2000) / 1000, 3) AS p50_s,
           ROUND(((2 * CAST(max(CASE WHEN d.rn = (9 * d.n + 9) // 10
                                     THEN d.d_us END) AS HUGEINT)
                   + 1000) // 2000) / 1000, 3) AS p90_s
    FROM d CROSS JOIN clk
    """,
    doc="Click→purchase conversion-latency profile: for each user, the "
    "delay from their FIRST click to the first purchase strictly after "
    "it; reported as one row of (converted count, conversion rate over "
    "all clickers, mean, exact p50/p90 seconds) — the funnel-latency "
    "companion to `events_funnel_conversion` (which counts stages but "
    "not dwell time). Single user-keyed shuffle: the first-click window "
    "and the per-user min-purchase groupBy share the same hash "
    "partitioning (no second exchange); the quantile rank runs on the "
    "~|converted-users| aggregate. Delays are exact integer "
    "microseconds; quantiles are rank selections (lower median / "
    "ceil(0.9n)); the clicker denominator rides a broadcast 1-row "
    "aggregate, not a driver collect.",
    tags=("stats", "behavior", "funnel", "window"),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.select("user_id", "event_type", us.alias("us"))
    wu = Window.partitionBy("user_id")
    ann = u.withColumn(
        "fc",
        F.min(F.when(F.col("event_type") == "click", F.col("us"))).over(wu),
    )
    conv = (
        ann.filter(
            (F.col("event_type") == "purchase") & (F.col("us") > F.col("fc"))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("cv"), F.min("fc").alias("fc"))
    )
    clk = (
        u.filter(F.col("event_type") == "click")
        .agg(F.countDistinct("user_id").alias("n_clickers"))
    )
    from data_engineering_project_spark.operators.prefix import (
        partitioned_cumsum,
    )

    from pyspark.storagelevel import StorageLevel

    # persist the tiny per-converted-user delta frame FIRST: the prefix
    # scan's bounds pass + bucketed pass and the totals aggregate are
    # three consumers, and unpinned each would replay the events scan +
    # user window (the weighted median's ratified persisted-cell-table
    # discipline; plan-asserted below at <=2 FileScans).
    dd = conv.select((F.col("cv") - F.col("fc")).alias("d_us")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # rank/count/sum over the per-converted-user deltas without a
    # single-reducer window: converted users scale with the data (r12
    # migration, same two-pass scan as the weighted median). Ties in
    # d_us get an arbitrary rank permutation exactly like row_number;
    # the rank-boundary selections below read the same VALUE either way.
    d = partitioned_cumsum(
        dd.withColumn("_one", F.lit(1)),
        order_col="d_us",
        value_col="_one",
        out_col="rn",
    ).crossJoin(
        F.broadcast(
            dd.agg(F.count("*").alias("n"), F.sum("d_us").alias("s"))
        )
    )
    return (
        d.crossJoin(F.broadcast(clk))
        .agg(
            F.max("n").cast("bigint").alias("n_converted"),
            half_up_ratio(
                F.max("n"), F.max("n_clickers"), 6
            ).alias("conversion_rate"),
            F.round(
                F.call_function(
                    "div",
                    # decimal(38,0): 2*sum(delta_us) overflows LONG once
                    # total dwell exceeds ~4.6e18 us; the oracle's
                    # 2 * CAST(max(d.s) AS HUGEINT) already has int128
                    # headroom (round-10 advice #1 symmetry)
                    2 * F.max("s").cast("decimal(38,0)")
                    + 1000 * F.max("n"),
                    2000 * F.max("n").cast("decimal(38,0)"),
                )
                / 1000,
                3,
            ).alias("mean_s"),
            F.round(
                F.call_function(
                    "div",
                    2
                    * F.max(
                        F.when(
                            F.col("rn")
                            == F.floor((F.col("n") + 1) / 2).cast("long"),
                            F.col("d_us"),
                        )
                    )
                    + 1000,
                    F.lit(2000),
                )
                / 1000,
                3,
            ).alias("p50_s"),
            F.round(
                F.call_function(
                    "div",
                    2
                    * F.max(
                        F.when(
                            F.col("rn")
                            == F.floor(
                                (9 * F.col("n") + 9) / 10
                            ).cast("long"),
                            F.col("d_us"),
                        )
                    )
                    + 1000,
                    F.lit(2000),
                )
                / 1000,
                3,
            ).alias("p90_s"),
        )
    )


@register(
    "customers_balance_deciles",
    sql="""
    WITH ranked AS (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_u,
               row_number() OVER (ORDER BY
                   CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT), c_custkey)
                   AS rn,
               count(*) OVER () AS n
        FROM customer WHERE c_acctbal IS NOT NULL
    ),
    binned AS (
        SELECT c_custkey, bal_u,
               CAST(((rn - 1) * 10) // n AS INTEGER) AS decile
        FROM ranked
    ),
    rev AS (
        SELECT o_custkey,
               sum(CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT))
                   AS rev_mu,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT b.decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           ROUND(min(b.bal_u) / 100.0, 2) AS bal_min,
           ROUND(max(b.bal_u) / 100.0, 2) AS bal_max,
           CAST(sum(coalesce(rev.n_orders, 0)) AS BIGINT) AS n_orders,
           ROUND(sum(coalesce(rev.rev_mu, 0))
                 / 1000.0 / count(*), 2) AS avg_revenue_per_customer
    FROM binned b LEFT JOIN rev ON rev.o_custkey = b.c_custkey
    GROUP BY b.decile
    """,
    doc="Equal-frequency decile binning of customer balance with per-bin "
    "order-revenue stats — the feature-binning primitive behind monotonic "
    "scorecards and WoE encoders. Bin = floor((rank-1)*10/n) over the "
    "TOTAL order (balance units, custkey) — rank-based, so ties split "
    "deterministically and bins stay equal-sized whatever the value "
    "distribution (NTILE's tie behavior is engine-defined; this "
    "restates it explicitly). Balances and revenues snap to integer "
    "units pre-sum; the revenue side pre-aggregates orders per customer "
    "BEFORE its join (15:1 row reduction ahead of the shuffle). The "
    "exact rank is the two-pass range-partitioned prefix scan "
    "(operators/prefix.py) — parallel across balance buckets, no "
    "single-reducer window; for approximate bins at extreme scale the "
    "mergeable histogram sketch (`events_value_quantile_rollup`) "
    "remains the cheaper alternative.",
    tags=("stats", "binning", "feature"),
)
def customers_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull()  # null-fuzz: rank/window measures must be non-null
    )
    o = load_table(spark, sf_dir, "orders")
    from data_engineering_project_spark.operators.prefix import (
        partitioned_cumsum,
    )

    from pyspark.storagelevel import StorageLevel

    bal = c.select(
        "c_custkey",
        decimal_units(F.col("c_acctbal"), 100).alias("bal_u"),
    ).persist(StorageLevel.MEMORY_AND_DISK)  # 3 consumers: bounds, scan, n
    # rank = two-pass range-partitioned cumsum of 1 over the (bal_u,
    # custkey) total order (operators/prefix.py) — parallel across value
    # buckets; the old single-reducer row_number window routed every
    # customer through one task (r12 migration). n rides a 1-row
    # broadcast instead of a global count window.
    ranked = partitioned_cumsum(
        bal.withColumn("_one", F.lit(1)),
        order_col="bal_u",
        value_col="_one",
        tie_col="c_custkey",
        out_col="rn",
    ).crossJoin(F.broadcast(bal.agg(F.count("*").alias("n"))))
    binned = ranked.select(
        "c_custkey",
        "bal_u",
        # integer division on BOTH sides: DuckDB's `/` is float and its
        # float→int CAST rounds (rank n would land in a phantom 11th bin)
        F.expr("CAST(((rn - 1) * 10) div n AS INT)").alias("decile"),
    )
    rev = o.groupBy("o_custkey").agg(
        F.sum(decimal_units(F.col("o_totalprice"), 1000)).alias("rev_mu"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    joined = binned.join(
        rev, binned["c_custkey"] == rev["o_custkey"], "left"
    )
    return joined.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.min("bal_u") / 100.0, 2).alias("bal_min"),
        F.round(F.max("bal_u") / 100.0, 2).alias("bal_max"),
        F.sum(F.coalesce(F.col("n_orders"), F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        F.round(
            F.sum(F.coalesce(F.col("rev_mu"), F.lit(0)))
            / 1000.0
            / F.count("*"),
            2,
        ).alias("avg_revenue_per_customer"),
    )


@register(
    "events_daily_kl_divergence",
    sql=f"""
    WITH cells AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT day, event_type, c,
               sum(c) OVER (PARTITION BY day) AS nd,
               sum(c) OVER (PARTITION BY event_type) AS ct,
               sum(c) OVER () AS n
        FROM cells
    ),
    terms AS (
        SELECT day, nd,
               CAST(floor(c * ln(CAST(c AS DOUBLE) * n / (CAST(nd AS DOUBLE) * ct))
                          * 1000000 + 0.5) AS BIGINT) AS t_micro
        FROM m
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(max(nd) AS BIGINT) AS n_events,
           {sql_half_up_ratio('sum(t_micro)',
                              '1000000 * CAST(max(nd) AS HUGEINT)',
                              6)} AS kl_nats
    FROM terms GROUP BY day
    """,
    doc="Per-day KL divergence of the event-type mix from the overall mix "
    "— KL(p_day ‖ p_global) in nats, the drift monitor that flags a day "
    "whose traffic composition shifted (deploy, outage, bot wave). "
    "Identity: KL = (1/n_d)·Σ_t c_dt·ln(c_dt·N/(n_d·c_t)) keeps every "
    "factor an exact integer marginal (window sums over the tiny "
    "day×type grid); each cell's transcendental term floor-quantizes to "
    "integer micro-nats BEFORE the cross-cell sum (the entropy/PMI "
    "device). Zero-count cells contribute nothing (absent from the "
    "grid), matching the 0·ln0 = 0 convention. One raw-data shuffle.",
    tags=("stats", "profile", "drift"),
)
def events_daily_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").alias("c"))
    m = cells.select(
        "day",
        "c",
        F.sum("c").over(Window.partitionBy("day")).alias("nd"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("ct"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    t_micro = F.floor(
        F.col("c")
        * F.log(
            F.col("c").cast("double")
            * F.col("n")
            / (F.col("nd").cast("double") * F.col("ct"))
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    return (
        m.select("day", "nd", t_micro.alias("t_micro"))
        .groupBy("day")
        .agg(
            F.max("nd").cast("bigint").alias("n_events"),
            half_up_ratio(
                F.sum("t_micro"),
                # decimal(38,0): 1e6 * count overflows LONG past ~9e12
                # events/day; oracle twin pre-casts to HUGEINT
                F.lit(1000000) * F.max("nd").cast("decimal(38,0)"),
                6,
            ).alias("kl_nats"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "kl_nats",
        )
    )


@register(
    "events_kaplan_meier",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               min(epoch_us(ts)) AS t0,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
        FROM events GROUP BY user_id
    ),
    mx AS (SELECT max(epoch_us(ts)) AS mxus FROM events),
    life AS (
        SELECT CASE WHEN p.tp IS NOT NULL
                    THEN CAST(floor((p.tp - p.t0) / 3600000000.0) AS BIGINT)
                    ELSE CAST(floor((m.mxus - p.t0) / 3600000000.0) AS BIGINT)
               END AS life_hours,
               CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS death
        FROM per_user p CROSS JOIN mx m
    ),
    grp AS (
        SELECT life_hours,
               CAST(sum(death) AS BIGINT) AS deaths,
               CAST(sum(1 - death) AS BIGINT) AS censored
        FROM life GROUP BY life_hours
    ),
    risk AS (
        SELECT life_hours, deaths,
               CAST(sum(deaths + censored) OVER () AS BIGINT)
               - CAST(COALESCE(sum(deaths + censored) OVER (
                     ORDER BY life_hours
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_at_risk
        FROM grp
    ),
    curve AS (
        SELECT life_hours, deaths, n_at_risk,
               CASE WHEN deaths < n_at_risk
                    THEN CAST(floor(ln(1.0 - CAST(deaths AS DOUBLE)
                                             / CAST(n_at_risk AS DOUBLE))
                                    * 1000000 + 0.5) AS BIGINT)
               END AS term_unats
        FROM risk WHERE deaths > 0
    )
    SELECT life_hours, n_at_risk, deaths,
           CASE WHEN deaths < n_at_risk
                THEN ROUND(exp(CAST(sum(term_unats) OVER (
                         ORDER BY life_hours
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE) / 1000000), 6)
                ELSE 0.0 END AS survival
    FROM curve
    """,
    doc="Kaplan-Meier survival curve for time-to-first-purchase with "
    "right-censoring — the survival-analysis operator class (churn/"
    "conversion lifetimes; the reference's ceiling is groupBy-count). Each "
    "user contributes one observation: death at floor((first purchase − "
    "first event)/1h), or censoring at the corpus max timestamp if they "
    "never purchase — so never-converters shrink the at-risk set instead "
    "of being silently dropped (the bias a naive converted-only average "
    "has, cf. `events_time_to_convert`). Shape: one groupBy(user) "
    "aggregate, a 1-row broadcast max, a groupBy(hour) count-of-events "
    "frame (|distinct hours| rows — tiny at any SF), and the cumulative "
    "product over it as exp(Σ ln-terms). Determinism: durations are exact "
    "integer micros → double division by 3.6e9 is exact below 2^53; each "
    "ln(1 − d/n) term floor-quantizes to integer micro-nats BEFORE the "
    "ordered cumulative sum (the entropy/PMI precedent — raw-double sums "
    "are merge-order-dependent); ties in life_hours are impossible after "
    "the groupBy. The d = n terminal bucket (everyone at risk dies) emits "
    "survival 0.0 on both sides rather than routing ln(0) through "
    "engine-specific -inf/NULL semantics.",
    tags=("survival", "stats", "window"),
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = ev.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("tp"),
        F.max(us).alias("t_last"),
    )
    # the censoring horizon max(ts) folds over the per-user maxima — one
    # FileScan of the fact table total, not a second full pass
    per_user = per_user.persist()
    mx = per_user.agg(F.max("t_last").alias("mxus"))
    life = per_user.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("tp").isNotNull(),
            F.floor((F.col("tp") - F.col("t0")) / F.lit(3_600_000_000.0)),
        )
        .otherwise(
            F.floor((F.col("mxus") - F.col("t0")) / F.lit(3_600_000_000.0))
        )
        .cast("bigint")
        .alias("life_hours"),
        F.when(F.col("tp").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("death"),
    )
    grp = life.groupBy("life_hours").agg(
        F.sum("death").cast("bigint").alias("deaths"),
        F.sum(1 - F.col("death")).cast("bigint").alias("censored"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_prev = Window.orderBy("life_hours").rowsBetween(
        Window.unboundedPreceding, -1
    )
    removed = F.col("deaths") + F.col("censored")
    risk = grp.select(
        "life_hours",
        "deaths",
        (
            F.sum(removed).over(w_all).cast("bigint")
            - F.coalesce(F.sum(removed).over(w_prev), F.lit(0)).cast("bigint")
        ).alias("n_at_risk"),
    )
    curve = risk.filter(F.col("deaths") > 0).withColumn(
        "term_unats",
        F.when(
            F.col("deaths") < F.col("n_at_risk"),
            F.floor(
                F.log(
                    1.0
                    - F.col("deaths").cast("double")
                    / F.col("n_at_risk").cast("double")
                )
                * 1_000_000
                + F.lit(0.5)
            ).cast("bigint"),
        ),
    )
    w_cum = Window.orderBy("life_hours").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return curve.select(
        "life_hours",
        "n_at_risk",
        "deaths",
        F.when(
            F.col("deaths") < F.col("n_at_risk"),
            F.round(
                F.exp(F.sum("term_unats").over(w_cum).cast("double") / 1_000_000),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("survival"),
    )


@register(
    "events_ljungbox_q",
    sql=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               sum(CAST(floor(value * {CENTS} + 0.5) AS BIGINT)) AS units
        FROM events GROUP BY 1
    ),
    base AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(units) AS HUGEINT) AS s
        FROM daily
    ),
    den AS (
        SELECT max(b.n) AS n, max(b.s) AS s,
               sum((b.n * d.units - b.s) * (b.n * d.units - b.s)) AS dd
        FROM daily d, base b
    ),
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    nums AS (
        SELECT l.lag,
               sum((b.n * a.units - b.s) * (b.n * c.units - b.s)) AS num
        FROM daily a
        JOIN lags l ON TRUE
        JOIN daily c ON c.day = a.day + CAST(l.lag AS INTEGER)
        CROSS JOIN base b
        GROUP BY l.lag
    ),
    terms AS (
        SELECT CAST(floor(
                   CAST(num AS DOUBLE) / CAST(d.dd AS DOUBLE)
                   * (CAST(num AS DOUBLE) / CAST(d.dd AS DOUBLE))
                   / CAST(d.n - lag AS DOUBLE) * 1000000 + 0.5
               ) AS BIGINT) AS t_micro
        FROM nums, den d
    )
    SELECT CAST(max(d.n) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_lags,
           ROUND(CAST(max(d.n) AS DOUBLE) * CAST(max(d.n) + 2 AS DOUBLE)
                 * sum(t_micro) / 1000000.0, 4) AS lb_q
    FROM terms, den d
    """,
    doc="Ljung-Box portmanteau Q over the daily total-value series (lags "
    "1..7) — the 'is anything left in the residuals' white-noise test "
    "that closes the time-series diagnostic loop: `events_daily_acf` "
    "shows WHERE dependence sits, Q scores whether the whole "
    "autocorrelation profile is jointly significant (vs chi-square with "
    "7 dof). Exactness device: rho_k = SUM(n*x_t - S)(n*x_{{t-k}} - S) / "
    "SUM(n*x_t - S)^2 multiplies the mean-centering through by n so "
    "numerator and denominator stay exact HUGEINT/DECIMAL38 integers; "
    "each rho_k^2/(n-k) term is then a deterministic double, "
    "floor-quantized to micro-units per lag and integer-summed (the "
    "PMI/chi2 precedent — a raw double sum over lags would be "
    "shuffle-order-dependent). Everything after the one daily groupBy "
    "runs on the ~|days|-row aggregate with broadcast joins.",
    tags=("stats", "timeseries", "inference"),
)
def events_ljungbox_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec38 = "decimal(38,0)"
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(decimal_units(F.col("value"), CENTS)).alias("units"))
        # base, the denominator pass, and both lag-pair sides all read
        # this ~|days|-row aggregate (the ACF persist precedent)
        .persist()
    )
    base = daily.agg(
        F.count("*").cast(dec38).alias("n"),
        F.sum("units").cast(dec38).alias("s"),
    )
    d2 = daily.crossJoin(F.broadcast(base))
    cen = F.col("n") * F.col("units") - F.col("s")
    den = d2.agg(
        F.max("n").alias("n"),
        F.sum(cen * cen).alias("dd"),
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = daily.select(F.col("day").alias("day_x"), F.col("units").alias("x"))
    c = daily.select(F.col("day").alias("day_y"), F.col("units").alias("y"))
    nums = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(c),
            F.col("day_y")
            == F.date_add(F.col("day_x"), F.col("lag").cast("int")),
        )
        .crossJoin(F.broadcast(base))
        .groupBy("lag")
        .agg(
            F.sum(
                (F.col("n") * F.col("x") - F.col("s"))
                * (F.col("n") * F.col("y") - F.col("s"))
            ).alias("num")
        )
    )
    rho = F.col("num").cast("double") / F.col("dd").cast("double")
    terms = nums.crossJoin(F.broadcast(den)).select(
        "n",
        F.floor(
            rho * rho / (F.col("n") - F.col("lag")).cast("double") * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("t_micro"),
    )
    nd = F.max("n").cast("double")
    return terms.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.count("*").cast("bigint").alias("n_lags"),
        F.round(
            nd * (F.max("n") + 2).cast("double") * F.sum("t_micro")
            / 1000000.0,
            4,
        ).alias("lb_q"),
    )


@register(
    "events_runs_test",
    sql=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               sum(CAST(floor(value * {CENTS} + 0.5) AS BIGINT)) AS units
        FROM events GROUP BY 1
    ),
    med AS (
        SELECT min(units) AS m FROM (
            SELECT units,
                   row_number() OVER (ORDER BY units) AS rn,
                   count(*) OVER () AS n
            FROM daily
        ) WHERE rn * 2 >= n
    ),
    signs AS (
        SELECT d.day, CASE WHEN d.units > m.m THEN 1 ELSE 0 END AS s
        FROM daily d, med m
        WHERE d.units != m.m
    ),
    flips AS (
        SELECT s,
               CASE WHEN lag(s) OVER (ORDER BY day) IS NOT NULL
                         AND lag(s) OVER (ORDER BY day) != s
                    THEN 1 ELSE 0 END AS flip
        FROM signs
    ),
    agg AS (
        SELECT CAST(sum(s) AS BIGINT) AS n1,
               CAST(count(*) - sum(s) AS BIGINT) AS n2,
               CAST(1 + sum(flip) AS BIGINT) AS r
        FROM flips
    )
    SELECT n1, n2, r,
           ROUND((CAST(r AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (CAST(n1 + n2 AS DOUBLE)
                           * CAST(n1 + n2 AS DOUBLE)
                           * CAST(n1 + n2 - 1 AS DOUBLE))),
                 6) AS runs_z
    FROM agg
    """,
    doc="Wald-Wolfowitz runs test on the daily revenue series — the "
    "sign-sequence randomness check that complements `events_ljungbox_q` "
    "(Q measures linear autocorrelation; runs catches ANY "
    "above/below-median clustering, trends and regime-switches "
    "included). Each day signs against the exact lower-median daily "
    "total (median-equal days drop, the standard convention), R counts "
    "sign flips via one lag over the day-ordered ~|days| rows, and the "
    "normal approximation z = (R - (2 n1 n2/n + 1)) / sigma derives "
    "closed-form from the three exact integers (n1, n2, R) — no "
    "float-order exposure at all. Everything after the one daily "
    "groupBy is metadata-sized.",
    tags=("stats", "timeseries", "inference"),
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(decimal_units(F.col("value"), CENTS)).alias("units")
    ).persist()
    ranked = daily.select(
        "units",
        F.row_number().over(Window.orderBy("units")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    med = ranked.filter(F.col("rn") * 2 >= F.col("n")).agg(
        F.min("units").alias("m")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("units") != F.col("m"))
        .select(
            "day",
            F.when(F.col("units") > F.col("m"), 1).otherwise(0).alias("s"),
        )
    )
    lagged = F.lag("s").over(Window.orderBy("day"))
    flips = signs.select(
        "s",
        F.when(lagged.isNotNull() & (lagged != F.col("s")), 1)
        .otherwise(0)
        .alias("flip"),
    )
    agg = flips.agg(
        F.sum("s").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("s")).cast("bigint").alias("n2"),
        (F.sum("flip") + 1).cast("bigint").alias("r"),
    )
    nd = (F.col("n1") + F.col("n2")).cast("double")
    mu = 2.0 * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")) + 1
    sigma = F.sqrt(
        2.0 * F.col("n1") * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (nd * nd * (F.col("n1") + F.col("n2") - 1).cast("double"))
    )
    return agg.select(
        "n1",
        "n2",
        "r",
        F.round((F.col("r").cast("double") - mu) / sigma, 6).alias("runs_z"),
    )


@register(
    "events_value_isotonic_rate",
    sql="""
    WITH bins AS (
        SELECT CAST(floor(value / 50) AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS w,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    cums AS (
        SELECT b, w, y,
               row_number() OVER (ORDER BY b) AS rn,
               sum(w) OVER (ORDER BY b) AS cw,
               sum(y) OVER (ORDER BY b) AS cy
        FROM bins
    ),
    p AS (
        SELECT j.rn AS j, k.rn AS k,
               CAST(k.cy - j.cy + j.y AS DOUBLE)
                   / CAST(k.cw - j.cw + j.w AS DOUBLE) AS a
        FROM cums j JOIN cums k ON j.rn <= k.rn
    ),
    m AS (
        SELECT i.rn AS i, p.j, min(p.a) AS mn
        FROM cums i JOIN p ON p.j <= i.rn AND p.k >= i.rn
        GROUP BY 1, 2
    ),
    iso AS (SELECT i, max(mn) AS iso FROM m GROUP BY i)
    SELECT c.b AS bin, c.w AS n_events, c.y AS n_purchases,
           ROUND(CAST(c.y AS DOUBLE) / c.w, 6) AS raw_rate,
           ROUND(iso.iso, 6) AS isotonic_rate
    FROM cums c JOIN iso ON iso.i = c.rn
    """,
    doc="Isotonic (monotone non-decreasing) regression of purchase rate "
    "against the 50-unit value bin — the calibration-curve fit behind "
    "score calibration and dose-response curves, solved EXACTLY via the "
    "minimax closed form iso(i) = max_{j<=i} min_{k>=i} "
    "weightedmean(y, j..k) instead of the iterative "
    "pool-adjacent-violators loop (identical solution; Barlow et al. "
    "1972). The closed form is what makes it declarative AND "
    "oracle-checkable: after the one data-sized groupBy collapses events "
    "to ~20 bins, every (j,k) window mean derives from integer prefix "
    "sums and the max-min runs over a bins-cubed (~8k row) join — "
    "metadata-sized, so the 'quadratic' formula is free while a 100 TB "
    "scan cost stays one pass. Monotonicity of the output is a "
    "theorem, not an assertion.",
    tags=("stats", "regression", "calibration"),
)
def events_value_isotonic_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bins = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.floor(F.col("value") / 50).cast("bigint").alias("b"))
        .agg(
            F.count("*").cast("bigint").alias("w"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    wo = Window.orderBy("b")
    cums = bins.select(
        "b",
        "w",
        "y",
        F.row_number().over(wo).alias("rn"),
        F.sum("w").over(wo).alias("cw"),
        F.sum("y").over(wo).alias("cy"),
    ).persist()
    j = cums.select(
        F.col("rn").alias("j"),
        F.col("w").alias("jw"),
        F.col("y").alias("jy"),
        F.col("cw").alias("jcw"),
        F.col("cy").alias("jcy"),
    )
    k = cums.select(
        F.col("rn").alias("k"),
        F.col("cw").alias("kcw"),
        F.col("cy").alias("kcy"),
    )
    p = j.join(k, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("kcy") - F.col("jcy") + F.col("jy")).cast("double")
            / (F.col("kcw") - F.col("jcw") + F.col("jw")).cast("double")
        ).alias("a"),
    )
    i = cums.select(F.col("rn").alias("i"))
    m = (
        i.join(p, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("a").alias("mn"))
    )
    iso = m.groupBy("i").agg(F.max("mn").alias("iso"))
    return (
        cums.join(iso, cums.rn == iso.i)
        .select(
            F.col("b").alias("bin"),
            F.col("w").alias("n_events"),
            F.col("y").alias("n_purchases"),
            F.round(F.col("y").cast("double") / F.col("w"), 6).alias(
                "raw_rate"
            ),
            F.round("iso", 6).alias("isotonic_rate"),
        )
    )


@register(
    "lineitem_kendall_tau",
    sql="""
    WITH cells AS (
        SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
               CAST(count(*) AS HUGEINT) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
        SELECT sum(CASE WHEN b.q > a.q AND b.d > a.d THEN a.n * b.n
                        ELSE 0 END) AS c,
               sum(CASE WHEN b.q > a.q AND b.d < a.d THEN a.n * b.n
                        ELSE 0 END) AS dsc
        FROM cells a
        JOIN cells b
          ON b.q > a.q OR (b.q = a.q AND b.d > a.d)
    ),
    tot AS (SELECT sum(n) AS n FROM cells),
    tq AS (
        SELECT sum(m * (m - 1) / 2) AS t1 FROM (
            SELECT sum(n) AS m FROM cells GROUP BY q)
    ),
    td AS (
        SELECT sum(m * (m - 1) / 2) AS t2 FROM (
            SELECT sum(n) AS m FROM cells GROUP BY d)
    )
    SELECT CAST(t.n AS BIGINT) AS n_rows,
           CAST(p.c AS BIGINT) AS concordant,
           CAST(p.dsc AS BIGINT) AS discordant,
           ROUND(CAST(p.c - p.dsc AS DOUBLE)
                 / sqrt(CAST(t.n * (t.n - 1) / 2 - tq.t1 AS DOUBLE)
                        * CAST(t.n * (t.n - 1) / 2 - td.t2 AS DOUBLE)),
                 6) AS kendall_tau_b
    FROM pairs p, tot t, tq, td
    """,
    doc="Kendall tau-b rank correlation between quantity and discount "
    "with full tie correction — the ordinal complement to "
    "`lineitem_corr_matrix`'s Pearson (tau sees monotone association "
    "Pearson's linearity misses, and survives outliers). The naive "
    "O(n^2) pair count never happens: values snap to integer cents and "
    "collapse onto the 2-D cell grid (quantity x discount saturates at "
    "~550 cells regardless of row count), concordant/discordant mass "
    "comes from one lexicographic cell-pair join weighted by n_a*n_b, "
    "and the tie terms T1/T2 fall out of the grid's marginals — all "
    "exact HUGEINT/DECIMAL38 integers until the final ratio. The same "
    "saturating-grid device as the KS/Mann-Whitney pair, lifted to two "
    "dimensions.",
    tags=("stats", "profile", "rank"),
)
def lineitem_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec38 = "decimal(38,0)"
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        decimal_units(F.col("l_quantity"), 100).alias("q"),
        decimal_units(F.col("l_discount"), 100).alias("d"),
    ).agg(F.count("*").cast(dec38).alias("n")).persist()
    a = cells.select(
        F.col("q").alias("aq"), F.col("d").alias("ad"), F.col("n").alias("an")
    )
    b = cells.select(
        F.col("q").alias("bq"), F.col("d").alias("bd"), F.col("n").alias("bn")
    )
    joined = a.join(
        b,
        (F.col("bq") > F.col("aq"))
        | ((F.col("bq") == F.col("aq")) & (F.col("bd") > F.col("ad"))),
    )
    nn = F.col("an") * F.col("bn")
    pairs = joined.agg(
        F.sum(
            F.when((F.col("bq") > F.col("aq")) & (F.col("bd") > F.col("ad")), nn)
            .otherwise(F.lit(0).cast(dec38))
        ).alias("c"),
        F.sum(
            F.when((F.col("bq") > F.col("aq")) & (F.col("bd") < F.col("ad")), nn)
            .otherwise(F.lit(0).cast(dec38))
        ).alias("dsc"),
    )
    tot = cells.agg(F.sum("n").alias("n"))
    tq = (
        cells.groupBy("q").agg(F.sum("n").alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("t1"))
    )
    td = (
        cells.groupBy("d").agg(F.sum("n").alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("t2"))
    )
    n = F.col("n")
    n0 = n * (n - 1) / 2
    return (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tq))
        .crossJoin(F.broadcast(td))
        .select(
            n.cast("bigint").alias("n_rows"),
            F.col("c").cast("bigint").alias("concordant"),
            F.col("dsc").cast("bigint").alias("discordant"),
            F.round(
                (F.col("c") - F.col("dsc")).cast("double")
                / F.sqrt(
                    (n0 - F.col("t1")).cast("double")
                    * (n0 - F.col("t2")).cast("double")
                ),
                6,
            ).alias("kendall_tau_b"),
        )
    )


@register(
    "lineitem_spearman_rho",
    sql="""
    WITH cells AS (
        SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
               CAST(count(*) AS HUGEINT) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    qm AS (
        SELECT q, m,
               COALESCE(sum(m) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
        FROM (SELECT q, sum(n) AS m FROM cells GROUP BY q)
    ),
    dm AS (
        SELECT d, m,
               COALESCE(sum(m) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
        FROM (SELECT d, sum(n) AS m FROM cells GROUP BY d)
    ),
    ranked AS (
        SELECT c.n,
               2 * qm.b + qm.m + 1 AS rx,
               2 * dm.b + dm.m + 1 AS ry
        FROM cells c JOIN qm ON qm.q = c.q JOIN dm ON dm.d = c.d
    ),
    s AS (
        SELECT sum(n) AS nt,
               sum(n * rx) AS sx, sum(n * ry) AS sy,
               sum(n * rx * rx) AS sxx, sum(n * ry * ry) AS syy,
               sum(n * rx * ry) AS sxy
        FROM ranked
    )
    SELECT CAST(nt AS BIGINT) AS n_rows,
           ROUND(CAST(nt * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(nt * sxx - sx * sx AS DOUBLE))
                 / sqrt(CAST(nt * syy - sy * sy AS DOUBLE)), 6)
               AS spearman_rho
    FROM s
    """,
    doc="Spearman's rank correlation between quantity and discount, "
    "tie-corrected exactly — with `lineitem_kendall_tau` this completes "
    "the ordinal pair (rho is Pearson ON ranks; tau counts pair "
    "inversions — they answer subtly different questions and diverge "
    "under heavy ties). No row ever gets ranked: midranks come from "
    "each axis's marginal cumulative counts via the tied-rank closed "
    "form 2*midrank = 2b + m + 1 (the `events_user_gini` device), "
    "doubled so they stay INTEGERS, and the doubling cancels inside the "
    "correlation ratio. All six sufficient statistics are exact "
    "HUGEINT/DECIMAL38 sums over the saturating ~550-cell grid; "
    "rank-sum products approach the DECIMAL38 ceiling only around "
    "1e12 rows per axis value — far past any real SF.",
    tags=("stats", "profile", "rank"),
)
def lineitem_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec38 = "decimal(38,0)"
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        decimal_units(F.col("l_quantity"), 100).alias("q"),
        decimal_units(F.col("l_discount"), 100).alias("d"),
    ).agg(F.count("*").cast(dec38).alias("n")).persist()

    def marg(axis):
        w = Window.orderBy(axis).rowsBetween(Window.unboundedPreceding, -1)
        return (
            cells.groupBy(axis)
            .agg(F.sum("n").alias("m"))
            .select(
                axis,
                "m",
                F.coalesce(F.sum("m").over(w), F.lit(0).cast(dec38)).alias(
                    "b"
                ),
            )
        )

    qm = marg("q").select(
        "q", (F.col("b") * 2 + F.col("m") + 1).alias("rx")
    )
    dm = marg("d").select(
        "d", (F.col("b") * 2 + F.col("m") + 1).alias("ry")
    )
    ranked = cells.join(qm, "q").join(dm, "d").select("n", "rx", "ry")
    s = ranked.agg(
        F.sum("n").alias("nt"),
        F.sum(F.col("n") * F.col("rx")).alias("sx"),
        F.sum(F.col("n") * F.col("ry")).alias("sy"),
        F.sum(F.col("n") * F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("n") * F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("n") * F.col("rx") * F.col("ry")).alias("sxy"),
    )
    nt = F.col("nt")
    return s.select(
        nt.cast("bigint").alias("n_rows"),
        F.round(
            (nt * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (nt * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            )
            / F.sqrt(
                (nt * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            ),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "events_value_ewma",
    sql="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    ),
    ser AS (
        SELECT event_type,
               list_transform(list_sort(list({'d': d, 'x': x})),
                              s -> CAST(s.x AS DOUBLE)) AS vs
        FROM daily GROUP BY 1
    )
    SELECT event_type,
           CAST(len(vs) AS BIGINT) AS n_days,
           ROUND(floor(list_reduce(vs, (s, v) -> s * 0.75 + v * 0.25) + 0.5)
                 / 100, 2) AS ewma_value
    FROM ser ORDER BY event_type
    """,
    doc="Exponentially-weighted moving average of daily revenue per event "
    "type (alpha=0.25) — the classic smoothed-trend monitor. Daily sums "
    "snap to integer cents first (exact LONG), then the EWMA is a "
    "SEQUENTIAL left fold over the day-ordered series: "
    "s_t = 0.75*s_{t-1} + 0.25*x_t seeded with the first day. A "
    "closed-form SUM(pow(1-alpha, lag)) restatement would hang "
    "cross-engine determinism on libm pow and on shuffle-order double "
    "summation; the fold runs the SAME IEEE ops in the SAME order on "
    "both engines (Spark aggregate() over the sorted collect_list, "
    "DuckDB list_reduce over the sorted list), so it is bit-identical "
    "by construction. Per-type state is one bounded array (series "
    "length = #days, independent of event volume — the groupBy daily "
    "pre-aggregate is where 100 TB becomes #days rows); the final "
    "half-up lands on the safe-width ROUND (floor-integer / 10^2 at "
    "2dp).",
    tags=("stats", "timeseries", "smoothing"),
)
def events_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts non-null too: a NULL day would otherwise form a bucket whose
    # SORT POSITION diverges between engines (Spark array_sort puts
    # NULLs last, DuckDB list_sort first) and derail the fold seed —
    # found by the NULL-fuzz sweep
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(decimal_units(F.col("value"), 100)).alias("x"))
    ser = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "x"))),
            lambda s: s["x"].cast("double"),
        ).alias("vs")
    )
    ewma = F.aggregate(
        F.slice(F.col("vs"), F.lit(2), F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1),
        lambda s, v: s * F.lit(0.75) + v * F.lit(0.25),
    )
    return ser.select(
        "event_type",
        F.size("vs").cast("bigint").alias("n_days"),
        F.round(F.floor(ewma + F.lit(0.5)) / 100, 2).alias("ewma_value"),
    ).orderBy("event_type")


@register(
    "events_ewma_serving",
    sql="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    ),
    ser AS (
        SELECT event_type,
               list_transform(list_sort(list({'d': d, 'x': x})),
                              s -> CAST(s.x AS DOUBLE)) AS vs
        FROM daily GROUP BY 1
    )
    SELECT event_type,
           CAST(len(vs) AS BIGINT) AS n_days,
           ROUND(floor(list_reduce(vs, (s, v) -> s * 0.75 + v * 0.25) + 0.5)
                 / 100, 2) AS ewma_value
    FROM ser ORDER BY event_type
    """,
    doc="The streaming EWMA maintenance path end-to-end, driver-hashable "
    "(round-9 verdict #7): events are split into three deterministic "
    "micro-batches and fed through upsert_ewma_state's foreachBatch "
    "writer — per-(type, day, batch_id) integer-cent counters under the "
    "exactly-once protocol, with batch 1 DELIVERED TWICE to exercise the "
    "crash-replay branch (the replay must replace its own prior rows, "
    "not double-count) — then read_ewma_trend re-derives the trend as a "
    "pure function of the state. Because daily sums are additive across "
    "any batch split and the reader runs the batch twin's sequential "
    "fold verbatim, the result is bit-identical to events_value_ewma, "
    "which is exactly what the oracle restates: the driver hash now "
    "covers the counter protocol + state read, not just the batch "
    "query. The trend frame is <= #event_types rows, collected and "
    "rebuilt locally so the temp state dir can be reclaimed eagerly "
    "(emb_ivf_index_serving precedent); the distributed work — batch "
    "pre-aggregates, state merges, the read-side fold — happens through "
    "the state table.",
    tags=("stats", "timeseries", "streaming", "serving"),
)
def events_ewma_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from data_engineering_project_spark.streaming.pipeline import (
        read_ewma_trend,
        upsert_ewma_state,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    tmp = tempfile.mkdtemp(prefix="ewma_serving_")
    try:
        writer = upsert_ewma_state(tmp, time_col="ts")
        batches = [
            ev.filter(
                F.coalesce(F.pmod("event_id", F.lit(3)), F.lit(0)) == i
            )
            for i in range(3)
        ]
        writer(batches[0], 0)
        writer(batches[1], 1)
        writer(batches[2], 2)
        writer(batches[1], 1)  # crash replay: must replace, not add
        rows = read_ewma_trend(spark, tmp, alpha=0.25).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(
        spark,
        [
            (r["event_type"], int(r["n_days"]), r["ewma_value"])
            for r in rows
        ],
        "event_type string, n_days bigint, ewma_value double",
    )


@register(
    "orders_holt_linear_forecast",
    sql="""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               sum(CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT)) AS x
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    ser AS (
        SELECT list_transform(list_sort(list({'m': m, 'x': x})),
                              s -> CAST(s.x AS DOUBLE)) AS vs
        FROM monthly
    ),
    fit AS (
        -- state is a 2-element DOUBLE list [level, trend], NOT a struct:
        -- DuckDB 1.0's list_reduce mis-evaluates multi-field struct
        -- accumulators referenced several times per step (level came back
        -- right, trend wrong); the list accumulator folds correctly
        SELECT len(vs) AS n,
               list_reduce(
                   list_concat(
                       [[vs[2], vs[2] - vs[1]]],
                       list_transform(vs[3:len(vs)], x -> [x, 0.0])),
                   (s, e) -> [
                       0.5 * e[1] + 0.5 * (s[1] + s[2]),
                       0.25 * (0.5 * e[1] + 0.5 * (s[1] + s[2]) - s[1])
                       + 0.75 * s[2]]) AS st
        FROM ser
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           ROUND(floor(st[1] + 0.5) / 1000, 3) AS level,
           ROUND(floor(st[2] + 0.5) / 1000, 3) AS trend,
           ROUND(floor(st[1] + 1 * st[2] + 0.5) / 1000, 3) AS forecast_1,
           ROUND(floor(st[1] + 2 * st[2] + 0.5) / 1000, 3) AS forecast_2,
           ROUND(floor(st[1] + 3 * st[2] + 0.5) / 1000, 3) AS forecast_3
    FROM fit
    """,
    doc="Holt's linear-trend (double exponential) smoothing over monthly "
    "order revenue with a 3-month-ahead forecast — the level+trend "
    "upgrade of events_value_ewma for series that drift. State is the "
    "(level, trend) struct folded SEQUENTIALLY over the month-ordered "
    "series (alpha=0.5, beta=0.25; seeded l=x_1, t=x_1-x_0): Spark "
    "aggregate() and DuckDB list_reduce run identical IEEE ops in "
    "identical order, so the fit is bit-deterministic with no libm pow "
    "and no shuffle-order summation anywhere. Monthly sums snap to "
    "integer milli-units first (the one corpus-size-dependent step — a "
    "map-side-combined groupBy); the fold itself touches #months rows. "
    "Forecast_h = level + h*trend; outputs land on the safe-width "
    "ROUND (floor-integer / 10^3 at 3dp).",
    tags=("stats", "timeseries", "forecast"),
)
def orders_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.sum(decimal_units(F.col("o_totalprice"), 1000)).alias("x"))
    ser = monthly.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "x"))),
            lambda s: s["x"].cast("double"),
        ).alias("vs")
    )
    vs = F.col("vs")
    # try_element_at: the GLOBAL collect_list yields one row with an EMPTY
    # array on empty input, and ANSI element_at throws out-of-bounds where
    # the oracle's vs[2] is NULL — seed must degrade to [NULL, NULL]
    seed = F.array(
        F.try_element_at(vs, F.lit(2)),
        F.try_element_at(vs, F.lit(2)) - F.try_element_at(vs, F.lit(1)),
    )

    def _step(s, x):
        l_prev, t_prev = F.element_at(s, 1), F.element_at(s, 2)
        l_new = F.lit(0.5) * x + F.lit(0.5) * (l_prev + t_prev)
        return F.array(
            l_new,
            F.lit(0.25) * (l_new - l_prev) + F.lit(0.75) * t_prev,
        )

    fit = ser.select(
        F.size(vs).alias("n"),
        F.aggregate(
            F.slice(vs, F.lit(3), F.greatest(F.size(vs) - 2, F.lit(0))),
            seed,
            _step,
        ).alias("st"),
    )
    def _q3(expr):
        return F.round(F.floor(expr + F.lit(0.5)) / 1000, 3)

    lv, tr = F.element_at(F.col("st"), 1), F.element_at(F.col("st"), 2)
    return fit.select(
        F.col("n").cast("bigint").alias("n_months"),
        _q3(lv).alias("level"),
        _q3(tr).alias("trend"),
        _q3(lv + 1 * tr).alias("forecast_1"),
        _q3(lv + 2 * tr).alias("forecast_2"),
        _q3(lv + 3 * tr).alias("forecast_3"),
    )
