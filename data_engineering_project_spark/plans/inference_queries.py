"""Statistical-inference / econometric profiling queries.

Round-4 additions beyond the reference (SURVEY.md §2.11): group-wise OLS
trend fitting, a chi-square independence test, market-concentration (HHI),
Zipf's-law fit over the document corpus, and readability scoring. The
reference's analytics ceiling is groupBy-count (src/Task1/
data_processing.py:268-291); these are the shapes an analytics team layers
on top of the same tables.

All queries follow the repo determinism invariants (ROADMAP "Known-good
invariants"):

- float measures snap to exact integer units BEFORE any cross-row sum
  (``decimal_units``) — Spark's partial-agg merge order is
  nondeterministic, so raw double sums are not reproducible;
- transcendental per-row terms (ln) floor-quantize to integer micro-nats
  first, then sum integers (the PMI/entropy precedent);
- integer products that could exceed 2**63 at high SF route through
  DECIMAL(38,0) on the Spark side and HUGEINT on the DuckDB side — both
  exact — and cast to double only inside the final closed-form expression,
  so the doubles are bit-identical before the defensive ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.scalars import (
    decimal_units,
    half_up_div,
    half_up_ratio,
    sql_half_up_div,
    sql_half_up_ratio,
)
from data_engineering_project_spark.operators import text as T
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table, local_frame

#: o_totalprice carries 3 decimal places in the synthetic data → exact
#: integer milli-units (the ROADMAP decimal-width rule).
MILLI = 1000

#: DECIMAL(38,0) literal used for overflow-proof integer sufficient
#: statistics (HUGEINT on the DuckDB side).
DEC38 = "decimal(38,0)"


@register(
    "nation_monthly_ols_trend",
    sql=f"""
    WITH pts AS (
        SELECT c.c_nationkey,
               (EXTRACT(year FROM o.o_orderdate) - 1992) * 12
                   + EXTRACT(month FROM o.o_orderdate) - 1 AS x,
               CAST(floor(o.o_totalprice * {MILLI} + 0.5) AS BIGINT) AS units
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    monthly AS (
        SELECT c_nationkey, x, CAST(sum(units) AS HUGEINT) AS y
        FROM pts GROUP BY 1, 2
    ),
    stats AS (
        SELECT c_nationkey,
               CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(x AS HUGEINT)) AS sx,
               sum(y) AS sy,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        FROM monthly GROUP BY 1
    )
    SELECT n.n_name AS nation,
           CAST(s.n AS BIGINT) AS n_months,
           ROUND(CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
                 / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
                 / {MILLI}, 6) AS slope_per_month,
           ROUND((CAST(s.sy AS DOUBLE)
                  - CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
                    / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
                    * CAST(s.sx AS DOUBLE))
                 / CAST(s.n AS DOUBLE) / {MILLI}, 6) AS intercept
    FROM stats s JOIN nation n ON n.n_nationkey = s.c_nationkey
    WHERE s.n >= 2 AND s.n * s.sxx > s.sx * s.sx
    ORDER BY nation
    """,
    doc="Per-nation OLS trend of monthly order revenue against a month "
    "index — group-wise linear regression from exact integer sufficient "
    "statistics (n, Σx, Σy, Σxy, Σx² of milli-units), the same "
    "moment-based device as `lineitem_corr_matrix`. Built-in "
    "regr_slope/regr_intercept would NOT hash-match across engines "
    "(float accumulation order), so the closed form runs on integers "
    "until the final division. Plan shape: one shuffle join "
    "(orders⋈customer on custkey), two-level agg collapsing to "
    "~|nation×month| rows, then a broadcast nation-name join — the "
    "regression itself costs nothing beyond the revenue rollup a "
    "warehouse already runs.",
    tags=("stats", "regression", "join"),
)
def nation_monthly_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pts = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey",
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12
            + F.month("o_orderdate")
            - 1
        ).alias("x"),
        decimal_units(F.col("o_totalprice"), MILLI).alias("units"),
    )
    monthly = pts.groupBy("c_nationkey", "x").agg(
        F.sum("units").cast(DEC38).alias("y")
    )
    xd = F.col("x").cast(DEC38)
    stats = monthly.groupBy("c_nationkey").agg(
        F.count("*").cast(DEC38).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return (
        stats.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        )
        .join(F.broadcast(n), stats.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("n").cast("bigint").alias("n_months"),
            F.round(slope / MILLI, 6).alias("slope_per_month"),
            F.round(intercept / MILLI, 6).alias("intercept"),
        )
        .orderBy("nation")
    )


@register(
    "events_chi2_type_dow",
    sql="""
    WITH cells AS (
        SELECT event_type,
               CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                     + 4) % 7 AS INTEGER) AS dow,
               count(*) AS o
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type, dow, o,
               sum(o) OVER (PARTITION BY event_type) AS rt,
               sum(o) OVER (PARTITION BY dow) AS ct,
               sum(o) OVER () AS n
        FROM cells
    ),
    terms AS (
        SELECT CAST(floor(
                   (o - CAST(rt AS DOUBLE) * ct / n)
                   * (o - CAST(rt AS DOUBLE) * ct / n)
                   / (CAST(rt AS DOUBLE) * ct / n) * 1000000 + 0.5
               ) AS BIGINT) AS t_micro,
               event_type, dow
        FROM m
    )
    SELECT CAST((SELECT count(DISTINCT event_type) FROM cells) AS BIGINT)
               AS n_types,
           CAST((SELECT count(DISTINCT dow) FROM cells) AS BIGINT) AS n_dows,
           CAST(((SELECT count(DISTINCT event_type) FROM cells) - 1)
                * ((SELECT count(DISTINCT dow) FROM cells) - 1) AS BIGINT)
               AS dof,
           ROUND(sum(t_micro) / 1000000.0, 4) AS chi2
    FROM terms
    """,
    doc="Chi-square independence test between event_type and day-of-week — "
    "the categorical-dependence complement to `events_type_dow_pmi` "
    "(which scores individual cells; this scores the whole table). Each "
    "cell's (O−E)²/E term is a deterministic double from exact integer "
    "marginals (E = rt·ct/N), floor-quantized to integer micro-units "
    "BEFORE the cross-cell sum (the entropy/PMI precedent). The entire "
    "statistic computes on the tiny |types|×7 post-aggregation grid: one "
    "raw-data shuffle, then window sums over ≤ ~50 rows.",
    tags=("stats", "inference", "profile"),
)
def events_chi2_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        ((F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + 4) % 7)
        .cast("int")
        .alias("dow"),
    ).agg(F.count("*").alias("o"))
    m = cells.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    t_micro = F.floor(
        (F.col("o") - e) * (F.col("o") - e) / e * 1000000 + F.lit(0.5)
    ).cast("bigint")
    return m.agg(
        F.count_distinct("event_type").cast("bigint").alias("n_types"),
        F.count_distinct("dow").cast("bigint").alias("n_dows"),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("dow") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.round(F.sum(t_micro) / 1000000.0, 4).alias("chi2"),
    )


@register(
    "supplier_nation_hhi",
    sql=f"""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS units
        FROM lineitem GROUP BY 1
    ),
    by_nation AS (
        SELECT s.s_nationkey,
               count(*) AS n_suppliers,
               sum(r.units) AS total,
               sum(r.units * r.units) AS sumsq
        FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
        GROUP BY 1
    )
    SELECT n.n_name AS nation,
           CAST(b.n_suppliers AS BIGINT) AS n_suppliers,
           ROUND(CAST(b.sumsq AS DOUBLE)
                 / (CAST(b.total AS DOUBLE) * CAST(b.total AS DOUBLE)),
                 6) AS hhi
    FROM by_nation b JOIN nation n ON n.n_nationkey = b.s_nationkey
    ORDER BY nation
    """,
    doc="Herfindahl–Hirschman market-concentration index of supplier "
    "revenue within each nation: HHI = Σᵢ shareᵢ² = Σ unitsᵢ² / (Σ units)² "
    "— the algebraic identity avoids materializing per-supplier shares "
    "(no second pass, no window over the revenue totals). Revenue snaps "
    "to integer cents; squares route through DECIMAL(38,0)/HUGEINT "
    "(cents² overflows 2**63 near SF 100), divided as doubles only in "
    "the final expression. Plan: lineitem aggregates by suppkey FIRST "
    "(map-side combine shrinks the shuffle to |suppliers| rows), then a "
    "broadcast-able supplier join and a ~25-row nation rollup.",
    tags=("stats", "aggregate", "join"),
)
def supplier_nation_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(decimal_units(F.col("l_extendedprice"), 100))
        .cast(DEC38)
        .alias("units")
    )
    by_nation = (
        rev.join(s, rev.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("units").alias("total"),
            F.sum(F.col("units") * F.col("units")).alias("sumsq"),
        )
    )
    return (
        by_nation.join(F.broadcast(n), by_nation.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.round(
                F.col("sumsq").cast("double")
                / (F.col("total").cast("double") * F.col("total").cast("double")),
                6,
            ).alias("hhi"),
        )
        .orderBy("nation")
    )


@register(
    "docs_zipf_slope",
    sql="""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT term, count(*) AS f FROM tok GROUP BY 1),
    ranked AS (
        SELECT term, f,
               row_number() OVER (ORDER BY f DESC, term) AS r
        FROM tf
    ),
    pts AS (
        SELECT CAST(floor(ln(r) * 1000000 + 0.5) AS BIGINT) AS lr,
               CAST(floor(ln(f) * 1000000 + 0.5) AS BIGINT) AS lf
        FROM ranked WHERE r <= 200
    ),
    stats AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(lr) AS HUGEINT) AS sx,
               CAST(sum(lf) AS HUGEINT) AS sy,
               sum(CAST(lr AS HUGEINT) * CAST(lf AS HUGEINT)) AS sxy,
               sum(CAST(lr AS HUGEINT) * CAST(lr AS HUGEINT)) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
    FROM stats
    """,
    doc="Zipf's-law fit over the corpus vocabulary: OLS slope of ln(freq) "
    "on ln(rank) across the top-200 terms (natural text ≈ −1; synthetic "
    "or templated corpora drift toward 0 — a cheap corpus-health probe "
    "next to `docs_length_drift_psi`). Ranks are a deterministic "
    "row_number over (freq DESC, term); each ln() floor-quantizes to "
    "integer micro-nats per TERM before the 200-row sufficient-statistic "
    "sums (HUGEINT/DECIMAL38 — micro-nat products sit near 2**63). The "
    "one heavy operation is the term-frequency groupBy the TF-IDF query "
    "already pays; the regression itself runs on 200 rows.",
    tags=("text", "stats", "regression"),
)
def docs_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("f"))
    )
    # distributed top-k FIRST (TakeOrderedAndProject — per-partition heads
    # merged on the driver, no global sort of the vocabulary), THEN rank the
    # 200 survivors in one tiny window; ranking the full vocab with a global
    # row_number would single-partition-sort millions of terms at 100 TB
    top = tf.orderBy(F.desc("f"), F.asc("term")).limit(200)
    ranked = top.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.desc("f"), F.asc("term"))),
    )
    pts = ranked.select(
        F.floor(F.log(F.col("r").cast("double")) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("lr"),
        F.floor(F.log(F.col("f").cast("double")) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("lf"),
    )
    lr = F.col("lr").cast(DEC38)
    lf = F.col("lf").cast(DEC38)
    stats = pts.agg(
        F.count("*").cast(DEC38).alias("n"),
        F.sum(lr).alias("sx"),
        F.sum(lf).alias("sy"),
        F.sum(lr * lf).alias("sxy"),
        F.sum(lr * lr).alias("sxx"),
    )
    return stats.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
            6,
        ).alias("zipf_slope"),
    )


@register(
    "docs_readability_scores",
    sql="""
    WITH c AS (
        SELECT lang,
               len(regexp_split_to_array(trim(text), '\\s+')) AS w,
               greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
               len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[aeiouy]+')) AS y
        FROM documents
    ),
    agg AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(w) AS BIGINT) AS sw,
               CAST(sum(s) AS BIGINT) AS ss,
               CAST(sum(y) AS BIGINT) AS sy
        FROM c GROUP BY lang
    )
    SELECT lang, n_docs,
           ROUND(CAST(sw AS DOUBLE) / ss, 4) AS words_per_sentence,
           ROUND(CAST(sy AS DOUBLE) / sw, 4) AS syllables_per_word,
           ROUND(206.835 - 1.015 * (CAST(sw AS DOUBLE) / ss)
                 - 84.6 * (CAST(sy AS DOUBLE) / sw), 4) AS flesch_score
    FROM agg ORDER BY lang
    """,
    doc="Flesch reading-ease per language: words/sentence and "
    "syllables/word from regex counts (sentences = runs of [.!?], "
    "syllables ≈ vowel-group runs — the standard dictionary-free "
    "heuristic), aggregated as exact integer sums so the corpus-level "
    "ratios are bit-identical across engines. Extends the "
    "`docs_quality_scores` family with the readability axis every "
    "training-data quality pipeline filters on. All counts are one "
    "projection — no explode, no shuffle beyond the ~|langs| rollup.",
    tags=("text", "quality", "profile"),
)
def docs_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    c = d.select(
        "lang",
        F.size(T.tokens(F.col("text"))).alias("w"),
        F.greatest(
            F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
        ).alias("s"),
        F.regexp_count(T.ascii_lower(F.col("text")), F.lit(r"[aeiouy]+")).alias(
            "y"
        ),
    )
    agg = c.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum("s").cast("bigint").alias("ss"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    wps = F.col("sw").cast("double") / F.col("ss")
    spw = F.col("sy").cast("double") / F.col("sw")
    return agg.select(
        "lang",
        "n_docs",
        F.round(wps, 4).alias("words_per_sentence"),
        F.round(spw, 4).alias("syllables_per_word"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch_score"),
    ).orderBy("lang")


@register(
    "events_user_gini",
    sql="""
    WITH per_user AS (
        SELECT user_id, count(*) AS c FROM events GROUP BY 1
    ),
    grouped AS (
        SELECT c, CAST(count(*) AS HUGEINT) AS m FROM per_user GROUP BY c
    ),
    cum AS (
        SELECT c, m,
               COALESCE(sum(m) OVER (ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS b
        FROM grouped
    ),
    s AS (
        SELECT sum(m) AS n,
               sum(CAST(c AS HUGEINT) * m) AS t,
               sum(CAST(c AS HUGEINT) * (m * b * 2 + m * (m + 1))) AS s2
        FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(t AS BIGINT) AS total_events,
           ROUND(CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE), 6) AS gini
    FROM s
    """,
    doc="Gini coefficient of per-user event-count concentration — the "
    "skew diagnostic that tells you whether a handful of hot keys carry "
    "the table (feeds the salting decision that "
    "`events_salted_type_stats` demonstrates). Computed from GROUPED "
    "frequencies: ranking n users directly would global-sort |users| "
    "rows, but the count-of-counts table is tiny (|distinct activity "
    "levels|), and the tied-rank sum Σ c·(2mB + m(m+1)) over it is "
    "algebraically identical to Σ rankᵢ·xᵢ over the sorted users (ranks "
    "within a tie block sum in closed form). G = 2Σrx/(nT) − (n+1)/n. All "
    "sufficient statistics are exact HUGEINT/DECIMAL38 integers; one "
    "float division at the end. Two shuffles total (user count, "
    "count-of-counts), both map-side-combined.",
    tags=("stats", "profile", "skew"),
)
def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    grouped = per_user.groupBy("c").agg(F.count("*").cast(DEC38).alias("m"))
    w = (
        Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grouped.select(
        "c",
        "m",
        F.coalesce(F.sum("m").over(w), F.lit(0).cast(DEC38)).alias("b"),
    )
    cd = F.col("c").cast(DEC38)
    s = cum.agg(
        F.sum("m").alias("n"),
        F.sum(cd * F.col("m")).alias("t"),
        F.sum(
            cd * (F.col("m") * F.col("b") * 2 + F.col("m") * (F.col("m") + 1))
        ).alias("s2"),
    )
    nd = F.col("n").cast("double")
    td = F.col("t").cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("t").cast("bigint").alias("total_events"),
        F.round(
            F.col("s2").cast("double") / (nd * td) - (nd + 1) / nd, 6
        ).alias("gini"),
    )


@register(
    "brand_price_welch_t",
    sql="""
    WITH u AS (
        SELECT p_brand,
               CAST(floor(p_retailprice * 100 + 0.5) AS HUGEINT) AS cents
        FROM part WHERE p_brand IN ('BRAND_1', 'BRAND_2')
    ),
    m AS (
        SELECT p_brand,
               CAST(count(*) AS HUGEINT) AS n,
               sum(cents) AS s,
               sum(cents * cents) AS ss
        FROM u GROUP BY 1
    ),
    w AS (
        SELECT a.n AS na, a.s AS sa, a.ss AS ssa,
               b.n AS nb, b.s AS sb, b.ss AS ssb
        FROM m a JOIN m b
          ON a.p_brand = 'BRAND_1' AND b.p_brand = 'BRAND_2'
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ROUND((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0,
                 6) AS mean_diff,
           ROUND((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
                 / sqrt(
                     (CAST(na * ssa - sa * sa AS DOUBLE)
                      / CAST(na AS DOUBLE) / CAST(na - 1 AS DOUBLE))
                     / CAST(na AS DOUBLE)
                     + (CAST(nb * ssb - sb * sb AS DOUBLE)
                        / CAST(nb AS DOUBLE) / CAST(nb - 1 AS DOUBLE))
                     / CAST(nb AS DOUBLE)
                 ), 6) AS welch_t
    FROM w
    """,
    doc="Welch's unequal-variance t statistic comparing mean retail price "
    "between two brands — the means-based sibling of the two-proportion "
    "z-test (`events_ab_conversion_z`), closing the basic A/B toolkit. "
    "Sufficient statistics (n, Σx, Σx² in integer cents) aggregate in ONE "
    "pass over the filtered scan; sample variances and the t statistic "
    "derive closed-form from exact HUGEINT/DECIMAL38 integers, so the "
    "doubles are bit-identical across engines before ROUND. The brand "
    "filter pushes into the parquet scan; the final join is two 1-row "
    "aggregates.",
    tags=("stats", "inference", "ab-test"),
)
def brand_price_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    u = p.filter(F.col("p_brand").isin("BRAND_1", "BRAND_2")).select(
        "p_brand", decimal_units(F.col("p_retailprice"), 100).alias("cents")
    )
    cd = F.col("cents").cast(DEC38)
    m = u.groupBy("p_brand").agg(
        F.count("*").cast(DEC38).alias("n"),
        F.sum(cd).alias("s"),
        F.sum(cd * cd).alias("ss"),
    )
    a = m.filter(F.col("p_brand") == "BRAND_1").select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = m.filter(F.col("p_brand") == "BRAND_2").select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    w = a.crossJoin(b)
    mean_a = F.col("sa").cast("double") / F.col("na").cast("double")
    mean_b = F.col("sb").cast("double") / F.col("nb").cast("double")
    var_a = (
        (F.col("na") * F.col("ssa") - F.col("sa") * F.col("sa")).cast("double")
        / F.col("na").cast("double")
        / (F.col("na") - 1).cast("double")
    )
    var_b = (
        (F.col("nb") * F.col("ssb") - F.col("sb") * F.col("sb")).cast("double")
        / F.col("nb").cast("double")
        / (F.col("nb") - 1).cast("double")
    )
    t = (mean_a - mean_b) / F.sqrt(
        var_a / F.col("na").cast("double") + var_b / F.col("nb").cast("double")
    )
    return w.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round((mean_a - mean_b) / 100.0, 6).alias("mean_diff"),
        F.round(t, 6).alias("welch_t"),
    )


#: JSD vocabulary: the global top-K terms (smoothing-free — every selected
#: term must appear in the global vocabulary; per-source zero counts are
#: handled by the 0·ln0 = 0 convention term-wise).
_JSD_TOP = 100


@register(
    "docs_cross_source_jsd",
    sql=f"""
    WITH tok AS (
        SELECT source,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    top_terms AS (
        SELECT term FROM (
            SELECT term, count(*) AS f FROM tok GROUP BY term
            ORDER BY f DESC, term LIMIT {_JSD_TOP}
        )
    ),
    cell AS (
        SELECT t.source, t.term, count(*) AS c
        FROM tok t JOIN top_terms USING (term)
        GROUP BY 1, 2
    ),
    tot AS (SELECT source, sum(c) AS n FROM cell GROUP BY source),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b,
               ta.n AS n_a, tb.n AS n_b
        FROM (SELECT source FROM tot) a
        JOIN (SELECT source FROM tot) b ON a.source < b.source
        JOIN top_terms t ON TRUE
        JOIN tot ta ON ta.source = a.source
        JOIN tot tb ON tb.source = b.source
        LEFT JOIN cell ca ON ca.source = a.source AND ca.term = t.term
        LEFT JOIN cell cb ON cb.source = b.source AND cb.term = t.term
    ),
    terms AS (
        SELECT source_a, source_b,
               CAST(floor((
                   CASE WHEN c_a > 0 THEN 0.5 * (CAST(c_a AS DOUBLE) / n_a)
                        * ln((CAST(c_a AS DOUBLE) / n_a)
                             / (0.5 * CAST(c_a AS DOUBLE) / n_a
                                + 0.5 * CAST(c_b AS DOUBLE) / n_b))
                        ELSE 0 END
                   + CASE WHEN c_b > 0 THEN 0.5 * (CAST(c_b AS DOUBLE) / n_b)
                        * ln((CAST(c_b AS DOUBLE) / n_b)
                             / (0.5 * CAST(c_a AS DOUBLE) / n_a
                                + 0.5 * CAST(c_b AS DOUBLE) / n_b))
                        ELSE 0 END
               ) * 1000000000 + 0.5) AS BIGINT) AS t_nano
        FROM pairs
    )
    SELECT source_a, source_b,
           {sql_half_up_div('sum(t_nano)', 10**9, 6)} AS jsd_nats
    FROM terms GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Pairwise Jensen–Shannon divergence between per-source unigram "
    "distributions over the global top-100 terms — the symmetric, bounded "
    "corpus-mixture distance used to decide whether two sources are "
    "interchangeable in a training mix (0 = identical, ln2 = disjoint). "
    "Distributions come from exact integer counts on the tiny "
    "|sources|×100 grid; each pair-term's transcendental contribution "
    "floor-quantizes to integer NANO-nats before the cross-term sum (JSD "
    "terms are tiny, so nano beats the usual micro resolution), making "
    "the statistic bit-identical across engines. The only raw-data work "
    "is one tokenization pass + the top-K TakeOrdered; everything "
    "pairwise runs on broadcast-sized frames.",
    tags=("text", "stats", "drift"),
)
def docs_cross_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count("*").alias("f"))
    top_terms = (
        tf.orderBy(F.desc("f"), F.asc("term")).limit(_JSD_TOP).select("term")
    )
    cell = (
        tok.join(F.broadcast(top_terms), "term")
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    cell = cell.persist()
    tot = cell.groupBy("source").agg(F.sum("c").alias("n"))
    a = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    b = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    grid = (
        a.join(b, F.col("source_a") < F.col("source_b"))
        .crossJoin(F.broadcast(top_terms))
    )
    ca = cell.select(
        F.col("source").alias("source_a"),
        F.col("term"),
        F.col("c").alias("c_a"),
    )
    cb = cell.select(
        F.col("source").alias("source_b"),
        F.col("term"),
        F.col("c").alias("c_b"),
    )
    pairs = (
        grid.join(ca, ["source_a", "term"], "left")
        .join(cb, ["source_b", "term"], "left")
        .fillna({"c_a": 0, "c_b": 0})
    )
    pa = F.col("c_a").cast("double") / F.col("n_a")
    pb = F.col("c_b").cast("double") / F.col("n_b")
    mid = 0.5 * pa + 0.5 * pb
    term_val = F.when(F.col("c_a") > 0, 0.5 * pa * F.log(pa / mid)).otherwise(
        0.0
    ) + F.when(F.col("c_b") > 0, 0.5 * pb * F.log(pb / mid)).otherwise(0.0)
    t_nano = F.floor(term_val * 1000000000 + F.lit(0.5)).cast("bigint")
    return (
        pairs.select("source_a", "source_b", t_nano.alias("t_nano"))
        .groupBy("source_a", "source_b")
        .agg(half_up_div(F.sum("t_nano"), 10**9, 6).alias("jsd_nats"))
        .orderBy("source_a", "source_b")
    )


@register(
    "events_did_purchase_rate",
    sql="""
    WITH s AS (
        SELECT
          CAST(sum(CASE WHEN user_id % 2 = 0
                         AND ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END) AS BIGINT) AS t_pre_n,
          CAST(sum(CASE WHEN user_id % 2 = 0
                         AND ts < TIMESTAMP '2024-01-16'
                         AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS t_pre_p,
          CAST(sum(CASE WHEN user_id % 2 = 0
                         AND ts >= TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END) AS BIGINT) AS t_post_n,
          CAST(sum(CASE WHEN user_id % 2 = 0
                         AND ts >= TIMESTAMP '2024-01-16'
                         AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS t_post_p,
          CAST(sum(CASE WHEN user_id % 2 = 1
                         AND ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END) AS BIGINT) AS c_pre_n,
          CAST(sum(CASE WHEN user_id % 2 = 1
                         AND ts < TIMESTAMP '2024-01-16'
                         AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS c_pre_p,
          CAST(sum(CASE WHEN user_id % 2 = 1
                         AND ts >= TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END) AS BIGINT) AS c_post_n,
          CAST(sum(CASE WHEN user_id % 2 = 1
                         AND ts >= TIMESTAMP '2024-01-16'
                         AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS c_post_p
        FROM events
    )
    SELECT t_pre_n, t_pre_p, t_post_n, t_post_p,
           c_pre_n, c_pre_p, c_post_n, c_post_p,
           CASE WHEN t_pre_n > 0 AND t_post_n > 0
                 AND c_pre_n > 0 AND c_post_n > 0
                THEN ROUND(
                  ((t_post_p * 1.0 / t_post_n) - (t_pre_p * 1.0 / t_pre_n))
                  - ((c_post_p * 1.0 / c_post_n) - (c_pre_p * 1.0 / c_pre_n)),
                  6)
           END AS did_estimate
    FROM s
    """,
    doc="Difference-in-differences — the causal-inference panel estimator "
    "(the A/B z-test's observational cousin: when assignment isn't "
    "randomized, difference out the group-level baseline and the "
    "period-level shock). Cells: treatment proxy = even user_id, period "
    "split at the month's midpoint, outcome = purchase share of events. "
    "One scan, eight conditional integer aggregates (map-side combined, "
    "one 1-row reduce — nothing about the shape changes at 100 TB); the "
    "estimate is four exact-integer ratios composed in a parenthesization "
    "mirrored token-for-token in the oracle, so the final double is "
    "bit-identical. NULL (not a crash, not a fake 0) when any cell is "
    "empty — the estimator is undefined without all four panels.",
    tags=("causal", "stats", "agg"),
)
def events_did_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    treat = F.col("user_id") % 2 == 0
    pre = F.col("ts") < "2024-01-16"
    purch = F.col("event_type") == "purchase"

    def cell(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    s = ev.agg(
        cell(treat & pre, "t_pre_n"),
        cell(treat & pre & purch, "t_pre_p"),
        cell(treat & ~pre, "t_post_n"),
        cell(treat & ~pre & purch, "t_post_p"),
        cell(~treat & pre, "c_pre_n"),
        cell(~treat & pre & purch, "c_pre_p"),
        cell(~treat & ~pre, "c_post_n"),
        cell(~treat & ~pre & purch, "c_post_p"),
    )
    rate = lambda p, n: F.col(p).cast("double") / F.col(n)
    return s.select(
        "t_pre_n", "t_pre_p", "t_post_n", "t_post_p",
        "c_pre_n", "c_pre_p", "c_post_n", "c_post_p",
        F.when(
            (F.col("t_pre_n") > 0) & (F.col("t_post_n") > 0)
            & (F.col("c_pre_n") > 0) & (F.col("c_post_n") > 0),
            F.round(
                (rate("t_post_p", "t_post_n") - rate("t_pre_p", "t_pre_n"))
                - (rate("c_post_p", "c_post_n") - rate("c_pre_p", "c_pre_n")),
                6,
            ),
        ).alias("did_estimate"),
    )


@register(
    "events_ks_two_sample",
    sql="""
    WITH s AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        FROM events
        WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ),
    cells AS (
        SELECT cents,
               CAST(sum(g) AS HUGEINT) AS c1,
               CAST(count(*) - sum(g) AS HUGEINT) AS c2
        FROM s GROUP BY 1
    ),
    cum AS (
        SELECT sum(c1) OVER (ORDER BY cents) AS f1,
               sum(c2) OVER (ORDER BY cents) AS f2,
               sum(c1) OVER () AS n1,
               sum(c2) OVER () AS n2
        FROM cells
    )
    SELECT CAST(max(n1) AS BIGINT) AS n1,
           CAST(max(n2) AS BIGINT) AS n2,
           CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_numer,
           ROUND(CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)
                 / (CAST(max(n1) AS DOUBLE) * CAST(max(n2) AS DOUBLE)),
                 6) AS ks_d
    FROM cum
    """,
    doc="Exact two-sample Kolmogorov-Smirnov statistic comparing the "
    "`value` distribution of purchase vs click events — the "
    "distribution-shift detector behind data-drift monitors (the "
    "nonparametric sibling of `docs_length_drift_psi`, which needs "
    "pre-chosen bins; KS needs none). The empirical CDFs never "
    "materialize per-row: values snap to integer cents, collapse to a "
    "count-of-values table (bounded by the price grid, NOT by row count "
    "— 17.8k cells at sf0.1 and saturating, the `events_user_gini` "
    "grouped-frequency device), and the sup-distance runs as ONE "
    "cumulative window over that table. D stays an exact integer "
    "numerator |F1*n2 - F2*n1| (HUGEINT/DECIMAL38) until the final "
    "division, so the statistic is bit-reproducible across engines and "
    "partition counts. At cluster scale the ordered window over the "
    "saturating cell table is a single-reducer step over ~1e5 rows — "
    "negligible next to the map-side-combined cell build.",
    tags=("stats", "inference", "drift"),
)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    ).select(
        decimal_units(F.col("value"), 100).alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
    )
    cells = s.groupBy("cents").agg(
        F.sum("g").cast(DEC38).alias("c1"),
        (F.count("*") - F.sum("g")).cast(DEC38).alias("c2"),
    )
    w = Window.orderBy("cents")
    wall = Window.partitionBy()
    cum = cells.select(
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    d = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    return cum.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.max(d).cast("bigint").alias("d_numer"),
        F.round(
            F.max(d).cast("double")
            / (
                F.max("n1").cast("double")
                * F.max("n2").cast("double")
            ),
            6,
        ).alias("ks_d"),
    )


@register(
    "events_mannwhitney_u",
    sql="""
    WITH s AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        FROM events
        WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ),
    cells AS (
        SELECT cents,
               CAST(sum(g) AS HUGEINT) AS c1,
               CAST(count(*) - sum(g) AS HUGEINT) AS c2,
               CAST(count(*) AS HUGEINT) AS m
        FROM s GROUP BY 1
    ),
    cum AS (
        SELECT c1, c2, m,
               COALESCE(sum(m) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS b
        FROM cells
    ),
    agg AS (
        SELECT sum(c1) AS n1,
               sum(c2) AS n2,
               sum(c1 * (2 * b + m + 1)) AS two_r1,
               sum(m * m * m - m) AS ties
        FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(two_r1 - n1 * (n1 + 1) AS BIGINT) AS two_u1,
           ROUND((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE)
                  - CAST(n1 * n2 AS DOUBLE))
                 / (2 * sqrt(
                     CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                     * (CAST(n1 + n2 + 1 AS DOUBLE)
                        - CAST(ties AS DOUBLE)
                          / (CAST(n1 + n2 AS DOUBLE)
                             * CAST(n1 + n2 - 1 AS DOUBLE))))),
                 6) AS mw_z
    FROM agg
    """,
    doc="Mann-Whitney U rank-sum test (purchase vs click `value`) with "
    "full tie correction — the median-shift sibling of "
    "`brand_price_welch_t` (means) and `events_ks_two_sample` (whole "
    "CDF), completing the two-sample toolkit. No per-row ranking ever "
    "happens: ranks collapse onto the count-of-values table via the "
    "tied-rank closed form 2*R1 = SUM c1*(2b + m + 1) (b = count below "
    "the tie block, m = block size) — the same device "
    "`events_user_gini` uses, so the rank sum is exact integer "
    "arithmetic (DECIMAL38/HUGEINT) regardless of partitioning. The "
    "tie-corrected normal approximation sigma^2 = n1*n2/12 * ((n+1) - "
    "SUM(m^3-m)/(n(n-1))) derives from the same integers; one sqrt at "
    "the end on bit-identical doubles. Two map-side-combined shuffles "
    "(cell build, 1-row fold) plus a window over the saturating cell "
    "table.",
    tags=("stats", "inference", "ab-test"),
)
def events_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    ).select(
        decimal_units(F.col("value"), 100).alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
    )
    cells = s.groupBy("cents").agg(
        F.sum("g").cast(DEC38).alias("c1"),
        (F.count("*") - F.sum("g")).cast(DEC38).alias("c2"),
        F.count("*").cast(DEC38).alias("m"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.select(
        "c1",
        "c2",
        "m",
        F.coalesce(F.sum("m").over(w), F.lit(0).cast(DEC38)).alias("b"),
    )
    agg = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.col("c1") * (F.col("b") * 2 + F.col("m") + 1)
        ).alias("two_r1"),
        F.sum(
            F.col("m") * F.col("m") * F.col("m") - F.col("m")
        ).alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    two_u1 = F.col("two_r1") - n1 * (n1 + 1)
    n1d, n2d = n1.cast("double"), n2.cast("double")
    nd = (n1 + n2).cast("double")
    sigma = F.sqrt(
        n1d * n2d / 12.0
        * (
            (n1 + n2 + 1).cast("double")
            - F.col("ties").cast("double")
            / (nd * (n1 + n2 - 1).cast("double"))
        )
    )
    return agg.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        two_u1.cast("bigint").alias("two_u1"),
        F.round(
            (two_u1.cast("double") - (n1 * n2).cast("double")) / (2 * sigma),
            6,
        ).alias("mw_z"),
    )


@register(
    "nation_theilsen_trend",
    sql=f"""
    WITH pts AS (
        SELECT c.c_nationkey,
               (EXTRACT(year FROM o.o_orderdate) - 1992) * 12
                   + EXTRACT(month FROM o.o_orderdate) - 1 AS x,
               CAST(floor(o.o_totalprice * {MILLI} + 0.5) AS BIGINT) AS units
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_orderdate IS NOT NULL AND o.o_totalprice IS NOT NULL
    ),
    monthly AS (
        SELECT c_nationkey, x, CAST(sum(units) AS BIGINT) AS y
        FROM pts GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.c_nationkey,
               CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
        FROM monthly a
        JOIN monthly b
          ON a.c_nationkey = b.c_nationkey AND a.x < b.x
    ),
    ranked AS (
        SELECT c_nationkey, slope,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY slope) AS rn,
               count(*) OVER (PARTITION BY c_nationkey) AS np
        FROM slopes
    )
    SELECT n.n_name AS nation,
           CAST(max(r.np) AS BIGINT) AS n_pairs,
           ROUND(avg(r.slope) / {MILLI}, 6) AS theilsen_slope
    FROM ranked r JOIN nation n ON n.n_nationkey = r.c_nationkey
    WHERE r.rn IN ((r.np + 1) // 2, (r.np + 2) // 2)
    GROUP BY n.n_name
    ORDER BY nation
    """,
    doc="Theil-Sen robust trend of monthly order revenue per nation — the "
    "median of all pairwise month-to-month slopes, immune to the outlier "
    "months that bend `nation_monthly_ols_trend`'s least-squares line "
    "(breakdown point 29% vs 0%). The O(T^2) pair enumeration is safe "
    "BECAUSE it runs on the monthly rollup, never the raw rows: T is "
    "calendar-bounded (~84 months regardless of data scale), so the "
    "within-nation self-join emits <=T(T-1)/2 ~ 3.5k pairs per nation "
    "while the only data-sized work is the same revenue rollup OLS "
    "already pays. Each slope (y2-y1)/(x2-x1) divides exact integer "
    "milli-units by an integer gap, so the doubles are bit-identical "
    "across engines; the median picks the middle row_number(s) exactly "
    "(even count averages two doubles — commutative, still "
    "deterministic). Equal-slope ties permute row_numbers but never the "
    "selected VALUE.",
    tags=("stats", "regression", "robust"),
)
def nation_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()  # null-fuzz: rank/window measures must be non-null
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pts = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey",
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12
            + F.month("o_orderdate")
            - 1
        ).alias("x"),
        decimal_units(F.col("o_totalprice"), MILLI).alias("units"),
    )
    monthly = (
        pts.groupBy("c_nationkey", "x")
        .agg(F.sum("units").cast("bigint").alias("y"))
        # both self-join sides read this ≤|nation|×|months|-row rollup; the
        # persist pins reuse structurally so the fact scan never re-executes
        # (AQE ReuseExchange fires here too, but only at runtime)
        .persist()
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    slopes = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.c_nationkey").alias("c_nationkey"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x"))
        ).alias("slope"),
    )
    wn = Window.partitionBy("c_nationkey")
    ranked = slopes.select(
        "c_nationkey",
        "slope",
        F.row_number().over(wn.orderBy("slope")).alias("rn"),
        F.count("*").over(wn).alias("np"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("np") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("np") + 2) / 2))
    )
    return (
        mid.join(n, mid.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("np").cast("bigint").alias("n_pairs"),
            F.round(F.avg("slope") / MILLI, 6).alias("theilsen_slope"),
        )
        .orderBy("nation")
    )


@register(
    "lineitem_returnflag_anova",
    sql="""
    WITH u AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT) AS cents
        FROM lineitem
    ),
    g AS (
        SELECT l_returnflag,
               CAST(count(*) AS HUGEINT) AS n,
               sum(cents) AS s,
               sum(cents * cents) AS ss
        FROM u GROUP BY 1
    ),
    q AS (
        SELECT n, s, ss,
               CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE) + 0.5) AS HUGEINT) AS sq
        FROM g
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               sum(n) AS n_tot, sum(s) AS s_tot, sum(ss) AS ss_tot,
               CAST(sum(sq) AS DOUBLE) AS sq_over_n
        FROM q
    )
    SELECT k AS n_groups,
           CAST(n_tot AS BIGINT) AS n_rows,
           ROUND(((sq_over_n
                   - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                     / CAST(n_tot AS DOUBLE)) / (k - 1))
                 / ((CAST(ss_tot AS DOUBLE) - sq_over_n)
                    / CAST(n_tot - k AS DOUBLE)),
                 6) AS f_stat
    FROM tot
    """,
    doc="One-way ANOVA F statistic for mean extended price across return "
    "flags — the k-group member of the inference toolkit "
    "(`brand_price_welch_t` compares 2 means, `events_mannwhitney_u` 2 "
    "medians, `events_chi2_type_dow` 2 categoricals). Between/within sum "
    "of squares derive from per-group (n, SUMx, SUMx^2) integer-cent "
    "sufficient statistics in ONE pass with map-side combine — the "
    "textbook SSB = SUM s_g^2/n_g - S^2/N identity, so no group mean is "
    "ever subtracted row-wise (the float-order trap). The only "
    "non-integer intermediate, SUM s_g^2/n_g, folds over the k-row group "
    "table in a deterministic single-partition aggregate; all inputs to "
    "it are exact integers, so the doubles are bit-identical across "
    "engines. Shuffle carries k rows.",
    tags=("stats", "inference", "anova"),
)
def lineitem_returnflag_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # the sufficient statistics ride the scan as LONGs, not DEC38: Spark's
    # Decimal leaves its compact-long representation above precision 18,
    # so sum(dec38 * dec38) pays a BigDecimal multiply+add PER ROW (the
    # r13 full-catalog sweep read a 22x slope on it; the long split
    # measured 10x less marginal in tools/ab_wave_e.py). cents < 2^24 by
    # the fixed-decimal contract, so cents^2 < 2^48 splits exactly into
    # (hi = c^2 >> 24, lo = c^2 & (2^24 - 1)); per-group long sums stay
    # exact below 2^39 rows/group — above the 100 TB per-returnflag count
    # — and the k-row group table reconstructs the exact decimals.
    cents = decimal_units(F.col("l_extendedprice"), 100)
    c2 = cents * cents
    u = li.select(
        "l_returnflag",
        cents.alias("cents"),
        F.shiftright(c2, 24).alias("hi"),
        c2.bitwiseAND(F.lit((1 << 24) - 1)).alias("lo"),
    )
    g0 = u.groupBy("l_returnflag").agg(
        F.count("*").alias("n_l"),
        F.sum("cents").alias("s_l"),
        F.sum("hi").alias("ss_hi"),
        F.sum("lo").alias("ss_lo"),
    )
    g = g0.select(
        F.col("n_l").cast(DEC38).alias("n"),
        F.col("s_l").cast(DEC38).alias("s"),
        (
            F.col("ss_hi").cast(DEC38) * F.lit(1 << 24).cast(DEC38)
            + F.col("ss_lo").cast(DEC38)
        ).alias("ss"),
    )
    # s_g^2/n_g is the one non-integer term: a raw double sum over groups
    # would accumulate in shuffle order (the float-order trap), so each
    # term floor-quantizes to whole integer units PER GROUP (deterministic
    # double from exact integers) and the cross-group sum is integer
    q = g.select(
        "n",
        "s",
        "ss",
        F.floor(
            F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n").cast("double")
            + F.lit(0.5)
        )
        .cast(DEC38)
        .alias("sq"),
    )
    tot = q.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum("ss").alias("ss_tot"),
        F.sum("sq").cast("double").alias("sq_over_n"),
    )
    k = F.col("k")
    ssb = (
        F.col("sq_over_n")
        - F.col("s_tot").cast("double")
        * F.col("s_tot").cast("double")
        / F.col("n_tot").cast("double")
    )
    ssw = F.col("ss_tot").cast("double") - F.col("sq_over_n")
    return tot.select(
        k.alias("n_groups"),
        F.col("n_tot").cast("bigint").alias("n_rows"),
        F.round(
            (ssb / (k - 1))
            / (ssw / (F.col("n_tot") - F.col("k")).cast("double")),
            6,
        ).alias("f_stat"),
    )


@register(
    "lineitem_weighted_median_price",
    sql="""
    WITH u AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    cells AS (
        SELECT l_returnflag, cents,
               CAST(sum(w) AS HUGEINT) AS w,
               CAST(count(*) AS BIGINT) AS n
        FROM u GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_returnflag, cents, n,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM cells
    )
    SELECT l_returnflag,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(max(tw) AS BIGINT) AS total_weight,
           ROUND(min(CASE WHEN cw * 2 >= tw THEN cents END) / 100.0, 2)
               AS weighted_median_price
    FROM cum
    GROUP BY l_returnflag
    """,
    doc="Quantity-weighted median extended price per return flag — the "
    "weighted-quantile operator (inventory-weighted 'typical price', "
    "resource-weighted latency SLOs): the smallest price whose cumulative "
    "weight reaches half the total. Prices collapse to the grouped "
    "(flag, cents) cell table with integer quantity weights summed "
    "map-side, cumulative weight runs per flag, and the median picks "
    "min(cents | 2*cum >= total) with pure integer comparisons (2x "
    "sidesteps the half-total division). Unlike the KS/Mann-Whitney "
    "value grid, the PRICE grid is wide (~1e7 cents), so the cell table "
    "tracks row count rather than saturating — which is why this query "
    "runs its cumulative weight through the TWO-PASS parallel scan "
    "(operators/prefix.py partitioned_cumsum, grouped variant): no task "
    "ever windows a whole flag's cell table, so the plan survives a "
    "price grid that grows with the data. Equivalence with the "
    "single-reducer window is property-tested in test_properties.py and "
    "plan-asserted in test_plan_quality.py; integer weights make the "
    "result exact at any partitioning either way.",
    tags=("stats", "quantile", "weighted"),
)
def lineitem_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.prefix import (
        partitioned_cumsum,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        # a price median has no place for rows with unknown price/weight,
        # and NULL order keys would cumsum in engine-specific NULL order
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    u = li.select(
        "l_returnflag",
        decimal_units(F.col("l_extendedprice"), 100).alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    # persist pins the cell table so the scan's three consumers (range
    # bounds, per-bucket totals, the bucketed join) share one fact scan
    cells = u.groupBy("l_returnflag", "cents").agg(
        F.sum("w").cast(DEC38).alias("w"),
        F.count("*").cast("bigint").alias("n"),
    ).persist()
    cum = partitioned_cumsum(
        cells,
        order_col="cents",
        value_col="w",
        partition_cols=["l_returnflag"],
        out_col="cw",
    )
    totals = cells.groupBy("l_returnflag").agg(
        F.sum("w").alias("tw")
    )
    # null-safe: the NULL-flag group is a real group (null-fuzz)
    tot = totals.select(
        F.col("l_returnflag").alias("_tf"), "tw"
    )
    return (
        cum.join(
            F.broadcast(tot), F.col("l_returnflag").eqNullSafe(F.col("_tf"))
        )
        .drop("_tf")
        .groupBy("l_returnflag")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.max("tw").cast("bigint").alias("total_weight"),
            F.round(
                F.min(
                    F.when(F.col("cw") * 2 >= F.col("tw"), F.col("cents"))
                )
                / 100.0,
                2,
            ).alias("weighted_median_price"),
        )
    )


@register(
    "events_cmh_stratified",
    sql=f"""
    WITH cell AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN user_id % 2 = 0
                             AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN user_id % 2 = 0
                             AND event_type != 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(sum(CASE WHEN user_id % 2 = 1
                             AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(sum(CASE WHEN user_id % 2 = 1
                             AND event_type != 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM events GROUP BY 1
    ),
    terms AS (
        SELECT CAST(floor((a - CAST((a + b) AS DOUBLE) * (a + c)
                               / (a + b + c + d)) * 1000000 + 0.5)
                    AS BIGINT) AS dev_micro,
               CAST(floor(CAST((a + b) AS DOUBLE) * (c + d) * (a + c)
                          * (b + d)
                          / (CAST((a + b + c + d) AS DOUBLE)
                             * (a + b + c + d) * (a + b + c + d - 1))
                          * 1000000 + 0.5) AS BIGINT) AS var_micro,
               CAST(floor(CAST(a AS DOUBLE) * d / (a + b + c + d)
                          * 1000000 + 0.5) AS BIGINT) AS ad_micro,
               CAST(floor(CAST(b AS DOUBLE) * c / (a + b + c + d)
                          * 1000000 + 0.5) AS BIGINT) AS bc_micro
        FROM cell
        WHERE a + b + c + d >= 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           {sql_half_up_ratio(
               'CAST(sum(dev_micro) AS HUGEINT)'
               ' * CAST(sum(dev_micro) AS HUGEINT)',
               '1000000 * CAST(sum(var_micro) AS HUGEINT)', 6)} AS cmh_chi2,
           {sql_half_up_ratio('sum(ad_micro)', 'sum(bc_micro)', 6)}
               AS mh_odds_ratio
    FROM terms
    """,
    doc="Cochran-Mantel-Haenszel test and Mantel-Haenszel common odds "
    "ratio for exposure (user parity) vs purchase, STRATIFIED by day — "
    "the confounder-adjusted A/B analysis the pooled two-proportion "
    "z-test (`events_ab_conversion_z`) cannot do: pooling across days "
    "invites Simpson's paradox when traffic mix shifts; CMH pools the "
    "per-day 2x2 evidence instead. Per-stratum deviations a_k - E_k, "
    "variances, and the a_k d_k/n_k odds terms are deterministic "
    "doubles from exact integer cell counts, floor-quantized to "
    "micro-units per stratum and integer-summed (the chi2/PMI device — "
    "raw double sums across shuffle-ordered strata would be "
    "order-dependent). One data-sized groupBy to |days| rows; "
    "everything after is metadata.",
    tags=("stats", "inference", "ab-test"),
)
def events_cmh_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exposed = F.col("user_id") % 2 == 0
    purch = F.col("event_type") == "purchase"

    def cnt(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    cell = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        cnt(exposed & purch, "a"),
        cnt(exposed & ~purch, "b"),
        cnt(~exposed & purch, "c"),
        cnt(~exposed & ~purch, "d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = a + b + c + d
    nd = n.cast("double")

    def micro(x):
        return F.floor(x * 1000000 + F.lit(0.5)).cast("bigint")

    terms = cell.filter(n >= 2).select(
        micro(a - (a + b).cast("double") * (a + c) / n).alias("dev_micro"),
        micro(
            (a + b).cast("double") * (c + d) * (a + c) * (b + d)
            / (nd * n * (n - 1))
        ).alias("var_micro"),
        micro(a.cast("double") * d / n).alias("ad_micro"),
        micro(b.cast("double") * c / n).alias("bc_micro"),
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        half_up_ratio(
            F.sum("dev_micro").cast("decimal(38,0)")
            * F.sum("dev_micro").cast("decimal(38,0)"),
            F.lit(1000000).cast("decimal(38,0)") * F.sum("var_micro"),
            6,
        ).alias("cmh_chi2"),
        half_up_ratio(
            F.sum("ad_micro"), F.sum("bc_micro"), 6
        ).alias("mh_odds_ratio"),
    )


# --- in-engine model training: logistic regression by full-batch GD --------

_GLM_ITERS = 3


def _logreg_iter_sql(t: int) -> str:
    prev = f"b{t - 1}"
    sig = (
        f"1/(1+exp(-({prev}.b0/1000000.0 + {prev}.b1/1000000.0 * x)))"
    )
    return f"""
g{t} AS (
  SELECT CAST(sum(CAST(floor((y - {sig})*1000000 + 0.5) AS BIGINT))
              AS BIGINT) AS g0,
         CAST(sum(CAST(floor((y - {sig})*x*1000000 + 0.5) AS BIGINT))
              AS BIGINT) AS g1,
         CAST(count(*) AS BIGINT) AS n
  FROM pts CROSS JOIN {prev}
),
b{t} AS (
  SELECT {prev}.b0 + CAST(floor(CAST(g0 AS DOUBLE)/n + 0.5) AS BIGINT) AS b0,
         {prev}.b1 + CAST(floor(CAST(g1 AS DOUBLE)/n + 0.5) AS BIGINT) AS b1
  FROM g{t}, {prev}
)"""


def _logreg_oracle_sql(iters: int) -> str:
    head = """WITH pts AS (
  SELECT CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS y,
         value/100.0 AS x
  FROM events WHERE value IS NOT NULL
),
b0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1)"""
    body = head + "," + ",".join(_logreg_iter_sql(t) for t in range(1, iters + 1))
    union = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS iter, b{t}.b0 AS beta0_micro,"
        f" b{t}.b1 AS beta1_micro, g{t}.g0 AS grad0_micro,"
        f" g{t}.g1 AS grad1_micro FROM b{t}, g{t}"
        for t in range(1, iters + 1)
    )
    return f"{body}\n{union} ORDER BY iter"


@register(
    "events_logreg_purchase_gd",
    sql=_logreg_oracle_sql(_GLM_ITERS),
    doc="In-engine model training: logistic regression (is-purchase on the "
    "scaled event value) by 3 unrolled full-batch gradient-descent "
    "iterations — the distributed GLM/quality-classifier training "
    "primitive of a data pipeline, done relationally. Determinism "
    "discipline: coefficients live in integer MICRO-units between "
    "iterations; each row's gradient contribution is micro-quantized "
    "BEFORE the sum (order-independent integer adds — the same device as "
    "the entropy/KS/ANOVA queries), and the per-iteration update "
    "floor-quantizes the mean gradient, so every engine walks the "
    "identical integer coefficient path. Scale shape: one narrow "
    "scan + one 2-long-column aggregate per iteration (map-side "
    "combined); coefficients are driver-side literals per round exactly "
    "like the Lloyd/argmax collects — nothing iterates over rows in "
    "Python.",
    tags=("inference", "training", "iterative"),
)
def events_logreg_purchase_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pts = e.where(F.col("value").isNotNull()).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (F.col("value") / F.lit(100.0)).alias("x"),
    )
    import math

    b0m, b1m = 0, 0
    out: list[tuple[int, int, int, int, int]] = []
    for t in range(1, _GLM_ITERS + 1):
        p = 1 / (
            1 + F.exp(-(F.lit(b0m / 1e6) + F.lit(b1m / 1e6) * F.col("x")))
        )
        row = pts.agg(
            F.sum(F.floor((F.col("y") - p) * 1000000 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("g0"),
            F.sum(
                F.floor((F.col("y") - p) * F.col("x") * 1000000 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("g1"),
            F.count("*").cast("long").alias("n"),
        ).first()
        g0, g1, n = row["g0"], row["g1"], row["n"]
        if n == 0 or g0 is None or g1 is None:
            # Zero training rows: SUM over an empty frame is NULL, and the
            # oracle's b{t} = b{t-1} + floor(NULL/0) stays NULL for every
            # iteration — degrade to the same all-NULL coefficient path
            # instead of dividing None (catalog-wide empty-input contract).
            out = [(i, None, None, None, None) for i in range(1, _GLM_ITERS + 1)]
            break
        b0m += math.floor(g0 / n + 0.5)
        b1m += math.floor(g1 / n + 0.5)
        out.append((t, b0m, b1m, g0, g1))
    return local_frame(
        spark,
        out,
        schema="iter bigint, beta0_micro bigint, beta1_micro bigint, "
        "grad0_micro bigint, grad1_micro bigint",
    )


_TE_M = 20  # Bayesian smoothing pseudo-count toward the global prior


@register(
    "events_target_encoding_loo",
    sql=f"""
    WITH e AS (
        SELECT event_id, event_type,
               CASE WHEN value > 150 THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    c AS (
        SELECT event_type, count(*) AS cnt_c, sum(y) AS sum_c
        FROM e GROUP BY 1
    ),
    g AS (SELECT count(*) AS d, sum(y) AS s FROM e)
    SELECT e.event_id, e.event_type, CAST(e.y AS INT) AS y,
           {sql_half_up_ratio(
               f'CAST(g.d AS HUGEINT) * (c.sum_c - e.y)'
               f' + {_TE_M} * CAST(g.s AS HUGEINT)',
               f'CAST(g.d AS HUGEINT) * (c.cnt_c - 1 + {_TE_M})', 6)} AS te
    FROM e JOIN c USING (event_type) CROSS JOIN g
    """,
    doc="Leave-one-out target encoding with Bayesian smoothing — the "
    "standard high-cardinality categorical feature for tabular ML, in "
    "the leakage-free form (each row's own target is excluded from its "
    "category mean): te_i = (sum_c - y_i + m*prior) / (cnt_c - 1 + m), "
    "prior = global mean, m = 20. Multiplying through by the global "
    "count keeps numerator and denominator EXACT integers, so the "
    "encoding rounds through the half-away ratio device — no float "
    "division anywhere. Plan: one tiny per-category aggregate "
    "(broadcast-joined back) + one 1-row global aggregate (crossJoin); "
    "the fact table is scanned once and never shuffled — the same plan "
    "carries a 10^9-key category column at 100 TB because the joined "
    "side is |categories| rows.",
    tags=("ml", "features", "encoding"),
)
def events_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "event_id",
        "event_type",
        (F.col("value") > 150).cast("long").alias("y"),
    )
    c = e.groupBy("event_type").agg(
        F.count("*").alias("cnt_c"), F.sum("y").alias("sum_c")
    )
    g = e.agg(F.count("*").alias("d"), F.sum("y").alias("s"))
    # compose in decimal(38,0): d * sum_c is ~(corpus count)^2 — a LONG
    # product overflows (ANSI throw) past ~3e9 rows; the oracle twin
    # pre-casts the same operands to HUGEINT (round-10 advice #1)
    d38 = F.col("d").cast("decimal(38,0)")
    num = d38 * (F.col("sum_c") - F.col("y")) + _TE_M * F.col(
        "s"
    ).cast("decimal(38,0)")
    den = d38 * (F.col("cnt_c") - 1 + _TE_M)
    return (
        e.join(F.broadcast(c), "event_type")
        .crossJoin(F.broadcast(g))
        .select(
            "event_id",
            "event_type",
            F.col("y").cast("int").alias("y"),
            half_up_ratio(num, den, 6).alias("te"),
        )
    )
