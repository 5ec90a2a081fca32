"""Corpus search + incremental-maintenance queries: inverted index,
conjunctive keyword search, delta-maintained aggregates, weighted sampling.

Beyond-reference family (SURVEY.md §2.11). The scale designs:

- **Inverted index**: explode distinct tokens → one shuffle keyed on the
  token. Posting lists are emitted as a sorted-id digest, not the raw list,
  so the result stays O(vocabulary); production postings are additionally
  df-capped (stopword-class tokens devolve to a full-corpus scan and are
  better served by the quality-score path).
- **Keyword search**: conjunctive AND over k terms as ONE pass — explode,
  filter to the query terms (pushed to the scan), group by doc, keep docs
  matching all k distinct terms. No per-term self-joins: the classic
  rarest-first posting intersection is the low-level equivalent; the
  grouped form lets Catalyst do it with a single partial-aggregated
  shuffle.
- **Incremental aggregate maintenance**: a 100 TB daily rollup is never
  recomputed from scratch — the engine merges yesterday's materialized
  aggregate with today's delta partition (counts and integer-snapped sums
  are associative). The oracle recomputes from the full input, so the
  driver's hash-match IS the incremental == full-recompute proof.
- **Weighted sampling (Efraimidis–Spirakis)**: each row draws a
  deterministic uniform from the portable md5 hash and ranks by
  ``ln(u)/w`` — a distributed top-k (TakeOrdered, no global sort
  materialization). Reproducible across runs, partitionings, and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.scalars import (
    decimal_units,
    half_up_div,
    sql_exact_sum,
)
from data_engineering_project_spark.operators.text import (
    ascii_lower,
    normalized_tokens,
    sql_ascii_lower,
)
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table

#: oracle-side ASCII case fold of the text column (tokenizers must never
#: use unicode lower() — see operators/text.py:ascii_lower)
_LOW = sql_ascii_lower("text")

_SEARCH_TERMS = ("batch", "scan", "merge")
_SPLIT_TS = "2024-01-20"
_SAMPLE_K = 20


@register(
    "docs_inverted_postings",
    sql=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(
                   regexp_split_to_array({_LOW}, '[^a-z0-9]+'))) AS token
        FROM documents
    ),
    postings AS (
        SELECT token,
               count(*) AS df,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id)) AS posting_digest
        FROM toks WHERE token <> '' GROUP BY token
    )
    SELECT token, CAST(df AS BIGINT) AS df, posting_digest FROM postings
    """,
    doc="Inverted index build: token → document frequency + digest of the "
    "doc_id-sorted posting list. One shuffle keyed on the token; the "
    "digest keeps the result O(vocabulary) regardless of posting length.",
    tags=("search", "text", "aggregate"),
)
def docs_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(normalized_tokens(F.col("text")))
        ).alias("token"),
    ).filter(F.col("token") != "")
    return toks.groupBy("token").agg(
        F.count("*").alias("df"),
        F.md5(
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id"))).cast(
                    "array<string>"
                ),
                ",",
            )
        ).alias("posting_digest"),
    )


@register(
    "docs_keyword_search",
    sql=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array({_LOW}, '[^a-z0-9]+')) AS token
        FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS tf_score
    FROM toks
    WHERE token IN {_SEARCH_TERMS!r}
    GROUP BY doc_id
    HAVING count(DISTINCT token) = {len(_SEARCH_TERMS)}
    """,
    doc="Conjunctive keyword search (AND of all query terms) with a term-"
    "frequency score, as one exploded pass + grouped intersection — no "
    "per-term self-joins; the IN filter prunes before the shuffle.",
    tags=("search", "text", "filter"),
)
def docs_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(normalized_tokens(F.col("text"))).alias("token"),
    ).filter(F.col("token").isin(*_SEARCH_TERMS))
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count("*").alias("tf_score"),
            F.count_distinct(F.col("token")).alias("_k"),
        )
        .filter(F.col("_k") == len(_SEARCH_TERMS))
        .select("doc_id", "tf_score")
    )


_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_term_sql(term: str) -> tuple[str, str]:
    """(tf expression, df-count expression) for one query term — DuckDB
    restatement of the array-expression form (no explode on either side)."""
    tf = (
        "len(list_filter(regexp_split_to_array(" + _LOW + ", '[^a-z0-9]+'), "
        f"x -> x = '{term}'))"
    )
    return tf, f"SUM(CASE WHEN {tf} > 0 THEN 1 ELSE 0 END)"


_BM25_TF_COLS = ", ".join(
    f"{_bm25_term_sql(t)[0]} AS tf_{i}" for i, t in enumerate(_SEARCH_TERMS)
)
_BM25_DF_COLS = ", ".join(
    f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
    for i in range(len(_SEARCH_TERMS))
)
# fixed left-to-right association: (s0 + s1) + s2 — same order in Spark
_BM25_SCORE = " + ".join(
    f"(ln((s.n_docs - s.df_{i} + 0.5) / (s.df_{i} + 0.5) + 1.0)"
    f" * (d.tf_{i} * ({_BM25_K1} + 1.0))"
    f" / (d.tf_{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl)))"
    for i in range(len(_SEARCH_TERMS))
)


@register(
    "docs_bm25_search",
    sql=f"""
    WITH d AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array({_LOW},
                   '[^a-z0-9]+'), x -> x <> '')) AS dl,
               {_BM25_TF_COLS}
        FROM documents
    ),
    s AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl, {_BM25_DF_COLS}
        FROM d
    )
    SELECT d.doc_id, ROUND({_BM25_SCORE}, 4) AS bm25
    FROM d CROSS JOIN s
    WHERE d.tf_0 + d.tf_1 + d.tf_2 > 0
    ORDER BY bm25 DESC, d.doc_id
    LIMIT {_SAMPLE_K}
    """,
    doc="BM25-ranked keyword search (disjunctive, Lucene-style idf, "
    "k1=1.2 b=0.75) — the scoring complement of the conjunctive "
    "docs_keyword_search. NO explode anywhere: per-doc tf/dl are array "
    "expressions in the scan projection (map-side), corpus stats (N, "
    "avgdl, per-term df) are ONE tiny global aggregate broadcast back, "
    "and the ranking is a distributed TakeOrdered — at 100 TB the only "
    "shuffle is k rows per partition. Score determinism: tf/df/dl/N are "
    "integers, avgdl is an exact integer ratio, and the 3-term score sum "
    "is fixed left-to-right on both engines, so doubles match "
    "bit-for-bit.",
    tags=("search", "text", "ranking"),
)
def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = normalized_tokens(F.col("text"))

    # dl + all term frequencies in ONE traversal of the token array: a
    # struct-accumulator fold replaces one F.filter pass per term (A/B at
    # sf0.1: 0.256 s -> 0.185 s per scan — HOF lambdas are interpreted, so
    # passes over the array dominate; counts are identical integers, the
    # oracle is unchanged)
    acc0 = F.struct(
        F.lit(0).alias("dl"),
        *[F.lit(0).alias(f"t{i}") for i in range(len(_SEARCH_TERMS))],
    )

    def step(a, x):
        return F.struct(
            (a["dl"] + (x != "").cast("int")).alias("dl"),
            *[
                (a[f"t{i}"] + (x == t).cast("int")).alias(f"t{i}")
                for i, t in enumerate(_SEARCH_TERMS)
            ],
        )

    folded = F.aggregate(toks, acc0, step)
    # persist the tiny (doc_id + 5 ints) frame: per_doc feeds BOTH the
    # global stats aggregate and the scoring join, and without the pin
    # the interpreted HOF fold — the dominant cost — runs twice per
    # execution. Cold-cache A/B on the sf0.1->sf0.5 denominators
    # (clearCache protocol, ROADMAP.md at a5831e4^): marginal 1.55 -> 0.55 s,
    # slope 2.1 -> ~0.4. A regexp_count lookaround variant measured the
    # same marginal with no persist; kept the fold for one tokenizer
    # primitive across the search family.
    from pyspark.storagelevel import StorageLevel

    per_doc = docs.select(
        "doc_id",
        folded["dl"].alias("dl"),
        *[
            folded[f"t{i}"].alias(f"tf_{i}")
            for i in range(len(_SEARCH_TERMS))
        ],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_SEARCH_TERMS))
        ],
    )
    k1, b = _BM25_K1, _BM25_B
    joined = per_doc.crossJoin(F.broadcast(stats))

    def term_score(i: int):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        tf = F.col(f"tf_{i}")
        return idf * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )

    score = term_score(0)
    for i in range(1, len(_SEARCH_TERMS)):
        score = score + term_score(i)
    return (
        joined.filter(
            sum(F.col(f"tf_{i}") for i in range(len(_SEARCH_TERMS)))
            > 0
        )
        .select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_SAMPLE_K)
    )


@register(
    "events_incremental_daily_agg",
    sql="""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(sum(ROUND(value * 100, 0)) / 100, 2) AS value_sum
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Incremental aggregate maintenance: the Spark side materializes the "
    "pre-split base rollup, aggregates only the delta partition, and MERGES "
    "the two (counts and integer-snapped sums are associative) — the oracle "
    "recomputes from the full input, so the hash-match proves "
    "incremental == full recompute. At 100 TB this is the difference "
    "between touching one day and rescanning the table.",
    tags=("incremental", "aggregate", "maintenance"),
)
def events_incremental_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()  # timeline ops exclude timestamp-less rows
    )

    def _rollup(df: DataFrame) -> DataFrame:
        # integer micro-units, NOT the final rounded sum: partial rollups
        # must stay exact so the merge step can re-add losslessly
        return df.groupBy(
            F.col("ts").cast("date").alias("event_date"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(decimal_units(F.col("value"), 100)).alias("units"),
        )

    base = _rollup(ev.filter(F.col("ts") < F.lit(_SPLIT_TS)))
    delta = _rollup(ev.filter(F.col("ts") >= F.lit(_SPLIT_TS)))
    merged = (
        base.unionByName(delta)
        .groupBy("event_date", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("units").alias("units"))
    )
    return merged.select(
        "event_date",
        "event_type",
        "n",
        F.round(F.col("units") / 100, 2).alias("value_sum"),
    )


@register(
    "segment_revenue_mv_incremental",
    sql=f"""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_exact_sum('o_totalprice', 1000, 2)} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    GROUP BY c_mktsegment
    """,
    doc="Incremental maintenance of a JOIN materialized view: both base "
    "relations change (orders split by date = fact delta, customers split "
    "by key = dim delta), so the refresh is the bilinear delta "
    "decomposition ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB merged into the stale MV "
    "— never re-joining A_old⋈B_old. Partial aggregates carry integer "
    "milli-units so the four-way merge re-adds exactly; the oracle "
    "recomputes the join from the FULL inputs, so the hash-match IS the "
    "incremental == full-recompute proof (the join analog of "
    "events_incremental_daily_agg). At 100 TB each delta term joins a "
    "small delta against a base — broadcast or pruned-shuffle — while a "
    "full refresh re-shuffles both complete relations.",
    tags=("incremental", "join", "maintenance"),
)
def segment_revenue_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()  # null-fuzz: rank/window measures must be non-null
    )
    cust = load_table(spark, sf_dir, "customer")
    o_old = orders.filter(F.col("o_orderdate") < "2000-08-01")
    o_new = orders.filter(F.col("o_orderdate") >= "2000-08-01")
    c_old = cust.filter(F.col("c_custkey") % 7 != 0)
    c_new = cust.filter(F.col("c_custkey") % 7 == 0)

    def term(o: DataFrame, c: DataFrame) -> DataFrame:
        # integer milli-units, NOT the rounded sum: partial MV state must
        # merge losslessly across the delta terms
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum(decimal_units(F.col("o_totalprice"), 1000)).alias("units"),
            )
        )

    stale_mv = term(o_old, c_old)
    deltas = (
        term(o_new, c_old)
        .unionByName(term(o_old, c_new))
        .unionByName(term(o_new, c_new))
    )
    refreshed = (
        stale_mv.unionByName(deltas)
        .groupBy("c_mktsegment")
        .agg(F.sum("n").alias("n"), F.sum("units").alias("units"))
    )
    return refreshed.select(
        "c_mktsegment",
        F.col("n").alias("n_orders"),
        half_up_div(F.col("units"), 1000, 2).alias("revenue"),
    )


@register(
    "docs_weighted_sample",
    sql=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) + 0.5) / 4294967296.0) / n_chars AS k
        FROM documents
    )
    SELECT doc_id, n_chars, ROUND(k, 6) AS es_key
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {_SAMPLE_K}
    """,
    doc="Weighted sampling without replacement (Efraimidis–Spirakis): rank "
    "by ln(u)/w with u drawn deterministically from the portable md5 hash "
    "(operators/sampling.py's bucket scheme), w = document length. Top-k "
    "runs as distributed TakeOrdered — no global sort materialization, "
    "and the sample is reproducible across runs, partitionings, engines.",
    tags=("sampling", "curation"),
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        + 0.5
    ) / F.lit(float(2**32))
    keyed = docs.select(
        "doc_id", "n_chars", (F.ln(u) / F.col("n_chars")).alias("k")
    )
    return (
        keyed.orderBy(F.col("k").desc(), "doc_id")
        .limit(_SAMPLE_K)
        .select("doc_id", "n_chars", F.round("k", 6).alias("es_key"))
    )


#: RRF fusion: two single-term relevance rankings fused with the standard
#: reciprocal-rank constant 60; per-term candidate pools capped at 100.
_RRF_TERMS = ("scan", "merge")
_RRF_K = 60
_RRF_POOL = 100
_RRF_TOP = 10


def _rrf_rank_cte(term: str, name: str) -> str:
    return f"""
    {name} AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY tf DESC, doc_id) AS r
        FROM (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   x -> x = '{term}')) AS tf
            FROM documents
            ORDER BY tf DESC, doc_id LIMIT {_RRF_POOL}
        )
    )"""


@register(
    "docs_rrf_fusion",
    sql=(
        "WITH "
        + ",".join(
            _rrf_rank_cte(t, f"rank{i}") for i, t in enumerate(_RRF_TERMS)
        )
        + f""",
    fused AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
               COALESCE(1000000 // ({_RRF_K} + a.r), 0)
               + COALESCE(1000000 // ({_RRF_K} + b.r), 0) AS rrf_micro
        FROM rank0 a FULL OUTER JOIN rank1 b ON a.doc_id = b.doc_id
    )
    SELECT doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro
    FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_TOP}
    """
    ),
    doc="Reciprocal-rank fusion of two keyword relevance rankings "
    f"(terms {_RRF_TERMS!r}, k={_RRF_K}): score = Σ 1/(k + rank), the "
    "standard training-free ensemble for merging heterogeneous retrieval "
    "lists (BM25 + dense, multiple query rewrites). Each per-term ranking "
    "pools its top-100 via distributed TakeOrdered — never a global sort "
    "of all matching docs — then ranks 100 rows in a trivial window; the "
    "fusion join touches ≤ 200 rows. The reciprocal scores are integer "
    "micro-units via integer division (1e6 div (k+r)), so the fused "
    "ordering is bit-identical across engines — float RRF scores would "
    "tie-break differently under IEEE rounding. Per-doc term frequency "
    "is an array-expression filter inside whole-stage codegen, no explode.",
    tags=("search", "ranking", "fusion"),
)
def docs_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ranked = []
    for term in _RRF_TERMS:
        tf = d.select(
            "doc_id",
            F.size(F.filter(toks, lambda x: x == F.lit(term))).alias("tf"),
        )
        pool = tf.orderBy(F.desc("tf"), F.asc("doc_id")).limit(_RRF_POOL)
        ranked.append(
            pool.withColumn(
                "r",
                F.row_number().over(
                    Window.orderBy(F.desc("tf"), F.asc("doc_id"))
                ),
            ).select("doc_id", "r")
        )
    a, b = ranked
    fused = (
        a.withColumnRenamed("r", "ra")
        .join(b.withColumnRenamed("r", "rb"), "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"CAST(1000000 div ({_RRF_K} + ra) AS BIGINT)"),
                    F.lit(0),
                )
                + F.coalesce(
                    F.expr(f"CAST(1000000 div ({_RRF_K} + rb) AS BIGINT)"),
                    F.lit(0),
                )
            ).alias("rrf_micro"),
        )
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(_RRF_TOP)


_PROX_A, _PROX_B = "data", "stream"
_PROX_WINDOW = 3


@register(
    "docs_proximity_search",
    sql=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all({_LOW}, '[a-z0-9]+')) AS token,
               generate_subscripts(regexp_extract_all({_LOW},
                                                      '[a-z0-9]+'), 1) AS pos
        FROM documents WHERE text IS NOT NULL
    ),
    a AS (SELECT doc_id, pos FROM toks WHERE token = '{_PROX_A}'),
    b AS (SELECT doc_id, pos FROM toks WHERE token = '{_PROX_B}')
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_prox,
           CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_dist
    FROM a JOIN b USING (doc_id)
    WHERE abs(a.pos - b.pos) <= {_PROX_WINDOW}
    GROUP BY a.doc_id
    ORDER BY n_prox DESC, a.doc_id LIMIT 20
    """,
    doc=f"Positional proximity search: documents where '{_PROX_A}' and "
    f"'{_PROX_B}' occur within {_PROX_WINDOW} tokens, ranked by the number "
    "of proximate pairs — the phrase/NEAR operator keyword search can't "
    "express (search family's positional upgrade). Scale shape: the two "
    "positional posting lists are term-filtered BEFORE the shuffle (each "
    "is O(term frequency), never the corpus), the doc-keyed equi-join "
    "carries only (doc_id, pos), and the window predicate bounds the "
    "per-doc pair fan-out. Token positions come from the same "
    "regexp-extraction on both engines, so distances are exact integers.",
    tags=("search", "text"),
)
def docs_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("pos", "token"),
    )
    a = toks.where(F.col("token") == _PROX_A).select("doc_id", F.col("pos").alias("pa"))
    b = toks.where(F.col("token") == _PROX_B).select("doc_id", F.col("pos").alias("pb"))
    prox = a.join(b, "doc_id").where(
        F.abs(F.col("pa") - F.col("pb")) <= _PROX_WINDOW
    )
    return (
        prox.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_prox"),
            F.min(F.abs(F.col("pa") - F.col("pb"))).cast("bigint").alias("min_dist"),
        )
        .orderBy(F.desc("n_prox"), F.asc("doc_id"))
        .limit(20)
    )
