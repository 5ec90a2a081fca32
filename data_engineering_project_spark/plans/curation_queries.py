"""Corpus-curation queries: contamination, PII, repetition, domain quotas.

The filter/safety stage of an LLM training-data pipeline over `documents`
(SURVEY.md §2 'beyond the reference'). Backed by `operators/curation.py`;
every query here is oracle-checked against DuckDB running the identical
logic in ANSI SQL.

Scale shapes (the part that must survive 100 TB):
- contamination: the held-out benchmark n-gram dictionary is the SMALL side
  by construction (eval suites are fixed-size); the train side streams
  through one semi-style join on the n-gram string. No all-pairs anything.
- PII / repetition: map-only scans (regexp + array expressions inside
  whole-stage codegen) plus one narrow groupBy each.
- quotas: one hash shuffle on the host key; the per-key window never sorts
  more than one key's rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.scalars import (
    half_up_ratio,
    sql_half_up_ratio,
)
from data_engineering_project_spark.operators import curation as C
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table, local_frame

#: the held-out "benchmark" slice of the corpus for the contamination check —
#: a fixed source plays the role of an eval suite.
EVAL_SOURCE = "src0"
NGRAM_K = 4
#: micro-average flag: dup_word_ratio > 0.5 ⟺ n_words > 2 * n_distinct —
#: compared in INTEGERS so the threshold can't sit on a float boundary.
REPETITION_FLAG_FACTOR = 2
DOMAIN_QUOTA = 10


@register(
    "docs_contamination_overlap",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents
    ),
    ngrams AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(ws[i:i+{NGRAM_K - 1}], ' ') AS ng
        FROM toks,
             LATERAL (SELECT unnest(range(1, greatest(len(ws) - {NGRAM_K - 1}, 0) + 1)) AS i) _
        WHERE len(ws) >= {NGRAM_K}
    ),
    eval_ngrams AS (
        SELECT DISTINCT ng FROM ngrams WHERE source = '{EVAL_SOURCE}'
    ),
    train AS (
        SELECT doc_id, ng FROM ngrams WHERE source <> '{EVAL_SOURCE}'
    )
    SELECT t.doc_id,
           count(*) AS n_ngrams,
           count(e.ng) AS n_contaminated,
           ROUND(count(e.ng) * 100.0 / count(*), 4) AS contamination_pct
    FROM train t LEFT JOIN eval_ngrams e USING (ng)
    GROUP BY t.doc_id
    HAVING count(e.ng) > 0
    """,
    doc="Benchmark-contamination check: distinct word 4-grams of each "
    "training document joined against the held-out eval set's n-gram "
    "dictionary; emit contaminated docs with overlap counts. The standard "
    "n-gram decontamination pass of an LLM data pipeline. Eval dictionaries "
    "are fixed-size (benchmark suites), so AQE broadcasts the build side; "
    "the train side is one scan + one join on the n-gram string — at 100 TB "
    "swap the join key to xxhash64(ng) to shrink shuffle width.",
    tags=("curation", "contamination", "ngram"),
)
def docs_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # explicit-count spread before the n-gram expressions (CPU-heavy on
    # tiny bytes; see the ROADMAP AQE-coalescing rule)
    d = d.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    ngrams = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(C.word_ngrams(F.col("text"), NGRAM_K))).alias("ng"),
    )
    eval_ngrams = (
        ngrams.filter(F.col("source") == EVAL_SOURCE).select("ng").distinct()
    )
    train = ngrams.filter(F.col("source") != EVAL_SOURCE)
    hit = eval_ngrams.withColumn("hit", F.lit(1))
    # no broadcast() hint: eval side is small by nature but scales with the
    # fixture sf — let AQE pick broadcast from the measured size (VERDICT
    # round-1 'What's wrong #3' rule)
    joined = train.join(hit, "ng", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("hit").alias("n_contaminated"),
            F.round(
                F.count("hit") * 100.0 / F.count(F.lit(1)), 4
            ).alias("contamination_pct"),
        )
        .filter(F.col("n_contaminated") > 0)
    )


def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic planted-PII augmentation (shared by the
    registered query and tools/ab_pii.py's cost-attribution variants)."""
    d = load_table(spark, sf_dir, "documents")
    doc_id_s = F.col("doc_id").cast("string")
    salt_s = (F.lit(1000) + F.col("doc_id") % 9000).cast("string")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), doc_id_s, F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" call 555-"), salt_s, F.lit(" today")),
        )
        .when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit(" id 523-45-"), salt_s, F.lit(" end")),
        )
        .otherwise(F.lit("")),
    )
    return d.select("doc_id", "source", pii_text.alias("pii_text"))


@register(
    "docs_pii_redaction",
    sql=f"""
    WITH augmented AS (
        SELECT doc_id, source,
               text || CASE
                   WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com now'
                   WHEN doc_id % 11 = 0 THEN ' call 555-' || (1000 + doc_id % 9000) || ' today'
                   WHEN doc_id % 13 = 0 THEN ' id 523-45-' || (1000 + doc_id % 9000) || ' end'
                   ELSE ''
               END AS pii_text
        FROM documents
    ),
    counted AS (
        SELECT doc_id, source,
               len(regexp_extract_all(pii_text, '{C.PII_PATTERNS["email"]}')) AS n_email,
               len(regexp_extract_all(pii_text, '{C.PII_PATTERNS["ssn"]}')) AS n_ssn,
               len(regexp_extract_all(pii_text, '{C.PII_PATTERNS["phone"]}')) AS n_phone,
               length(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(pii_text, '{C.PII_PATTERNS["email"]}', '[EMAIL]', 'g'),
                           '{C.PII_PATTERNS["ssn"]}', '[SSN]', 'g'),
                       '{C.PII_PATTERNS["phone"]}', '[PHONE]', 'g')
               ) AS redacted_len
        FROM augmented
    )
    SELECT source,
           count(*) AS n_docs,
           count(CASE WHEN n_email + n_ssn + n_phone > 0 THEN 1 END) AS docs_with_pii,
           CAST(sum(n_email) AS BIGINT) AS n_emails,
           CAST(sum(n_ssn) AS BIGINT) AS n_ssns,
           CAST(sum(n_phone) AS BIGINT) AS n_phones,
           CAST(sum(redacted_len) AS BIGINT) AS redacted_chars
    FROM counted
    GROUP BY source
    """,
    doc="PII detect + redact: regex family (email/SSN-shape/phone-shape) "
    "counted and masked in one codegen'd regexp chain — map-only scan, one "
    "narrow groupBy. The synthetic corpus carries no PII, so a deterministic "
    "doc_id-keyed augmentation plants known matches first (same expression "
    "on both engines); the operator itself is `operators/curation.py:"
    "pii_count/redact_pii`. At 100 TB this is the cheapest possible shape: "
    "no shuffle touches document bodies, only per-source counters.",
    tags=("curation", "pii"),
)
def docs_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _pii_augmented(spark, sf_dir)
    counted = aug.select(
        "source",
        C.pii_count(F.col("pii_text"), "email").alias("n_email"),
        C.pii_count(F.col("pii_text"), "ssn").alias("n_ssn"),
        C.pii_count(F.col("pii_text"), "phone").alias("n_phone"),
        F.length(C.redact_pii(F.col("pii_text"))).alias("redacted_len"),
    )
    return counted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(
            F.when(F.col("n_email") + F.col("n_ssn") + F.col("n_phone") > 0, 1)
        ).alias("docs_with_pii"),
        F.sum("n_email").alias("n_emails"),
        F.sum("n_ssn").alias("n_ssns"),
        F.sum("n_phone").alias("n_phones"),
        F.sum("redacted_len").alias("redacted_chars"),
    )


@register(
    "docs_repetition_profile",
    sql=f"""
    WITH words AS (
        SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents
    ),
    word_counts AS (
        SELECT doc_id, lang, w, count(*) AS c FROM words GROUP BY doc_id, lang, w
    ),
    doc_words AS (
        SELECT doc_id, lang,
               CAST(sum(c) AS BIGINT) AS n_words,
               count(*) AS n_distinct,
               CAST(max(c) AS BIGINT) AS top_freq
        FROM word_counts GROUP BY doc_id, lang
    ),
    doc_bigrams AS (
        SELECT doc_id,
               count(*) AS n_bigrams,
               count(DISTINCT ng) AS n_distinct_bigrams
        FROM (
            SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS ng
            FROM (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
                FROM documents
            ) t,
            LATERAL (SELECT unnest(range(1, greatest(len(ws) - 1, 0) + 1)) AS i) _
            WHERE len(ws) >= 2
        ) g
        GROUP BY doc_id
    )
    SELECT w.lang,
           count(*) AS n_docs,
           count(CASE WHEN w.n_words > {REPETITION_FLAG_FACTOR} * w.n_distinct THEN 1 END)
               AS n_flagged,
           {sql_half_up_ratio('sum(w.n_words) - sum(w.n_distinct)', 'sum(w.n_words)', 6)}
               AS dup_word_ratio,
           {sql_half_up_ratio('sum(w.top_freq)', 'sum(w.n_words)', 6)}
               AS top_word_ratio,
           {sql_half_up_ratio('sum(b.n_bigrams) - sum(b.n_distinct_bigrams)', 'sum(b.n_bigrams)', 6)}
               AS dup_bigram_ratio
    FROM doc_words w JOIN doc_bigrams b USING (doc_id)
    GROUP BY w.lang
    """,
    doc="Gopher-style repetition signals per language: duplicate-word ratio, "
    "top-word concentration, duplicate-bigram ratio — the quality-filter "
    "features that catch boilerplate/spam. Ratios are MICRO-averaged from "
    "integer sums (one exact division at the end) so partial-agg order can "
    "never flip a bit, and the per-doc flag compares integers "
    "(n_words > 2·n_distinct), never a float threshold. ALL per-doc stats "
    "are map-side array expressions — n_words/n_distinct are size/"
    "size∘array_distinct, and top_freq is a max-run-length fold over "
    "array_sort(tokens) (aggregate HOF) — so the query is a single "
    "projection plus one groupBy(lang): no token-level shuffle, no "
    "doc-level join. The previous explode→groupBy(doc_id,w) shape "
    "shuffled every token in the corpus (measured sf0.5 slope 9.24).",
    tags=("curation", "quality", "repetition"),
)
def docs_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # explicit-count repartition: the per-doc word/bigram expressions are
    # CPU-heavy on tiny bytes, so the scan's (often single) partition —
    # and AQE's byte-based coalescing — would single-thread them
    d = d.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    toks = C.tokens(F.col("text"))
    # max per-word frequency == max run length over the sorted token array;
    # split() never emits NULL elements so `x == acc.prev` is NULL only on
    # the first element (when → otherwise 1), exactly the seed we want
    top_freq = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    bigrams = C.word_ngrams(F.col("text"), 2)
    # filter on the CHEAP equivalent of n_bigrams > 0 (≥2 tokens): Catalyst
    # pushes per-row filters below the repartition to the scan stage, and a
    # filter that references the bigram transform would evaluate the
    # interpreted HOF twice — once single-threaded in the pushed Filter,
    # once in the Project (measured 14 s vs 1 s at sf0.5). n_bigrams is
    # size(tokens)-1 by construction under this filter, so the bigram
    # array is built exactly once, for the distinct count only.
    per_doc = (
        d.filter(F.size(toks) >= 2)
        .select(
            "lang",
            F.size(toks).alias("n_words"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
            top_freq.alias("top_freq"),
            (F.size(toks) - 1).alias("n_bigrams"),
            F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(
            F.when(
                F.col("n_words") > REPETITION_FLAG_FACTOR * F.col("n_distinct"), 1
            )
        ).alias("n_flagged"),
        half_up_ratio(
            F.sum("n_words") - F.sum("n_distinct"), F.sum("n_words"), 6
        ).alias("dup_word_ratio"),
        half_up_ratio(F.sum("top_freq"), F.sum("n_words"), 6).alias(
            "top_word_ratio"
        ),
        half_up_ratio(
            F.sum("n_bigrams") - F.sum("n_distinct_bigrams"),
            F.sum("n_bigrams"),
            6,
        ).alias("dup_bigram_ratio"),
    )


@register(
    "docs_domain_quota",
    sql=f"""
    WITH urls AS (
        SELECT doc_id,
               'https://' || source ||
               CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END ||
               '/d/' || doc_id AS url
        FROM documents
        WHERE regexp_matches(source,
            '\\A[A-Za-z0-9]([A-Za-z0-9-]*[A-Za-z0-9])?\\z')
    ),
    hosts AS (
        SELECT doc_id, regexp_extract(url, 'https?://([^/]+)', 1) AS host
        FROM urls
    ),
    allowed AS (
        SELECT doc_id, host,
               row_number() OVER (
                   PARTITION BY host ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM hosts
        WHERE host NOT LIKE '%.org'
    )
    SELECT host,
           count(*) AS n_docs,
           count(CASE WHEN rn <= {DOMAIN_QUOTA} THEN 1 END) AS n_kept,
           CAST(sum(CASE WHEN rn <= {DOMAIN_QUOTA} THEN doc_id END) AS BIGINT)
               AS kept_doc_sum
    FROM allowed
    GROUP BY host
    """,
    doc="Per-domain quota + blocklist: parse the host out of each document "
    "URL (synthesized deterministically from source/doc_id — the fixture "
    "has no URL column), drop blocklisted TLDs, keep at most "
    f"{DOMAIN_QUOTA} docs per host by hash order (operators/curation.py:"
    "quota_sample). The CommonCrawl 'no domain dominates' rule: stable "
    "under repartitioning and retries because the keep-order is a hash of "
    "identity, not arrival. One shuffle on host; per-key window, no global "
    "sort.",
    tags=("curation", "url", "quota"),
)
def docs_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # hostname-charset guard BEFORE URL synthesis, identical regex on both
    # engines: a hostile source (spaces, NULs, regex soup) would otherwise
    # make parse_url THROW under ANSI (the r10 hostile-string sweep's
    # one-sided job-killer) — and java.net.URI's validity rules ('_' and
    # edge hyphens reject, probed empirically) are unmirrorable in SQL, so
    # the guard pins both engines to the same single-label domain.
    # try_parse_url (not parse_url) as defense in depth: a malformed URL
    # yields NULL → dropped, never a job abort.
    d = d.filter(
        F.col("source").rlike(r"\A[A-Za-z0-9]([A-Za-z0-9-]*[A-Za-z0-9])?\z")
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".org")).otherwise(F.lit(".com")),
        F.lit("/d/"),
        F.col("doc_id").cast("string"),
    )
    hosts = d.select(
        "doc_id", F.try_parse_url(url, F.lit("HOST")).alias("host")
    ).filter(F.col("host").isNotNull() & ~F.col("host").endswith(".org"))
    sampled = C.quota_sample(
        hosts,
        "host",
        DOMAIN_QUOTA,
        order_by=F.md5(F.col("doc_id").cast("string")),
    )
    return sampled.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("quota_keep"), 1)).alias("n_kept"),
        F.sum(F.when(F.col("quota_keep"), F.col("doc_id"))).alias("kept_doc_sum"),
    )


SEQ_BUDGET = 256
N_SHARDS = 8


@register(
    "docs_sequence_packing",
    sql=f"""
    WITH toks AS (
        SELECT doc_id,
               doc_id % {N_SHARDS} AS shard,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT shard, doc_id, n_tok,
               coalesce(sum(n_tok) OVER (
                   PARTITION BY shard
                   ORDER BY md5(CAST(doc_id AS VARCHAR))
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // {SEQ_BUDGET} AS seq_id
        FROM toks
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(seq_id AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
           CAST(sum(doc_id) AS BIGINT) AS packed_doc_sum
    FROM packed
    GROUP BY shard, seq_id
    """,
    doc="Concat-and-chunk sequence packing (operators/curation.py:"
    "pack_sequences): documents concatenated in deterministic hash order "
    f"within {N_SHARDS} shards and cut into {SEQ_BUDGET}-token training "
    "sequences; each doc belongs to the sequence its first token lands in. "
    "One window-sum per shard — no sequential bin-packing state, so the "
    "operator parallelizes linearly with shard count at 100 TB, and the "
    "hash order makes every retry produce byte-identical packing. "
    "packed_doc_sum is the per-sequence membership checksum.",
    tags=("curation", "packing", "tokens", "window"),
)
def docs_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.text import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    packed = C.pack_sequences(
        d,
        token_col="n_tok",
        budget=SEQ_BUDGET,
        shard_col=(F.col("doc_id") % N_SHARDS),
        order_by=F.md5(F.col("doc_id").cast("string")),
    )
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("seq_tokens"),
        F.sum("doc_id").cast("bigint").alias("packed_doc_sum"),
    ).withColumn("shard", F.col("shard").cast("bigint"))


#: k-anonymity audit thresholds — the privacy-release gates a curation
#: pipeline reports before publishing a derived dataset
K_ANONYMITY_KS = (2, 5, 10)


@register(
    "customers_k_anonymity",
    sql="""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
                   // 100000 AS bal_bucket,
               CAST(count(*) AS BIGINT) AS class_size
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT k,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(count(*) FILTER (WHERE class_size < k) AS BIGINT)
               AS n_violating_classes,
           CAST(coalesce(sum(class_size) FILTER (WHERE class_size < k), 0)
                AS BIGINT) AS n_violating_rows,
           CAST((coalesce(sum(class_size) FILTER (WHERE class_size < k), 0)
                 * 1000000) // sum(class_size) AS BIGINT)
               AS suppression_ppm
    FROM classes, (VALUES (2), (5), (10)) ks(k)
    GROUP BY k
    """,
    doc="k-anonymity release audit over quasi-identifiers (nation, market "
    "segment, 1000-unit balance bucket): for each privacy threshold k, the "
    "number of equivalence classes and rows that would need suppression "
    "before release, plus the suppression rate in integer ppm. One hash "
    "aggregation builds the class-size table; the per-k rollup folds a "
    "3-row literal spine over it — class count is bounded by the QI "
    "domain, so the audit costs one groupBy at any corpus size. Balance "
    "snaps to integer cents (+1000.00 offset keeps the bucket division "
    "in positive truncating-div territory where Spark and DuckDB agree).",
    tags=("curation", "privacy"),
)
def customers_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.functions.scalars import decimal_units

    c = load_table(spark, sf_dir, "customer")
    classes = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            decimal_units(F.col("c_acctbal"), 100).alias("bal_cents"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            # integer div on BOTH sides (cf. customers_balance_deciles):
            # float-divide-then-cast could land on an exactness edge
            F.expr("(bal_cents + 100000) div 100000").alias("bal_bucket"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count("*").cast("bigint").alias("class_size"))
    )
    ks = local_frame(spark, [(k,) for k in K_ANONYMITY_KS], "k int")
    joined = classes.crossJoin(F.broadcast(ks))
    viol = F.when(F.col("class_size") < F.col("k"), F.col("class_size")).otherwise(
        F.lit(0)
    )
    return joined.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum((F.col("class_size") < F.col("k")).cast("bigint"))
        .cast("bigint")
        .alias("n_violating_classes"),
        F.sum(viol).cast("bigint").alias("n_violating_rows"),
        F.expr(
            "CAST((sum(CASE WHEN class_size < k THEN class_size ELSE 0 END)"
            " * 1000000) div sum(class_size) AS BIGINT)"
        ).alias("suppression_ppm"),
    )
