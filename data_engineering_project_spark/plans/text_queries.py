"""Text-analysis / dedup queries over the `documents` table.

The training-data-pipeline operator family (not in the reference, which never
touches its own text columns — SURVEY.md §2.5 'absent'): exact dedup,
fingerprinting, token statistics, quality scoring, n-gram Jaccard similarity,
language-ID heuristics. Everything here is built-in `F.*` expressions —
JVM-side, whole-stage-codegen'd, no Python in the hot path — so it scales to
a 100 TB document corpus as a pure scan+shuffle pipeline.

Implementations backed by `operators/text.py` where reusable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark.operators import text as T
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table, local_frame


@register(
    "docs_lang_stats",
    sql="""
    SELECT lang, count(*) AS n_docs,
           ROUND(avg(n_chars), 4) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
    doc="Corpus profile per language tag.",
    tags=("text", "agg"),
)
def docs_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "docs_token_stats",
    sql="""
    SELECT source,
           ROUND(avg(len(regexp_split_to_array(trim(text), '\\s+'))), 4) AS avg_tokens,
           CAST(max(len(regexp_split_to_array(trim(text), '\\s+'))) AS INTEGER)
               AS max_tokens,
           CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
               AS total_tokens
    FROM documents GROUP BY source
    """,
    doc="Whitespace token counting per source — the token-budget primitive of "
    "an LLM-data pipeline, as a pure JVM expression (no UDF).",
    tags=("text", "tokens"),
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ntok = T.token_count(F.col("text"))
    return d.groupBy("source").agg(
        F.round(F.avg(ntok), 4).alias("avg_tokens"),
        F.max(ntok).alias("max_tokens"),
        F.sum(ntok).alias("total_tokens"),
    )


@register(
    "docs_exact_dedup",
    sql="""
    SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies,
           min(n_chars) AS n_chars
    FROM documents GROUP BY text
    """,
    doc="Exact dedup: group identical texts, keep the smallest doc_id "
    "(deterministic canonical representative). One hash shuffle on the text "
    "key; at 100 TB group on a 128-bit digest instead of the raw text to "
    "shrink shuffle width (see docs_fingerprint_dedup).",
    tags=("dedup",),
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


@register(
    "docs_fingerprint_dedup",
    sql="""
    SELECT md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fingerprint,
           min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY fingerprint
    """,
    doc="Digest-based dedup: normalize (ASCII case fold + trim) then MD5 — the shuffle "
    "key is 32 bytes instead of the full document, which is what makes exact "
    "dedup practical at 100 TB. MD5 chosen because it is identical across "
    "Spark and the oracle.",
    tags=("dedup", "fingerprint"),
)
def docs_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        T.fingerprint(F.col("text")).alias("fingerprint")
    ).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    )


@register(
    "docs_quality_scores",
    sql="""
    WITH feats AS (
        SELECT doc_id, lang,
               length(text) AS n_chars_m,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
        FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           ROUND(CAST(n_chars_m AS DOUBLE) / n_tokens, 4) AS avg_token_len,
           ROUND(CAST(n_punct AS DOUBLE) / n_chars_m, 4) AS punct_ratio,
           ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio
    FROM feats
    """,
    doc="Quality-scoring features per document (length, punctuation ratio, "
    "stopword ratio) — the C4/Gopher-style filter signals, as vectorized "
    "column expressions.",
    tags=("text", "quality"),
)
def docs_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_m"),
        T.token_count(F.col("text")).alias("n_tokens"),
        T.punct_count(F.col("text")).alias("n_punct"),
        T.stopword_count(F.col("text")).alias("n_stop"),
    )
    # try_divide, not `/`: an empty document has n_chars_m = 0, and under
    # ANSI (the vanilla driver session) a plain division throws and kills
    # the job — try_divide yields NULL, exactly DuckDB's x/0 (r10
    # hostile-string sweep, one-sided job-killer class)
    return feats.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(
            F.try_divide(F.col("n_chars_m").cast("double"), F.col("n_tokens")), 4
        ).alias("avg_token_len"),
        F.round(
            F.try_divide(F.col("n_punct").cast("double"), F.col("n_chars_m")), 4
        ).alias("punct_ratio"),
        F.round(
            F.try_divide(F.col("n_stop").cast("double"), F.col("n_tokens")), 4
        ).alias("stopword_ratio"),
    )


@register(
    "docs_jaccard_vs_query",
    sql="""
    WITH toks AS (
        SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS ts
        FROM documents
    ),
    q AS (SELECT ts AS qts FROM toks WHERE doc_id = 0)
    SELECT t.doc_id,
           ROUND(CAST(len(list_intersect(t.ts, q.qts)) AS DOUBLE) /
                 (len(t.ts) + len(q.qts) - len(list_intersect(t.ts, q.qts))), 6)
               AS jaccard
    FROM toks t CROSS JOIN q
    WHERE t.doc_id <> 0
    ORDER BY jaccard DESC, t.doc_id LIMIT 20
    """,
    doc="Token-set Jaccard similarity of every document against a query "
    "document (doc_id=0), top-20. The naive-but-exact near-dup primitive; "
    "the broadcastable query side makes it a map-only scan at any corpus "
    "size. MinHash/LSH (docs_minhash_pairs) is the all-pairs scale path.",
    tags=("dedup", "similarity"),
)
def docs_jaccard_vs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.token_set(F.col("text")).alias("ts"))
    q = toks.filter(F.col("doc_id") == 0).select(F.col("ts").alias("qts"))
    inter = F.size(F.array_intersect("ts", "qts"))
    union = F.size("ts") + F.size("qts") - inter
    return (
        toks.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "docs_langid_heuristic",
    sql="""
    WITH scored AS (
        SELECT lang,
               CASE
                 WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                          t -> t IN ('the','of','and','is','to'))) >= 3 THEN 'en'
                 ELSE 'other'
               END AS predicted
        FROM documents
    )
    SELECT lang, predicted, count(*) AS n
    FROM scored GROUP BY lang, predicted
    """,
    doc="Stopword-frequency language-ID heuristic (confusion counts vs the "
    "lang tag). A real deployment swaps the word list per language; the "
    "operator shape — classify via token-membership counts, vectorized — is "
    "the point.",
    tags=("text", "langid"),
)
def docs_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    en_hits = T.word_membership_count(F.col("text"), ("the", "of", "and", "is", "to"))
    predicted = F.when(en_hits >= 3, F.lit("en")).otherwise(F.lit("other"))
    return (
        d.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


@register(
    "docs_bpe_token_stats",
    sql=r"""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
               AS ws_tokens,
           ROUND(sum(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
                 / CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                        AS DOUBLE), 4) AS fertility
    FROM documents GROUP BY lang
    """,
    doc="BPE-style regex pre-tokenization (letter runs / digit runs / "
    "punctuation — the GPT-2 pre-tokenizer shape, char-classes only so Java "
    "and RE2 regex engines agree) vs whitespace tokens, per language. "
    "`fertility` (regex tokens per whitespace word) is the token-budget "
    "planning number an LLM-data pipeline tracks per corpus slice. Pure JVM "
    "expressions — no UDF in the hot path.",
    tags=("text", "tokens"),
)
def docs_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bpe = F.size(
        F.regexp_extract_all(
            "text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
        )
    )
    ws = T.token_count(F.col("text"))
    return d.groupBy("lang").agg(
        F.sum(bpe).cast("bigint").alias("bpe_tokens"),
        F.sum(ws).cast("bigint").alias("ws_tokens"),
        F.round(
            F.sum(bpe) / F.sum(ws).cast("double"), 4
        ).alias("fertility"),
    )


@register(
    "docs_deterministic_sample",
    sql="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(('0x' || substr(md5('v1' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000 < 2000
    """,
    doc="Reproducible 20% corpus sample via hash-bucket membership "
    "(operators/sampling.py): a pure filter, so it pushes past joins and "
    "costs no shuffle — and unlike df.sample() the selected set is "
    "identical on any cluster, partitioning, or engine (the oracle "
    "restates the MD5 bucket exactly). Salt 'v1' names the sample; a new "
    "salt draws an independent one.",
    tags=("sampling", "filter"),
)
def docs_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.sampling import (
        deterministic_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    return deterministic_sample(d, "doc_id", 0.20, salt="v1").select(
        "doc_id", "lang", "source"
    )


@register(
    "docs_mixture_resample",
    sql="""
    SELECT lang, count(*) AS n_kept
    FROM documents
    WHERE CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000
          < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 8000 ELSE 10000 END
    GROUP BY lang
    """,
    doc="Mixture re-weighting (the data-mixing operator): per-language "
    "keep-rates downsample the over-represented languages (en→25%, "
    "zh→80%, rest kept) with the same reproducible hash-bucket mechanism — "
    "sampleBy semantics, but bit-identical on every run and engine.",
    tags=("sampling", "mixture"),
)
def docs_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.sampling import (
        stratified_deterministic_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    kept = stratified_deterministic_sample(
        d,
        "doc_id",
        "lang",
        {"en": 0.25, "zh": 0.80},
        default_fraction=1.0,
        salt="mix",
    )
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


@register(
    "docs_rolling_hash_fingerprint",
    sql="""
    SELECT doc_id,
           list_reduce(
               list_transform(string_split_regex(text, ''),
                              c -> CAST(ascii(c) AS BIGINT)),
               (a, b) -> (a * 131 + b) % 2147483647
           ) AS fingerprint
    FROM documents
    """,
    doc="Karp-Rabin polynomial rolling hash (base 131 mod 2^31-1) as a "
    "document fingerprint — the hash family behind content-defined "
    "chunking and substring dedup, computed as a pure fold expression "
    "(F.aggregate / list_reduce — bit-identical across engines, no UDF). "
    "MD5 (docs_fingerprint_dedup) is the collision-resistant digest; the "
    "rolling hash is the incrementally-updatable one.",
    tags=("text", "fingerprint", "rolling-hash"),
)
def docs_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 131 + F.ascii(c)) % F.lit(2147483647),
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@register(
    "docs_tfidf_top_terms",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS score,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * (ln((n.n_docs + 1.0)
                                        / (df.df + 1.0)) + 1.0) DESC,
                                  tf.term ASC) AS rank
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, CAST(rank AS INT) AS rank, ROUND(score, 6) AS score
    FROM scored WHERE rank <= 3
    """,
    doc="TF-IDF top-3 terms per document (smoothed idf = ln((N+1)/(df+1))+1, "
    "sklearn's convention): the keyword-extraction / doc-representation "
    "primitive of text pipelines. Plan shape at 100 TB: per-doc (term, tf) "
    "pairs are computed INSIDE the row (T.term_counts — boundary run-length "
    "over array_sort(tokens), the docs_repetition_profile device), so only "
    "doc×distinct-term rows ever explode and NO token-granularity shuffle "
    "exists; the persisted pair frame feeds both df and the scoring join "
    "(the BM25 one-fold lesson), df is a vocab-sized SIZE-GATED broadcast "
    "(the collocations marginals pattern — a billion-word vocabulary "
    "degrades to a shuffle join instead of OOMing the driver), and the "
    "top-3 window prunes to ≤3 rows/doc per map task via WindowGroupLimit "
    "before its exchange. No driver-side vocabulary, no UDF; N arrives via "
    "a single-row broadcast crossJoin. r13 A/B (tools/ab_tfidf.py, sf0.1→"
    "sf0.5 marginal, noop sink): 3.48 → 0.84 s; the old shape tokenized "
    "twice (the tf/df DAG fork above the explode) and paid a token-level "
    "distinct.",
    tags=("text", "agg", "window"),
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    from data_engineering_project_spark.operators.hints import (
        broadcast_if_small,
    )

    d = load_table(spark, sf_dir, "documents")
    # explicit-count repartition: the per-doc RLE fold is CPU-heavy on few
    # bytes — a single-file scan partition (or AQE byte-based coalescing)
    # would single-thread it (the docs_repetition_profile finding)
    d = d.repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    tc = d.select(
        "doc_id", T.term_counts(T.tokens(F.col("text"))).alias("tc")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tf = tc.select("doc_id", F.explode("tc").alias("t")).select(
        "doc_id", F.col("t.term").alias("term"), F.col("t.tf").alias("tf")
    )
    df_ = broadcast_if_small(tf.groupBy("term").agg(F.count("*").alias("df")))
    n = tc.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * (
        F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", F.round("score", 6).alias("score"))
    )


@register(
    "docs_token_chunks",
    sql="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ),
    starts AS (
        SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 16)) AS s
        FROM toks
    )
    SELECT doc_id, CAST(s // 16 AS INT) AS chunk_idx,
           CAST(len(t[s + 1:least(s + 32, len(t))]) AS INT) AS n_tokens,
           md5(array_to_string(t[s + 1:least(s + 32, len(t))], ' '))
               AS chunk_checksum
    FROM starts
    """,
    doc="Token-window chunking for LLM training data: 32-token windows "
    "every 16 tokens (50%% overlap, same hop convention as the audio "
    "chunker in operators/multimodal.py) — the split-long-documents-into-"
    "training-sequences op. Pure explode over a generated start sequence, "
    "no UDF; checksums prove the chunk CONTENT (not just counts) is "
    "identical across engines.",
    tags=("text", "chunking", "multimodal"),
)
def docs_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("t"))
    n = F.size("t")
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(16))
        ).alias("s"),
    )
    chunk = F.slice(F.col("t"), F.col("s") + 1, 32)
    return starts.select(
        "doc_id",
        (F.col("s") / 16).cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_checksum"),
    )


_PSI_EDGES = (100, 200, 400, 800, 1600)  # n_chars bin edges (6 bins)


def _psi_bin_case_sql(col: str = "n_chars") -> str:
    conds = [f"WHEN {col} < {e} THEN {i}" for i, e in enumerate(_PSI_EDGES)]
    return "CASE " + " ".join(conds) + f" ELSE {len(_PSI_EDGES)} END"


_PSI_COUNT_COLS = ", ".join(
    f"SUM(CASE WHEN bin = {i} AND half = 0 THEN 1 ELSE 0 END) AS a{i}, "
    f"SUM(CASE WHEN bin = {i} AND half = 1 THEN 1 ELSE 0 END) AS b{i}"
    for i in range(len(_PSI_EDGES) + 1)
)
_PSI_TOTALS = (
    "("
    + " + ".join(f"a{i} + 1" for i in range(len(_PSI_EDGES) + 1))
    + ") AS ta, ("
    + " + ".join(f"b{i} + 1" for i in range(len(_PSI_EDGES) + 1))
    + ") AS tb"
)
# fixed left-to-right sum over the 6 bins — deterministic doubles
_PSI_SUM = " + ".join(
    f"((CAST(a{i} + 1 AS DOUBLE) / ta - CAST(b{i} + 1 AS DOUBLE) / tb)"
    f" * ln((CAST(a{i} + 1 AS DOUBLE) / ta) / (CAST(b{i} + 1 AS DOUBLE) / tb)))"
    for i in range(len(_PSI_EDGES) + 1)
)


@register(
    "docs_length_drift_psi",
    sql=f"""
    WITH binned AS (
        SELECT lang, doc_id % 2 AS half, {_psi_bin_case_sql()} AS bin
        FROM documents
    ),
    counts AS (
        SELECT lang, {_PSI_COUNT_COLS} FROM binned GROUP BY lang
    ),
    tot AS (SELECT lang, *, {_PSI_TOTALS} FROM counts)
    SELECT lang,
           CAST(ta - {len(_PSI_EDGES) + 1} AS BIGINT) AS n_baseline,
           CAST(tb - {len(_PSI_EDGES) + 1} AS BIGINT) AS n_current,
           ROUND({_PSI_SUM}, 6) AS psi
    FROM tot
    """,
    doc="Population-stability-index drift monitor over the document length "
    "distribution, per language: fixed n_chars bins, baseline = even "
    "doc_ids vs current = odd doc_ids (stand-in for two ingest windows), "
    "PSI = Σ (p−q)·ln(p/q) with +1 Laplace smoothing so empty bins stay "
    "finite. The production use is gating an ingest batch whose "
    "distribution drifted (PSI > 0.2 rule of thumb). Determinism: bin "
    "counts are conditional-aggregation INTEGER columns (one shuffle, no "
    "per-bin rows), totals are exact, and the 6-term PSI sum is a fixed "
    "left-to-right expression on both engines — doubles match "
    "bit-for-bit.",
    tags=("text", "drift", "monitoring"),
)
def docs_length_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_bins = len(_PSI_EDGES) + 1
    bin_col = F.lit(n_bins - 1)
    for i in range(len(_PSI_EDGES) - 1, -1, -1):
        bin_col = F.when(
            F.col("n_chars") < _PSI_EDGES[i], F.lit(i)
        ).otherwise(bin_col)
    binned = docs.select(
        "lang", (F.col("doc_id") % 2).alias("half"), bin_col.alias("bin")
    )
    aggs = []
    for i in range(n_bins):
        aggs.append(
            F.sum(
                ((F.col("bin") == i) & (F.col("half") == 0)).cast("long")
            ).alias(f"a{i}")
        )
        aggs.append(
            F.sum(
                ((F.col("bin") == i) & (F.col("half") == 1)).cast("long")
            ).alias(f"b{i}")
        )
    counts = binned.groupBy("lang").agg(*aggs)
    ta = sum(F.col(f"a{i}") + 1 for i in range(n_bins))
    tb = sum(F.col(f"b{i}") + 1 for i in range(n_bins))
    counts = counts.withColumn("ta", ta).withColumn("tb", tb)

    def term(i: int):
        p = (F.col(f"a{i}") + 1).cast("double") / F.col("ta")
        q = (F.col(f"b{i}") + 1).cast("double") / F.col("tb")
        return (p - q) * F.log(p / q)

    psi = term(0)
    for i in range(1, n_bins):
        psi = psi + term(i)
    return counts.select(
        "lang",
        (F.col("ta") - n_bins).cast("bigint").alias("n_baseline"),
        (F.col("tb") - n_bins).cast("bigint").alias("n_current"),
        F.round(psi, 6).alias("psi"),
    )


@register(
    "docs_bigram_lm_score",
    sql="""
    WITH pos AS (
        SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS b
        FROM documents, LATERAL unnest(generate_series(1, length(text) - 1))
             AS t(i)
    ),
    dc AS (
        SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
        FROM pos GROUP BY 1, 2
    ),
    model AS (
        SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM dc GROUP BY b
    ),
    ctx AS (
        SELECT substr(b, 1, 1) AS x, CAST(sum(cb) AS BIGINT) AS cx
        FROM model GROUP BY 1
    ),
    vocab AS (
        SELECT CAST(count(DISTINCT substr(b, 2, 1)) AS BIGINT) AS v
        FROM model
    ),
    term AS (
        SELECT m.b,
               CAST(floor((ln(ctx.cx + vocab.v) - ln(m.cb + 1)) * 1000000
                          + 0.5) AS BIGINT) AS t_micro
        FROM model m
        JOIN ctx ON ctx.x = substr(m.b, 1, 1)
        CROSS JOIN vocab
    ),
    score AS (
        SELECT dc.doc_id,
               CAST(sum(dc.c * term.t_micro) AS BIGINT) AS s_micro,
               CAST(sum(dc.c) AS BIGINT) AS n_bigrams
        FROM dc JOIN term ON dc.b = term.b
        GROUP BY dc.doc_id
    )
    SELECT doc_id, n_bigrams,
           ROUND(s_micro / 1000000.0 / n_bigrams, 6) AS avg_nll_nats
    FROM score
    ORDER BY CAST(s_micro AS DOUBLE) / n_bigrams DESC, doc_id
    LIMIT 20
    """,
    doc="Character-bigram language-model scoring — the model-based quality "
    "filter (CCNet/Gopher-style perplexity filtering): train an add-1-"
    "smoothed bigram LM on the corpus itself in one pass, then surface "
    "the 20 most 'surprising' documents by average negative log-"
    "likelihood per bigram. P(y|x) = (C(xy)+1)/(C(x·)+V), V = distinct "
    "successor characters. Plan shape at 100 TB: ONE explode produces "
    "(doc, bigram) positions (persisted — feeds model build and "
    "scoring); both groupBys are map-side combined so their shuffles "
    "carry ≤|Σ|² model partials and ≤|docs| score partials, never the "
    "corpus; the model/context/vocab frames collapse to |Σ|² rows and "
    "come back as BROADCAST joins. Scoring sums occurrence-level terms "
    "directly — a (doc, bigram) pre-count layer computes the identical "
    "Σ c_d(b)·t(b) but shuffles the corpus-sized count table twice "
    "(A/B'd 3.6 → 1.1 s at sf0.1). Determinism: each bigram's smoothed -ln P "
    "quantizes to integer micro-nats BEFORE the per-doc sum (PMI/entropy "
    "precedent); ln over identical integers is bit-identical across "
    "engines; top-20 ordered by the exact rational s/n with doc_id "
    "tie-break.",
    tags=("text", "lm", "quality", "curation"),
)
def docs_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # guard: Spark's sequence(1, 0) auto-reverses to [1, 0] instead of
    # returning empty (DuckDB's generate_series IS empty) — sub-2-char
    # docs would fabricate bigrams on one side only.
    # Bigrams are PACKED-CODEPOINT LONGS, not 2-char strings: the key
    # rides through a persist, a broadcast join, and two groupBys, and a
    # long hashes/compares/serializes for a fraction of a UTF8String
    # (A/B tools/ab_bigram_lm_variants.py on the sf0.1->sf0.5 big
    # denominators: marginal 1.99 -> 0.80 s, slope 3.2 -> ~1.9; the
    # split-chars-only variant measured FLAT, so the string keys — not
    # the substring walk — were the cost). 1114112 = 0x110000 exceeds
    # the max Unicode codepoint, so a*1114112+b is injective; the key
    # never leaves the query (output is per-doc scores), so the
    # representation is internal.
    pos = (
        docs.filter(F.length("text") >= 2)
        .select("doc_id", F.split("text", "").alias("ch"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ch) - 2), "
                    "i -> ascii(ch[i]) * 1114112L + ascii(ch[i + 1]))"
                )
            ).alias("b"),
        )
    )
    # No (doc, bigram) pre-count layer: occurrence-level scoring sums the
    # same total (Σ_occurrences t(b) ≡ Σ_b c_d(b)·t(b)) while both
    # remaining shuffles stay map-side combined and TINY — the model
    # groupBy carries ≤|Σ|² partials and the score groupBy ≤|docs|
    # partials per partition. The pre-count variant shuffled the full
    # corpus-sized (doc, bigram) table twice; removing it measured
    # 3.6 → 1.1 s at sf0.1. The exploded positions persist once (feeds
    # model build + scoring) so the corpus scans once.
    from pyspark.storagelevel import StorageLevel

    pos = pos.persist(StorageLevel.MEMORY_AND_DISK)
    model = pos.groupBy("b").agg(F.count("*").cast("bigint").alias("cb"))
    first_cp = (F.col("b") / 1114112).cast("bigint")  # exact: b < 2^41
    ctx = model.groupBy(first_cp.alias("x")).agg(
        F.sum("cb").cast("bigint").alias("cx")
    )
    vocab = model.agg(
        F.count_distinct(F.col("b") % 1114112).cast("bigint").alias("v")
    )
    term = (
        model.join(
            F.broadcast(ctx), (model["b"] / 1114112).cast("bigint") == ctx["x"]
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "b",
            F.floor(
                (
                    F.log(
                        (F.col("cx") + F.col("v")).cast("double")
                    )
                    - F.log((F.col("cb") + 1).cast("double"))
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("t_micro"),
        )
    )
    score = (
        pos.join(F.broadcast(term), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("t_micro").cast("bigint").alias("s_micro"),
            F.count("*").cast("bigint").alias("n_bigrams"),
        )
    )
    return (
        score.orderBy(
            (F.col("s_micro").cast("double") / F.col("n_bigrams")).desc(),
            "doc_id",
        )
        .limit(20)
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("s_micro") / 1000000.0 / F.col("n_bigrams"), 6
            ).alias("avg_nll_nats"),
        )
    )


#: power-of-two context buckets for inference batching (CASE ladder, not
#: log2: Spark's LOG2 lowers to ln(x)/ln(2), which lands on 2.999... for
#: exact powers — a CEIL on that misbuckets every boundary doc).
LENGTH_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)


@register(
    "docs_length_buckets",
    sql=f"""
    WITH t AS (
        SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS n FROM documents
    ),
    b AS (
        SELECT n,
               CASE {" ".join(f"WHEN n <= {b} THEN {b}" for b in LENGTH_BUCKETS)}
                    ELSE 8192 END AS bucket
        FROM t
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(floor((bucket * count(*) - sum(n)) * 1000000.0
                      / (bucket * count(*)) + 0.5) AS BIGINT)
               AS padding_waste_ppm
    FROM b GROUP BY bucket
    """,
    doc="Context-length bucketing for batch inference/training: documents "
    "grouped into power-of-two token-length buckets (the batching scheme "
    "that bounds padding waste when sequences are padded to a per-batch "
    "cap), with per-bucket counts and the padding-waste fraction in ppm. "
    "The bucket boundary is a CASE ladder over pinned constants, NOT "
    "ceil(log2(n)) — Spark lowers LOG2 to ln-ratio doubles where exact "
    "powers of two come out as 2.999…, so the log formulation misbuckets "
    "every boundary document (and differently per engine). One shuffle "
    "of ≤|buckets| cells; waste derives from exact integer token sums.",
    tags=("text", "serving", "tokens"),
)
def docs_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = T.token_count(F.col("text"))
    bucket = F.lit(8192)
    for b in reversed(LENGTH_BUCKETS):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    g = d.select(bucket.cast("bigint").alias("bucket"), n.alias("n"))
    return g.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.floor(
            (F.col("bucket") * F.count("*") - F.sum("n"))
            * 1000000.0
            / (F.col("bucket") * F.count("*"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("padding_waste_ppm"),
    )


@register(
    "docs_dup_rate_by_source",
    sql="""
    WITH fp AS (
        SELECT source, md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS f FROM documents
    ),
    counts AS (
        SELECT f, count(*) AS n FROM fp GROUP BY f
    )
    SELECT fp.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_duplicated,
           CAST(floor(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) * 1000000.0
                      / count(*) + 0.5) AS BIGINT) AS dup_rate_ppm
    FROM fp JOIN counts c ON c.f = fp.f
    GROUP BY fp.source
    """,
    doc="Duplication-rate scorecard per source — the pipeline health "
    "metric that decides which feeds need dedup attention: fraction of "
    "each source's documents whose normalized fingerprint appears more "
    "than once ANYWHERE in the corpus (cross-source duplication counts "
    "against both sources — that is the point). Two shuffles on the "
    "32-byte digest (global count, then the source rollup after an "
    "equi-join back); rates in exact ppm via the portable floor round.",
    tags=("dedup", "profile", "quality"),
)
def docs_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("source", T.fingerprint(F.col("text")).alias("f"))
    counts = fp.groupBy("f").agg(F.count("*").alias("n"))
    dup = (F.col("n") > 1).cast("int")
    return (
        fp.join(counts, "f")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(dup).cast("bigint").alias("n_duplicated"),
            F.floor(
                F.sum(dup) * 1000000.0 / F.count("*") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("dup_rate_ppm"),
        )
    )


@register(
    "docs_vocab_growth_curve",
    sql="""
    WITH bounds AS (SELECT max(doc_id) AS mx FROM documents),
    tok AS (
        SELECT doc_id,
               LEAST(9, (doc_id * 10) // ((SELECT mx FROM bounds) + 1))
                   AS b,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tokens_per_bucket AS (
        SELECT b, count(*) AS toks FROM tok GROUP BY b
    ),
    first_seen AS (
        SELECT term, min(b) AS b0 FROM tok GROUP BY term
    ),
    new_terms_per_bucket AS (
        SELECT b0 AS b, count(*) AS new_terms FROM first_seen GROUP BY b0
    )
    SELECT t.b AS bucket,
           CAST(sum(t.toks) OVER (ORDER BY t.b) AS BIGINT) AS cum_tokens,
           CAST(sum(COALESCE(n.new_terms, 0)) OVER (ORDER BY t.b) AS BIGINT)
               AS cum_vocab
    FROM tokens_per_bucket t
    LEFT JOIN new_terms_per_bucket n ON n.b = t.b
    """,
    doc="Vocabulary-growth (Heaps'-law) curve: cumulative distinct terms "
    "vs cumulative tokens across 10 deterministic doc_id deciles — the "
    "corpus-health diagnostic that detects templated or synthetic text "
    "(vocab saturating far below Heaps' V≈K·Tᵝ growth). The distributed "
    "trick: prefix-distinct counts need NO prefix re-scans — each term's "
    "FIRST bucket (min over one shuffle) is where it increments the "
    "vocabulary, so the whole curve is two aggregates over one "
    "tokenization pass plus a 10-row cumulative window. Bucketing is "
    "integer doc_id range division (exact in both engines).",
    tags=("text", "profile", "curation"),
)
def docs_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("mx"))
    tok = (
        d.crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.lit(9), F.expr("(doc_id * 10) div (mx + 1)")
            ).alias("b"),
            F.explode(T.tokens(F.col("text"))).alias("term"),
        )
    )
    tokens_per_bucket = tok.groupBy("b").agg(F.count("*").alias("toks"))
    first_seen = tok.groupBy("term").agg(F.min("b").alias("b0"))
    new_terms = first_seen.groupBy(F.col("b0").alias("b")).agg(
        F.count("*").alias("new_terms")
    )
    from pyspark.sql import Window

    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tokens_per_bucket.join(new_terms, "b", "left")
        .select(
            F.col("b").alias("bucket"),
            F.sum("toks").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce("new_terms", F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("cum_vocab"),
        )
    )


@register(
    "docs_collocations_pmi",
    sql=r"""
    WITH toks AS (
        SELECT regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i + 1])) AS bigram
        FROM toks
    ),
    pairs AS (
        SELECT split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2,
               CAST(count(*) AS BIGINT) AS n_xy
        FROM bg GROUP BY 1, 2
    ),
    marg AS (
        SELECT w1, w2, n_xy,
               sum(n_xy) OVER (PARTITION BY w1) AS n_x,
               sum(n_xy) OVER (PARTITION BY w2) AS n_y,
               sum(n_xy) OVER () AS n
        FROM pairs
    )
    SELECT w1, w2, n_xy,
           CAST(floor(ln(n_xy * 1.0 * n / (n_x * n_y)) * 1000000 + 0.5)
                AS BIGINT) AS pmi_micro_nats
    FROM marg
    WHERE n_xy >= 5
    ORDER BY pmi_micro_nats DESC, w1, w2
    LIMIT 50
    """,
    doc="Top-50 bigram collocations by pointwise mutual information — the "
    "multi-word-expression detector used to build tokenizer merge lists "
    "and phrase vocabularies from a raw corpus ('new york'-style units "
    "whose joint frequency far exceeds chance). Marginals are computed "
    "BEFORE the min-count filter (PMI against true unigram mass, not the "
    "surviving subset) as window sums over the grouped bigram table — "
    "word-count-shaped work: the only data-sized shuffle is the bigram "
    "groupBy with map-side combine; the marginal windows partition the "
    "vocabulary-sized pair table by word. PMI lands in micro-nats via "
    "the portable floor-round (the `events_type_dow_pmi` device) so ln "
    "on identical integer-derived doubles hashes identically across "
    "engines; the ORDER BY ties-break on (w1, w2) so LIMIT 50 is "
    "deterministic even at equal PMI.",
    tags=("text", "information", "window"),
)
def docs_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Adjacent-pair unfold stays array-side (one struct per position, no
    # join): slice yields positions 1..len-1; element_at(ts, i+2) is the
    # 1-based successor of the i-th (0-based) slice element.
    bg = d.select(T.tokens(F.col("text")).alias("ts")).select(
        F.explode(
            F.expr(
                "transform(slice(ts, 1, size(ts) - 1), (x, i) -> "
                "struct(x AS w1, element_at(ts, i + 2) AS w2))"
            )
        ).alias("b")
    )
    pairs = bg.groupBy(
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    ).agg(F.count("*").cast("bigint").alias("n_xy"))
    # marginals as aggregates + broadcast joins, NOT windows: the former
    # partitionBy() global window funneled the ENTIRE pairs table through
    # one task — bounded here by distinct-bigram count, but a word-level
    # bigram vocabulary at 100 TB is billions of rows through a single
    # partition (the one scale-killer shape the plan audits exist to
    # catch; r12 slope sweep read 2.07 on it). The per-word marginal
    # tables are vocab-sized — a SIZE-GATED hint, not a forced one: a
    # billion-word vocabulary must degrade to a shuffle join, not OOM
    # the driver (r12 ADVICE). N is a 1-row scalar attach.
    # pairs feeds three aggregates + the join, so pin it once.
    from pyspark.storagelevel import StorageLevel

    from data_engineering_project_spark.operators.hints import (
        broadcast_if_small,
    )

    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    n_x = pairs.groupBy("w1").agg(F.sum("n_xy").alias("n_x"))
    n_y = pairs.groupBy("w2").agg(F.sum("n_xy").alias("n_y"))
    n = pairs.agg(F.sum("n_xy").alias("n"))
    marg = (
        pairs.join(broadcast_if_small(n_x), "w1")
        .join(broadcast_if_small(n_y), "w2")
        .crossJoin(F.broadcast(n))
    )
    return (
        marg.filter(F.col("n_xy") >= 5)
        .select(
            "w1",
            "w2",
            "n_xy",
            F.floor(
                F.log(
                    F.col("n_xy")
                    * 1.0
                    * F.col("n")
                    / (F.col("n_x") * F.col("n_y"))
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("pmi_micro_nats"),
        )
        .orderBy(F.desc("pmi_micro_nats"), "w1", "w2")
        .limit(50)
    )


_BPE_ROUNDS = 6
_BPE_TOPV = 1500


def _bpe_round_sql(i: int) -> str:
    """One unrolled BPE training round (see operators/text.py:bpe_train for
    the algorithm; this is its token-for-token SQL restatement)."""
    return f"""
pairs{i} AS (
  SELECT word, cnt, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM sym{i - 1}
),
best{i} AS (
  SELECT sym AS a, nxt AS b, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM pairs{i} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt
  ORDER BY pair_count DESC, a ASC, b ASC
  LIMIT 1
),
matched{i} AS (
  SELECT p.word, p.cnt, p.pos, p.sym, p.nxt,
         (p.nxt IS NOT NULL AND p.sym = best{i}.a AND p.nxt = best{i}.b) AS m
  FROM pairs{i} p, best{i}
),
sel{i} AS (
  SELECT word, cnt, pos, sym, nxt,
         CASE WHEN m THEN
           (row_number() OVER (PARTITION BY word, m, island ORDER BY pos) - 1)
             % 2 = 0
         ELSE FALSE END AS selected
  FROM (
    SELECT *,
           CASE WHEN m THEN
             pos - row_number() OVER (PARTITION BY word, m ORDER BY pos)
           END AS island
    FROM matched{i}
  )
),
sym{i} AS (
  SELECT word, cnt,
         row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
         CASE WHEN selected THEN sym || nxt ELSE sym END AS sym
  FROM (
    SELECT *,
           coalesce(lag(selected) OVER (PARTITION BY word ORDER BY pos),
                    FALSE) AS consumed
    FROM sel{i}
  )
  WHERE NOT consumed
)"""


def _bpe_oracle_sql(rounds: int, topv: int) -> str:
    head = f"""
WITH words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS w
        FROM documents WHERE text IS NOT NULL)
  GROUP BY w
  ORDER BY cnt DESC, word ASC
  LIMIT {topv}
),
sym0 AS (
  SELECT word, cnt,
         generate_subscripts(string_split(word, ''), 1) AS pos,
         unnest(string_split(word, '')) AS sym
  FROM words
)"""
    body = head + "," + ",".join(_bpe_round_sql(i) for i in range(1, rounds + 1))
    union = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_round, a AS left_sym,"
        f" b AS right_sym, pair_count, a || b AS merged FROM best{i}"
        for i in range(1, rounds + 1)
    )
    return f"{body}\n{union} ORDER BY merge_round"


@register(
    "docs_bpe_merges",
    sql=_bpe_oracle_sql(_BPE_ROUNDS, _BPE_TOPV),
    doc="Distributed BPE tokenizer training: the first 6 merge rules learned "
    "over the corpus word-frequency table (top-1500 vocab cap — the "
    "SentencePiece-style sampling analog). Each round counts adjacent symbol "
    "pairs weighted by word count, takes the deterministic argmax, and "
    "applies the merge greedy-leftmost (island-parity overlap resolution). "
    "All-integer/string arithmetic — no float terms anywhere. The corpus is "
    "scanned once; iterations run on the bounded vocab table "
    "(operators/text.py:bpe_train).",
    tags=("text", "tokens", "iterative"),
)
def docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.where(F.col("text").isNotNull())
        .select(
            F.explode(
                F.regexp_extract_all(T.ascii_lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(_BPE_TOPV)
    )
    merges = T.bpe_train(words, _BPE_ROUNDS)
    return local_frame(
        spark,
        merges,
        schema="merge_round bigint, left_sym string, right_sym string, "
        "pair_count bigint, merged string",
    )


def _bpe_encode_oracle_sql(rounds: int, topv: int) -> str:
    """Train (same unrolled CTE chain as docs_bpe_merges) then ENCODE: the
    per-word post-merge token count becomes a dictionary joined back onto
    the full word frequency table; out-of-vocab words stay
    character-tokenized (length fallback)."""
    base = _bpe_oracle_sql(rounds, topv)
    # shared CTE chain = everything before the merge-table UNION final
    head = base.split("\nSELECT CAST(1")[0]
    return f"""{head},
tok AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_tok
  FROM sym{rounds} GROUP BY word
),
allwords AS (
  SELECT source, w AS word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source,
               unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS w
        FROM documents WHERE text IS NOT NULL)
  GROUP BY source, w
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS total_words,
       CAST(sum(c * coalesce(n_tok, length(word))) AS BIGINT)
           AS total_bpe_tokens,
       CAST((sum(c * coalesce(n_tok, length(word))) * 10000) // sum(c)
            AS BIGINT) AS tokens_per_word_x10000
FROM allwords LEFT JOIN tok USING (word)
GROUP BY source
"""


@register(
    "docs_bpe_encode_stats",
    sql=_bpe_encode_oracle_sql(_BPE_ROUNDS, _BPE_TOPV),
    doc="Train-then-apply BPE composition: after the 6 learned merges, the "
    "per-word token count becomes a bounded DICTIONARY (vocab-sized) that "
    "encodes the whole corpus through one broadcast join — per-source "
    "total words, total BPE tokens, and tokens-per-word in integer "
    "x10000 units. Out-of-vocab words stay character-tokenized "
    "(length fallback), stated honestly rather than hidden. Scale shape: "
    "corpus pays one scan + one narrow (source, word) groupBy; the "
    "trained dictionary joins broadcast; nothing re-runs the merge loop "
    "per document — tokenization cost is independent of rounds.",
    tags=("text", "tokens", "iterative"),
)
def docs_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.where(F.col("text").isNotNull())
        .select(
            F.explode(
                F.regexp_extract_all(T.ascii_lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(_BPE_TOPV)
    )
    _, symf = T.bpe_train(words, _BPE_ROUNDS, return_symbols=True)
    tok = symf.groupBy("word").agg(F.count("*").cast("long").alias("n_tok"))
    allw = (
        d.where(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(
                F.regexp_extract_all(T.ascii_lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    joined = allw.join(F.broadcast(tok), "word", "left").withColumn(
        "tok_w",
        F.col("c") * F.coalesce(F.col("n_tok"), F.length("word").cast("long")),
    )
    return joined.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("total_words"),
        F.sum("tok_w").cast("bigint").alias("total_bpe_tokens"),
        F.expr("CAST((sum(tok_w) * 10000) div sum(c) AS BIGINT)").alias(
            "tokens_per_word_x10000"
        ),
    )


# --- feature hashing (the stateless vectorizer) -----------------------------

FH_BUCKETS = 16


@register(
    "docs_feature_hash_vectors",
    sql=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5(term), 17, 8) AS BIGINT)
                    % {FH_BUCKETS} AS INT) AS b
        FROM tok
    ),
    counts AS (
        SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
        FROM bucketed GROUP BY doc_id, b
    ),
    dense AS (
        SELECT d.doc_id, g.b, COALESCE(c.c, 0) AS c
        FROM (SELECT DISTINCT doc_id FROM counts) d
        CROSS JOIN (SELECT unnest(range({FH_BUCKETS})) AS b) g
        LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.b = g.b
    )
    SELECT doc_id,
           array_to_string(list(c ORDER BY b), ',') AS fvec,
           CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active
    FROM dense GROUP BY doc_id
    """,
    doc="Feature hashing (the hashing trick, Weinberger et al. '09) — the "
    "STATELESS vectorizer a 100 TB pipeline uses when a vocabulary join "
    "is the bottleneck: term -> md5-derived bucket (portable hash, the "
    "repo's md5_hash64 high half, so the oracle restates every bucket "
    "bit-for-bit), per-doc dense 16-bucket count vector + active-bucket "
    "count. No vocabulary state, no dictionary broadcast, no fit pass — "
    "one explode + one (doc, bucket) count + a map-side densify via "
    "map_from_entries/transform(sequence), so the only shuffle carries "
    "(doc_id, bucket) pairs. Contrast docs_tfidf_top_terms, which joins "
    "a corpus-wide document-frequency table.",
    tags=("text", "vectorizer", "hashing"),
)
def docs_feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    bucketed = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("term"), 17, 8), 16, 10).cast("long")
            % FH_BUCKETS
        )
        .cast("int")
        .alias("b"),
    )
    counts = bucketed.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # densify map-side: bucket->count map per doc, then a fixed 16-slot
    # projection — no second shuffle, no cross join
    return (
        counts.groupBy("doc_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m")
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(FH_BUCKETS - 1)),
                    lambda b: F.coalesce(
                        F.element_at(F.col("m"), b.cast("int")),
                        F.lit(0).cast("bigint"),
                    ),
                ),
                ",",
            ).alias("fvec"),
            F.size("m").cast("bigint").alias("n_active"),
        )
    )
