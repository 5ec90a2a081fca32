"""Near-dup dedup queries over `documents` (MinHash+LSH, SimHash).

The MinHash pipeline is fully oracle-checked: hashing is MD5-on-string so
DuckDB can restate signature generation, banding, the bucket self-join, and
exact-Jaccard verification — byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.scalars import sql_half_up_ratio
from data_engineering_project_spark.operators import dedup as D
from data_engineering_project_spark.plans.catalog import QUERIES, register
from data_engineering_project_spark.sources.tables import load_table

# device-rounded Jaccard output: exact integer (inter, union) through
# the half-away ratio device (r8 residual class: .xxxxxx5 ties)
_J6 = sql_half_up_ratio("inter", "uni", 6)

_N_HASHES = 16
_N_BANDS = 4
_ROWS = _N_HASHES // _N_BANDS

# DuckDB restatement of shingles → signature → bands → pairs → verify
_SIG_ELEMS = ",\n             ".join(
    f"list_min(list_transform(sh, s -> md5('{i}:' || s)))" for i in range(_N_HASHES)
)
_BAND_ELEMS = ", ".join(
    "'{b}' || '|' || ".format(b=b)
    + " || '|' || ".join(f"sig[{b * _ROWS + r + 1}]" for r in range(_ROWS))
    for b in range(_N_BANDS)
)

_MINHASH_SQL = f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
                        range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                    WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                    ELSE [] END AS sh
        FROM toks
    ),
    sig AS (
        SELECT doc_id, sh,
             [{_SIG_ELEMS}] AS sig
        FROM sh
    ),
    banded AS (
        SELECT doc_id, unnest([{_BAND_ELEMS}]) AS band_key FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b USING (band_key)
        WHERE a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT id_a, id_b,
               len(list_intersect(sa.sh, sb.sh)) AS inter,
               len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS uni,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, {_J6} AS jaccard
    FROM verified WHERE j >= 0.5
"""


@register(
    "docs_minhash_pairs",
    sql=_MINHASH_SQL,
    doc="MinHash(16)+LSH(4 bands) near-duplicate pairs with exact-Jaccard "
    "verification ≥ 0.5 — the scalable all-pairs text dedup: candidates come "
    "only from band-bucket collisions, so no cross join exists in the plan. "
    "(Synthetic corpus has no near-dups, so an empty result that MATCHES the "
    "oracle's empty result is the correct answer; the operator's recall is "
    "unit-tested with constructed near-dups in tests/test_dedup.py.)",
    tags=("dedup", "minhash", "lsh"),
)
def docs_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, n_hashes=_N_HASHES, n_bands=_N_BANDS, shingle_k=3, min_jaccard=0.5
    )


_PREFIX_T = 0.95

_PREFIX_SQL = f"""
    WITH ts AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS ts
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(ts) AS tok FROM ts),
    freq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
    ordered AS (
        SELECT t.doc_id,
               list_transform(list_sort(list({{'df': f.df, 'tok': t.tok}})),
                              s -> s.tok) AS ot
        FROM tok t JOIN freq f USING (tok)
        GROUP BY t.doc_id
    ),
    pref AS (
        SELECT doc_id,
               unnest(ot[1:(len(ot) - CAST(ceil({_PREFIX_T} * len(ot)) AS INT) + 1)])
                   AS tok
        FROM ordered
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref a JOIN pref b USING (tok)
        WHERE a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT id_a, id_b,
               len(list_intersect(sa.ts, sb.ts)) AS inter,
               len(sa.ts) + len(sb.ts) - len(list_intersect(sa.ts, sb.ts))
                   AS uni,
               CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE)
               / (len(sa.ts) + len(sb.ts) - len(list_intersect(sa.ts, sb.ts)))
                   AS j
        FROM cand
        JOIN ts sa ON sa.doc_id = cand.id_a
        JOIN ts sb ON sb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, {_J6} AS jaccard
    FROM verified WHERE j >= {_PREFIX_T}
"""


@register(
    "docs_jaccard_near_pairs",
    sql=_PREFIX_SQL,
    doc="EXACT token-set Jaccard ≥ 0.95 pairs via prefix filtering "
    "(AllPairs/PPJoin family) — the zero-false-negative complement to "
    "MinHash: token sets sort by ascending global document frequency, only "
    "the first |x|−⌈t·|x|⌉+1 tokens become blocking keys (complete by the "
    "prefix-filter theorem), and candidates verify with exact Jaccard. "
    "Fully oracle-checked: no hashing anywhere, so DuckDB restates every "
    "step including the global token order.",
    tags=("dedup", "jaccard", "similarity"),
)
def docs_jaccard_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.jaccard_prefix_pairs(d, min_jaccard=_PREFIX_T)


_CAP_B = 64
_CAP_SALT = D.N_SALT  # single source of truth for the salt width

_CAPPED_SQL = f"""
    WITH ts AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS ts
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(ts) AS tok FROM ts),
    freq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
    ordered AS (
        SELECT t.doc_id,
               list_transform(list_sort(list({{'df': f.df, 'tok': t.tok}})),
                              s -> s.tok) AS ot
        FROM tok t JOIN freq f USING (tok)
        GROUP BY t.doc_id
    ),
    pref AS (
        SELECT doc_id, len(ot) AS sz,
               unnest(ot[1:(len(ot) - CAST(ceil({_PREFIX_T} * len(ot)) AS INT) + 1)])
                   AS tok
        FROM ordered
    ),
    salted AS (
        SELECT doc_id, tok,
               CASE WHEN count(*) OVER (PARTITION BY tok) <= {_CAP_B} THEN 0
                    ELSE CAST(CAST('0x' ||
                              substr(md5(CAST(doc_id AS VARCHAR)), 17, 8)
                              AS BIGINT) % {_CAP_SALT} AS INT) END AS sub
        FROM pref
    ),
    chunked AS (
        SELECT doc_id, tok, sub,
               CAST(floor((row_number() OVER w - 1) / {_CAP_B}) AS INT) AS chunk,
               ((row_number() OVER w - 1) % {_CAP_B} = 0) AS is_head,
               (row_number() OVER w = 1) AS is_first
        FROM salted
        WINDOW w AS (PARTITION BY tok, sub
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
    ),
    within AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM chunked a JOIN chunked b
          ON a.tok = b.tok AND a.sub = b.sub AND a.chunk = b.chunk
        WHERE a.doc_id < b.doc_id
    ),
    chain AS (
        SELECT least(a.doc_id, b.doc_id) AS id_a,
               greatest(a.doc_id, b.doc_id) AS id_b
        FROM chunked a JOIN chunked b
          ON a.tok = b.tok AND a.sub = b.sub AND a.chunk = b.chunk - 1
             AND a.is_head AND b.is_head
    ),
    firsts AS (
        SELECT doc_id, tok,
               row_number() OVER (PARTITION BY tok ORDER BY sub) AS rk
        FROM chunked WHERE is_first
    ),
    crosschain AS (
        SELECT least(a.doc_id, b.doc_id) AS id_a,
               greatest(a.doc_id, b.doc_id) AS id_b
        FROM firsts a JOIN firsts b ON a.tok = b.tok AND a.rk = b.rk - 1
    ),
    cand AS (
        SELECT DISTINCT id_a, id_b
        FROM (SELECT * FROM within UNION ALL SELECT * FROM chain
              UNION ALL SELECT * FROM crosschain)
    ),
    verified AS (
        SELECT id_a, id_b,
               len(list_intersect(sa.ts, sb.ts)) AS inter,
               len(sa.ts) + len(sb.ts) - len(list_intersect(sa.ts, sb.ts))
                   AS uni,
               CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE)
               / (len(sa.ts) + len(sb.ts) - len(list_intersect(sa.ts, sb.ts)))
                   AS j
        FROM cand
        JOIN ts sa ON sa.doc_id = cand.id_a
        JOIN ts sb ON sb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, {_J6} AS jaccard
    FROM verified WHERE j >= {_PREFIX_T}
"""


@register(
    "docs_jaccard_capped_pairs",
    sql=_CAPPED_SQL,
    doc="Skew-bounded exact-Jaccard pairs: the prefix-filter join of "
    "docs_jaccard_near_pairs with max_bucket=64 SALTED two-level "
    "sub-bucketing — each hot prefix-token bucket salts into hash(id)%16 "
    "sub-buckets (so no single task ever sorts a whole pathological "
    "bucket), each sub-bucket is md5-ordered and cut into ≤64-doc chunks; "
    "candidates generate within chunks plus two chain families (head "
    "chains within sub-buckets, first-row chain across sub-buckets), "
    "bounding a duplicate super-cluster's output at O(n·64) instead of "
    "C(n,2) (the shuffle audit's exponent-1.62 grower; the testdata "
    "corpus really has a ~64-doc template cluster, so the cap ENGAGES "
    "here and the oracle restates the salting + chunking deterministically "
    "— md5-derived sub assignment, windows over (tok, sub), row_number "
    "arithmetic, both chains — byte-identical). The uncapped twin stays "
    "the completeness-guaranteed catalog row; this is the 100 TB "
    "manifest-feeder shape: connectivity-sufficient pairs, not all-pairs.",
    tags=("dedup", "jaccard", "skew"),
)
def docs_jaccard_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.jaccard_prefix_pairs(d, min_jaccard=_PREFIX_T, max_bucket=_CAP_B)


@register(
    "docs_minhash_signature_profile",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
                        range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                    WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                    ELSE [] END AS sh
        FROM toks
    )
    SELECT doc_id,
           CAST(len(sh) AS BIGINT) AS n_shingles,
           list_min(list_transform(sh, s -> md5('0:' || s))) AS minhash_0
    FROM sh
    """,
    doc="Per-document MinHash signature head (seed 0) + shingle count — "
    "pins the signature generation itself to the oracle even when the "
    "corpus has no near-dup pairs to surface.",
    tags=("dedup", "minhash"),
)
def docs_minhash_signature_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (guide §4 "keep the hot loop compiled"): this was the expression
    # form — array_min(transform(sh, md5(...))) per row — whose own operator
    # docstring (minhash_signature) warns it evaluates INTERPRETED
    # (higher-order functions are CodegenFallback). Wave-C slope 7.82,
    # d_spark 16.0 s at sf0.5. Rebuilt as the minhash_signatures
    # explode+min-agg shape (spread repartition on doc_id so the md5 CPU
    # parallelizes regardless of scan splits; the groupBy's own exchange
    # carries only per-doc PARTIAL (count, min) rows): md5 runs in a
    # compiled Project, marginal 16.0 → 1.2 s (tools/ab_minhash_profile.py).
    # explode_outer keeps empty-shingle docs as one NULL row: count("s")
    # reads 0 and min over the all-NULL group reads NULL — exactly the
    # expression form's (size=0, array_min=NULL) output (equivalence
    # asserted at sf0.1 by the A/B harness and pinned by
    # tests/test_dedup.py::test_minhash_signature_profile_keeps_empty_docs).
    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    ex = d.select(
        "doc_id", F.explode_outer(D.shingles(F.col("text"), 3)).alias("s")
    )
    return ex.groupBy("doc_id").agg(
        F.count("s").cast("bigint").alias("n_shingles"),
        F.min(F.md5(F.concat(F.lit("0:"), F.col("s")))).alias("minhash_0"),
    )


# The bucket is the fingerprint's top 16 bits; fingerprint bit (48+k) is the
# sign of the ±1 bit-sum over token hashes at bit (48+k), which lives in the
# HIGH 32-bit half of the md5-derived hash (operators/dedup.py:md5_hash64) —
# so the oracle needs only hex chars 17–24 of each token's md5.
_SIMHASH_BUCKET_TERMS = " + ".join(
    "CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> {b}) & 1 = 1 "
    "THEN 1 ELSE -1 END)) > 0 THEN {w} ELSE 0 END".format(b=16 + k, w=1 << k)
    for k in range(16)
)


@register(
    "docs_simhash_buckets",
    sql=f"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    h AS (
        SELECT doc_id,
               list_transform(
                   t, s -> CAST('0x' || substr(md5(s), 17, 8) AS BIGINT)
               ) AS hs
        FROM toks
    )
    SELECT bucket, COUNT(*) AS n_docs FROM (
        SELECT CAST({_SIMHASH_BUCKET_TERMS} AS BIGINT) AS bucket FROM h
    ) GROUP BY bucket
    """,
    doc="SimHash-64 fingerprints bucketed by their top-16 bits: documents "
    "sharing a bucket are Hamming-close candidates. Pure map + one small "
    "agg; pairs within buckets verify with hamming64 ≤ threshold "
    "(operators/dedup.py). The md5-derived token hash (md5_hash64) makes "
    "the fingerprint portable, so the DuckDB oracle restates the bucket "
    "bits exactly (the round-2 xxhash64 version was rows-only); "
    "Hamming-within-bucket behavior on a seeded fixture in "
    "tests/test_dedup.py.",
    tags=("dedup", "simhash"),
)
def docs_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fps = D.simhash_fingerprints(d)  # codegen-safe explode+agg form
    return (
        fps.select(F.shiftrightunsigned(F.col("fp"), 48).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "docs_edit_distance_pairs",
    sql="""
    WITH d AS (
        SELECT doc_id, lang, n_chars // 50 AS lb,
               regexp_replace(substr(text, 1, 32), '[^\\x00-\\x7F]', '?', 'g')
                   AS prefix
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_distance
    FROM d a
    JOIN d b ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 12
    """,
    doc="Edit-distance near-dup pairs: Levenshtein <= 12 between 32-char "
    "prefixes, blocked on (language, 50-char length bucket). Levenshtein "
    "is O(m*n) per pair and quadratic per block, so the block key IS the "
    "scale knob — length bucketing (sorted-neighborhood blocking from "
    "record linkage) cuts candidate pairs ~10x here and keeps block sizes "
    "bounded as the corpus grows; near-boundary pairs are the documented "
    "recall tradeoff (production recovers them with a second, offset "
    "bucketing pass). JVM-side F.levenshtein, no UDF.",
    tags=("dedup", "editdistance"),
)
def docs_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.floor(F.col("n_chars") / 50).alias("lb"),
            # ASCII projection before levenshtein: DuckDB's levenshtein
            # counts BYTES where Spark counts codepoints, so each
            # non-ASCII codepoint collapses to one '?' on BOTH engines
            # (regex classes match per codepoint in RE2 and Java alike);
            # the projected strings are pure ASCII, where bytes ==
            # codepoints (r10 hostile-string sweep, lev-bytes recipe).
            F.regexp_replace(
                F.substring("text", 1, 32), r"[^\x00-\x7F]", "?"
            ).alias("prefix"),
        )
    )
    # explicit-count repartition on the block key: the per-pair
    # levenshtein CPU dwarfs the bytes, so AQE's coalescing would
    # single-thread the blocked self-join (ROADMAP codegen-cliff/AQE rule)
    d = d.repartition(
        spark.sparkContext.defaultParallelism, F.col("lang"), F.col("lb")
    )
    a, b = d.alias("a"), d.alias("b")
    # thresholded form: stops a pair's O(m*n) table once the distance
    # passes 12 and returns -1 (REPOSE's prune-before-exact-distance); a
    # NULL prefix stays NULL, which `>= 0` drops as `<= 12` did
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"), 12)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(dist >= 0)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            dist.cast("bigint").alias("edit_distance"),
        )
    )


# --- SimHash hamming-distance pair generation (Manku et al., WWW'07) -------

_SH_HAM_T = 3


def _sh_band_term(b: int) -> str:
    """16-bit band value for global fp bits [16b, 16b+16): bits ≥ 32 live in
    the hi half of the md5-derived hash, bits < 32 in the lo half."""
    terms = []
    for k in range(16):
        bit = 16 * b + k
        src, sh = ("hh", bit - 32) if bit >= 32 else ("hl", bit)
        terms.append(
            f"CASE WHEN list_sum(list_transform({src}, x -> "
            f"CASE WHEN (x >> {sh}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN {1 << k} ELSE 0 END"
        )
    return " + ".join(terms)


_SH_BANDS_SQL = ", ".join(
    f"CAST({_sh_band_term(b)} AS BIGINT)" for b in range(4)
)


@register(
    "docs_simhash_hamming_pairs",
    sql=f"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    h AS (
        SELECT doc_id,
               list_transform(
                   t, s -> CAST('0x' || substr(md5(s), 17, 8) AS BIGINT)
               ) AS hh,
               list_transform(
                   t, s -> CAST('0x' || substr(md5(s), 25, 8) AS BIGINT)
               ) AS hl
        FROM toks
    ),
    bands AS (
        SELECT doc_id, [{_SH_BANDS_SQL}] AS bv FROM h
    ),
    bexp AS (
        SELECT doc_id, u.bi AS band_idx, bv[u.bi] AS b
        FROM bands, (SELECT unnest(range(1, 5)) AS bi) u
    ),
    cands AS (
        SELECT a.band_idx, a.doc_id AS id_a, b.doc_id AS id_b
        FROM bexp a
        JOIN bexp b ON a.band_idx = b.band_idx AND a.b = b.b
                   AND a.doc_id < b.doc_id
    ),
    ham AS (
        SELECT c.band_idx,
               bit_count(xor(ba.bv[1], bb.bv[1]))
                   + bit_count(xor(ba.bv[2], bb.bv[2]))
                   + bit_count(xor(ba.bv[3], bb.bv[3]))
                   + bit_count(xor(ba.bv[4], bb.bv[4])) AS hd
        FROM cands c
        JOIN bands ba ON ba.doc_id = c.id_a
        JOIN bands bb ON bb.doc_id = c.id_b
    )
    SELECT band_idx,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN hd <= {_SH_HAM_T} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_verified,
           CAST(min(hd) AS BIGINT) AS min_hamming
    FROM ham
    GROUP BY band_idx
    """,
    doc="SimHash near-dup PAIR GENERATION via pigeonhole banding (Manku et "
    "al., WWW'07 — the web-scale dedup classic): the 64-bit fingerprint "
    "splits into 4 x 16-bit bands, and any two fps within Hamming "
    f"distance {_SH_HAM_T} MUST agree exactly on at least one band "
    "(pigeonhole over 4 bands), so candidates come from 4 cheap band "
    "equi-joins — never an all-pairs XOR scan. Candidates verify with "
    "bit_count(fp_a XOR fp_b); the output profiles each band's candidate "
    "yield, verified count, and closest observed distance (the random "
    "corpus has near-collisions but no true dups — constructed-dup "
    "recall is unit-tested in tests/test_dedup.py). The md5-derived "
    "fingerprint keeps every bit restatable, so the full "
    "band->join->verify pipeline is hash-checked end to end; Hamming "
    "distance is computed bandwise in the oracle (1<<63 would overflow a "
    "signed BIGINT fp) and fp-wise in the engine — identical by "
    "construction.",
    tags=("dedup", "simhash", "lsh"),
)
def docs_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fps = D.simhash_fingerprints(d).persist()
    mask = F.lit(0xFFFF).cast("long")
    bands = fps.select(
        "doc_id",
        "fp",
        F.array(
            *[
                F.shiftrightunsigned("fp", 16 * b).bitwiseAND(mask)
                for b in range(4)
            ]
        ).alias("bv"),
    )
    bexp = bands.select(
        "doc_id", F.posexplode("bv").alias("bi0", "b")
    ).select("doc_id", (F.col("bi0") + 1).alias("band_idx"), "b")
    a = bexp.select(
        F.col("band_idx").alias("bi_a"),
        F.col("b").alias("b_a"),
        F.col("doc_id").alias("id_a"),
    )
    b = bexp.select(
        F.col("band_idx").alias("bi_b"),
        F.col("b").alias("b_b"),
        F.col("doc_id").alias("id_b"),
    )
    cands = a.join(
        b,
        (F.col("bi_a") == F.col("bi_b"))
        & (F.col("b_a") == F.col("b_b"))
        & (F.col("id_a") < F.col("id_b")),
    ).select(F.col("bi_a").alias("band_idx"), "id_a", "id_b")
    fa = fps.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"))
    fb = fps.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"))
    ham = (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "band_idx",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hd"),
        )
    )
    return ham.groupBy("band_idx").agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("hd") <= _SH_HAM_T, 1).otherwise(0))
        .cast("bigint")
        .alias("n_verified"),
        F.min("hd").cast("bigint").alias("min_hamming"),
    )


@register(
    "docs_canonical_manifest",
    sql=None,  # assigned below: reuses extended_queries' recursive-CTE pairs
    doc="The dedup pipeline's KEEP/DROP decision (operators/dedup.py:"
    "canonical_selection): near-dup pairs over each document's embedding "
    "(the same label-blocked cosine graph emb_dup_clusters hashes) collapse "
    "into transitive clusters, each cluster keeps its best member by "
    "(n_chars DESC, doc_id ASC) — longest document, the standard corpus-"
    "curation rule — and every other member emits one removal-manifest row "
    "naming its canonical replacement. Anti-join the manifest against "
    "documents to materialize the deduplicated corpus. The oracle restates "
    "components as a recursive CTE, then the keep-best window in SQL.",
    tags=("dedup", "components", "manifest"),
)
def docs_canonical_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.dedup import (
        canonical_selection,
    )
    from data_engineering_project_spark.plans.extended_queries import (
        _blocked_pairs,
    )

    pairs = _blocked_pairs(spark, sf_dir).filter(F.col("c") >= 0.35)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return canonical_selection(
        pairs.select("id_a", "id_b"),
        docs,
        id_col="doc_id",
        pair_a="id_a",
        pair_b="id_b",
        quality_col="n_chars",
    )


def _canonical_manifest_sql() -> str:
    from data_engineering_project_spark.plans.extended_queries import (
        _BLOCKED_PAIRS_CTE,
    )

    return _BLOCKED_PAIRS_CTE.replace("WITH e AS", "WITH RECURSIVE e AS") + """
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
    comp AS (SELECT node, min(root) AS cluster_id FROM reach GROUP BY node),
    sized AS (
        SELECT c.node, c.cluster_id, d.n_chars,
               count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.node ASC) AS rk
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    canon AS (SELECT cluster_id, node AS canonical_id FROM sized WHERE rk = 1)
    SELECT s.node AS doc_id, canon.canonical_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size
    FROM sized s JOIN canon USING (cluster_id)
    WHERE s.rk > 1
    """


QUERIES["docs_canonical_manifest"].sql = _canonical_manifest_sql()


_WINNOW_K, _WINNOW_W, _WINNOW_MIN_SHARED = 5, 4, 2

@register(
    "docs_winnowing_pairs",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(t[i:i+{_WINNOW_K - 1}], ' ')) AS h,
               greatest(len(t) - {_WINNOW_K - 1}, 0) AS G
        FROM toks,
             LATERAL (SELECT unnest(range(1,
                 greatest(len(t) - {_WINNOW_K - 1}, 0) + 1)) AS i)
    ),
    winmin AS (
        SELECT doc_id, pos, G,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WINNOW_W - 1} FOLLOWING) AS fp
        FROM grams
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM winmin
        WHERE pos + {_WINNOW_W - 1} <= G
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
    doc=f"Winnowing fingerprint pairs (Schleimer et al., SIGMOD'03 — MOSS): "
    f"every {_WINNOW_K}-word gram hashes, each window of {_WINNOW_W} "
    "consecutive gram hashes keeps its minimum, and documents sharing "
    f">= {_WINNOW_MIN_SHARED} selected fingerprints pair up — a COMPLETE "
    f"detector for common word runs of length >= {_WINNOW_K + _WINNOW_W - 1} "
    "(the exact-substring dedup of Lee et al.'s 'Deduplicating Training "
    "Data' realized as a fingerprint equi-join instead of suffix arrays). "
    "Scale shape: explode -> bounded ROWS window min per doc (no global "
    "sort) -> distinct -> equi-self-join on fp; the join carries only "
    "(doc_id, fp) at ~2/(w+1) gram density. md5 hex minima order "
    "identically in both engines.",
    tags=("dedup", "winnowing", "fingerprint"),
)
def docs_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = D.winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"),
        k=_WINNOW_K, w=_WINNOW_W,
    )
    # rename the join key PER SIDE: two selects of one frame resolve
    # same-named columns to the same attribute id (repo invariant)
    a = fps.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = fps.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        a.join(
            b,
            (F.col("fp_a") == F.col("fp_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )


@register(
    "docs_substring_canonical_manifest",
    sql=None,  # assigned below: winnowing pairs CTE + recursive components
    doc="Substring-level dedup manifest: the winnowing pair graph "
    f"(shared word runs >= {_WINNOW_K + _WINNOW_W - 1}, "
    f">= {_WINNOW_MIN_SHARED} shared fingerprints) collapses through the "
    "same canonical_selection used for the cosine-similarity manifest "
    "(docs_canonical_manifest) — demonstrating the dedup stack composes "
    "over ANY pair generator: cluster transitively, keep the longest "
    "member, emit one removal row per other member. At 100 TB the pair "
    "generator is the only part that changes per dedup flavor; the "
    "components + keep-best machinery is shared.",
    tags=("dedup", "winnowing", "manifest"),
)
def docs_substring_canonical_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_engineering_project_spark.operators.dedup import (
        canonical_selection,
    )

    pairs = docs_winnowing_pairs(spark, sf_dir).select("id_a", "id_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return canonical_selection(pairs, docs)


def _substring_manifest_sql() -> str:
    winnow_pairs = QUERIES["docs_winnowing_pairs"].sql
    return f"""
    WITH RECURSIVE wpairs AS ({winnow_pairs}),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM wpairs
        UNION ALL
        SELECT id_b, id_a FROM wpairs
    ),
    reach (node, root) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, min(root) AS cluster_id FROM reach GROUP BY node),
    sized AS (
        SELECT c.node, c.cluster_id, d.n_chars,
               count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.node ASC) AS rk
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    canon AS (SELECT cluster_id, node AS canonical_id FROM sized WHERE rk = 1)
    SELECT s.node AS doc_id, canon.canonical_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size
    FROM sized s JOIN canon USING (cluster_id)
    WHERE s.rk > 1
    """


QUERIES["docs_substring_canonical_manifest"].sql = _substring_manifest_sql()


_SPAN_K = 8  # tokens per duplicated-span window

_DUP_SPAN_SQL = f"""
    WITH g AS (
        SELECT doc_id, array_to_string(ws[i:i+{_SPAN_K - 1}], ' ') AS gram
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
              FROM documents) t,
        LATERAL (SELECT unnest(range(1, greatest(len(ws) - {_SPAN_K - 1}, 0)
                                        + 1)) AS i) _
        WHERE len(ws) >= {_SPAN_K}
    ),
    counts AS (
        SELECT doc_id, count(*) AS n_grams,
               count(DISTINCT gram) AS n_distinct
        FROM g GROUP BY 1
    ),
    dg AS (SELECT DISTINCT doc_id, gram FROM g),
    shared AS (SELECT gram FROM dg GROUP BY gram HAVING count(*) >= 2),
    dup AS (
        SELECT dg.doc_id, count(*) AS n_dup
        FROM dg JOIN shared USING (gram) GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(c.n_grams AS BIGINT) AS n_grams,
           CAST(c.n_distinct AS BIGINT) AS n_distinct_grams,
           CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_grams,
           {sql_half_up_ratio('COALESCE(d.n_dup, 0)', 'c.n_distinct', 6)}
               AS dup_span_ratio
    FROM counts c LEFT JOIN dup d USING (doc_id)
"""


@register(
    "docs_duplicate_ngram_spans",
    sql=_DUP_SPAN_SQL,
    doc="Cross-document duplicated-span profile (Lee et al. 2022 "
    "'Deduplicating Training Data' signal, token-window form): every "
    f"{_SPAN_K}-token window is a span key; a doc's dup_span_ratio is "
    "the share of its distinct spans that also occur in ANOTHER doc — "
    "the per-document evidence an exact-substring deduplicator acts on "
    "(near 1.0 = boilerplate/mirror, near 0 = unique prose). Spans "
    "come from one posexplode + 7 lead() steps over a per-doc window "
    "(token positions are bounded by doc length, never corpus size); "
    "the shared-span set is one groupBy on the span key — the only "
    "corpus-wide shuffle, hash-partitioned on high-cardinality span "
    "strings (a production run would xxhash64 the span to shrink "
    "shuffle bytes; kept as strings here so the oracle restates the "
    "key bit-for-bit). Ratio rounds through the half-away device.",
    tags=("dedup", "text", "spans"),
)
def docs_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from data_engineering_project_spark.functions.scalars import half_up_ratio
    from data_engineering_project_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", j).over(w) for j in range(1, _SPAN_K)
    ]
    g = (
        toks.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("tok", _SPAN_K - 1).over(w).alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())  # windows that fit entirely
        .select("doc_id", "gram")
    )
    counts = g.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count_distinct("gram").alias("n_distinct"),
    )
    dg = g.distinct()
    shared = (
        dg.groupBy("gram")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup = dg.join(shared, "gram").groupBy("doc_id").agg(
        F.count("*").alias("n_dup")
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0))
    return counts.join(dup, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_distinct").cast("bigint").alias("n_distinct_grams"),
        n_dup.cast("bigint").alias("n_dup_grams"),
        half_up_ratio(n_dup, F.col("n_distinct"), 6).alias("dup_span_ratio"),
    )
