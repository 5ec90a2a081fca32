"""Text-analysis column expressions — the LLM-data-pipeline primitives.

All pure `pyspark.sql.functions` expressions (JVM-side, codegen'd): token
counting, punctuation/stopword ratios, fingerprints. No UDFs — at 100 TB the
difference between a codegen'd regex and a Python UDF is the whole job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# minimal English stopword list used by the quality heuristics; a deployment
# passes its own per-language lists
DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

PUNCT_RE = r"[.,!?;:]"
WS_RE = r"\s+"

ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"

#: DuckDB restatement of :func:`ascii_lower` — oracle SQL must fold case
#: with this, never ``lower()`` (see ascii_lower docstring).
SQL_ASCII_LOWER = f"translate({{expr}}, '{ASCII_UPPER}', '{ASCII_LOWER}')"


def sql_ascii_lower(expr: str) -> str:
    """Oracle-side ASCII case fold: ``translate(expr, 'A-Z', 'a-z')``."""
    return SQL_ASCII_LOWER.format(expr=expr)


def ascii_lower(text: Column) -> Column:
    """ASCII-only case fold: ``translate(s, 'A-Z', 'a-z')``.

    The tokenizer/fingerprint normalization primitive. Deliberately NOT
    ``F.lower``: full Unicode lowering is locale-table-dependent and
    engines disagree (JVM ``lower('İ')`` emits ``'i'+U+0307`` where
    utf8proc emits ``'i'``), which silently splits vocabularies and
    digests across engines on non-ASCII corpora (round-10 hostile-string
    sweep, `lower-unicode` class). The ``[a-z0-9]`` tokenizer family only
    needs ASCII folding, and ``translate`` is codepoint-stable on every
    engine — non-ASCII characters pass through untouched and are then
    excluded by the ASCII token character classes identically everywhere.
    """
    return F.translate(text, ASCII_UPPER, ASCII_LOWER)


def normalized_tokens(text: Column, pattern: str = "[^a-z0-9]+") -> Column:
    """Case-folded token array: split :func:`ascii_lower` text on the
    non-token pattern. THE tokenizer for every ``[a-z0-9]`` query — using
    this (instead of hand-rolled ``F.lower`` + split) is what keeps the
    `lower-unicode` divergence class extinct. Oracle restatement:
    ``regexp_split_to_array(translate(text, 'A-Z', 'a-z'), '[^a-z0-9]+')``.
    """
    return F.split(ascii_lower(text), pattern)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (trim first so leading/trailing space doesn't
    produce empty tokens)."""
    return F.split(F.trim(text), WS_RE)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def token_set(text: Column) -> Column:
    """Distinct tokens — the unit set for Jaccard similarity."""
    return F.array_distinct(tokens(text))


def term_counts(toks: Column) -> Column:
    """Per-row ``array<struct<term,tf>>`` — (distinct term, frequency)
    pairs computed INSIDE the row, no explode/shuffle.

    The map-side replacement for ``explode(tokens) → groupBy(id, term)``
    (the token-granularity shuffle the r13 slope sweep measured at 2.85×
    the columnar twin on docs_tfidf_top_terms): boundary positions over
    ``array_sort(toks)`` — position i (1-based) starts a run iff i == 1 or
    srt[i] ≠ srt[i−1]; the run's frequency is the distance to the next
    boundary. Every probe is an O(1) ``F.get`` (0-based, NULL out of
    bounds where ANSI ``element_at`` throws): at i == 1 the prev probe is
    NULL and ``true | NULL`` keeps the row; past the last boundary the
    next-boundary probe coalesces to the sentinel n+1. No array-append
    accumulator, so the fold is O(n log n) in the sort, not O(n·distinct).

    ``split()`` never emits NULL elements, so the ``≠`` comparison is
    never NULL past the i == 1 guard; a NULL input array propagates to a
    NULL result (explode then drops the row, exactly like exploding the
    NULL token array directly).
    """
    srt = F.array_sort(toks)
    n = F.size(srt)
    bounds = F.filter(
        # greatest(n, 1) keeps sequence() legal on a size-0 array (the
        # whitespace tokenizer never emits one — split of '' is [''] —
        # but the helper must not throw on other callers); the when()
        # below returns [] for that case
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(1)),
        lambda i: (i == 1) | (F.get(srt, i - 1) != F.get(srt, i - 2)),
    )
    pairs = F.transform(
        bounds,
        lambda b, j: F.struct(
            F.get(srt, b - 1).alias("term"),
            (F.coalesce(F.get(bounds, j + 1), n + 1) - b).alias("tf"),
        ),
    )
    pair_type = "array<struct<term:string,tf:int>>"
    return (
        F.when(toks.isNull(), F.lit(None).cast(pair_type))
        .when(n >= 1, pairs)
        .otherwise(F.array().cast(pair_type))
    )


def punct_count(text: Column) -> Column:
    """Count punctuation chars as length delta after stripping them."""
    return F.length(text) - F.length(F.regexp_replace(text, PUNCT_RE, ""))


def word_membership_count(text: Column, words: Sequence[str]) -> Column:
    """How many tokens fall in a fixed word set (vectorized: filter over the
    token array against an array literal)."""
    wordlit = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(wordlit, t)))


def stopword_count(text: Column, stopwords: Sequence[str] = DEFAULT_STOPWORDS) -> Column:
    return word_membership_count(text, stopwords)


def fingerprint(text: Column) -> Column:
    """Normalized-content digest (ASCII case fold + trim + MD5): the dedup
    shuffle key.

    Grouping on a 32-char digest instead of full document bodies is what
    keeps exact dedup's shuffle narrow at 100 TB. MD5 (not xxhash64) so the
    value is portable across engines, including the DuckDB oracle; the case
    fold is :func:`ascii_lower` (not ``F.lower``) so the digest is identical
    across engines on non-ASCII text too.
    """
    return F.md5(ascii_lower(F.trim(text)))


def jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Jaccard similarity of two token-set columns."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens))
    union = F.size(a_tokens) + F.size(b_tokens) - inter
    return inter.cast("double") / union


def jaccard_half_up6(a_tokens: Column, b_tokens: Column) -> Column:
    """Device-rounded exact Jaccard for OUTPUT columns: the integer
    (inter, union) pair routes through :func:`half_up_ratio`, so a ratio
    landing exactly on a representable .xxxxxx5 boundary (union with
    2^a·10^b structure — the r8 parity sweep's residual class) rounds
    half-away identically on every engine instead of splitting between
    Spark's shortest-decimal HALF_UP and binary rounding. Thresholding
    still compares the raw double :func:`jaccard` (identical IEEE ops on
    both engines); only the emitted 6dp value needs the device."""
    from data_engineering_project_spark.functions.scalars import half_up_ratio

    inter = F.size(F.array_intersect(a_tokens, b_tokens))
    union = F.size(a_tokens) + F.size(b_tokens) - inter
    return half_up_ratio(inter.cast("long"), union.cast("long"), 6)


def bpe_train(words, rounds: int, *, return_symbols: bool = False):
    """Learn the first ``rounds`` BPE merge rules over a (word, cnt) table.

    Distributed Sennrich-style byte-pair-encoding training (the tokenizer-
    training step of an LLM data pipeline), relationally:

    1. symbolize each word into (word, cnt, pos, sym) character rows;
    2. per round: count adjacent symbol pairs weighted by word count
       (one tiny groupBy), take the argmax pair with a deterministic
       (count DESC, left ASC, right ASC) tie-break — a bounded 1-row
       action, like the k-centroid collects;
    3. apply the merge greedy-leftmost inside every word: overlapping
       matches (only possible when left == right, e.g. 'aaa' + (a,a))
       are resolved by island parity — consecutive match positions are
       grouped (pos - row_number gaps-and-islands) and even offsets win;
    4. renumber positions and iterate, localCheckpoint-truncating lineage
       per round exactly like the pagerank loop, and free the previous
       round's checkpoint once the next one has materialized.

    Scale shape: the corpus is scanned ONCE to build the word-frequency
    table (map-side-combined groupBy; callers cap it to a top-V vocab the
    way SentencePiece samples sentences). Every iteration then runs over
    that bounded vocab table — windows partition by word (thousands of
    tiny groups, never a global sort) and the only global operation is the
    1-row argmax. At 100 TB the loop cost is independent of corpus size.

    Returns the learned merge table
    ``[(round, left_sym, right_sym, pair_count, merged), ...]`` as plain
    Python values (each round's argmax is already driver-side); rounds
    with no remaining adjacent pair stop early.

    ``return_symbols=True`` additionally returns the POST-training
    symbolization frame ``(word, cnt, pos, sym)`` — the trained
    dictionary an encode stage joins against (see
    ``docs_bpe_encode_stats``): tokenizing a corpus is then one
    vocab-sized dictionary join, never a per-document merge loop.
    """
    from pyspark.sql import Window

    from data_engineering_project_spark.operators.components import (
        checkpoint,
        release,
    )

    sym = checkpoint(
        words.select(
            "word",
            "cnt",
            F.posexplode(F.split(F.col("word"), r"(?!^)")).alias("pos", "sym"),
        )
        # Java split keeps a trailing empty string for the zero-width match
        # at end-of-input; DuckDB's string_split does not — drop it
        .where(F.col("sym") != "")
    )

    merges: list[tuple[int, str, str, int, str]] = []
    w_word = Window.partitionBy("word").orderBy("pos")
    for r in range(1, rounds + 1):
        pairs = sym.withColumn("nxt", F.lead("sym").over(w_word))
        best = (
            pairs.where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("sym"), F.asc("nxt"))
            .limit(1)
            .first()
        )
        if best is None:
            break
        a, b, n = best["sym"], best["nxt"], best["pair_count"]
        merges.append((r, a, b, n, a + b))

        matched = pairs.withColumn(
            "m",
            F.col("nxt").isNotNull() & (F.col("sym") == F.lit(a)) & (F.col("nxt") == F.lit(b)),
        )
        # gaps-and-islands over match positions; greedy leftmost == even
        # offset within each island of consecutive matches
        w_runs = Window.partitionBy("word", "m").orderBy("pos")
        marked = matched.withColumn(
            "island",
            F.when(F.col("m"), F.col("pos") - F.row_number().over(w_runs)),
        )
        w_island = Window.partitionBy("word", "m", "island").orderBy("pos")
        sel = marked.withColumn(
            "selected",
            F.when(
                F.col("m"), (F.row_number().over(w_island) - 1) % 2 == 0
            ).otherwise(F.lit(False)),
        )
        rebuilt = (
            sel.withColumn(
                "consumed",
                F.coalesce(F.lag("selected").over(w_word), F.lit(False)),
            )
            .where(~F.col("consumed"))
            .select(
                "word",
                "cnt",
                F.row_number().over(w_word).alias("pos"),
                F.when(F.col("selected"), F.concat("sym", "nxt"))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
        )
        new_sym = checkpoint(rebuilt)
        release(sym)
        sym = new_sym
    if return_symbols:
        return merges, sym
    release(sym)
    return merges
