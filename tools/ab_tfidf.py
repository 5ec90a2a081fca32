"""A/B cost attribution for docs_tfidf_top_terms (r13 wave-B slope 2.85,
d_spark 1.617 s at sf0.5).

Incumbent shape: tok = explode(tokens) is computed TWICE (the tf branch and
the df branch fork the DAG above the explode), the df branch pays a
token-granularity distinct (shuffle of every token occurrence), and the
tf⋈df join shuffles the (doc, term) frame on term. Four exchanges, two
full tokenizations.

Candidates replace the token-level explode+groupBy with the map-side
run-length device `docs_repetition_profile` ratified this round (guide
§2.3/§2.4): per-doc (term, tf) pairs are computed INSIDE the row via
boundary positions over array_sort(tokens) — only (doc, distinct-term)
rows ever leave the projection, the persist makes the interpreted HOF run
once (the BM25 lesson, ROADMAP.md at a5831e4^), df comes from the same frame,
and the vocab-sized df table broadcasts size-gated (the collocations
marginals pattern).

Usage (big-denominator protocol, same as ab_pii.py):
    SPARK_GRAFT_SF_DIR=/root/repo/.localdata/sf0.5 \
    SPARK_GRAFT_SF_SMALL_DIR=/root/testdata/sf0.1 \
    python tools/ab_tfidf.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from data_engineering_project_spark.operators import text as T
from data_engineering_project_spark.operators.hints import broadcast_if_small
from data_engineering_project_spark.plans.text_queries import (
    docs_tfidf_top_terms as v0_current,
)
from data_engineering_project_spark.sources.tables import load_table
from tools.ab_harness import run_ab


def _term_counts(tokens):
    """array<struct<term,tf>> from a token array, computed map-side.

    Boundary positions over the sorted array: position i (1-based) starts a
    run iff i == 1 or srt[i] != srt[i-1]; the run's length is the distance
    to the next boundary. All element_at probes are O(1); no quadratic
    accumulator append.  split() never yields NULL elements, so the `!=`
    comparison is never NULL past the i==1 guard.
    """
    srt = F.array_sort(tokens)
    n = F.size(srt)
    # F.get (0-based) is NULL-safe out of bounds, where ANSI element_at
    # throws: at i==1 the prev probe reads get(srt, -1) = NULL and
    # `true | NULL` keeps the row; past the last boundary get(bounds, j+1)
    # is NULL and coalesces to the sentinel n+1
    bounds = F.filter(
        F.sequence(F.lit(1), n, F.lit(1)),
        lambda i: (i == 1) | (F.get(srt, i - 1) != F.get(srt, i - 2)),
    )
    return F.transform(
        bounds,
        lambda b, j: F.struct(
            F.get(srt, b - 1).alias("term"),
            (F.coalesce(F.get(bounds, j + 1), n + 1) - b).alias("tf"),
        ),
    )


def _rle(spark: SparkSession, sf_dir: str, bcast_df: bool) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # explicit-count repartition: the RLE fold is CPU-heavy on few bytes
    # (the docs_repetition_profile finding — a single-file scan partition
    # would single-thread it)
    d = d.repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    tc = d.select(
        "doc_id", _term_counts(T.tokens(F.col("text"))).alias("tc")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tf = tc.select("doc_id", F.explode("tc").alias("t")).select(
        "doc_id", F.col("t.term").alias("term"), F.col("t.tf").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    if bcast_df:
        df_ = broadcast_if_small(df_)
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


def v1_rle_shuffle_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rle(spark, sf_dir, bcast_df=False)


def v2_rle_bcast_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rle(spark, sf_dir, bcast_df=True)


if __name__ == "__main__":
    run_ab(
        {
            "v0_current": v0_current,
            "v1_rle_shuffle_join": v1_rle_shuffle_join,
            "v2_rle_bcast_df": v2_rle_bcast_df,
        }
    )
