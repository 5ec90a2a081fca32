"""Count-min sketch: fixed-size frequency summaries as DataFrames.

At 100 TB an exact ``groupBy(key).count()`` carries aggregation state
proportional to the number of distinct keys — fine for hundreds of
millions, hostile for billions of long-tail keys (user ids, URLs,
n-grams). A count-min sketch (Cormode & Muthukrishnan 2005) bounds the
state at ``depth × width`` counters regardless of cardinality, at the
price of a one-sided overestimate: ``true ≤ est ≤ true + eps·N`` with
probability ``1 − (1/2)^depth`` for ``eps = e/width``.

Spark-first representation: the sketch IS a DataFrame of
``(row_idx, bucket, cnt)`` — at most ``depth × width`` rows. Building it
is one pass: each input row explodes into ``depth`` (row_idx, bucket)
probes hashed JVM-side (md5-derived by default so a DuckDB oracle can
restate the sketch bit-for-bit; xxhash64 knob for raw speed — no Python
UDFs either way), then a hash
aggregate whose map-side partial combine caps every partition's shuffle
contribution at ``depth × width`` rows — the shuffle is sketch-sized,
not data-sized. Estimation is a broadcast join of the candidate keys'
probes against the sketch and a ``min(cnt)`` per key.

The classic two-pass heavy-hitter query (pass 1: build sketch; pass 2:
estimate candidates, keep ``est ≥ φ·N``) never materializes per-key
exact state. Guarantees (never underestimates; recall of true heavy
hitters is 100%) are property-tested in tests/test_sketch.py.

No reference analog (SURVEY.md §2.4 lists approximate aggregates as
absent); this is part of the training-data-pipeline surface alongside
dedup and similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_project_spark.sources.tables import local_frame

#: Default geometry: eps = e/2048 ≈ 0.13%, delta = (1/2)^4 ≈ 6%.
DEPTH = 4
WIDTH = 2048


def _probes(
    key: Column, depth: int, width: int, seed: int, hasher: str = "md5"
) -> Column:
    """Array of ``depth`` structs (row_idx, bucket) for one key value.

    Row ``i`` uses an independent hash by folding ``seed + i`` into the
    hash input; ``pmod`` keeps buckets in [0, width).

    ``hasher='md5'`` (default) derives ALL depth buckets from ONE md5
    digest: digest of ``"{seed+g}:{key}"`` (g = i div 4) sliced into four
    disjoint 8-hex (32-bit) windows, window ``i mod 4`` for depth-row
    ``i``. One md5 per key per 4 rows instead of one per row — 1.13 s →
    0.64 s for the sf0.1 sketch build (md5 is the dominant per-row cost;
    the windows of a cryptographic digest are independent, which is all
    pairwise-independent-ish CMS rows need). Portable: a DuckDB oracle
    restates ``substr(md5(..), 1+8·i, 8)`` bit-for-bit (same rationale as
    MinHash/SimHash in operators/dedup.py). Signed-vs-unsigned congruence
    only matters for POWER-OF-TWO widths (2^32 ≡ 0 mod 2^k), which the
    defaults are. ``hasher='xxhash64'`` is the faster JVM-native knob
    when cross-engine restatement isn't needed.
    """
    if hasher == "xxhash64":
        def bucket(i: int) -> Column:
            return F.pmod(F.xxhash64(key, F.lit(seed + i)), F.lit(width))
    elif hasher == "md5":
        digests = {
            g: F.md5(F.concat(F.lit(f"{seed + g}:"), key.cast("string")))
            for g in range((depth + 3) // 4)
        }

        def bucket(i: int) -> Column:
            h = F.conv(
                F.substring(digests[i // 4], 1 + 8 * (i % 4), 8), 16, 10
            ).cast("long")
            return F.pmod(h, F.lit(width))
    else:
        raise ValueError(f"hasher must be md5|xxhash64, got {hasher!r}")
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row_idx"), bucket(i).alias("bucket")
            )
            for i in range(depth)
        ]
    )


def count_min_sketch(
    df: DataFrame,
    key: str,
    *,
    depth: int = DEPTH,
    width: int = WIDTH,
    seed: int = 42,
    hasher: str = "md5",
) -> DataFrame:
    """One-pass CMS build → ``(row_idx, bucket, cnt)``, ≤ depth×width rows.

    Partial aggregation bounds the shuffle at depth×width rows per input
    partition, so the network cost is independent of data volume.
    """
    return (
        df.select(
            F.explode(_probes(F.col(key), depth, width, seed, hasher)).alias("p")
        )
        .groupBy(F.col("p.row_idx").alias("row_idx"), F.col("p.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key: str,
    *,
    depth: int = DEPTH,
    width: int = WIDTH,
    seed: int = 42,
    hasher: str = "md5",
) -> DataFrame:
    """Point-query the sketch for every row of ``candidates``.

    Returns ``candidates`` + ``est_count``. The sketch (≤ depth×width
    rows) is broadcast, so estimation adds no shuffle beyond the
    per-key min-merge; a bucket never hit during the build means the
    true count is 0 and the min over present probes is still an upper
    bound, so missing joins coalesce to 0.
    """
    probed = candidates.select(
        F.col(key),
        F.explode(_probes(F.col(key), depth, width, seed, hasher)).alias("p"),
    ).select(key, "p.row_idx", "p.bucket")
    return (
        probed.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key: str,
    *,
    threshold_frac: float,
    depth: int = DEPTH,
    width: int = WIDTH,
    seed: int = 42,
    hasher: str = "md5",
    pre_agg: bool = False,
) -> DataFrame:
    """Two-pass φ-heavy-hitters: keys whose estimated count ≥ φ·N.

    Pass 1 builds the sketch (sketch-sized shuffle); pass 2 estimates
    each distinct key and filters. CMS never underestimates, so every
    true heavy hitter survives (perfect recall); collisions can admit a
    near-threshold false positive — precision is governed by width.
    Returns ``(key, est_count, total_count)`` ordered by est desc.

    ``pre_agg=True`` folds the stream to exact ``(key, weight)`` counts
    FIRST and builds the sketch from the weighted key table —
    ``CMS(weighted counts) == CMS(stream)`` bit-for-bit (same buckets,
    same sums, collisions included), but the md5 probes are computed per
    DISTINCT key instead of per stream row and pass 2 reuses the same
    probed frame instead of rescanning the table (A/B tools/ab_cms.py on
    the sf0.1->sf0.5 big denominators: marginal 2.00 s -> ~0, absolute
    halved). The trade is the shuffle shape: pre-agg's exchange carries
    distinct-keys-per-partition partials — the right choice when key
    cardinality is bounded (user ids here); the default stream shape
    keeps the sketch-sized exchange that is THE point of a CMS when keys
    are billions of long-tail n-grams/URLs.
    """
    if pre_agg:
        return _cms_heavy_hitters_weighted(
            df, key, threshold_frac=threshold_frac, depth=depth,
            width=width, seed=seed, hasher=hasher,
        )
    sketch = count_min_sketch(
        df, key, depth=depth, width=width, seed=seed, hasher=hasher
    )
    # One action materializes the bounded sketch (≤ depth×width rows —
    # O(1) driver state, same class as k-means' k centroids) and N falls
    # out of it for free: every depth-row's counters sum to the stream
    # length, so row 0 IS the count — no separate df.count() scan, and
    # pass 2 probes a LocalTableScan instead of recomputing the sketch
    # lineage (round-3 verdict item #6: one fewer full scan per call).
    sketch_rows = sketch.collect()
    total = sum(r["cnt"] for r in sketch_rows if r["row_idx"] == 0)
    sketch_local = local_frame(df.sparkSession, sketch_rows, sketch.schema)
    est = cms_estimate(
        sketch_local,
        df.select(key).distinct(),
        key,
        depth=depth,
        width=width,
        seed=seed,
        hasher=hasher,
    )
    return (
        est.filter(F.col("est_count") >= threshold_frac * total)
        .withColumn("total_count", F.lit(total))
        .orderBy(F.col("est_count").desc(), F.col(key))
    )


def _cms_heavy_hitters_weighted(
    df: DataFrame,
    key: str,
    *,
    threshold_frac: float,
    depth: int,
    width: int,
    seed: int,
    hasher: str,
) -> DataFrame:
    """``pre_agg=True`` body: weighted sketch over exact per-key counts.

    One map-side-combined exact count per key, ONE probed frame persisted
    and reused by both the sketch build (sum of weights per bucket) and
    the estimation join — zero extra table scans, md5 per distinct key.
    Estimates are identical to the stream build by linearity of the
    bucket sums (property-tested in tests/test_sketch.py).
    """
    from pyspark.storagelevel import StorageLevel

    keyed = df.groupBy(key).agg(F.count("*").alias("_w"))
    probed = keyed.select(
        key,
        "_w",
        F.explode(_probes(F.col(key), depth, width, seed, hasher)).alias("p"),
    ).select(key, "_w", "p.row_idx", "p.bucket")
    probed = probed.persist(StorageLevel.MEMORY_AND_DISK)
    sketch = probed.groupBy("row_idx", "bucket").agg(
        F.sum("_w").alias("cnt")
    )
    sketch_rows = sketch.collect()
    total = sum(r["cnt"] for r in sketch_rows if r["row_idx"] == 0)
    sketch_local = local_frame(df.sparkSession, sketch_rows, sketch.schema)
    est = (
        probed.join(F.broadcast(sketch_local), ["row_idx", "bucket"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )
    return (
        est.filter(F.col("est_count") >= threshold_frac * total)
        .withColumn("total_count", F.lit(total))
        .orderBy(F.col("est_count").desc(), F.col(key))
    )


def misra_gries_summaries(
    df: DataFrame, key: str, *, capacity: int = 256,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-partition Misra-Gries frequency summaries — bounded state, one
    pass, DETERMINISTIC (the space-saving-family alternative to the
    probabilistic CMS above; Misra & Gries 1982, mergeability per Agarwal
    et al. 2012 "Mergeable Summaries").

    Each partition keeps at most ``capacity`` counters: batch counts fold
    in vectorized (pandas value_counts per Arrow batch — no per-row Python
    loop), and when the table overflows, the (capacity+1)-th largest count
    is subtracted from every counter and non-positive ones drop. The
    partition emits ``(pid, key, est, dec)`` where ``dec`` is the
    partition's total decrement: per partition,
    ``est ≤ true_p ≤ est + dec_p`` for present keys and ``true_p ≤ dec_p``
    for absent ones. Summaries merge by summing ``est`` per key; the
    global bounds are ``Σest ≤ true ≤ Σest + Σdec``.

    State is O(capacity) per partition regardless of key cardinality —
    the property that matters when billions of long-tail keys would blow
    up exact per-key aggregation state at 100 TB.

    ``weight_col`` (an INTEGER column — snap money to cents first)
    switches from frequencies to WEIGHTED frequencies: each occurrence
    adds its weight instead of 1 (top spenders, top revenue keys). The
    compaction and both bounds carry over unchanged — weighted MG is the
    textbook generalization (each update is w unit-updates at once).
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import

    key_type = df.schema[key].dataType.simpleString()
    in_cols = [key] + ([weight_col] if weight_col else [])

    def summarize(it):
        from pyspark import TaskContext

        counters: dict = {}
        dec_total = 0
        for pdf in it:
            if weight_col:
                folded = pdf.groupby(key, sort=False)[weight_col].sum()
            else:
                folded = pdf[key].value_counts()
            for k, c in folded.items():
                counters[k] = counters.get(k, 0) + int(c)
            if len(counters) > capacity:
                # subtract the (capacity+1)-th largest from everyone
                cut = sorted(counters.values(), reverse=True)[capacity]
                dec_total += cut
                counters = {
                    k: v - cut for k, v in counters.items() if v - cut > 0
                }
        pid = TaskContext.get().partitionId()
        # sentinel (null-key, est 0) row: carries dec_total even when the
        # compaction dropped every counter, so the global upper bound stays
        # sound for keys absent from this partition
        keys = list(counters.keys()) + [None]
        ests = list(counters.values()) + [0]
        yield pd.DataFrame(
            {
                "pid": [pid] * len(keys),
                key: keys,
                "est": ests,
                "dec": [dec_total] * len(keys),
            }
        )

    out_schema = f"pid int, {key} {key_type}, est long, dec long"
    return df.select(*in_cols).mapInPandas(summarize, out_schema)


def space_saving_topk(
    df: DataFrame, key: str, *, k: int = 10, capacity: int = 256,
    weight_col: str | None = None,
) -> DataFrame:
    """Deterministic top-k with per-key error bounds from merged
    Misra-Gries summaries: ``(key, est_lower, est_upper)`` where
    ``est_lower ≤ true ≤ est_upper`` is a HARD guarantee (no probability,
    unlike CMS), and ``est_upper − est_lower = Σ partition decrements`` —
    zero (exact result) whenever per-partition cardinality fits capacity.

    One pass over the data (vs CMS's two); the shuffle carries at most
    ``capacity`` rows per partition. Any key whose true count exceeds
    Σdec is guaranteed present in the merged summary.
    """
    summ = misra_gries_summaries(
        df, key, capacity=capacity, weight_col=weight_col
    )
    # each partition's dec counts once; the pid column exists for exactly this
    dec_total = summ.select("pid", "dec").distinct().agg(
        F.sum("dec").alias("dec_total")
    )
    merged = (
        summ.filter(F.col(key).isNotNull())  # drop the dec-carrier sentinels
        .groupBy(key)
        .agg(F.sum("est").alias("est_lower"))
    )
    return (
        merged.orderBy(F.desc("est_lower"), F.asc(key))
        .limit(k)
        .crossJoin(F.broadcast(dec_total))
        .select(
            key,
            "est_lower",
            (F.col("est_lower") + F.coalesce(F.col("dec_total"), F.lit(0))).alias(
                "est_upper"
            ),
        )
        .orderBy(F.desc("est_lower"), F.asc(key))
    )


def bloom_positions(key: Column, *, m: int, k: int, salt: str = "bloom") -> Column:
    """The ``k`` Bloom-filter bit positions of ``key`` in ``[0, m)`` as an
    array column. Hashes are the repo's portable MD5 bucket primitive
    (first 8 hex digits of ``'<salt><i>:' || key`` as an integer, mod m) —
    engine-reproducible, so a DuckDB oracle can rebuild the bit-identical
    filter (see plans/pruning_queries.py for the verbatim SQL restatement).
    """
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit(f"{salt}{i}:"), key.cast("string"))
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                )
                .cast("long")
                % m
            ).cast("int")
            for i in range(k)
        ]
    )
