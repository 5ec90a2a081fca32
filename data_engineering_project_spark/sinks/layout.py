"""Storage layout sinks: partitioned and bucketed writes.

The reference's input layout encodes everything in filenames inside one flat
directory (SURVEY.md §2.1 S2/S3) — no partition pruning is possible and
every job lists and reads everything. At 100 TB layout IS the optimizer:

- **Partitioning** (`partitionBy(event_date, event_type)`): date/type
  predicates prune entire directories at plan time, and joins against a
  filtered dimension prune at runtime (dynamic partition pruning). The
  bronze landing zone should be written this way once and scanned many
  times (SURVEY.md §4.1 'partition pruning: none').
- **Bucketing** (`bucketBy(N, key)` + `sortBy`): pre-shuffles data by the
  join/agg key at write time. Two tables co-bucketed on the same key join
  with NO Exchange on either side — the shuffle is paid once at ingest,
  not on every query. The right call for fact⋈fact joins (orders⋈lineitem)
  that recur at 100 TB.
- **Z-order clustering** (`zorder_write`): for selective scans the dominant
  cost is how many files the parquet min/max footer stats let you SKIP. A
  linear sort clusters one column and leaves every other column's min/max
  spanning the whole domain; Morton-interleaving the bits of several
  columns (as in Delta Lake's OPTIMIZE ZORDER BY) gives each participating
  column locality, so predicates on ANY of them prune files.
- **Compaction** (`compact_parquet_dir`): streaming upserts and per-batch
  appends accumulate small files; unmanaged, they dominate open/seek and
  listing cost at scale. Rewrites use the crash-safe directory-rename swap
  shared with the streaming upsert sink.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    *,
    mode: str = "overwrite",
    dynamic_overwrite: bool = True,
) -> None:
    """Write parquet partitioned by ``partition_cols``.

    ``dynamic_overwrite`` scopes an overwrite to only the partitions present
    in ``df`` — the declarative version of the reference's per-date
    archive/delete/insert idempotency (warehouse.py:422-466): re-delivering
    one date replaces exactly that date's directory.
    """
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if dynamic_overwrite and mode == "overwrite":
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    *,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sort-within-bucket)
    table. Joins/aggregations between tables bucketed on the same key with
    the same bucket count run shuffle-free (verified in
    tests/test_layout.py: SortMergeJoin with zero Exchange nodes)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def _interleave_bits(bucket_cols: list[Column], bits: int) -> Column:
    """Morton-interleave ``bits`` low bits of each (already-bucketed) column:
    bit ``i`` of column ``j`` lands at position ``i * n_cols + j``. Pure
    shift/mask/or expressions — whole-stage codegen'd, no UDF."""
    n = len(bucket_cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(bucket_cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int,
    bits: int = 16,
) -> None:
    """Write ``df`` to ``path`` clustered by the Z-order of ``cols``.

    One extra pass computes each column's min/max (two scalars per column —
    the normalization domain, not a data collect); each column is then
    quantized to ``bits``-bit buckets, interleaved into a Morton key, and
    the frame is range-partitioned + sorted on that key so every output
    file covers a compact Z-curve segment → tight per-file min/max on ALL
    participating columns.

    ``n_files`` controls output granularity the way a table OPTIMIZE
    targets a file size; at cluster scale pass
    ``estimate_compaction_files(path, 128 MiB)``-style sizing.
    """
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must fit in a signed long")
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"{c}_min") for c in cols],
        *[F.max(c).cast("double").alias(f"{c}_max") for c in cols],
    ).first()
    top = (1 << bits) - 1
    buckets = []
    for c in cols:
        lo, hi = bounds[f"{c}_min"], bounds[f"{c}_max"]
        span = (hi - lo) or 1.0
        buckets.append(
            F.least(
                F.lit(top),
                ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * top)
                .cast("long"),
            )
        )
    z = _interleave_bits(buckets, bits)
    (
        df.withColumn("_zorder", z)
        .repartitionByRange(max(1, n_files), "_zorder")
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
        .write.mode("overwrite")
        .parquet(path)
    )


def linear_write(df: DataFrame, path: str, col: str, n_files: int) -> None:
    """Baseline layout: range-partition + sort on a single column (perfect
    skipping on that column, none on the others). Exists so tests and docs
    can quantify what Z-ordering buys."""
    (
        df.repartitionByRange(max(1, n_files), col)
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )


def files_possibly_containing(path: str, col: str, lo, hi) -> tuple[int, int]:
    """(files that could contain rows with ``col`` in [lo, hi], total files)
    judged purely from parquet row-group min/max statistics — exactly the
    pruning decision a scan makes. Driver-side metadata read only."""
    import glob
    import os

    import pyarrow.parquet as pq

    total = matched = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        total += 1
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            rgmd = md.row_group(rg)
            for ci in range(rgmd.num_columns):
                c = rgmd.column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        if fmin is None or (fmax >= lo and fmin <= hi):
            matched += 1
    return matched, total


def estimate_compaction_files(path: str, target_file_bytes: int) -> int:
    """How many files a compaction of ``path`` should produce: total parquet
    bytes / target, floor 1. Metadata-only (os.stat)."""
    import glob
    import os

    total = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet"))
    )
    return max(1, math.ceil(total / target_file_bytes))


def compact_parquet_dir(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction: rewrite ``path`` into ``ceil(bytes/target)``
    files, optionally re-sorting by ``sort_col`` to restore clustering.

    The rewrite goes to ``<path>_next`` and is swapped in via the same
    crash-safe directory-rename protocol as the streaming state tables
    (streaming/pipeline.py:_atomic_swap_write) — a reader never observes a
    partial directory. Returns the new parquet file count.
    """
    from data_engineering_project_spark.streaming.pipeline import (
        _atomic_swap_write,
    )

    n = estimate_compaction_files(path, target_file_bytes)
    df = spark.read.parquet(path)
    if sort_col is not None:
        df = df.repartitionByRange(n, sort_col).sortWithinPartitions(sort_col)
    else:
        df = df.coalesce(n)
    _atomic_swap_write(df, path)
    import glob
    import os

    return len(glob.glob(os.path.join(path, "*.parquet")))
