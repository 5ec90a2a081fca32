"""Incremental (streaming) mode — the reference's cron loop, done right.

The reference re-runs the whole batch pipeline every 6 hours from cron
(``docker/cron/schedules.py:16-23``), tracking "processed" by *deleting input
files* (``src/Task1/data_processing.py:181-185``) and keeping output
idempotent via archive/delete/insert (T1-T7 in SURVEY.md §2.8).

Structured Streaming replaces every piece:

| reference mechanism            | here                                       |
|--------------------------------|--------------------------------------------|
| cron cadence                   | ``trigger(availableNow=True)`` per run, or a long-running ``processingTime`` trigger |
| delete-file-after-success      | file-source checkpoint WAL (+ optional ``cleanSource``) — exactly-once input without destroying data |
| filename hour bucketing        | same filename-derived ``batch_ts`` column, tumbling ``F.window(batch_ts, '1 hour')`` |
| no late-data policy            | ``withWatermark`` — late files update their hour until the watermark closes it |
| archive/delete/insert rerun    | ``foreachBatch`` upsert keyed on (date, hour, type) |
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_project_spark.functions.scalars import compose_datetime
from data_engineering_project_spark.operators.report import TYPE_COLUMNS, day_hours
from data_engineering_project_spark.sources.events import with_filename_event_time
from data_engineering_project_spark.sources.tables import local_frame

#: Histogram bin for values ≤ 0 (no geometric bin exists): sorts before
#: every real bin and pow(base, ·) underflows to 0.0 in the estimator.
UNDERFLOW_BIN = -(1 << 62)


def read_event_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    *,
    max_files_per_trigger: int | None = None,
    clean_source: str | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """File-source stream of the ``*.parquet`` files under ``input_dir``
    with the batch run's filename-derived columns
    (``sources/events.py:with_filename_event_time``).
    ``cleanSource='archive'|'delete'`` gives the reference's
    consume-the-input behavior without losing replayability.
    """
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
        if archive_dir:
            reader = reader.option("sourceArchiveDir", archive_dir)
    return with_filename_event_time(reader.parquet(input_dir))


def hourly_counts_stream(
    events: DataFrame,
    *,
    watermark: str = "2 hours",
    time_col: str = "batch_ts",
) -> DataFrame:
    """Tumbling 1-hour counts per event type with late-data tolerance.

    The watermark bounds state: hours older than (max seen ts − watermark)
    finalize and their state is dropped — the piece the reference's
    'any file whose name parses lands in that date's output' policy lacks
    (T5). Output mode 'update' emits revised counts per micro-batch.
    """
    return (
        events.filter(F.col(time_col).isNotNull())
        .withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("date"),
            F.hour("win.start").alias("hour"),
            "event_type",
            "n",
        )
    )


def dense_hourly_grid(batch: DataFrame) -> DataFrame:
    """Zero rows completing the streaming report target's dense grid: every
    (hour, event type) key of the batch's dates that the batch does not
    carry, with ``n = 0`` — the same 24-rows/date contract as the batch
    report (``src/Task1/data_processing.py:306-338``). The spine is
    dates × 24 × |types| rows, anti-joined with the batch's keys."""
    keys = ["date", "hour", "event_type"]
    types = local_frame(
        batch.sparkSession, [(t,) for t in TYPE_COLUMNS], "event_type string"
    )
    spine = (
        batch.select("date")
        .distinct()
        .crossJoin(types)
        .select("date", day_hours(), "event_type")
    )
    return spine.join(batch.select(*keys), keys, "left_anti").withColumn(
        "n", F.lit(0).cast("long")
    )


def jdbc_report_batch(
    url: str,
    spec,
    *,
    properties: dict[str, str] | None = None,
    connection_factory=None,
) -> Callable:
    """foreachBatch writer: land each micro-batch in the warehouse through
    the SAME staging + archive→delete→insert protocol as the batch load
    (sinks/warehouse_sink.py, reference ``src/Task2/warehouse.py:422-466``).

    Each batch pivots the revised (date, hour, type) counts into the
    client_report shape and calls :func:`load_report_jdbc`: bulk
    ``write.jdbc`` into staging, then the merge transaction over ONE
    warehouse connection. The merge's replace window is the batch's own
    [min, max] datetime, so foreachBatch's at-least-once re-delivery
    replaces rather than duplicates — streaming inherits T4 idempotence
    from the sink instead of re-implementing it.

    Update-mode batches re-emit only the REVISED (hour, type) keys — a late
    impressions file does not re-emit the hour's click count. The pivot
    therefore leaves un-revised type columns NULL and coalesces them against
    the target's existing rows for the batch window (one windowed
    ``spark.read.jdbc`` — the predicate pushes to the warehouse), so the
    ranged replace never wipes a column the batch didn't revise.

    ``connection_factory`` is called driver-side per batch (foreachBatch
    bodies run on the driver), so an embedded-JDBC ``java.sql.Connection``
    via the session JVM works unchanged.
    """
    from data_engineering_project_spark.sinks.warehouse_sink import (
        _q,
        load_report_jdbc,
    )

    def _read_existing(spark, lo, hi) -> DataFrame:
        return (
            spark.read.jdbc(url, _q(spec.target), properties=properties or {})
            .filter(F.col("datetime").between(lo, hi))
            .select("datetime", "impression_count", "click_count")
        )

    def _load(report: DataFrame) -> None:
        load_report_jdbc(
            report,
            url=url,
            spec=spec,
            properties=properties,
            connection_factory=connection_factory,
        )

    return _report_merge_writer(spec, _read_existing, _load)


def _report_merge_writer(
    spec,
    read_existing: Callable,
    load: Callable,
) -> Callable:
    """Shared core of the streaming report writers: pivot the batch's
    revised (date, hour, type) counts to client_report shape
    (:data:`TYPE_COLUMNS`, keyed on :func:`compose_datetime`), coalesce
    un-revised type columns against the target's existing window rows
    (``read_existing(spark, lo, hi) -> DataFrame`` with datetime /
    impression_count / click_count), then hand the finished report to
    ``load`` — transport-specific (JDBC write+merge, or psql COPY+merge)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pivot = (
            batch_df.filter(F.col("event_type").isin(*TYPE_COLUMNS))
            .groupBy(compose_datetime("date", "hour").alias("datetime"))
            .agg(
                # NULL (not 0) when this batch carries no rows for the type:
                # "not revised" must stay distinguishable from "zero"
                *[
                    F.sum(F.when(F.col("event_type") == t, F.col("n")))
                    .cast("long")
                    .alias(c)
                    for t, c in TYPE_COLUMNS.items()
                ]
            )
        )
        window = pivot.agg(
            F.min("datetime").alias("lo"), F.max("datetime").alias("hi")
        ).collect()[0]
        if window["lo"] is None:
            return
        existing = read_existing(spark, window["lo"], window["hi"]).select(
            "datetime", *[F.col(c).alias(f"_cur_{c}") for c in TYPE_COLUMNS.values()]
        )
        report = pivot.join(existing, "datetime", "left").select(
            "datetime",
            *[
                F.coalesce(c, f"_cur_{c}", F.lit(0)).cast("long").alias(c)
                for c in TYPE_COLUMNS.values()
            ],
        )
        if "audit_loaded_datetime" in spec.columns:
            report = report.withColumn(
                "audit_loaded_datetime", F.current_timestamp()
            )
        load(report)

    return _write


def psql_report_batch(
    spec,
    session_factory: Callable,
    *,
    scratch_dir: str,
) -> Callable:
    """foreachBatch writer landing each micro-batch in a LIVE Postgres
    through the psql COPY transport (sinks/psql_transport.py) — the
    no-JDBC-driver deployment of :func:`jdbc_report_batch`, same pivot /
    NULL-coalesce semantics and the same T4 replace-window idempotence
    (both transports execute the identical pinned statement plan).

    ``session_factory()`` returns a ``PsqlSession`` per use (driver-side,
    like the JDBC connection factory); each is closed before the batch
    returns, so a long-running stream holds zero psql subprocesses between
    micro-batches."""
    from data_engineering_project_spark.sinks.psql_transport import (
        load_report_psql,
    )
    from data_engineering_project_spark.sinks.warehouse_sink import _q

    def _read_existing(spark, lo, hi) -> DataFrame:
        session = session_factory()
        try:
            rows = session.fetch_rows(
                f'SELECT "datetime", "impression_count", "click_count" '
                f"FROM {_q(spec.target)} WHERE \"datetime\" "
                f"BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'"
            )
        finally:
            session.close()
        # psql -At renders SQL NULL as an empty string; tolerate counts
        # written out of band as NULL the same way the JDBC twin does.
        return local_frame(
            spark,
            [
                (r[0], int(r[1]) if r[1] else 0, int(r[2]) if r[2] else 0)
                for r in rows
            ],
            "datetime string, impression_count long, click_count long",
        ).withColumn("datetime", F.to_timestamp("datetime"))

    def _load(report: DataFrame) -> None:
        session = session_factory()
        try:
            load_report_psql(report, spec, session, scratch_dir=scratch_dir)
        finally:
            session.close()

    return _report_merge_writer(spec, _read_existing, _load)


def snapshot_upsert_batch(
    table_dir: str,
    key_cols: list[str],
    *,
    densify: Callable[[DataFrame], DataFrame] | None = None,
    seq_col: str | None = None,
    date_col: str = "date",
) -> Callable:
    """foreachBatch writer: transactional MERGE of each micro-batch into a
    snapshot-manifest table (sinks/snapshot_table.py) — the production
    fact-table shape, and the writer ``run_incremental_report`` uses.

    Cost per batch is proportional to the FILES containing updated keys,
    not the table (copy-on-write), the commit point is one atomic manifest
    create (no rename window at all), and every prior version stays
    time-travel readable until vacuumed.

    Intra-batch duplicate keys are resolved DETERMINISTICALLY: ``seq_col``
    picks the row with the highest sequence/event-time (max_by, as the CDC
    operators do); without one, the lexicographically-largest payload
    struct wins. Either way a crash re-delivery commits identical content
    — ``dropDuplicates`` would keep an arbitrary row and break that.

    ``densify`` (e.g. :func:`dense_hourly_grid`) enforces the dense-grid
    output contract incrementally: it returns the zero rows for keys the
    batch lacks, and a zero row is only INSERTED where the key is absent
    from the table too (a blanket zero-fill would overwrite counts from
    earlier batches). The existing-key probe reads only manifest-pruned
    files for the batch's ``date_col`` range — O(touched files), like the
    merge.

    Restart safety: foreachBatch re-delivers a batch after a crash; the
    merge is idempotent at the row level, so the re-run commits a new
    version with identical content. Readers never see a partial state — a
    crash before the manifest create leaves invisible orphans for
    ``vacuum``.
    """
    from data_engineering_project_spark.sinks import snapshot_table as st

    def _dedup(batch_df: DataFrame) -> DataFrame:
        payload = [c for c in batch_df.columns if c not in key_cols]
        if not payload:
            return batch_df.dropDuplicates(key_cols)  # keys only: any row
        if seq_col is not None:
            winners = [F.max_by(c, F.col(seq_col)).alias(c) for c in payload]
        else:
            struct = F.struct(*[F.col(c) for c in sorted(payload)])
            winners = [F.max(struct).alias("_w")]
        agg = batch_df.groupBy(*key_cols).agg(*winners)
        if seq_col is None:
            agg = agg.select(
                *key_cols, *[F.col(f"_w.{c}").alias(c) for c in sorted(payload)]
            )
        return agg.select(*batch_df.columns)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = _dedup(batch_df)
        if densify is not None:
            zeros = densify(new)
            if st.current_version(table_dir) is not None:
                bounds = new.agg(
                    F.min(date_col).alias("lo"), F.max(date_col).alias("hi")
                ).first()
                if bounds["lo"] is None:
                    return  # empty batch: nothing to merge or densify
                existing = st.read_pruned(
                    spark, table_dir, date_col, bounds["lo"], bounds["hi"]
                ).select(*key_cols)
                zeros = zeros.join(existing, key_cols, "left_anti")
            new = new.unionByName(zeros)
        st.merge_upsert(spark, table_dir, new, key_cols, stats_cols=key_cols)

    return _write


def _recover_and_read(
    spark: SparkSession, target_dir: str, schema: T.StructType
) -> DataFrame | None:
    """Crash recovery + read for rewrite-on-merge state tables (the sketch
    and cohort writers below): a writer that died
    between the two swap renames left ``<target>_old`` holding the data —
    restore it; stale ``_next``/``_old`` from any earlier crash are dead
    weight. Returns the current target frame read as ``schema`` (the
    state's known columns, so Spark runs no schema-inference job), or None
    if the target is empty/absent."""
    import shutil

    next_dir, old_dir = target_dir + "_next", target_dir + "_old"
    if not os.path.isdir(target_dir) and os.path.isdir(old_dir):
        os.rename(old_dir, target_dir)
    shutil.rmtree(next_dir, ignore_errors=True)
    shutil.rmtree(old_dir, ignore_errors=True)
    if os.path.isdir(target_dir) and any(
        f.endswith(".parquet") for f in os.listdir(target_dir)
    ):
        return spark.read.schema(schema).parquet(target_dir)
    return None


def _atomic_swap_write(merged: DataFrame, target_dir: str) -> None:
    """Materialize ``merged`` into ``<target>_next``, then swap via directory
    renames (atomic on one filesystem) — never a second Spark overwrite of
    the live target, which would leave a truncated target if the writer died
    mid-copy. Reads of ``target_dir`` are complete once the write action
    returns, so the renames never race the lineage."""
    import shutil

    next_dir, old_dir = target_dir + "_next", target_dir + "_old"
    merged.write.mode("overwrite").parquet(next_dir)
    if os.path.isdir(target_dir):
        os.rename(target_dir, old_dir)
    os.rename(next_dir, target_dir)
    shutil.rmtree(old_dir, ignore_errors=True)


def _commit_state(
    target_dir: str,
    new: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """Commit one micro-batch's state rows: recover ``target_dir`` from a
    crash between the swap renames, fold ``new`` into the current state
    with ``merge(current, new)`` (``new`` alone when there is no state yet),
    and swap the result in. Every rewrite-on-merge state table goes
    through here; the primitives are looked up at call time, so a test can
    kill the swap. The state is only ever written as ``new`` or as
    ``merge(current, new)``, so it has ``new``'s columns and is read with
    ``new.schema``."""
    current = _recover_and_read(new.sparkSession, target_dir, new.schema)
    merged = new if current is None else merge(current, new)
    _atomic_swap_write(merged, target_dir)


def _replace_batch(batch_id: int) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """The exactly-once-counter merge, for state that is NOT replay-
    idempotent (counters: re-adding a crash-replayed batch double-counts).
    Each batch's deltas carry a ``batch_id`` column; the merge drops every
    current row of this ``batch_id`` before the union, so a replayed batch
    overwrites its own contribution instead of accumulating. Readers sum
    over batch ids, so the state stays a mergeable vector and compacting
    finalized batch ids is a pure optimization."""

    def merge(current: DataFrame, new: DataFrame) -> DataFrame:
        return current.filter(F.col("batch_id") != batch_id).unionByName(new)

    return merge


def _set_union(current: DataFrame, new: DataFrame) -> DataFrame:
    """Replay-idempotent merge for set-valued state: re-adding a replayed
    batch's rows is a no-op."""
    return current.unionByName(new).distinct()


def upsert_cms_sketch(
    target_dir: str,
    *,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 2048,
    seed: int = 42,
) -> Callable:
    """foreachBatch writer maintaining a count-min sketch table — the
    streaming twin of the batch ``events_cms_heavy_hitters`` build
    (operators/sketch.py). State is the sketch itself: ≤ depth×width
    counter rows per contributing batch, independent of key cardinality —
    the property that makes per-key exact streaming state unnecessary for
    billions of long-tail keys.

    Counters are NOT re-delivery-idempotent (unlike HLL register maxes),
    so each batch's counter deltas commit through the exactly-once-counter
    merge (:func:`_replace_batch`). Readers vector-add across batches.
    """
    from data_engineering_project_spark.operators.sketch import (
        count_min_sketch,
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        new = count_min_sketch(
            batch_df, key_col, depth=depth, width=width, seed=seed
        ).withColumn("batch_id", F.lit(batch_id))
        _commit_state(target_dir, new, _replace_batch(batch_id))

    return _write


def read_cms_estimates(
    spark: SparkSession,
    target_dir: str,
    candidates: DataFrame,
    key_col: str = "user_id",
    *,
    depth: int = 4,
    width: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """Point-query the persisted streaming sketch for ``candidates``:
    vector-add the per-batch deltas into one sketch (≤ depth×width rows),
    then the standard broadcast probe + min-merge — never re-reads raw
    events. Estimates keep the CMS guarantee (never underestimate) because
    vector addition of per-batch sketches IS the sketch of the union."""
    from data_engineering_project_spark.operators.sketch import cms_estimate

    merged = (
        spark.read.parquet(target_dir)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return cms_estimate(
        merged, candidates, key_col, depth=depth, width=width, seed=seed
    )


def upsert_daily_sketches(
    target_dir: str,
    *,
    key_col: str = "interaction_id",
    time_col: str = "batch_ts",
    lg_k: int = 12,
) -> Callable:
    """foreachBatch writer maintaining MERGEABLE per-day HLL distinct-count
    sketches — the streaming twin of the batch ``events_hll_daily_rollup``
    query: each micro-batch sketches its own rows per day and folds into
    the persisted sketch table via ``hll_union_agg`` (register-wise max).

    Why sketches, not counters, for streaming state: union is idempotent —
    a crash-re-delivered micro-batch merges to the SAME registers, so the
    exactly-once problem counters have under retries simply vanishes; and
    arbitrary date-range distinct counts roll up from the tiny persisted
    sketches without ever re-reading raw events (fixed 2^lg_k state per
    day vs per-key state growing with cardinality)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        new = (
            batch_df.filter(F.col(time_col).isNotNull())
            .groupBy(F.to_date(time_col).alias("day"))
            .agg(F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sk"))
        )
        _commit_state(
            target_dir,
            new,
            lambda current, new: current.unionByName(new)
            .groupBy("day")
            .agg(F.hll_union_agg("sk").alias("sk")),
        )

    return _write


def upsert_daily_histograms(
    target_dir: str,
    *,
    value_col: str = "value",
    time_col: str = "batch_ts",
    log_base: float = 1.2,
) -> Callable:
    """foreachBatch writer maintaining per-day geometric-bin value
    histograms — the streaming twin of ``events_value_quantile_rollup``.

    Histogram counters are NOT re-delivery-idempotent the way HLL unions
    are, so each batch's ``(day, bin, batch_id)`` deltas commit through
    the exactly-once-counter merge (:func:`_replace_batch`). Readers sum
    over batches, so the persisted state stays a mergeable sketch.
    """
    import math as _math

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # Non-positive values have no geometric bin (ln is NULL/−inf) — a
        # NULL bin would persist and then sort FIRST in the reader's
        # cumulative window, corrupting every quantile. Route them to a
        # sentinel underflow bin instead: pow(base, UNDERFLOW_BIN)
        # underflows to 0.0, so their estimate reads as "≤ 0".
        bin_col = (
            F.when(
                F.col(value_col) > 0,
                F.floor(F.ln(value_col) / F.lit(_math.log(log_base))),
            )
            .otherwise(F.lit(UNDERFLOW_BIN))
            .cast("bigint")
        )
        new = (
            batch_df.filter(F.col(time_col).isNotNull())
            .groupBy(F.to_date(time_col).alias("day"), bin_col.alias("bin"))
            .agg(F.count("*").alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        _commit_state(target_dir, new, _replace_batch(batch_id))

    return _write


def read_quantile_estimates(
    spark: SparkSession,
    target_dir: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    *,
    log_base: float = 1.2,
) -> DataFrame:
    """Range-rollup quantiles from the persisted histogram state: one
    vector add over the tiny (day, bin, batch) table, never a raw re-scan.
    Estimates carry the geometric-bin guarantee (≤ log_base−1 relative
    error at the bin edge)."""
    from pyspark.sql import Window

    merged = (
        spark.read.parquet(target_dir)
        # defensive vs state written before the underflow-bin fix: a NULL
        # bin would sort first and shift every running count
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )
    cum = merged.select(
        "bin",
        F.sum("n").over(Window.orderBy("bin")).alias("running"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    qs = local_frame(spark, [(p,) for p in quantiles], "p double")
    return (
        F.broadcast(qs)
        .join(cum, F.col("running") >= F.ceil(F.col("p") * F.col("total")))
        .groupBy("p")
        .agg(F.round(F.pow(F.lit(log_base), F.min("bin")), 4).alias("est_lo"))
    )


def read_histogram_drift(
    spark: SparkSession, target_dir: str
) -> DataFrame:
    """Day-over-day distribution drift from the persisted histogram state —
    the streaming counterpart of the batch ``events_ks_two_sample``: a
    binned Kolmogorov-Smirnov distance between each day's value histogram
    and the PREVIOUS day's, computed entirely from the maintained
    ``(day, bin, batch_id)`` counters (never a raw-event re-scan, so the
    monitor costs O(days × bins) regardless of stream volume).

    Bins absent on one side read as zero via a days×bins grid — the grid
    is metadata-sized (geometric binning keeps |bins| ~ log(value range)).
    The KS numerator max|F1·n2 − F2·n1| stays integer until one final
    division, the same exactness device as the batch statistic. Days with
    no predecessor day in the state emit nothing.
    """
    from pyspark.sql import Window

    h = (
        spark.read.parquet(target_dir)
        .filter(F.col("bin").isNotNull())
        .groupBy("day", "bin")
        .agg(F.sum("n").alias("n"))
    )
    grid = (
        h.select("day").distinct()
        .crossJoin(h.select("bin").distinct())
        .join(h, ["day", "bin"], "left")
        .na.fill(0, ["n"])
    )
    cum = grid.select(
        "day",
        "bin",
        F.sum("n").over(Window.partitionBy("day").orderBy("bin")).alias("f"),
        F.sum("n").over(Window.partitionBy("day")).alias("tot"),
    )
    cur, prev = cum.alias("cur"), cum.alias("prev")
    joined = cur.join(
        prev,
        (F.col("cur.bin") == F.col("prev.bin"))
        & (F.col("cur.day") == F.date_add(F.col("prev.day"), 1)),
    )
    d = F.abs(
        F.col("cur.f") * F.col("prev.tot") - F.col("prev.f") * F.col("cur.tot")
    )
    return (
        joined.groupBy(F.col("cur.day").alias("day"))
        .agg(
            F.max(F.col("cur.tot")).alias("n_day"),
            F.max(F.col("prev.tot")).alias("n_prev"),
            F.round(
                F.max(d).cast("double")
                / (
                    F.max(F.col("cur.tot")).cast("double")
                    * F.max(F.col("prev.tot")).cast("double")
                ),
                6,
            ).alias("ks_vs_prev_day"),
        )
        .orderBy("day")
    )


def upsert_drift_cusum(
    hist_dir: str,
    alarm_dir: str,
    *,
    allowance_micro: int = 50_000,
    threshold_micro: int = 200_000,
    value_col: str = "value",
    time_col: str = "batch_ts",
    log_base: float = 1.2,
) -> Callable:
    """foreachBatch writer that upgrades drift MONITORING to drift
    ALERTING: after folding the batch into the per-day histogram state
    (``upsert_daily_histograms``), it re-derives the day-over-day binned
    KS series and maintains a Page CUSUM alarm per day —

        S_d = max(0, S_{d-1} + (ks_d - allowance)),  alarm when S_d > h

    — so a persistent small shift accumulates to an alarm even when no
    single day's KS clears a one-shot threshold. The recursion is
    computed in closed form S_d = W_d − min(0, min_{j≤d} W_j) with
    W_d = Σ_{i≤d}(ks_i − allowance), i.e. two windows over the
    metadata-sized per-day table (the day count is bounded by the
    retention horizon, never by stream volume — the saturation argument
    every state reader here relies on). KS values are floor-quantized to
    integer micro-units per day before the cumulative sum, so the alarm
    state is accumulation-order-independent.

    Exactly-once composes for free: the alarm table is a PURE FUNCTION of
    the histogram state, which is itself re-delivery-idempotent (the
    (day, bin, batch_id) replace protocol) — a crash-replayed batch
    re-derives byte-identical alarm rows, and the atomic directory swap
    means readers never observe a half-written alarm table.
    """
    from pyspark.sql import Window

    base = upsert_daily_histograms(
        hist_dir, value_col=value_col, time_col=time_col, log_base=log_base
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        base(batch_df, batch_id)
        spark = batch_df.sparkSession
        drift = read_histogram_drift(spark, hist_dir)
        x = (
            F.floor(F.col("ks_vs_prev_day") * 1_000_000 + F.lit(0.5))
            .cast("bigint")
            - F.lit(allowance_micro)
        )
        w = Window.orderBy("day").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = drift.select(
            "day",
            "ks_vs_prev_day",
            F.sum(x).over(w).alias("_w"),
        )
        state = cum.select(
            "day",
            "ks_vs_prev_day",
            (
                F.col("_w")
                - F.least(F.lit(0).cast("bigint"), F.min("_w").over(w))
            ).alias("cusum_micro"),
        ).withColumn(
            "alarm", F.col("cusum_micro") > F.lit(threshold_micro)
        )
        _atomic_swap_write(state, alarm_dir)

    return _write


def read_drift_alarms(spark: SparkSession, alarm_dir: str) -> DataFrame:
    """Query side of the CUSUM alarm state: per-day KS, cumulative
    deviation (micro-units), and the boolean alarm, in day order."""
    return spark.read.parquet(alarm_dir).orderBy("day")


def upsert_ewma_state(
    target_dir: str,
    *,
    value_col: str = "value",
    time_col: str = "batch_ts",
    type_col: str = "event_type",
) -> Callable:
    """foreachBatch writer maintaining per-(type, day) integer-cent daily
    sums — the streaming twin of ``events_value_ewma``'s pre-aggregate.

    Daily sums are additive counters, not re-delivery-idempotent, so each
    batch's ``(event_type, day, batch_id)`` partial sums commit through
    the exactly-once-counter merge (:func:`_replace_batch`). Readers sum
    over batch_ids per day; the state is bounded by
    #types x #days x #batches, never by event volume."""
    from data_engineering_project_spark.functions.scalars import (
        decimal_units,
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        new = (
            batch_df.filter(
                F.col(time_col).isNotNull() & F.col(value_col).isNotNull()
            )
            .groupBy(
                F.col(type_col).alias("event_type"),
                F.to_date(time_col).alias("day"),
            )
            .agg(F.sum(decimal_units(F.col(value_col), 100)).alias("x"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        _commit_state(target_dir, new, _replace_batch(batch_id))

    return _write


def read_ewma_trend(
    spark: SparkSession, target_dir: str, *, alpha: float = 0.25
) -> DataFrame:
    """EWMA per event type re-derived from the maintained
    ``(type, day, batch_id)`` sum state — a PURE FUNCTION of the state
    (the CUSUM-alarm argument: replayed batches re-derive byte-identical
    output), never a raw-event re-scan. The fold is the batch twin's
    sequential-fold device verbatim: day-ordered daily totals, seeded
    with the first day, ``s = (1-alpha)*s + alpha*x`` — so at
    ``alpha=0.25`` the result is bit-identical to ``events_value_ewma``
    over the same events (the test asserts exactly this)."""
    daily = (
        spark.read.parquet(target_dir)
        .groupBy("event_type", "day")
        .agg(F.sum("x").alias("x"))
    )
    ser = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: s["x"].cast("double"),
        ).alias("vs")
    )
    ewma = F.aggregate(
        F.slice(F.col("vs"), F.lit(2), F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1),
        lambda s, v: s * F.lit(1.0 - alpha) + v * F.lit(alpha),
    )
    return ser.select(
        "event_type",
        F.size("vs").cast("bigint").alias("n_days"),
        F.round(F.floor(ewma + F.lit(0.5)) / 100, 2).alias("ewma_value"),
    ).orderBy("event_type")


def upsert_cohort_state(
    target_dir: str,
    *,
    user_col: str = "user_id",
    time_col: str = "batch_ts",
) -> Callable:
    """foreachBatch writer maintaining cohort-retention state — the
    SECOND streaming twin of ``events_cohort_retention``, complementary
    to :func:`cohort_retention_stream`: that one is low-latency
    append-only emission via ``applyInPandasWithState`` and documents the
    first-OBSERVED-touch approximation (a straggler predating the
    recorded first event cannot re-base its user's cohort, because the
    pair rows were already emitted downstream). This state-table variant
    trades latency for EXACTNESS under stragglers: ``min`` re-bases the
    cohort week retroactively and the reader re-derives the whole grid
    from state, so late/out-of-order history converges to the true batch
    answer instead of freezing the first observation.

    Two state components, and — unlike the EWMA daily sums, which are
    additive counters needing the ``(…, batch_id)`` replace protocol —
    BOTH merges are replay-IDEMPOTENT:

      - ``first_touch``: per-user ``min(event ts)`` — min is idempotent
        and commutative, so re-merging a crash-replayed batch is a no-op;
      - ``user_weeks``: the distinct ``(user, active_week)`` set — set
        union, same property.

    That idempotence also covers the PARTIAL-application crash window: a
    writer that died between the two component swaps leaves one component
    ahead of the other, and the replayed batch re-merges both to the
    identical fixpoint (the test kills the writer between components and
    asserts exactly this). No ``batch_id`` column, no replace step.

    Scale shape: state is bounded by #users (first_touch) and
    #users × #active-weeks (user_weeks) — the same cardinality the batch
    query's DISTINCT shuffles — never by event volume; each batch merges
    its pre-aggregated partials (a per-batch groupBy/distinct, map-side
    combined) against the state, and the reader never re-scans raw
    events. Reference analog: src/Task2 cron re-aggregation; this keeps
    the grid continuously current instead."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # ONE pre-aggregate per batch (r14): both state components derive
        # from (user, week) -> min(ts) — first_touch is the min of the
        # per-week mins (exact partition refinement) and user_weeks is the
        # groupBy key set (= the old DISTINCT). The old form scanned and
        # shuffled the batch TWICE (once per component) — half of each
        # writer invocation's ~0.9 s in tools/ab_cohort_serving.py. The
        # persisted frame is state-sized (users × active weeks), never
        # event-sized.
        # localCheckpoint, not persist: a persisted plan pins the pre-AQE
        # 64-partition shuffle output (cached plans bypass AQE coalescing
        # by default) and its materialization job cost MORE than the scan
        # it saved (tools/ab_cohort_serving.py v1); the checkpoint
        # materializes the post-AQE coalesced partitions eagerly and both
        # component merges read state-sized blocks. The blocks are FREED per
        # call — a long-running stream would otherwise accumulate one
        # checkpoint per batch for the session (the r13 localCheckpoint
        # session-degradation failure mode).
        from data_engineering_project_spark.operators.components import (
            checkpoint,
            release,
        )

        pre = checkpoint(
            batch_df.groupBy(
                F.col(user_col).alias("user_id"),
                F.date_trunc("week", F.col(time_col)).alias("active_week"),
            ).agg(F.min(time_col).alias("first_ts"))
        )
        try:
            _commit_state(
                os.path.join(target_dir, "first_touch"),
                pre.groupBy("user_id").agg(F.min("first_ts").alias("first_ts")),
                lambda current, new: current.unionByName(new)
                .groupBy("user_id")
                .agg(F.min("first_ts").alias("first_ts")),
            )
            _commit_state(
                os.path.join(target_dir, "user_weeks"),
                pre.select("user_id", "active_week"),
                _set_union,
            )
        finally:
            release(pre)

    return _write


def read_cohort_retention(spark: SparkSession, target_dir: str) -> DataFrame:
    """Cohort-retention grid re-derived from the maintained state — a pure
    function of ``first_touch`` ⋈ ``user_weeks`` (never a raw-event
    re-scan), emitting the batch twin's exact shapes: cohort week =
    week-truncated first touch, offset = whole weeks between cohort and
    active week, n_users = pairs per cell. Bit-identical to
    ``events_cohort_retention`` over the same events for any batch split
    (the test asserts both a time split and an interleaved split). The
    state join keys on user_id only, so it broadcasts when first_touch is
    small and shuffles on the user key otherwise — same exchange the
    batch window pays."""
    ft = spark.read.parquet(os.path.join(target_dir, "first_touch"))
    uw = spark.read.parquet(os.path.join(target_dir, "user_weeks"))
    cohort = ft.select(
        "user_id", F.date_trunc("week", F.col("first_ts")).alias("cohort_week")
    )
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def read_daily_distinct_estimates(spark: SparkSession, target_dir: str) -> DataFrame:
    """Query side of the sketch table: per-day estimates plus the all-days
    rollup folded from the SAME persisted sketches (no raw-event re-scan)."""
    sk = spark.read.parquet(target_dir)
    per_day = sk.select(
        "day", F.hll_sketch_estimate("sk").alias("est_distinct")
    )
    return per_day


def run_incremental_report(
    spark: SparkSession,
    input_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    schema,
    *,
    watermark: str = "2 hours",
    available_now: bool = True,
    clean_source: str | None = None,
    archive_dir: str | None = None,
) -> None:
    """One incremental run (the cron-tick replacement): process exactly the
    files the checkpoint hasn't seen, upsert hour counts into the target.
    Blocks until the availableNow trigger drains.

    The target meets the same 24-rows/date contract as the batch report:
    every date in it carries the full hour × type grid, zero-filled
    (:func:`dense_hourly_grid`).

    Each micro-batch commits as a copy-on-write MERGE into a
    snapshot-manifest table (:func:`snapshot_upsert_batch`) — O(touched
    files) per batch; read it back with
    ``sinks.snapshot_table.read_table``."""
    events = read_event_stream(
        spark,
        input_dir,
        schema,
        clean_source=clean_source,
        archive_dir=archive_dir,
    )
    counts = hourly_counts_stream(events, watermark=watermark)
    batch_fn = snapshot_upsert_batch(
        target_dir, ["date", "hour", "event_type"], densify=dense_hourly_grid
    )
    writer = (
        counts.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(batch_fn)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        writer.trigger(processingTime="1 minute").start()


def session_counts_stream(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    time_col: str = "batch_ts",
) -> DataFrame:
    """Streaming session windows (gap-close semantics) via the built-in
    ``F.session_window`` — the declarative streaming twin of the batch
    ``operators/asof.py:sessionize``. A session closes when no event for
    ``key_col`` arrives within ``gap``; the watermark lets Spark finalize and
    drop closed-session state. Append mode emits each session exactly once,
    on close."""
    return (
        events.filter(F.col(time_col).isNotNull())
        .withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap).alias("sw"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def deduped_event_stream(
    events: DataFrame,
    *,
    id_col: str = "interaction_id",
    time_col: str = "batch_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """CDC-style streaming dedup: re-delivered event ids are dropped
    exactly once across micro-batches via ``dropDuplicatesWithinWatermark``
    — the at-least-once → exactly-once repair stage in front of any
    downstream aggregate when the upstream (queue, CDC feed, retried file
    batches) can re-deliver.

    Why the WithinWatermark variant: plain ``dropDuplicates`` on a stream
    keeps every key seen FOREVER (unbounded state — the classic production
    OOM); this one expires each id's state once the watermark passes its
    event time, so state is bounded by the watermark window while still
    guaranteeing dedup for any duplicate arriving within it."""
    return (
        events.filter(F.col(time_col).isNotNull())
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark([id_col])
    )


def stateful_type_totals_stream(events: DataFrame, *, key_col: str = "event_type"):
    """Custom stateful operator via ``applyInPandasWithState``: cumulative
    per-key totals across ALL micro-batches — state no window can express
    (unbounded running total, checkpoint-recovered across restarts). The
    pattern slot for anything stateful the built-ins lack: CDC dedup,
    anomaly trackers, incremental sketches.

    State is one bigint per key; each micro-batch emits the key's new total
    plus how many rows this batch contributed."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key_col} string, total bigint, batch_rows bigint"
    )
    state_schema = "total bigint"

    # self-contained: pickled by value, no module deps on the workers
    def update(key, pdfs, state):
        import pandas as pd

        rows = 0
        for pdf in pdfs:
            rows += len(pdf)
        total = state.get[0] if state.exists else 0
        total += rows
        state.update((total,))
        yield pd.DataFrame(
            {key_col: [key[0]], "total": [total], "batch_rows": [rows]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def funnel_stage_stream(
    events: DataFrame,
    *,
    stages: tuple[str, ...] = ("impressions", "clicks"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    time_col: str = "batch_ts",
):
    """Streaming ORDERED funnel via ``applyInPandasWithState`` — the
    streaming twin of the batch ``events_funnel_conversion`` (stacked
    unbounded-MIN windows can't run on a stream: they'd need the whole
    history per user; here state per user is ONE small int).

    Per user, state = highest funnel stage reached so far, advancing only
    when the NEXT stage's event arrives (an out-of-order later stage does
    not count until its predecessors happened — the ordered-funnel
    semantic). Events are applied in ``time_col`` order within each batch;
    across batches, cross-batch stragglers older than the previous
    batch's events are a documented approximation shared by every
    stateful streaming funnel (bound it with a watermark upstream).

    Emits ``(user, stage_idx, stage)`` per touched user per batch; update
    mode. State restores from the checkpoint across availableNow runs —
    a funnel that spans ingest ticks still converts. No processing-time
    timers, so availableNow terminates cleanly (see idle-timeout operator
    below for why that matters).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{user_col} bigint, stage_idx int, stage string"
    state_schema = "stage_idx int"
    stage_list = list(stages)

    # self-contained: pickled by value, no module deps on the workers
    def update(key, pdfs, state):
        import pandas as pd

        idx = state.get[0] if state.exists else -1
        # Concatenate ALL Arrow chunks before the single sort: one user's
        # batch data can span multiple chunks, and per-chunk sorting would
        # apply events out of global time order within the batch (ADVICE
        # r3 — the docstring's only-cross-batch-approximation claim must
        # hold). Per-user batch volumes are small; one concat is cheap.
        chunks = list(pdfs)
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            for t in batch.sort_values(time_col)[type_col]:
                if idx + 1 < len(stage_list) and t == stage_list[idx + 1]:
                    idx += 1
        state.update((idx,))
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "stage_idx": [idx],
                "stage": [stage_list[idx] if idx >= 0 else None],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def cohort_retention_stream(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    time_col: str = "batch_ts",
):
    """Streaming weekly cohort retention via ``applyInPandasWithState`` —
    the streaming twin of the batch ``events_cohort_retention``
    (behavior_queries.py). The batch plan needs a first-touch window over
    the WHOLE history per user; here per-user state is two small values:
    the cohort week (epoch days of the Monday of the first observed event)
    and the set of week offsets already emitted.

    Emits one ``(user, cohort_week, week_offset)`` row per pair the FIRST
    time it is observed — the stream of emitted rows IS the batch plan's
    distinct ``user_weeks`` relation, so a plain append sink followed by
    ``GROUP BY cohort_week, week_offset → count(*)`` reproduces the batch
    retention grid exactly (asserted against the batch query in
    tests/test_streaming.py). Checkpointed state makes the emission
    exactly-once: a pair re-observed in a later batch (or a redelivered
    file) is suppressed, so append-mode counting never double-counts.

    Cohort assignment is **first-OBSERVED touch**: a straggler that
    predates the recorded first event does not re-base the user's cohort
    (re-basing would invalidate grid rows already emitted downstream —
    every streaming cohort system shares this approximation; bound it
    with an upstream watermark). Weeks start Monday 00:00, matching
    ``date_trunc('week', ...)`` in both Spark and DuckDB.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{user_col} bigint, cohort_week string, week_offset int"
    state_schema = "cohort_days int, offsets array<int>"

    # self-contained: pickled by value, no module deps on the workers
    def update(key, pdfs, state):
        import pandas as pd

        chunks = list(pdfs)
        if not chunks:
            return
        batch = pd.concat(chunks, ignore_index=True)
        ts = pd.to_datetime(batch[time_col])
        week_start = (
            ts - pd.to_timedelta(ts.dt.dayofweek, unit="D")
        ).dt.normalize()
        days = (week_start - pd.Timestamp("1970-01-01")).dt.days
        if state.exists:
            cohort_days, prior = state.get
            seen = set(prior)
        else:
            cohort_days = int(days.min())
            seen = set()
        fresh = sorted(
            {int((d - cohort_days) // 7) for d in days if d >= cohort_days}
            - seen
        )
        seen.update(fresh)
        state.update((int(cohort_days), sorted(int(o) for o in seen)))
        if fresh:
            week = pd.Timestamp("1970-01-01") + pd.Timedelta(
                days=int(cohort_days)
            )
            yield pd.DataFrame(
                {
                    user_col: key[0],
                    "cohort_week": week.strftime("%Y-%m-%d"),
                    "week_offset": fresh,
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def markov_transitions_stream(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    time_col: str = "batch_ts",
):
    """Streaming first-order Markov transition maintenance — the streaming
    twin of the batch ``events_markov_transitions`` (behavior_queries.py).
    The batch plan lags over each user's WHOLE history; here per-user
    state is one string: the last event type seen.

    Each batch emits ``(from_type, to_type, n)`` DELTA counts: the
    transitions inside the batch (events applied in global ``time_col``
    order after a single chunk concat — the funnel operator's ADVICE-r3
    lesson) plus the bridge transition from the checkpointed last type
    into the batch's first event. Summing the deltas downstream
    (``GROUP BY from_type, to_type``) reproduces the batch matrix
    exactly when data arrives in order; cross-batch stragglers share the
    documented streaming-funnel approximation (bound with a watermark).
    Checkpointed state makes the deltas exactly-once: a redelivered file
    is never re-counted, so append-mode summation never double-counts.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "from_type string, to_type string, n bigint"
    state_schema = "last_type string"

    # self-contained: pickled by value, no module deps on the workers
    def update(key, pdfs, state):
        import pandas as pd

        chunks = list(pdfs)
        if not chunks:
            return
        batch = pd.concat(chunks, ignore_index=True).sort_values(time_col)
        types = list(batch[type_col])
        prev = state.get[0] if state.exists else None
        counts: dict[tuple[str, str], int] = {}
        for t in types:
            if prev is not None:
                pair = (prev, t)
                counts[pair] = counts.get(pair, 0) + 1
            prev = t
        state.update((prev,))
        if counts:
            yield pd.DataFrame(
                {
                    "from_type": [p[0] for p in counts],
                    "to_type": [p[1] for p in counts],
                    "n": list(counts.values()),
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def idle_timeout_sessions_stream(
    events: DataFrame, *, key_col: str = "event_type", idle_ms: int = 1000
):
    """Idle-timeout sessionization via ``applyInPandasWithState`` +
    ``ProcessingTimeTimeout`` — the session variant ``F.session_window``
    cannot express: a session closes when the KEY GOES QUIET for
    ``idle_ms`` of processing time, even if no further event for that key
    EVER arrives. The built-in gap-close semantics only finalize a session
    once the watermark passes it, which requires later events to advance
    event time; an idle timeout instead arms a wall-clock timer per key
    (``state.setTimeoutDuration``) that Spark fires on the first
    micro-batch after expiry, handing the function ``state.hasTimedOut``
    so it can emit the closed session and drop the state.

    Emits ``(key, n_events, closed)``: an open-session snapshot on every
    batch that touches the key, and a final ``closed=true`` row when the
    timer fires. State per key is one counter — bounded, and reaped on
    close, so quiet keys cost nothing after ``idle_ms``.

    Run under a RUNNING trigger (``processingTime=...``), never
    ``availableNow``: processing-time timers need the micro-batch engine
    alive to fire, and with availableNow the engine keeps scheduling
    no-data batches to poll timers instead of terminating — the query
    spins forever (observed empirically; the other stateful operators
    here use NoTimeout and drain cleanly under availableNow).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} string, n_events bigint, closed boolean"
    state_schema = "n_events bigint"

    # self-contained: pickled by value, no module deps on the workers
    def update(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield pd.DataFrame(
                {key_col: [key[0]], "n_events": [n], "closed": [True]}
            )
        else:
            rows = 0
            for pdf in pdfs:
                rows += len(pdf)
            n = (state.get[0] if state.exists else 0) + rows
            state.update((n,))
            state.setTimeoutDuration(idle_ms)
            yield pd.DataFrame(
                {key_col: [key[0]], "n_events": [n], "closed": [False]}
            )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_stream_attribution(
    events: DataFrame,
    *,
    left_type: str = "impressions",
    right_type: str = "clicks",
    within: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "batch_ts",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each right-side
    event (click) matched to same-batch-hour left events (impressions)
    whose time is in ``[right - within, right]`` — the streaming twin of
    the batch interval join (plans: purchase_click_attribution_1h).

    Both sides carry watermarks, and the join condition bounds event-time
    distance, so Spark can expire left-side state once the right watermark
    passes ``left_time + within`` — without the time bound the state would
    grow forever. This is the piece the reference's cron-batch design
    simply cannot express (it reprocesses whole files instead).

    Stream-stream joins REQUIRE an equality predicate (state is keyed by
    it); the synthetic stream has no shared entity column, so the calendar
    date serves as the equi-key here — production schemas key on the
    correlation id (user_id, campaign_id), which also shards the join
    state.

    ``how='left_outer'`` additionally emits each UNMATCHED impression
    (null click columns) — but only once the right-side watermark proves
    no in-window click can still arrive, so "unattributed" rows are
    final, never retracted. The null emission happens on a LATER
    micro-batch than the impression's own (state must outlive the
    window); a drained availableNow run may therefore need a subsequent
    tick to flush the tail — the exactly-once test drives two runs for
    exactly this reason.
    """
    base = events.filter(F.col(time_col).isNotNull())
    left = (
        base.filter(F.col("event_type") == left_type)
        .select(
            F.col("source_file").alias("l_file"),
            F.col(time_col).alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        base.filter(F.col("event_type") == right_type)
        .select(
            F.col("source_file").alias("r_file"),
            F.col(time_col).alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    return left.join(
        right,
        (F.to_date("l_ts") == F.to_date("r_ts"))
        & (F.col("l_ts") <= F.col("r_ts"))
        & (F.col("l_ts") >= F.col("r_ts") - F.expr(f"INTERVAL {within}")),
        how,
    )


def upsert_mg_summaries(
    target_dir: str,
    *,
    key_col: str = "user_id",
    capacity: int = 256,
    weight_col: str | None = None,
) -> Callable:
    """foreachBatch writer maintaining a Misra-Gries top-k summary table —
    the streaming twin of the batch ``events_spacesaving_topk``
    (operators/sketch.py:misra_gries_summaries; mergeability per Agarwal
    et al. 2012). Completes the streaming sketch family: CMS (probabilistic
    counts), HLL (distinct), histogram (quantiles), MG (deterministic
    heavy hitters with HARD bounds).

    Per batch: the per-partition summaries merge to ONE batch summary
    (Σest per key, Σdec across partitions), then MG-compact to ``capacity``
    rows — subtract the (capacity+1)-th largest est from every counter,
    fold it into ``dec``, drop non-positives — so persisted state is
    O(capacity) rows per contributing batch regardless of key cardinality.
    The batch's dec rides on a null-key sentinel row (the same carrier
    trick as the partition summaries).

    MG counters are NOT re-delivery-idempotent, so each batch's rows
    commit through the exactly-once-counter merge
    (:func:`_replace_batch`).

    ``weight_col`` (integer units — snap money to cents upstream) turns
    the maintained summary into WEIGHTED heavy hitters (top spenders):
    every merge/compaction/bound step is weight-agnostic, so the reader
    and its ``est_lower ≤ true ≤ est_upper`` guarantee apply unchanged
    to weighted totals.
    """
    from data_engineering_project_spark.operators.sketch import (
        misra_gries_summaries,
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        summ = misra_gries_summaries(
            batch_df, key_col, capacity=capacity, weight_col=weight_col
        )
        part_dec = summ.select("pid", "dec").distinct().agg(
            F.sum("dec").alias("dec")
        )
        merged = (
            summ.filter(F.col(key_col).isNotNull())
            .groupBy(key_col)
            .agg(F.sum("est").alias("est"))
        )
        # MG-compact the merged summary back to `capacity` counters: the
        # (capacity+1)-th largest est is subtracted from everyone and
        # added to the batch decrement (rank window over ≤ partitions ×
        # capacity rows — bounded, not data-sized)
        w = Window.orderBy(F.desc("est"), F.asc(key_col))
        ranked = merged.select(
            key_col, "est", F.row_number().over(w).alias("rn")
        )
        # global aggs always yield exactly one row, even over an empty
        # frame — so the sentinel survives batches whose compactions
        # dropped every counter (the dec must still be recorded)
        cut_val = ranked.filter(F.col("rn") == capacity + 1).agg(
            F.coalesce(F.max("est"), F.lit(0)).alias("cut")
        )
        trimmed = (
            ranked.crossJoin(F.broadcast(cut_val))
            .filter(F.col("est") - F.col("cut") > 0)
            .select(
                key_col,
                (F.col("est") - F.col("cut")).alias("est"),
                F.lit(0).cast("long").alias("dec"),
            )
        )
        sentinel = (
            part_dec.crossJoin(cut_val)
            .select(
                F.lit(None).cast(batch_df.schema[key_col].dataType).alias(
                    key_col
                ),
                F.lit(0).cast("long").alias("est"),
                (F.coalesce(F.col("dec"), F.lit(0)) + F.col("cut")).alias(
                    "dec"
                ),
            )
        )
        new = trimmed.unionByName(sentinel).withColumn(
            "batch_id", F.lit(batch_id)
        )
        _commit_state(target_dir, new, _replace_batch(batch_id))

    return _write


def read_mg_topk(
    spark: SparkSession,
    target_dir: str,
    *,
    key_col: str = "user_id",
    k: int = 10,
) -> DataFrame:
    """Top-k heavy hitters from the persisted streaming MG summaries:
    Σest per key across batch summaries is the merged lower bound, and
    Σ batch decs (sentinel rows) the shared slack —
    ``est_lower ≤ true ≤ est_lower + Σdec`` stays a hard guarantee because
    vector-adding MG summaries IS the MG merge (Agarwal et al.). Never
    re-reads raw events; input is O(batches × capacity) rows."""
    state = spark.read.parquet(target_dir)
    dec_total = state.filter(F.col(key_col).isNull()).agg(
        F.coalesce(F.sum("dec"), F.lit(0)).alias("dec_total")
    )
    merged = (
        state.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.sum("est").alias("est_lower"))
    )
    return (
        merged.orderBy(F.desc("est_lower"), F.asc(key_col))
        .limit(k)
        .crossJoin(F.broadcast(dec_total))
        .select(
            key_col,
            "est_lower",
            (F.col("est_lower") + F.col("dec_total")).alias("est_upper"),
        )
        .orderBy(F.desc("est_lower"), F.asc(key_col))
    )


def pit_enrichment_stream(
    events: DataFrame,
    *,
    user_col: str = "interaction_id",
    time_col: str = "batch_ts",
    value_col: str = "page_url",
    fact_pred_col: str = "is_fact",
):
    """Streaming point-in-time enrichment — the streaming twin of the batch
    ``events_pit_enrichment`` (cdc_queries.py): per-key state is the last
    known dimension value; fact rows are emitted annotated with the value
    effective AT their arrival position.

    Input rows carry ``fact_pred_col`` (boolean): false = a dimension
    change (updates state, emits nothing), true = a fact (emits
    ``(key, time, state_value)``). Within a batch, rows apply in global
    ``time_col`` order after a single chunk concat (the ADVICE-r3 funnel
    lesson — per-chunk ordering wrongly interleaves facts and changes for
    users spanning chunks), so a change and a later fact in the SAME
    micro-batch enrich correctly — the dominant case the naive
    join-against-yesterday's-snapshot design gets wrong. Facts before any
    change emit NULL (no leakage of future values). Cross-batch
    stragglers share the documented streaming approximation (bound with a
    watermark upstream).

    State is one value per key — O(|active keys|), the minimal footprint
    for any PIT server; contrast the batch twin, which resolves the same
    lookups with a single LOCF window and zero state.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{user_col} long, {time_col} timestamp, state_value string"
    )
    state_schema = "last_value string"

    def update(key, pdfs, state):
        import pandas as pd

        chunks = list(pdfs)
        if not chunks:
            return
        batch = pd.concat(chunks, ignore_index=True).sort_values(time_col)
        last = state.get[0] if state.exists else None
        out_keys, out_ts, out_vals = [], [], []
        for _, row in batch.iterrows():
            if bool(row[fact_pred_col]):
                out_keys.append(row[user_col])
                out_ts.append(row[time_col])
                out_vals.append(last)
            else:
                last = None if pd.isna(row[value_col]) else str(row[value_col])
        state.update((last,))
        if out_keys:
            yield pd.DataFrame(
                {
                    user_col: out_keys,
                    time_col: out_ts,
                    "state_value": out_vals,
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def sliding_counts_stream(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    size: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "batch_ts",
) -> DataFrame:
    """Streaming sliding-window counts — the streaming twin of the batch
    ``events_sliding_2h_windows`` catalog query. ``F.window(size, slide)``
    assigns each event to its size/slide overlapping windows map-side (an
    Expand, no self-join); the watermark finalizes a window once event
    time passes ``window.end + watermark``, so append mode emits each
    window exactly once and state stays bounded by (windows in flight ×
    keys). Overlap multiplies STATE by size/slide, not the shuffle of raw
    rows — the same honest ×2 the batch twin documents."""
    return (
        events.filter(F.col(time_col).isNotNull())
        .withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, size, slide).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col(key_col),
            "n_events",
        )
    )


def upsert_bloom_bits(
    target_dir: str,
    *,
    key_col: str = "interaction_id",
    m: int = 8192,
    k: int = 3,
) -> Callable:
    """foreachBatch writer maintaining a Bloom-filter set-bit table over
    every key ever seen — the streaming twin of the batch
    ``events_bloom_prune_witness`` build. State is the DISTINCT bit
    positions (≤ m rows forever, regardless of key cardinality): the
    summary a long-running pipeline keeps so that a later join/backfill
    can prune probe rows against ALL history without re-reading it.

    Unlike the CMS/Misra-Gries counter sketches, Bloom insertion is a set
    UNION — idempotent under crash re-delivery by construction — so this
    writer needs NO batch_id exactly-once protocol: replaying a batch
    re-ORs bits that are already set. (That contrast is the point of
    keeping both writers in this module: monotone-set state is free,
    counter state needs the replace-by-batch-id dance.)
    """
    from data_engineering_project_spark.operators.sketch import (
        bloom_positions,
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        new = (
            batch_df.select(
                F.explode(
                    bloom_positions(F.col(key_col), m=m, k=k)
                ).alias("pos")
            )
            .distinct()
        )
        _commit_state(target_dir, new, _set_union)

    return _write


def read_bloom_contains(
    spark: SparkSession,
    target_dir: str,
    candidates: DataFrame,
    key_col: str = "interaction_id",
    *,
    m: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Probe the persisted streaming Bloom state: a candidate "might be a
    member" iff ALL ``k`` of its positions are set. No false negatives
    (members always pass); false-positive rate is governed by m/k vs the
    inserted cardinality. The set-bit table broadcasts — the probe is a
    map-side semi-join, the exact shuffle-pruning pattern the batch query
    documents."""
    from data_engineering_project_spark.operators.sketch import (
        bloom_positions,
    )

    bits = spark.read.parquet(target_dir)
    probe = candidates.select(
        key_col,
        F.explode(bloom_positions(F.col(key_col), m=m, k=k)).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bits), "pos", "left_semi")
        .groupBy(key_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return candidates.join(
        hits.filter(F.col("n_hits") == k).select(
            key_col, F.lit(True).alias("might_contain")
        ),
        key_col,
        "left",
    ).select(
        key_col, F.coalesce("might_contain", F.lit(False)).alias("might_contain")
    )


def upsert_components_incremental(
    table_dir: str,
    *,
    src: str = "id_a",
    dst: str = "id_b",
) -> Callable:
    """foreachBatch writer maintaining the dedup pipeline's connected-
    component assignment ``(node, component)`` INCREMENTALLY in a
    snapshot-manifest table — so at 100 TB the canonical manifest is
    MAINTAINED per ingest batch instead of recomputed per corpus refresh
    (the batch path, operators/dedup.py:canonical_selection, stays the
    refresh/backfill tool).

    Algorithm (per batch of near-dup pairs):

    1. Map each new edge's endpoints through the prior assignment —
       ``(u, v)`` becomes ``(component(u) | u, component(v) | v)``. An edge
       whose endpoints land in the same prior component is a no-op and
       drops out here; this is what makes crash re-delivery idempotent
       (see below) AND what bounds the work.
    2. Run connected components on the CONTRACTED graph only — its nodes
       are prior component ids and brand-new doc ids, so the iterative
       piece is proportional to the components this batch TOUCHES, never
       the corpus. Because a component id is by contract the MINIMUM node
       id of its cluster, the contracted min-label is exactly the merged
       cluster's global min — no second pass over members is needed to
       pick the surviving label.
    3. Re-label: prior members of merged components get the new label via
       a broadcast join of the (old component → new component) map; new
       nodes take their contracted label directly. One atomic
       ``merge_upsert`` (key: node) commits both — cost ∝ files containing
       touched nodes, copy-on-write.

    Exactly-once: re-delivering a batch after a crash re-maps its edges
    through the ALREADY-UPDATED state, so every edge collapses to a no-op
    in step 1 and the merge commits a new version with identical content.
    No batch_id protocol is needed — the assignment is a monotone fixpoint
    (labels only ever decrease), same family as the Bloom writer's
    set-union state, not the CMS counter dance.
    """
    from data_engineering_project_spark.operators.components import (
        connected_components,
    )
    from data_engineering_project_spark.sinks import snapshot_table as st

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        edges = (
            batch_df.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        if edges.isEmpty():
            return
        if st.current_version(table_dir) is not None:
            state = st.read_table(spark, table_dir)
        else:
            state = local_frame(spark, [], "node bigint, component bigint")
        state = state.persist()
        try:
            mapped = (
                edges.join(
                    state.select(
                        F.col("node").alias("u"), F.col("component").alias("cu")
                    ),
                    "u",
                    "left",
                )
                .join(
                    state.select(
                        F.col("node").alias("v"), F.col("component").alias("cv")
                    ),
                    "v",
                    "left",
                )
                .select(
                    F.coalesce("cu", "u").alias("a"),
                    F.coalesce("cv", "v").alias("b"),
                )
                .filter(F.col("a") != F.col("b"))
            )
            nodes_b = (
                edges.select(F.col("u").alias("node"))
                .unionByName(edges.select(F.col("v").alias("node")))
                .distinct()
            )
            new_nodes = nodes_b.join(state.select("node"), "node", "left_anti")
            if mapped.isEmpty():
                # every edge was intra-component — which also means every
                # endpoint was already assigned (an unseen endpoint always
                # survives contraction under a distinct id), so there are
                # no new nodes either: the whole batch is a no-op. This is
                # exactly the crash-replay path.
                return
            comp = connected_components(mapped, src="a", dst="b")
            super_label = comp.select(
                F.col("node").alias("snode"),
                F.col("component").alias("new_component"),
            )
            relabel = (
                super_label.withColumnRenamed("snode", "component")
                .filter(F.col("component") != F.col("new_component"))
            )
            # prior members of merged components → new label (broadcast:
            # the relabel map is O(touched components))
            moved = state.join(F.broadcast(relabel), "component").select(
                "node", F.col("new_component").alias("component")
            )
            # new nodes: their super-node id is themselves if they appear
            # in the contracted graph; a new node whose every edge mapped
            # into one existing component (possible only on replay, where
            # the node is already in state — excluded by the anti-join)
            # otherwise always appears in `mapped`
            fresh = new_nodes.join(
                super_label, new_nodes["node"] == super_label["snode"], "left"
            ).select(
                "node",
                F.coalesce("new_component", "node").alias("component"),
            )
            updates = moved.unionByName(fresh)
            if not updates.isEmpty():
                st.merge_upsert(
                    spark, table_dir, updates, ["node"], stats_cols=["node"]
                )
        finally:
            state.unpersist()

    return _write


def read_dedup_manifest(
    spark: SparkSession,
    table_dir: str,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Materialize the removal manifest from the incrementally-maintained
    component state: the keep-best selection of
    operators/dedup.py:canonical_selection over the CURRENT assignment —
    no component recomputation, O(state) not O(corpus). Equality with the
    batch path over the same accumulated pairs is property-tested."""
    from data_engineering_project_spark.operators.dedup import (
        manifest_from_components,
    )
    from data_engineering_project_spark.sinks import snapshot_table as st

    comp = st.read_table(spark, table_dir)
    return manifest_from_components(
        comp, docs, id_col=id_col, quality_col=quality_col
    )


def dedup_manifest_deltas(
    spark: SparkSession,
    table_dir: str,
    docs: DataFrame,
    *,
    version: int | None = None,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """CDC view of the incrementally-maintained dedup manifest: the rows a
    downstream consumer must UPSERT after one state version (= one ingest
    batch) — recomputed only over the components that version touched,
    never the whole state.

    Because the component state is a monotone min-label fixpoint (labels
    only merge, members never leave), manifest rows are never DELETED: a
    previously-removed doc stays removed in any merged cluster (the merged
    keep-best winner is the best of the union, which the loser already
    lost to), and a previously-kept doc can only ACQUIRE a removal row.
    So the delta is pure upserts — ``(doc_id, canonical_id,
    cluster_size)`` keyed by doc_id — and applying every version's deltas
    in order reproduces :func:`read_dedup_manifest` exactly
    (property-tested).

    Cost: two manifest-pruned state reads (version and its parent), a
    changed-node diff, then the keep-best window over ONLY the touched
    components' members — O(touched clusters), not O(state).
    """
    from data_engineering_project_spark.operators.dedup import (
        manifest_from_components,
    )
    from data_engineering_project_spark.sinks import snapshot_table as st

    v = st.current_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir!r}")
    cur = st.read_table(spark, table_dir, version=v)
    if v == 0:
        touched = cur.select("component").distinct()
    else:
        prev = st.read_table(spark, table_dir, version=v - 1).select(
            F.col("node").alias("node"),
            F.col("component").alias("_prev_component"),
        )
        diff = cur.join(prev, "node", "left").filter(
            F.col("_prev_component").isNull()
            | (F.col("_prev_component") != F.col("component"))
        )
        touched = diff.select("component").distinct()
    members = cur.join(F.broadcast(touched), "component")
    return manifest_from_components(
        members, docs, id_col=id_col, quality_col=quality_col
    )


def upsert_ivf_index(
    table_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    scale: int = 1000,
    auto_optimize_files: int | None = None,
) -> Callable:
    """foreachBatch writer maintaining the PERSISTED IVF serving index
    (operators/ann_index.py) from a stream of embedding rows.

    The first non-empty batch fits the coarse quantizer (full build);
    every later batch is assigned against the STORED centroids and
    merge-upserted by id — append-without-refit, the standard IVF ingest
    pattern (recall decays only as the distribution drifts; rebuild
    cadence is an operational job, measured in-engine the way
    ``emb_ivf_recall`` does).

    Exactly-once: a redelivered batch re-assigns to identical cells
    (centroids are already committed) and the merge by id replaces, so a
    crash-replay commits identical content — the set-state idempotence
    family, no batch_id protocol. Crash between the build's data commit
    and its centroid commit leaves the centroid table absent, so the
    replay simply rebuilds with ``overwrite`` — no torn state survives.

    ``auto_optimize_files``: in-line table service. Each append commit
    lands the batch's rows as new files spanning many cells, so probe
    read-amplification grows with ingest count; when the manifest's file
    count reaches this threshold the writer runs
    :func:`~data_engineering_project_spark.operators.ann_index.optimize_index`
    (cell-clustered compaction) in the same foreachBatch slot. Zero
    downtime by the format's copy-on-write contract: tag-pinned readers
    keep serving their pinned generation, the swap is one atomic manifest
    commit, and a replayed optimize is a no-op (content-preserving;
    ``optimize_index`` skips when nothing landed since the last
    compaction). ``None`` (default) leaves compaction to an external job.
    """
    from data_engineering_project_spark.operators import ann_index
    from data_engineering_project_spark.sinks import snapshot_table as st

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bootstrap = (
            st.current_version(ann_index._centroid_table(table_dir)) is None
        )
        if bootstrap:
            ann_index.build_ivf_index(
                batch_df, table_dir, id_col=id_col, vec_col=vec_col,
                k=k, n_iter=n_iter, scale=scale,
            )
        else:
            ann_index.append_to_ivf_index(
                batch_df, table_dir, id_col=id_col, vec_col=vec_col,
                scale=scale,
            )
            if auto_optimize_files is not None:
                m = st.read_manifest(table_dir)
                if len(m.files) >= auto_optimize_files:
                    ann_index.optimize_index(
                        batch_df.sparkSession, table_dir
                    )

    return _write


def knn_serving_batch(
    index_table: str,
    out_table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    scale: int = 1000,
    tag: str | None = None,
) -> Callable:
    """foreachBatch micro-batch ANN SERVING: a stream of query vectors is
    answered against the PERSISTED IVF index (operators/ann_index.py) and
    the per-query top-k lands in a snapshot results table.

    The batched plan is the :func:`emb_knn_join` shape, not a per-query
    loop: every query in the batch ranks the k stored centroids with the
    literal-centroid distance expressions (distributed — a map over the
    batch, no collect of vectors), the batch's DISTINCT probed cells
    (≤ k cell ids, collected driver-side like the serving reader) select
    index files via manifest pruning, and the candidate join BROADCASTS
    the (query, cell) probe frame against only those files — index I/O is
    bounded by the UNION of probed cells per batch, not corpus size, and
    each probed file is read once for ALL queries that probe it.

    Exactly-once: results merge-upsert by (query_id, rank) with
    ``replace_scope=query_id`` — each serve replaces a query's answer set
    WHOLESALE (a shorter re-serve deletes the stale higher ranks in the
    same commit), and a replayed batch re-probes the same pinned index
    generation (``tag``) and replaces its own rows byte-identically.
    ``tag`` pins serving to a
    :func:`promote_index` generation so a concurrent rebuild/OPTIMIZE
    never changes answers mid-stream.
    """
    from data_engineering_project_spark.operators import ann_index
    from data_engineering_project_spark.operators.clustering import (
        _dist2,
        quantize_vec,
    )
    from data_engineering_project_spark.operators.similarity import (
        score_cosine_pairs_vectorized,
    )
    from data_engineering_project_spark.sinks import snapshot_table as snap
    from pyspark.sql import Window

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        centroids = ann_index._load_centroids(spark, index_table, tag)
        if not centroids:
            raise FileNotFoundError(
                f"knn_serving_batch: no centroid state under {index_table!r}"
            )
        q = batch_df.select(
            F.col(id_col).alias("query_id"),
            quantize_vec(F.col(vec_col), scale).alias("qq"),
        )
        ranked = F.array_sort(
            F.array(
                *[
                    F.struct(
                        _dist2(F.col("qq"), centroids[cid]).alias("d"),
                        F.lit(cid).alias("cid"),
                    )
                    for cid in sorted(centroids)
                ]
            )
        )
        probes = q.select(
            "query_id",
            "qq",
            F.explode(F.slice(ranked, 1, nprobe)).alias("pc"),
        ).select("query_id", "qq", F.col("pc.cid").alias("cell"))
        probes = probes.persist()
        try:
            cells = sorted(
                r["cell"] for r in probes.select("cell").distinct().collect()
            )
            idx = snap.read_where_in(spark, index_table, "cell", cells, tag=tag)
            cand = idx.join(F.broadcast(probes), "cell")
            scored = score_cosine_pairs_vectorized(
                cand,
                vec_col="q",
                query_vec_col="qq",
                keep_cols=("query_id", "vec_id", "cell"),
            )
            w = Window.partitionBy("query_id").orderBy(
                F.desc("cosine"), F.asc("vec_id")
            )
            topk = (
                scored.select(
                    "query_id",
                    "vec_id",
                    "cell",
                    F.round("cosine", 6).alias("cosine"),
                    F.row_number().over(w).alias("rank"),
                )
                .filter(F.col("rank") <= k)
                .select("query_id", "rank", "vec_id", "cell", "cosine")
            )
            if snap.current_version(out_table) is None:
                snap.write_table(topk, out_table, stats_cols=["query_id"])
            else:
                # replace_scope: a re-served query_id's answer set is
                # replaced WHOLESALE — if this serve returns fewer rows
                # than a previous one (candidates < k, k lowered, index
                # shrank), the old higher ranks are deleted in the same
                # commit instead of surviving as stale rows (ADVICE r9 #2)
                snap.merge_upsert(
                    spark,
                    out_table,
                    topk,
                    ["query_id", "rank"],
                    stats_cols=["query_id"],
                    replace_scope=["query_id"],
                )
        finally:
            probes.unpersist()

    return _write
