"""Streaming-mode tests: exactly-once file consumption across runs (the
reference deletes inputs to get this — T3), idempotent upsert on re-delivered
hours (T4), late-file updates (T5)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from data_engineering_project_spark.streaming.pipeline import run_incremental_report

SCHEMA = T.StructType(
    [
        T.StructField("interaction_id", T.LongType()),
        T.StructField("page_url", T.StringType()),
    ]
)


def _write_events(path, n):
    pq.write_table(
        pa.table(
            {
                "interaction_id": list(range(n)),
                "page_url": [f"https://x.test/{i}" for i in range(n)],
            }
        ),
        path,
    )


@pytest.fixture()
def dirs(tmp_path):
    (tmp_path / "in").mkdir()
    return {
        "in": str(tmp_path / "in"),
        "target": str(tmp_path / "report"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _counts(spark, target):
    """Read the streaming target, a snapshot-manifest table."""
    from data_engineering_project_spark.sinks import snapshot_table as st

    return {
        (r["date"], r["hour"], r["event_type"]): r["n"]
        for r in st.read_table(spark, target).collect()
    }


def _assert_dense(got: dict, nonzero: dict) -> None:
    """The streaming target must hold the SAME dense contract as the batch
    report (reference: exactly 24 rows/date even for silent hours): full
    hour×type grid per date, zero everywhere ``nonzero`` doesn't claim."""
    dates = {d for d, _, _ in got}
    assert len(got) == len(dates) * 24 * 2  # hours × (impressions, clicks)
    for key, n in got.items():
        assert n == nonzero.get(key, 0), key


def test_incremental_runs_consume_each_file_once(spark, dirs):
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526113212045_1-4_1.parquet", 4)
    run_incremental_report(spark, dirs["in"], dirs["target"], dirs["ckpt"], SCHEMA)
    _assert_dense(
        _counts(spark, dirs["target"]), {("2022-05-26", 11, "impressions"): 4}
    )

    # second tick: a new file for the SAME hour arrives; checkpoint must skip
    # the already-seen file and the upsert must revise, not duplicate
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526114500000_5-8_1.parquet", 3)
    run_incremental_report(spark, dirs["in"], dirs["target"], dirs["ckpt"], SCHEMA)
    _assert_dense(
        _counts(spark, dirs["target"]), {("2022-05-26", 11, "impressions"): 7}
    )


def test_multi_type_and_late_file(spark, dirs):
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220527123000000_1-4_1.parquet", 4)
    _write_events(f"{dirs['in']}/clicks_processed_dk_20220527123100000_1-7_1.parquet", 7)
    run_incremental_report(spark, dirs["in"], dirs["target"], dirs["ckpt"], SCHEMA)
    _assert_dense(
        _counts(spark, dirs["target"]),
        {
            ("2022-05-27", 12, "impressions"): 4,
            ("2022-05-27", 12, "clicks"): 7,
        },
    )

    # late file for an EARLIER hour (11:xx) arrives in the next tick —
    # within watermark tolerance it must land in its own hour bucket
    _write_events(f"{dirs['in']}/clicks_processed_dk_20220527114000000_8-10_1.parquet", 3)
    run_incremental_report(spark, dirs["in"], dirs["target"], dirs["ckpt"], SCHEMA)
    _assert_dense(
        _counts(spark, dirs["target"]),
        {
            ("2022-05-27", 11, "clicks"): 3,
            ("2022-05-27", 12, "impressions"): 4,
            ("2022-05-27", 12, "clicks"): 7,
        },
    )


def test_upsert_recovers_from_crash_between_renames(spark, dirs):
    """A state table's two-rename swap can die in the middle (target
    renamed away, replacement not yet in place). The next batch must
    restore the saved target and re-merge — no rows lost, no partial
    target read, no ``_next``/``_old`` directory left behind."""
    import os

    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_daily_distinct_estimates,
        upsert_daily_sketches,
    )

    def _batch(lo, n, day):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("interaction_id"),
            F.lit(f"2022-05-{day} 11:00:00").cast("timestamp").alias("batch_ts"),
        )

    write = upsert_daily_sketches(dirs["target"])
    write(_batch(0, 4, 26), 0)

    # simulate the crash window: target moved aside, replacement missing
    os.rename(dirs["target"], dirs["target"] + "_old")

    write(_batch(2, 5, 26).unionByName(_batch(0, 3, 27)), 1)
    got = {
        str(r["day"]): r["est_distinct"]
        for r in read_daily_distinct_estimates(spark, dirs["target"]).collect()
    }
    assert got == {"2022-05-26": 7, "2022-05-27": 3}
    assert not os.path.isdir(dirs["target"] + "_old")
    assert not os.path.isdir(dirs["target"] + "_next")


def test_snapshot_default_targets_versioned_table(spark, dirs):
    """The DEFAULT merge path commits each run as a snapshot version:
    O(touched files) per batch, time-travel readable, dense contract held
    incrementally (zero rows inserted only where absent — a second run for
    a new date must not reset the first date's counts to zero)."""
    from data_engineering_project_spark.sinks import snapshot_table as st

    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526113212045_1-4_1.parquet", 4)
    run_incremental_report(spark, dirs["in"], dirs["target"], dirs["ckpt"], SCHEMA)
    v1 = st.current_version(dirs["target"])
    assert v1 is not None

    # second run touches a DIFFERENT date: its zero-fill must not clobber
    # the 05-26 counts, and the table must advance by snapshot commit
    _write_events(f"{dirs['in']}/clicks_processed_dk_20220527120000000_1-3_1.parquet", 3)
    run_incremental_report(spark, dirs["in"], dirs["target"], dirs["ckpt"], SCHEMA)
    assert st.current_version(dirs["target"]) > v1
    _assert_dense(
        _counts(spark, dirs["target"]),
        {
            ("2022-05-26", 11, "impressions"): 4,
            ("2022-05-27", 12, "clicks"): 3,
        },
    )
    # time travel: the pre-merge version still reads bit-identically
    old = {
        (r["date"], r["hour"], r["event_type"]): r["n"]
        for r in st.read_table(spark, dirs["target"], version=v1).collect()
    }
    _assert_dense(old, {("2022-05-26", 11, "impressions"): 4})


def test_snapshot_batch_dedup_is_deterministic(spark, tmp_path):
    """Intra-batch duplicate keys resolve to ONE deterministic winner (so a
    crash re-delivery commits identical content): max_by(seq_col) when
    given, else the lexicographically-largest payload struct."""
    from data_engineering_project_spark.sinks import snapshot_table as st
    from data_engineering_project_spark.streaming.pipeline import (
        snapshot_upsert_batch,
    )

    dup = spark.createDataFrame(
        [("k1", 5, 100), ("k1", 9, 50), ("k2", 1, 7)], "k string, seq int, v int"
    )
    by_seq = str(tmp_path / "by_seq")
    snapshot_upsert_batch(by_seq, ["k"], seq_col="seq")(dup, 0)
    got = {(r.k, r.seq, r.v) for r in st.read_table(spark, by_seq).collect()}
    assert got == {("k1", 9, 50), ("k2", 1, 7)}  # highest seq wins

    by_payload = str(tmp_path / "by_payload")
    writer = snapshot_upsert_batch(by_payload, ["k"])
    writer(dup, 0)
    first = {tuple(r) for r in st.read_table(spark, by_payload).collect()}
    writer(dup, 1)  # re-delivery: identical winners, idempotent content
    second = {tuple(r) for r in st.read_table(spark, by_payload).collect()}
    assert first == second
    assert ("k1", 9, 50) in first  # largest (seq, v) struct


def test_session_window_stream(spark, dirs):
    """Built-in session windows over the file stream: bursts 40 min apart
    (gap 30 min) split into separate sessions; append mode emits a session
    only once the watermark passes its close. maxFilesPerTrigger=1 makes
    each file its own micro-batch so the watermark actually advances."""
    from data_engineering_project_spark.streaming.pipeline import (
        read_event_stream,
        session_counts_stream,
    )

    # burst 1: 11:00 + 11:10 (one session, 6 events, closes at 11:40)
    _write_events(f"{dirs['in']}/clicks_processed_dk_20220526110000000_1-4_1.parquet", 4)
    _write_events(f"{dirs['in']}/clicks_processed_dk_20220526111000000_5-6_1.parquet", 2)
    # burst 2: 11:50 advances the watermark past burst 1's close
    _write_events(f"{dirs['in']}/clicks_processed_dk_20220526115000000_7-9_1.parquet", 3)
    # 13:00 file: the batch that processes it runs with watermark 11:49
    _write_events(f"{dirs['in']}/clicks_processed_dk_20220526130000000_10-10_1.parquet", 1)
    # the file source orders by MODIFICATION TIME: four sub-millisecond
    # writes can tie (flaked once under full-suite load, reordering the
    # per-file micro-batches and thus the watermark walk) — pin strictly
    # increasing mtimes so maxFilesPerTrigger=1 processes in event order
    import os
    import time as _time

    base = _time.time() - 3600
    for i, name in enumerate(sorted(os.listdir(dirs["in"]))):
        os.utime(f"{dirs['in']}/{name}", (base + 10 * i, base + 10 * i))

    events = read_event_stream(spark, dirs["in"], SCHEMA, max_files_per_trigger=1)
    sessions = session_counts_stream(events, gap="30 minutes", watermark="1 minute")
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_t")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sessions_t ORDER BY session_start").collect()
    # both closed sessions emit (availableNow's final flush advances the
    # watermark past 12:20); the 13:00 session is still open -> withheld
    assert len(rows) == 2
    assert rows[0].n_events == 6
    assert rows[0].session_start.minute == 0
    # session end = last event (11:10) + 30 min gap
    assert (rows[0].session_end - rows[0].session_start).seconds == 40 * 60
    assert rows[1].n_events == 3
    assert rows[1].session_start.minute == 50


def test_stateful_totals_recover_across_runs(spark, dirs):
    """applyInPandasWithState: running totals accumulate across two separate
    availableNow runs — state restores from the checkpoint (the property the
    reference's delete-files-and-rerun cycle cannot provide)."""
    from data_engineering_project_spark.streaming.pipeline import (
        read_event_stream,
        stateful_type_totals_stream,
    )

    def run_once():
        events = read_event_stream(spark, dirs["in"], SCHEMA)
        totals = stateful_type_totals_stream(events)

        def sink(batch_df, _batch_id):
            batch_df.write.mode("append").parquet(dirs["target"])

        q = (
            totals.writeStream.outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526110000000_1-5_1.parquet", 5)
    run_once()
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526120000000_6-8_1.parquet", 3)
    run_once()

    emitted = {
        (r["total"], r["batch_rows"])
        for r in spark.read.parquet(dirs["target"]).collect()
    }
    # run 1 emitted (5,5); run 2 restored total=5 from the checkpoint and
    # added this batch's 3 rows
    assert emitted == {(5, 5), (8, 3)}


def test_stream_stream_interval_join(spark, dirs):
    """Stream-stream join with event-time bounds: impressions at 11:00 and
    11:30 join clicks at 11:45 (both within 1 h); the 09:00 impression is
    outside the window and must not match."""
    from data_engineering_project_spark.streaming.pipeline import (
        read_event_stream,
        stream_stream_attribution,
    )

    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526090000000_1-2_1.parquet", 2)
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526110000000_3-4_1.parquet", 2)
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526113000000_5-6_1.parquet", 2)
    _write_events(f"{dirs['in']}/clicks_processed_dk_20220526114500000_7-8_1.parquet", 2)

    events = read_event_stream(spark, dirs["in"], SCHEMA)
    joined = stream_stream_attribution(events, within="1 hour")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_t")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT l_ts, r_ts FROM attr_t").collect()
    # 2 impressions@11:00 x 2 clicks + 2 impressions@11:30 x 2 clicks = 8;
    # the 09:00 impressions are > 1h before the click -> excluded
    assert len(rows) == 8
    assert all(r.l_ts.hour == 11 for r in rows)


def test_foreachbatch_drives_the_warehouse_merge_sink(spark, dirs, tmp_path):
    """T4 end-to-end with the REAL merge sink: streaming hourly counts land
    in a DuckDB warehouse through the archive/replace/insert transaction
    per micro-batch; a re-delivered hour replaces and archives, never
    duplicates."""
    import duckdb

    from data_engineering_project_spark.sinks.warehouse_sink import (
        MergeSpec,
        execute_merge,
    )
    from data_engineering_project_spark.streaming.pipeline import (
        hourly_counts_stream,
        read_event_stream,
    )

    db = str(tmp_path / "wh.duckdb")
    con0 = duckdb.connect(db)
    con0.execute(
        """CREATE TABLE hourly_counts (
               datetime TIMESTAMP, event_type TEXT, n BIGINT)"""
    )
    con0.execute("CREATE TABLE hourly_counts_archive AS SELECT * FROM hourly_counts LIMIT 0")
    con0.close()

    spec = MergeSpec(
        target="hourly_counts",
        archive="hourly_counts_archive",
        staging="hourly_counts_staging",
        key="datetime",
        columns=("datetime", "event_type", "n"),
        invalid_table=None,
    )

    def merge_batch(batch_df, _batch_id):
        pdf = (
            batch_df.selectExpr(
                "to_timestamp(concat(date, ' ', lpad(hour, 2, '0'), ':00:00'))"
                " AS datetime",
                "event_type",
                "n",
            )
        ).toPandas()
        if not len(pdf):
            return
        con = duckdb.connect(db)
        con.register("_batch", pdf)
        con.execute(
            "CREATE OR REPLACE TABLE hourly_counts_staging AS SELECT * FROM _batch"
        )
        execute_merge(con, spec)
        con.close()

    def run_once():
        counts = hourly_counts_stream(read_event_stream(spark, dirs["in"], SCHEMA))
        q = (
            counts.writeStream.outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(merge_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526110000000_1-4_1.parquet", 4)
    run_once()
    con = duckdb.connect(db)
    assert con.execute("SELECT n FROM hourly_counts").fetchall() == [(4,)]
    con.close()

    # late file for the SAME hour: the merge must replace (4 -> 7) and
    # archive the replaced row exactly once
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526114500000_5-7_1.parquet", 3)
    run_once()
    con = duckdb.connect(db)
    assert con.execute("SELECT n FROM hourly_counts").fetchall() == [(7,)]
    assert con.execute("SELECT n FROM hourly_counts_archive").fetchall() == [(4,)]
    con.close()


def test_idle_timeout_session_closes_without_new_key_events(spark, dirs):
    """ProcessingTimeTimeout: a key's session closes once the key goes
    quiet for idle_ms — with NO further event for that key (or any key)
    ever arriving. Needs a running processingTime trigger: availableNow
    never terminates with armed processing-time timers (see operator
    docstring)."""
    import glob
    import time

    from data_engineering_project_spark.streaming.pipeline import (
        idle_timeout_sessions_stream,
        read_event_stream,
    )

    _write_events(
        f"{dirs['in']}/impressions_processed_dk_20220526110000000_1-5_1.parquet", 5
    )
    events = read_event_stream(spark, dirs["in"], SCHEMA)
    sessions = idle_timeout_sessions_stream(events, idle_ms=2000)

    def sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(dirs["target"])

    q = (
        sessions.writeStream.outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .foreachBatch(sink)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        rows: set = set()
        deadline = time.time() + 120
        while time.time() < deadline:
            time.sleep(2)
            if not glob.glob(f"{dirs['target']}/*.parquet"):
                continue
            rows = {
                (r["event_type"], r["n_events"], r["closed"])
                for r in spark.read.parquet(dirs["target"]).collect()
            }
            if ("impressions", 5, True) in rows:
                break
    finally:
        q.stop()
    assert ("impressions", 5, False) in rows  # open-session snapshot
    assert ("impressions", 5, True) in rows  # idle-timeout close


def test_streaming_hll_daily_sketch_rollup(spark, dirs):
    """Streaming sketch maintenance: per-day HLL sketches merge across
    micro-batches AND across separate availableNow runs; estimates from the
    persisted sketches match exact distinct counts (sparse-mode HLL is
    exact at these cardinalities), and the range rollup never re-reads the
    raw events."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_daily_distinct_estimates,
        read_event_stream,
        upsert_daily_sketches,
    )

    def _ids(path, lo, n):
        pq.write_table(
            pa.table(
                {
                    "interaction_id": list(range(lo, lo + n)),
                    "page_url": [f"https://x.test/{i}" for i in range(n)],
                }
            ),
            path,
        )

    def run_once():
        events = read_event_stream(spark, dirs["in"], SCHEMA)
        q = (
            events.writeStream.outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(upsert_daily_sketches(dirs["target"]))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: day 26 ids 0..49, day 27 ids 25..74 (overlaps day 26's ids)
    _ids(f"{dirs['in']}/impressions_processed_dk_20220526110000000_1-1_1.parquet", 0, 50)
    _ids(f"{dirs['in']}/clicks_processed_dk_20220527120000000_2-2_1.parquet", 25, 50)
    run_once()
    # run 2: day 26 again, ids 30..79 → day 26 distinct = 80 (0..79)
    _ids(f"{dirs['in']}/impressions_processed_dk_20220526150000000_3-3_1.parquet", 30, 50)
    run_once()

    got = {
        str(r["day"]): r["est_distinct"]
        for r in read_daily_distinct_estimates(spark, dirs["target"]).collect()
    }
    assert got == {"2022-05-26": 80, "2022-05-27": 50}

    # range rollup from the persisted sketches only: distinct over BOTH days
    # is 80 (27th's ids are a subset of the 26th's) — union, not sum
    sk = spark.read.parquet(dirs["target"])
    total = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n")
    ).collect()[0]["n"]
    assert total == 80


def test_stream_dedup_drops_redelivered_ids_with_bounded_state(spark, dirs):
    """dropDuplicatesWithinWatermark: two files carrying overlapping
    interaction ids (an upstream redelivery) → each id survives exactly
    once downstream; dedup state expires with the watermark instead of
    growing forever."""
    from data_engineering_project_spark.streaming.pipeline import (
        deduped_event_stream,
        read_event_stream,
    )

    def _ids(path, lo, n):
        pq.write_table(
            pa.table(
                {
                    "interaction_id": list(range(lo, lo + n)),
                    "page_url": [f"https://x.test/{i}" for i in range(n)],
                }
            ),
            path,
        )

    # ids 0..9, then a redelivery shifted by 5: ids 5..14 → 15 distinct
    _ids(f"{dirs['in']}/impressions_processed_dk_20220526110000000_1-1_1.parquet", 0, 10)
    _ids(f"{dirs['in']}/impressions_processed_dk_20220526111500000_2-2_1.parquet", 5, 10)

    events = read_event_stream(spark, dirs["in"], SCHEMA)
    deduped = deduped_event_stream(events)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_t")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT interaction_id FROM dedup_t").collect()
    ids = [r["interaction_id"] for r in rows]
    assert sorted(ids) == list(range(15))  # each id exactly once
    assert len(ids) == len(set(ids))


def test_streaming_histogram_quantile_maintenance(spark, dirs):
    """Streaming histogram maintenance uses the exactly-once-counter
    protocol: per-batch deltas keyed by batch_id REPLACE on re-delivery
    (counters, unlike HLL unions, would double-count otherwise). The
    quantile rollup reads only the persisted (day, bin, batch) state."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_quantile_estimates,
        upsert_daily_histograms,
    )

    def _batch(vals, day):
        return spark.createDataFrame(
            [(float(v),) for v in vals], "value double"
        ).withColumn("batch_ts", F.lit(f"2022-05-{day} 11:00:00").cast("timestamp"))

    write = upsert_daily_histograms(dirs["target"])
    b0 = list(range(1, 101))          # 1..100 on day 26
    b1 = list(range(50, 150))         # 50..149 on day 27
    write(_batch(b0, 26), 0)
    write(_batch(b1, 27), 1)
    # crash re-delivery of batch 1: rows REPLACED, not accumulated
    write(_batch(b1, 27), 1)

    state = spark.read.parquet(dirs["target"])
    assert state.agg(F.sum("n")).collect()[0][0] == 200  # not 300

    got = {
        r["p"]: r["est_lo"]
        for r in read_quantile_estimates(spark, dirs["target"]).collect()
    }
    # geometric bins (base 1.2): estimate is the lower edge of the bin
    # holding the true quantile → within a factor of 1.2 below it
    import math

    all_vals = sorted(b0 + b1)
    for p, est in got.items():
        true = all_vals[math.ceil(p * len(all_vals)) - 1]
        assert est <= true <= est * 1.2 * 1.0000001, (p, est, true)


def test_histogram_handles_nonpositive_values(spark, dirs):
    """Values ≤ 0 have no geometric bin: they must land in the sentinel
    underflow bin (never a NULL bin, which would sort first and corrupt
    the cumulative quantile walk) and read back as estimate 0.0."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        UNDERFLOW_BIN,
        read_quantile_estimates,
        upsert_daily_histograms,
    )

    vals = [-5.0, 0.0] + [float(v) for v in range(1, 99)]  # 2 underflow, 98 real
    batch = spark.createDataFrame([(v,) for v in vals], "value double").withColumn(
        "batch_ts", F.lit("2022-05-26 11:00:00").cast("timestamp")
    )
    upsert_daily_histograms(dirs["target"])(batch, 0)

    state = spark.read.parquet(dirs["target"])
    assert state.filter(F.col("bin").isNull()).count() == 0
    assert (
        state.filter(F.col("bin") == UNDERFLOW_BIN).agg(F.sum("n")).collect()[0][0]
        == 2
    )
    got = {
        r["p"]: r["est_lo"]
        for r in read_quantile_estimates(spark, dirs["target"]).collect()
    }
    # p50 of 100 values (2 nonpositive + 1..98) is 49: est within a bin
    assert got[0.5] <= 49 <= got[0.5] * 1.2 * 1.0000001
    # the 1st percentile would fall in the underflow bin -> estimate 0.0
    got1 = {
        r["p"]: r["est_lo"]
        for r in read_quantile_estimates(
            spark, dirs["target"], quantiles=(0.01,)
        ).collect()
    }
    assert got1[0.01] == 0.0


def test_streaming_cms_maintenance_exactly_once(spark, dirs):
    """Streaming CMS: per-batch counter deltas keyed by batch_id REPLACE on
    crash re-delivery (counters would double-count under a blind append);
    estimates from the persisted sketch keep the never-underestimate
    guarantee and are exact here (no collisions at this cardinality)."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_cms_estimates,
        upsert_cms_sketch,
    )

    def _batch(ids):
        return spark.createDataFrame([(i,) for i in ids], "user_id long")

    write = upsert_cms_sketch(dirs["target"])
    write(_batch([1] * 50 + [2] * 10), 0)
    write(_batch([1] * 25 + [3] * 5), 1)
    write(_batch([1] * 25 + [3] * 5), 1)  # crash re-delivery: replaced

    state = spark.read.parquet(dirs["target"])
    # per-row totals equal ONE delivery of each batch (60 + 30, not +30 more)
    assert (
        state.groupBy("row_idx").agg(F.sum("cnt").alias("n")).collect()[0]["n"]
        == 90
    )
    cand = _batch([1, 2, 3]).distinct()
    est = {
        r["user_id"]: r["est_count"]
        for r in read_cms_estimates(spark, dirs["target"], cand).collect()
    }
    assert est[1] >= 75 and est[2] >= 10 and est[3] >= 5  # never underestimate
    assert est == {1: 75, 2: 10, 3: 5}  # exact at this cardinality


def test_streaming_funnel_orders_across_arrow_chunks(spark, dirs):
    """ADVICE r3: one user's batch data can span multiple Arrow chunks;
    events must be applied in GLOBAL time order within the batch, not
    per-chunk. Forced with maxRecordsPerBatch=1 (every row its own chunk)
    and a batch where the later-stage event's file sorts FIRST: per-chunk
    sorting would see the click before the impression and never advance."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        funnel_stage_stream,
        read_event_stream,
    )

    # click at 12:00 (file listed first) and impression at 11:00, same user,
    # ONE micro-batch → correct ordered funnel applies impression first
    pq.write_table(
        pa.table({"interaction_id": [2], "page_url": ["https://x.test/2"]}),
        f"{dirs['in']}/clicks_processed_dk_20220526120000000_1-1_1.parquet",
    )
    _write_events(
        f"{dirs['in']}/impressions_processed_dk_20220526110000000_2-2_1.parquet",
        1,
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 1)
    try:
        events = read_event_stream(spark, dirs["in"], SCHEMA).withColumn(
            "user_id", F.col("interaction_id") % 2
        )
        funnel = funnel_stage_stream(events, stages=("impressions", "clicks"))

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(dirs["target"])

        q = (
            funnel.writeStream.outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    rows = spark.read.parquet(dirs["target"]).collect()
    by_user = {r["user_id"]: (r["stage_idx"], r["stage"]) for r in rows}
    assert by_user[0] == (1, "clicks")  # impression applied before click


def test_streaming_funnel_is_ordered_and_recovers_state(spark, dirs):
    """Ordered-funnel semantics on a stream: a user reaches stage k+1 only
    AFTER stage k (a purchase-before-click user stays unconverted), and
    stage state restores from the checkpoint across separate availableNow
    runs — a funnel spanning ingest ticks still converts."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        funnel_stage_stream,
        read_event_stream,
    )

    def run_once():
        events = read_event_stream(spark, dirs["in"], SCHEMA).withColumn(
            "user_id", F.col("interaction_id") % 2
        )
        funnel = funnel_stage_stream(
            events, stages=("impressions", "clicks")
        )

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(dirs["target"])

        q = (
            funnel.writeStream.outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: user 0 (even ids) sees an impression; user 1 (odd ids) sees a
    # CLICK FIRST — out of order, must not advance
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526110000000_2-2_1.parquet", 1)  # id 0 -> user 0
    pq.write_table(
        pa.table({"interaction_id": [1], "page_url": ["https://x.test/1"]}),
        f"{dirs['in']}/clicks_processed_dk_20220526110500000_1-1_1.parquet",
    )  # id 1 -> user 1: click with no prior impression
    run_once()
    # run 2: user 0's click arrives (completes the funnel across runs);
    # user 1 finally gets an impression (reaches stage 0 only)
    pq.write_table(
        pa.table({"interaction_id": [2], "page_url": ["https://x.test/2"]}),
        f"{dirs['in']}/clicks_processed_dk_20220526120000000_3-3_1.parquet",
    )  # id 2 -> user 0
    pq.write_table(
        pa.table({"interaction_id": [3], "page_url": ["https://x.test/3"]}),
        f"{dirs['in']}/impressions_processed_dk_20220526120500000_4-4_1.parquet",
    )  # id 3 -> user 1
    run_once()

    latest = {}
    for r in sorted(
        spark.read.parquet(dirs["target"]).collect(),
        key=lambda r: r["stage_idx"],
    ):
        latest[r["user_id"]] = (r["stage_idx"], r["stage"])
    assert latest[0] == (1, "clicks")  # impression (run 1) -> click (run 2)
    assert latest[1] == (0, "impressions")  # early click never counted


def test_streaming_cohort_retention_matches_batch_grid(spark, dirs):
    """Streaming cohort retention (round-3 verdict item #7): the appended
    delta rows ARE the batch plan's distinct user_weeks relation, so
    GROUP BY cohort_week, week_offset -> count(*) over the sink equals the
    batch retention grid; state recovery across availableNow runs keeps the
    run-1 cohort week as the offset base, and a pair re-observed in run 2
    is suppressed (exactly-once counting under append mode)."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        cohort_retention_stream,
        read_event_stream,
    )

    def run_once():
        events = read_event_stream(spark, dirs["in"], SCHEMA).withColumn(
            "user_id", F.col("interaction_id") % 2
        )
        deltas = cohort_retention_stream(events)

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(dirs["target"])

        q = (
            deltas.writeStream.outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: 2022-05-26 (Thu; cohort Monday 2022-05-23) — ids 0,1 → both
    # users first-touch in week 0
    _write_events(
        f"{dirs['in']}/impressions_processed_dk_20220526110000000_1-2_1.parquet",
        2,
    )
    run_once()

    # run 2: user 0 active in week +1 (2022-06-02); user 1 re-observed in
    # week 0 (MUST be suppressed — already emitted) and newly in week +2
    pq.write_table(
        pa.table({"interaction_id": [2], "page_url": ["https://x.test/2"]}),
        f"{dirs['in']}/clicks_processed_dk_20220602120000000_3-3_1.parquet",
    )  # id 2 -> user 0, offset 1
    pq.write_table(
        pa.table({"interaction_id": [1], "page_url": ["https://x.test/1b"]}),
        f"{dirs['in']}/clicks_processed_dk_20220526150000000_4-4_1.parquet",
    )  # id 1 -> user 1, week 0 again: suppressed
    pq.write_table(
        pa.table({"interaction_id": [3], "page_url": ["https://x.test/3"]}),
        f"{dirs['in']}/impressions_processed_dk_20220609090000000_5-5_1.parquet",
    )  # id 3 -> user 1, offset 2
    run_once()

    rows = spark.read.parquet(dirs["target"]).collect()
    # exactly-once: 2 pairs from run 1 + 2 new pairs from run 2, no dupes
    assert len(rows) == 4
    grid = {}
    for r in rows:
        key = (r["cohort_week"], r["week_offset"])
        grid[key] = grid.get(key, 0) + 1
    assert grid == {
        ("2022-05-23", 0): 2,  # both users first touched in week 0
        ("2022-05-23", 1): 1,  # user 0 returned the next week
        ("2022-05-23", 2): 1,  # user 1 returned two weeks later
    }


def test_streaming_markov_deltas_sum_to_batch_matrix(spark, dirs):
    """markov_transitions_stream: per-batch transition deltas summed over
    two availableNow runs equal the batch lag() matrix over the union of
    files, including the bridge transition across the run boundary
    (checkpointed last-type state); redelivered pairs are never
    double-counted."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        markov_transitions_stream,
        read_event_stream,
    )

    def run_once():
        events = read_event_stream(spark, dirs["in"], SCHEMA).withColumn(
            "user_id", F.col("interaction_id") % 2
        )
        deltas = markov_transitions_stream(events)

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(dirs["target"])

        q = (
            deltas.writeStream.outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: user 0 sees impression(11:00) then click(12:00) -> one i->c;
    # user 1 sees click(11:30) only (no transition yet)
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526110000000_1-1_1.parquet", 1)  # id 0 -> u0
    pq.write_table(
        pa.table({"interaction_id": [2], "page_url": ["https://x.test/2"]}),
        f"{dirs['in']}/clicks_processed_dk_20220526120000000_2-2_1.parquet",
    )  # id 2 -> u0
    pq.write_table(
        pa.table({"interaction_id": [1], "page_url": ["https://x.test/1"]}),
        f"{dirs['in']}/clicks_processed_dk_20220526113000000_3-3_1.parquet",
    )  # id 1 -> u1
    run_once()
    # run 2: u0 gets another impression (bridge click->impression across
    # the run boundary via state); u1 gets an impression (bridge c->i)
    pq.write_table(
        pa.table({"interaction_id": [4], "page_url": ["https://x.test/4"]}),
        f"{dirs['in']}/impressions_processed_dk_20220526130000000_4-4_1.parquet",
    )  # id 4 -> u0
    pq.write_table(
        pa.table({"interaction_id": [3], "page_url": ["https://x.test/3"]}),
        f"{dirs['in']}/impressions_processed_dk_20220526133000000_5-5_1.parquet",
    )  # id 3 -> u1
    run_once()

    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in spark.read.parquet(dirs["target"])
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert got == {
        ("impressions", "clicks"): 1,  # u0 run 1
        ("clicks", "impressions"): 2,  # u0 and u1 across the run boundary
    }


def test_streaming_mg_maintenance_exactly_once(spark, dirs):
    """Streaming Misra-Gries: per-batch summaries keyed by batch_id REPLACE
    on crash re-delivery (MG counters double-count under a blind append);
    merged bounds stay hard (lower <= true <= upper) and are exact here
    because nothing overflows capacity (dec == 0)."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_mg_topk,
        upsert_mg_summaries,
    )

    def _batch(ids):
        return spark.createDataFrame([(i,) for i in ids], "user_id long")

    write = upsert_mg_summaries(dirs["target"], capacity=8)
    write(_batch([1] * 50 + [2] * 10), 0)
    write(_batch([1] * 25 + [3] * 5), 1)
    write(_batch([1] * 25 + [3] * 5), 1)  # crash re-delivery: replaced

    state = spark.read.parquet(dirs["target"])
    # counter totals equal ONE delivery of each batch (60 + 30, not +30)
    assert (
        state.filter(F.col("user_id").isNotNull())
        .agg(F.sum("est"))
        .collect()[0][0]
        == 90
    )
    rows = read_mg_topk(spark, dirs["target"], k=3).collect()
    got = {r["user_id"]: (r["est_lower"], r["est_upper"]) for r in rows}
    assert got == {1: (75, 75), 2: (10, 10), 3: (5, 5)}


def test_streaming_mg_compaction_keeps_bounds(spark, dirs):
    """A batch whose merged summary overflows capacity compacts: counters
    shrink by the (capacity+1)-th largest, dec rides the sentinel, and
    lower <= true <= upper still holds for every surviving key."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_mg_topk,
        upsert_mg_summaries,
    )

    # capacity 2: keys 1 (x8), 2 (x5), 3 (x2) in one partition-coalesced
    # batch -> per-partition or merge-level compaction must fire
    ids = [1] * 8 + [2] * 5 + [3] * 2
    batch = spark.createDataFrame(
        [(i,) for i in ids], "user_id long"
    ).coalesce(1)
    upsert_mg_summaries(dirs["target"], capacity=2)(batch, 0)

    state = spark.read.parquet(dirs["target"])
    dec = (
        state.filter(F.col("user_id").isNull())
        .agg(F.sum("dec"))
        .collect()[0][0]
    )
    assert dec > 0  # compaction fired somewhere
    true = {1: 8, 2: 5, 3: 2}
    for r in read_mg_topk(spark, dirs["target"], k=2).collect():
        assert r["est_lower"] <= true[r["user_id"]] <= r["est_upper"]


def test_streaming_pit_enrichment_orders_and_recovers(spark, dirs):
    """Streaming PIT lookup: (1) a change and a later fact in the SAME
    micro-batch enrich correctly even when the fact's file lists first
    (global time_col ordering, not file or chunk order); (2) the last
    known value survives the checkpoint across availableNow runs; (3) a
    fact with no prior change emits NULL, never a future value."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        pit_enrichment_stream,
        read_event_stream,
    )

    def run_once():
        events = read_event_stream(spark, dirs["in"], SCHEMA).withColumn(
            "is_fact", F.col("event_type") == F.lit("clicks")
        )
        out = pit_enrichment_stream(events)

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(dirs["target"])

        q = (
            out.writeStream.outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: fact at 10:00 (no prior change -> NULL), change at 11:00,
    # fact at 12:00 (file name sorts BEFORE the change file -> ordering
    # must come from batch_ts, not listing order)
    pq.write_table(
        pa.table({"interaction_id": [7], "page_url": ["ignored/f0"]}),
        f"{dirs['in']}/clicks_processed_dk_20220526100000000_1-1_1.parquet",
    )
    pq.write_table(
        pa.table({"interaction_id": [7], "page_url": ["state/A"]}),
        f"{dirs['in']}/impressions_processed_dk_20220526110000000_1-1_1.parquet",
    )
    pq.write_table(
        pa.table({"interaction_id": [7], "page_url": ["ignored/f1"]}),
        f"{dirs['in']}/clicks_processed_dk_20220526120000000_1-1_1.parquet",
    )
    run_once()
    got = {
        r["batch_ts"].strftime("%H"): r["state_value"]
        for r in spark.read.parquet(dirs["target"]).collect()
    }
    assert got == {"10": None, "12": "state/A"}

    # batch 2 (separate run): a fact with no new change must see the
    # checkpointed "state/A"
    pq.write_table(
        pa.table({"interaction_id": [7], "page_url": ["ignored/f2"]}),
        f"{dirs['in']}/clicks_processed_dk_20220526130000000_1-1_1.parquet",
    )
    run_once()
    got2 = {
        r["batch_ts"].strftime("%H"): r["state_value"]
        for r in spark.read.parquet(dirs["target"]).collect()
    }
    assert got2["13"] == "state/A"


def test_streaming_bloom_bits_idempotent_and_probe(spark, dirs):
    """Streaming Bloom maintenance: the set-bit table unions across batches
    and is naturally idempotent under crash re-delivery (set OR — no
    batch_id protocol needed, unlike the CMS/MG counter writers). Probes:
    every inserted member passes (no false negatives); a disjoint id range
    mostly fails (the 8192-bit filter is sparse at this cardinality)."""
    from data_engineering_project_spark.streaming.pipeline import (
        read_bloom_contains,
        upsert_bloom_bits,
    )

    def _batch(ids):
        return spark.createDataFrame([(i,) for i in ids], "interaction_id long")

    write = upsert_bloom_bits(dirs["target"])
    write(_batch(range(0, 100)), 0)
    bits_after_first = spark.read.parquet(dirs["target"]).count()
    write(_batch(range(0, 100)), 0)  # crash re-delivery: pure re-OR
    assert spark.read.parquet(dirs["target"]).count() == bits_after_first
    write(_batch(range(100, 200)), 1)

    members = read_bloom_contains(
        spark, dirs["target"], _batch(range(0, 200))
    )
    assert members.filter("might_contain").count() == 200  # no false negatives

    strangers = read_bloom_contains(
        spark, dirs["target"], _batch(range(10_000, 10_500))
    )
    fp = strangers.filter("might_contain").count()
    # 600 set bits of 8192 → per-probe fp ≈ (600/8192)^3 ≈ 4e-4
    assert fp <= 5


def test_streaming_sliding_windows_emit_overlap(spark, dirs):
    """Sliding 2h/1h streaming windows: an event at 11:32 must appear in
    BOTH the 10:00–12:00 and 11:00–13:00 windows, with counts finalized
    exactly once in append mode."""
    from data_engineering_project_spark.streaming.pipeline import (
        read_event_stream,
        sliding_counts_stream,
    )

    _write_events(
        f"{dirs['in']}/impressions_processed_dk_20220526113212045_1-4_1.parquet",
        4,
    )
    # a second, much later file advances the watermark past the first hour
    _write_events(
        f"{dirs['in']}/impressions_processed_dk_20220526180000000_5-6_1.parquet",
        2,
    )
    events = read_event_stream(spark, dirs["in"], SCHEMA)
    out = sliding_counts_stream(events)
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", dirs["target"])
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(dirs["target"]).collect()
    }
    assert got[("2022-05-26 10:00:00", "impressions")] == 4
    assert got[("2022-05-26 11:00:00", "impressions")] == 4


def test_stream_stream_left_outer_emits_final_unattributed(spark, dirs):
    """Left-outer stream-stream join: the 09:00 impressions (no click in
    window) must eventually surface with NULL click columns — but only
    after the right watermark proves no in-window click can arrive, on a
    later tick (streaming outer joins finalize from state, not from the
    row's own batch)."""
    from data_engineering_project_spark.streaming.pipeline import (
        read_event_stream,
        stream_stream_attribution,
    )

    def run_once():
        events = read_event_stream(spark, dirs["in"], SCHEMA)
        joined = stream_stream_attribution(
            events, within="1 hour", watermark="30 minutes", how="left_outer"
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", dirs["target"])
            .option("checkpointLocation", dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526090000000_1-2_1.parquet", 2)
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526110000000_3-4_1.parquet", 2)
    _write_events(f"{dirs['in']}/clicks_processed_dk_20220526114500000_7-8_1.parquet", 2)
    run_once()
    # a much later file pushes both watermarks far past every window
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220526230000000_9-9_1.parquet", 1)
    run_once()
    _write_events(f"{dirs['in']}/impressions_processed_dk_20220527120000000_10-10_1.parquet", 1)
    run_once()

    rows = spark.read.parquet(dirs["target"]).collect()
    matched = [r for r in rows if r.r_ts is not None]
    unmatched = [r for r in rows if r.r_ts is None]
    # 2 impressions@11:00 x 2 clicks = 4 matches
    assert len(matched) == 4
    # the two 09:00 impressions are final non-attributions; each emitted once
    assert sum(1 for r in unmatched if r.l_ts.hour == 9) == 2
    hours = sorted(r.l_ts.hour for r in unmatched)
    assert hours.count(9) == 2


def test_histogram_drift_reader_binned_ks(spark, dirs):
    """read_histogram_drift computes a day-over-day binned KS distance
    from the persisted histogram state alone. Expected value is derived
    from the SAME persisted state in pandas (integer CDF algebra), so the
    test pins the drift math, not the binning (tested above). Day 1 has
    no predecessor and must emit nothing; re-delivered batches must not
    move the statistic (exactly-once counter protocol composes)."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_histogram_drift,
        upsert_daily_histograms,
    )

    def _batch(vals, day):
        return spark.createDataFrame(
            [(float(v),) for v in vals], "value double"
        ).withColumn(
            "batch_ts", F.lit(f"2022-05-{day} 11:00:00").cast("timestamp")
        )

    write = upsert_daily_histograms(dirs["target"])
    write(_batch(range(1, 101), 26), 0)       # day 26: 1..100
    write(_batch(list(range(1, 9)) * 10, 27), 1)  # day 27: skewed low
    write(_batch(list(range(1, 9)) * 10, 27), 1)  # crash re-delivery

    got = read_histogram_drift(spark, dirs["target"]).collect()
    assert len(got) == 1  # day 26 has no predecessor
    row = got[0]
    assert str(row["day"]) == "2022-05-27"
    assert (row["n_day"], row["n_prev"]) == (80, 100)

    # expected: integer CDF sup-distance over the union bin grid, from the
    # same persisted counters the reader used
    state = (
        spark.read.parquet(dirs["target"])
        .groupBy("day", "bin")
        .agg(F.sum("n").alias("n"))
        .toPandas()
    )
    bins = sorted(state["bin"].unique())
    by_day = {
        str(day): dict(zip(g["bin"], g["n"]))
        for day, g in state.groupby("day")
    }
    f1 = f2 = 0
    d_num = 0
    for b in bins:
        f1 += by_day["2022-05-26"].get(b, 0)
        f2 += by_day["2022-05-27"].get(b, 0)
        d_num = max(d_num, abs(f2 * 100 - f1 * 80))
    assert row["ks_vs_prev_day"] == round(d_num / (80 * 100), 6)
    assert row["ks_vs_prev_day"] > 0.3  # the skew is a real, visible shift


def test_streaming_weighted_mg_top_spenders(spark, dirs):
    """Weighted Misra-Gries maintenance: with weight_col each occurrence
    adds its integer cents instead of 1, turning the maintained summary
    into top SPENDERS. Exactly-once replace, exact equality while nothing
    overflows capacity, and hard bounds once compaction fires."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_mg_topk,
        upsert_mg_summaries,
    )

    def _batch(rows):
        return spark.createDataFrame(rows, "user_id long, cents long")

    write = upsert_mg_summaries(
        dirs["target"], capacity=8, weight_col="cents"
    )
    write(_batch([(1, 500), (1, 250), (2, 100)]), 0)
    write(_batch([(1, 250), (3, 40)]), 1)
    write(_batch([(1, 250), (3, 40)]), 1)  # crash re-delivery: replaced

    rows = read_mg_topk(spark, dirs["target"], k=3).collect()
    got = {r["user_id"]: (r["est_lower"], r["est_upper"]) for r in rows}
    assert got == {1: (1000, 1000), 2: (100, 100), 3: (40, 40)}

    # overflow path: capacity 2, one partition -> compaction must fire
    # and the weighted bounds must still bracket the true spend
    import shutil

    shutil.rmtree(dirs["target"], ignore_errors=True)
    spend = [(1, 80), (1, 80), (2, 50), (3, 20), (4, 10), (5, 5)]
    batch = _batch(spend).coalesce(1)
    upsert_mg_summaries(dirs["target"], capacity=2, weight_col="cents")(
        batch, 0
    )
    true = {}
    for u, c in spend:
        true[u] = true.get(u, 0) + c
    for r in read_mg_topk(spark, dirs["target"], k=5).collect():
        lo, hi = r["est_lower"], r["est_upper"]
        assert lo <= true[r["user_id"]] <= hi


def test_streaming_cusum_drift_alarm(spark, dirs, tmp_path):
    """upsert_drift_cusum turns the day-over-day KS series into a Page
    CUSUM alarm: a persistent small shift that never clears a one-shot
    threshold on any single day must still accumulate past it. The
    expected state replays the recursion S_d = max(0, S_{d-1} + ks_d - k)
    in Python over the READER'S own KS values (pinning the closed-form
    window restatement, not the KS math — tested above); a crash
    re-delivery must leave the alarm table byte-identical because it is a
    pure function of the exactly-once histogram state."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_drift_alarms,
        read_histogram_drift,
        upsert_drift_cusum,
    )

    def _batch(vals, day):
        return spark.createDataFrame(
            [(float(v),) for v in vals], "value double"
        ).withColumn(
            "batch_ts", F.lit(f"2022-05-{day:02d} 11:00:00").cast("timestamp")
        )

    alarm_dir = str(tmp_path / "alarms")
    write = upsert_drift_cusum(
        dirs["target"], alarm_dir,
        allowance_micro=50_000, threshold_micro=200_000,
    )
    # day 20 baseline, then a persistent mild shift: each day mixes a bit
    # more low-end mass — per-day KS stays moderate, the SUM drifts up
    base = list(range(1, 101))
    write(_batch(base, 20), 0)
    low_units = {21: 3, 22: 7, 23: 12, 24: 18, 25: 25}
    for i, (day, k) in enumerate(sorted(low_units.items()), start=1):
        shifted = base + list(range(1, 6)) * k
        write(_batch(shifted, day), i)

    got = {str(r["day"]): r for r in read_drift_alarms(spark, alarm_dir).collect()}
    ks = {
        str(r["day"]): r["ks_vs_prev_day"]
        for r in read_histogram_drift(spark, dirs["target"]).collect()
    }
    assert set(got) == set(ks)  # one alarm row per drift day

    s = 0
    for day in sorted(ks):
        x = int(ks[day] * 1_000_000 + 0.5) - 50_000
        s = max(0, s + x)
        assert got[day]["cusum_micro"] == s, (day, s, got[day])
        assert got[day]["alarm"] == (s > 200_000), day
    # the drift is persistent-but-mild: no single day's KS clears the
    # one-shot threshold, yet the CUSUM must end in alarm
    assert all(v <= 0.2 for v in ks.values()), ks
    assert got[max(ks)]["alarm"] is True

    # crash re-delivery of the last batch: alarm state must not move
    before = sorted(map(str, read_drift_alarms(spark, alarm_dir).collect()))
    write(_batch(base + list(range(1, 6)) * 25, 25), 5)
    after = sorted(map(str, read_drift_alarms(spark, alarm_dir).collect()))
    assert before == after


def test_cusum_alarm_self_heals_after_crash_between_writes(spark, dirs, tmp_path):
    """Crash window: the histogram swap commits but the process dies before
    the alarm swap. Because the alarm table is a pure function of the
    histogram state (not incrementally mutated), the NEXT batch re-derives
    it from the full state — the stale window closes by itself, no repair
    tool needed."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        read_drift_alarms,
        upsert_daily_histograms,
        upsert_drift_cusum,
    )

    def _batch(vals, day):
        return spark.createDataFrame(
            [(float(v),) for v in vals], "value double"
        ).withColumn(
            "batch_ts", F.lit(f"2022-06-{day:02d} 10:00:00").cast("timestamp")
        )

    alarm_dir = str(tmp_path / "alarms")
    write = upsert_drift_cusum(dirs["target"], alarm_dir)
    write(_batch(range(1, 51), 1), 0)
    write(_batch(list(range(1, 6)) * 20, 2), 1)
    healthy = sorted(map(str, read_drift_alarms(spark, alarm_dir).collect()))

    # simulated crash: batch 2's histogram lands, alarm write never runs
    hist_only = upsert_daily_histograms(dirs["target"])
    hist_only(_batch(list(range(1, 6)) * 40, 3), 2)
    stale = sorted(map(str, read_drift_alarms(spark, alarm_dir).collect()))
    assert stale == healthy  # alarm table is stale but intact, not corrupt

    # next batch heals: alarm state now reflects ALL days incl. the one
    # written during the crash window
    write(_batch(list(range(1, 6)) * 60, 4), 3)
    days = {str(r["day"]) for r in read_drift_alarms(spark, alarm_dir).collect()}
    assert days == {"2022-06-02", "2022-06-03", "2022-06-04"}


def test_streaming_ewma_matches_batch_twin_and_replays_clean(
    spark, dirs, sf_dir
):
    """upsert_ewma_state + read_ewma_trend: the streamed per-type EWMA must
    be BIT-IDENTICAL to the batch events_value_ewma over the same events
    (the reader runs the same sequential-fold device over the maintained
    daily sums), and a crash re-delivery must REPLACE its batch partials,
    not accumulate them (exactly-once counter protocol)."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.plans import catalog
    from data_engineering_project_spark.streaming.pipeline import (
        read_ewma_trend,
        upsert_ewma_state,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cut = "2024-01-15"
    write = upsert_ewma_state(dirs["target"], time_col="ts")
    write(ev.filter(F.col("ts") < cut), 0)
    write(ev.filter(F.col("ts") >= cut), 1)
    # crash re-delivery of batch 1: partials replaced, not accumulated
    write(ev.filter(F.col("ts") >= cut), 1)

    got = read_ewma_trend(spark, dirs["target"]).collect()
    want = catalog.queries()["events_value_ewma"](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # a batch split along a DIFFERENT boundary (mid-day) converges to the
    # same state: daily sums are additive across batches
    import shutil

    shutil.rmtree(dirs["target"])
    write(ev.filter(F.col("event_id") % 2 == 0), 0)
    write(ev.filter(F.col("event_id") % 2 == 1), 1)
    again = read_ewma_trend(spark, dirs["target"]).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in want]


def test_streaming_cohort_retention_matches_batch_twin_and_heals_partial_crash(
    spark, dirs, sf_dir, monkeypatch
):
    """upsert_cohort_state + read_cohort_retention: the streamed cohort
    grid must be BIT-IDENTICAL to the batch events_cohort_retention over
    the same events for any batch split, a replayed batch must be a no-op
    (both state components merge idempotently — min and set-union, no
    batch_id protocol), and a crash BETWEEN the two component swaps must
    heal on replay rather than corrupt or double-count."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.plans import catalog
    from data_engineering_project_spark.streaming import pipeline
    from data_engineering_project_spark.streaming.pipeline import (
        read_cohort_retention,
        upsert_cohort_state,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = sorted(
        tuple(r)
        for r in catalog.queries()["events_cohort_retention"](
            spark, sf_dir
        ).collect()
    )

    cut = "2024-01-15"
    write = upsert_cohort_state(dirs["target"], time_col="ts")
    write(ev.filter(F.col("ts") < cut), 0)
    write(ev.filter(F.col("ts") >= cut), 1)
    # crash re-delivery of batch 1: idempotent merges, state unchanged
    write(ev.filter(F.col("ts") >= cut), 1)
    got = sorted(
        tuple(r) for r in read_cohort_retention(spark, dirs["target"]).collect()
    )
    assert got == want

    # an interleaved split (users/weeks arriving across batches in a
    # different order) converges to the same grid
    import shutil

    shutil.rmtree(dirs["target"])
    write(ev.filter(F.col("event_id") % 2 == 0), 0)
    write(ev.filter(F.col("event_id") % 2 == 1), 1)
    again = sorted(
        tuple(r) for r in read_cohort_retention(spark, dirs["target"]).collect()
    )
    assert again == want

    # partial-application crash: batch 2 (a time-travel slice re-sent as
    # new data) dies AFTER the first_touch swap but BEFORE user_weeks —
    # the replay must re-merge BOTH components to the same fixpoint
    shutil.rmtree(dirs["target"])
    early = ev.filter(F.col("ts") < cut)
    late = ev.filter(F.col("ts") >= cut)
    write(early, 0)
    real_swap = pipeline._atomic_swap_write
    calls = {"n": 0}

    def _dying_swap(merged, target_dir):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("killed between component swaps")
        real_swap(merged, target_dir)

    monkeypatch.setattr(pipeline, "_atomic_swap_write", _dying_swap)
    try:
        write(late, 1)
    except RuntimeError:
        pass
    monkeypatch.setattr(pipeline, "_atomic_swap_write", real_swap)
    # state is torn (first_touch ahead of user_weeks) but a replay heals
    write(late, 1)
    healed = sorted(
        tuple(r) for r in read_cohort_retention(spark, dirs["target"]).collect()
    )
    assert healed == want
