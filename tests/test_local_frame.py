"""Driver-held rows as Arrow local relations, and reads that pass the
schema they already know.

``sources/tables.py:local_frame`` must give the same rows and schema as
``createDataFrame(list)`` for every shape the package builds, as a
``LocalTableScan``. Snapshot and state reads given their recorded schema,
and the streaming state readers reading it from the parquet footer, must
run no Spark job to build the frame (a schema-inference job each before),
and an IVF-PQ query runs its two side-table reads and one probe
scan — three jobs.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from data_engineering_project_spark.sinks import snapshot_table as snap
from data_engineering_project_spark.sources.tables import local_frame

_CMS_SCHEMA = T.StructType(
    [
        T.StructField("row_idx", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType(), False),
    ]
)

# one case per schema shape the package passes to local_frame
_SHAPES = [
    ([(1,), (5,), (None,)], "k int"),
    ([(0.5,), (0.99,)], "p double"),
    ([("impressions",), ("clicks",)], "event_type string"),
    (
        [(1, 10, -3, None, 7), (2, None, None, None, None)],
        "iter bigint, beta0_micro bigint, beta1_micro bigint, "
        "grad0_micro bigint, grad1_micro bigint",
    ),
    ([("2022-05-20 10:00:00", 3, 0)], "datetime string, impression_count long, click_count long"),
    ([(0, [1.5, -2.0]), (1, [])], "cell int, centroid array<double>"),
    ([(0, [3, -4, None], 1000, 2), (1, None, 1000, 2)], "cell int, cvec array<bigint>, scale int, sub int"),
    ([(7, 2, [0.25, None])], "qid bigint, qlabel int, qe array<double>"),
    ([(3, 1, 2, None)], "n_queries int, k int, nprobe int, recall double"),
    ([Row(row_idx=0, bucket=17, cnt=4), Row(row_idx=1, bucket=3, cnt=4)], _CMS_SCHEMA),
    ([], "node bigint, component bigint"),
    ([], _CMS_SCHEMA),
]


@pytest.mark.parametrize("rows,schema", _SHAPES)
def test_local_frame_matches_create_data_frame(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan


def test_local_frame_timestamps_keep_create_data_frame_semantics(spark):
    """A naive datetime is the driver process's local wall-clock time in
    ``createDataFrame`` (``TimestampType.toInternal``), and an aware one is
    its own instant; the session time zone only renders them. Pinned in a
    non-UTC process zone, where treating naive values as UTC (Arrow's
    default for a tz-aware column) would shift them by the offset."""
    rows = [
        (datetime.datetime(2022, 5, 20, 10, 30),),
        (datetime.datetime(2022, 5, 20, 10, 30, tzinfo=datetime.timezone.utc),),
        (None,),
    ]
    old_tz = os.environ.get("TZ")
    old_session = spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        for session_tz in ("UTC", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", session_tz)
            want = spark.createDataFrame(rows, "t timestamp")
            got = local_frame(spark, rows, "t timestamp")
            assert got.schema == want.schema
            render = "CAST(t AS STRING) AS s"
            assert got.selectExpr(render).collect() == want.selectExpr(render).collect()
            assert got.selectExpr("unix_micros(t) AS u").collect() == want.selectExpr(
                "unix_micros(t) AS u"
            ).collect()
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert [r.s for r in local_frame(spark, rows, "t timestamp").selectExpr(
            "CAST(t AS STRING) AS s"
        ).collect()] == ["2022-05-20 14:30:00", "2022-05-20 10:30:00", None]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_session)


@contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_reads_build_their_frame_without_a_job(spark, tmp_path):
    table = str(tmp_path / "tbl")
    snap.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, a string"),
        table,
        stats_cols=["k"],
    )
    snap.write_table(
        spark.createDataFrame([(3, "c", 30)], "k int, a string, b int"),
        table,
        mode="append",
        stats_cols=["k"],
    )
    with _jobs(spark) as ids:
        full = snap.read_table(spark, table)
        pruned = snap.read_pruned(spark, table, "k", 1, 1)
        subset = snap.read_where_in(spark, table, "k", [1, 3])
    assert ids == []
    assert full.columns == pruned.columns == subset.columns == ["k", "a", "b"]
    assert sorted(tuple(r) for r in subset.collect()) == [(1, "a", None), (3, "c", 30)]


def test_state_read_builds_its_frame_without_a_job(spark, tmp_path):
    from data_engineering_project_spark.streaming.pipeline import _recover_and_read

    target = str(tmp_path / "state")
    new = spark.createDataFrame(
        [(1, datetime.datetime(2022, 5, 20, 10, 0))], "user_id bigint, first_ts timestamp"
    )
    new.write.parquet(target)
    with _jobs(spark) as ids:
        current = _recover_and_read(spark, target, new.schema)
    assert ids == []
    assert current.collect() == new.collect()


def test_cohort_read_builds_its_frame_without_a_job(spark, tmp_path):
    """The state readers take the schema Spark recorded in the state's
    parquet footer: building the cohort frame over its two state
    components runs no schema-inference job; a missing state dir still
    raises at read time."""
    from pyspark.errors import AnalysisException

    from data_engineering_project_spark.streaming.pipeline import (
        read_cohort_retention,
        upsert_cohort_state,
    )

    target = str(tmp_path / "cohort")
    batch = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 10, 0)),
            (1, datetime.datetime(2024, 1, 9, 10, 0)),
            (2, datetime.datetime(2024, 1, 2, 10, 0)),
        ],
        "user_id bigint, ts timestamp",
    )
    upsert_cohort_state(target, time_col="ts")(batch, 0)
    with _jobs(spark) as ids:
        cohort = read_cohort_retention(spark, target)
    assert ids == []
    assert [tuple(r) for r in cohort.collect()] == [("2024-01-01", 0, 2), ("2024-01-01", 1, 1)]
    with pytest.raises(AnalysisException):
        read_cohort_retention(spark, str(tmp_path / "missing"))


def test_ivfpq_query_runs_three_jobs(spark, tmp_path):
    """Centroid side table, codebook side table, one scan of the probed
    cells' files: three jobs, no schema inference, no per-cell read."""
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    rows = [
        (c * 10 + i, [float(c * 10 + (i % 3)), float(-c), float(i % 2), 1.0])
        for c in range(4)
        for i in range(10)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    table = str(tmp_path / "pq")
    build_ivfpq_index(emb, table, k_cells=4, n_sub=2, k_codes=4)
    with _jobs(spark) as ids:
        hits = query_ivfpq_index(spark, table, rows[12][1], k=5, nprobe=2).collect()
    assert len(hits) == 5
    assert len(ids) <= 3, sorted(ids)


def test_driver_sized_ivfpq_build_runs_seven_jobs_and_no_python_stage(
    spark, tmp_path
):
    """A 200 × 64 build is fitted on the driver: a size probe, one bounded
    Arrow collect and the three table writes — at most 7 jobs (the
    distributed build runs 17 on this input), and no Arrow kernel runs in
    a Python worker."""
    import numpy as np

    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
    )

    rng = np.random.RandomState(5)
    centers = rng.uniform(-1, 1, size=(4, 64))
    rows = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(0, 0.05, 64)])
        for i in range(200)
    ]
    emb = local_frame(spark, rows, "vec_id bigint, embedding array<double>")
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        return list(conv.asJava(store.executionsList()))

    before = {e.executionId() for e in executions()}
    with _jobs(spark) as ids:
        branch = build_ivfpq_index(emb, str(tmp_path / "pq"), k_cells=4)
    assert branch == "driver"
    assert 0 < len(ids) <= 7, sorted(ids)
    plans = [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() not in before
    ]
    assert plans and not any("MapInArrow" in p or "Python" in p for p in plans)
