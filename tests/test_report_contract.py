"""The batch run and the streaming twin deliver one report contract.

One landing directory (impressions, clicks, two dates, one ``views`` file,
one file whose name carries no batch timestamp, and one other-UA row per
file) goes through ``run_daily_report`` and through
``run_incremental_report`` with the same ``user_agent``. Pivoted on event
type, the streaming target must be the batch report: the same 24
zero-filled rows per date and the same counts. Both paths pick their rows
with ``pipeline.select_report_rows``, so neither counts the other UA, the
``views`` rows or the malformed file's rows; the batch run dead-letters
the last two.

The batch CLI reports its dead-letter count from the observation that the
report's one collect fills, so no ``count()`` runs after it. ``cli stream`` honours
``--user-agent`` and, without ``--available-now``, waits on its query.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from tests.test_pipeline_e2e import FIXTURE_FILES, UA, _event_table

#: UA rows of the ``views`` file: the batch run dead-letters them
#: ("Unknown event type"), the stream must not count them
N_VIEWS = 5


@pytest.fixture(scope="module")
def landing(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("contract_landing")
    for i, (etype, ts, n) in enumerate(FIXTURE_FILES):
        lo = 172845633 + i * 10
        name = f"{etype}_processed_dk_{ts}_{lo}-{lo + n}_1.parquet"
        pq.write_table(_event_table(n), str(d / name))
    pq.write_table(
        _event_table(N_VIEWS),
        str(d / "views_processed_dk_20220526113212045_172845800-172845805_1.parquet"),
    )
    pq.write_table(_event_table(2, 0), str(d / "malformed_name.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def batch_report(spark, landing, tmp_path_factory):
    from data_engineering_project_spark.operators.report import TYPE_COLUMNS
    from data_engineering_project_spark.pipeline import run_daily_report

    res = run_daily_report(
        spark, landing, str(tmp_path_factory.mktemp("csv")), user_agent=UA
    )
    report = {
        (r["date"], r["hour"]): tuple(r[c] for c in TYPE_COLUMNS.values())
        for r in res.report.collect()
    }
    return report, res.dead_letter_rows


def _stream_report(spark, target) -> dict:
    """The streaming target pivoted to the batch report's shape; every
    (date, hour) key must carry exactly the report's event types."""
    from data_engineering_project_spark.operators.report import TYPE_COLUMNS
    from data_engineering_project_spark.sinks import snapshot_table as st

    by_key: dict = {}
    for r in st.read_table(spark, target).collect():
        by_key.setdefault((r["date"], r["hour"]), {})[r["event_type"]] = r["n"]
    assert all(set(types) == set(TYPE_COLUMNS) for types in by_key.values())
    return {
        key: tuple(types[t] for t in TYPE_COLUMNS) for key, types in by_key.items()
    }


def test_batch_and_stream_give_the_same_dense_grid(
    spark, landing, batch_report, tmp_path
):
    from data_engineering_project_spark.streaming.pipeline import (
        run_incremental_report,
    )

    batch, dead_letter_rows = batch_report
    target = str(tmp_path / "target")
    schema = spark.read.parquet(landing).schema
    run_incremental_report(
        spark, landing, target, str(tmp_path / "ckpt"), schema, user_agent=UA
    )
    stream = _stream_report(spark, target)

    assert len(batch) == 48  # 24 hours × 2 dates
    assert stream == batch
    # only the fixture files' UA rows are counted: not the one other-UA
    # row per file, not the views rows, not the malformed file's 2 rows
    total = sum(n for _, _, n in FIXTURE_FILES)
    assert sum(sum(v) for v in stream.values()) == total
    assert dead_letter_rows == N_VIEWS + 2


@pytest.mark.parametrize(
    "available_now", [True, False], ids=["available_now", "long_running"]
)
def test_cli_stream_honours_user_agent_and_waits_on_its_query(
    spark, landing, batch_report, tmp_path, monkeypatch, available_now
):
    """``cli stream`` writes the batch report's target under
    ``--user-agent``; without ``--available-now`` it blocks on the
    ``processingTime`` query instead of returning while the query is
    killed. ``awaitTermination`` is patched to drain the query and stop
    it, so the long-running branch ends."""
    from pyspark.sql.streaming.query import StreamingQuery

    from data_engineering_project_spark.cli import main

    waited = []

    def _drain_and_stop(self, timeout=None):
        self.processAllAvailable()
        self.stop()
        waited.append(self.id)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", _drain_and_stop)
    target = str(tmp_path / "target")
    argv = [
        "stream",
        "--input-dir",
        landing,
        "--output-dir",
        target,
        "--checkpoint-dir",
        str(tmp_path / "ckpt"),
        "--user-agent",
        UA,
    ]
    try:
        rc = main(argv + (["--available-now"] if available_now else []))
    finally:
        for q in spark.streams.active:
            q.stop()
    assert rc == 0
    assert len(waited) == 1
    assert _stream_report(spark, target) == batch_report[0]


def test_cli_batch_dead_letter_count_runs_no_count(
    spark, landing, tmp_path, capsys, monkeypatch
):
    from pyspark.sql.classic.dataframe import DataFrame

    from data_engineering_project_spark.cli import main

    def _refuse(self):
        raise RuntimeError("count() re-runs the scan")

    monkeypatch.setattr(DataFrame, "count", _refuse)
    rc = main(
        [
            "batch",
            "--input-dir",
            landing,
            "--output-dir",
            str(tmp_path / "out"),
            "--user-agent",
            UA,
        ]
    )
    assert rc == 0
    assert f"dead-letter rows: {N_VIEWS + 2}" in capsys.readouterr().err.splitlines()
