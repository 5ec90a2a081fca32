"""The batch run and the streaming twin deliver one report contract.

One landing directory (impressions, clicks, two dates, one file whose name
carries no batch timestamp) goes through ``run_daily_report`` and through
``run_incremental_report``. Pivoted on event type, the streaming target
must be the batch report: the same 24 zero-filled rows per date, the same
counts, and neither path counts the malformed file's rows.

The batch CLI reports its dead-letter count from the write job's own
observation, so no ``count()`` runs after the write.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from tests.test_pipeline_e2e import FIXTURE_FILES, UA, _event_table


@pytest.fixture(scope="module")
def landing(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("contract_landing")
    for i, (etype, ts, n) in enumerate(FIXTURE_FILES):
        lo = 172845633 + i * 10
        name = f"{etype}_processed_dk_{ts}_{lo}-{lo + n}_1.parquet"
        pq.write_table(_event_table(n), str(d / name))
    pq.write_table(_event_table(2, 0), str(d / "malformed_name.parquet"))
    return str(d)


def test_batch_and_stream_give_the_same_dense_grid(spark, landing, tmp_path):
    from data_engineering_project_spark.operators.report import TYPE_COLUMNS
    from data_engineering_project_spark.pipeline import run_daily_report
    from data_engineering_project_spark.sinks import snapshot_table as st
    from data_engineering_project_spark.streaming.pipeline import (
        run_incremental_report,
    )

    res = run_daily_report(spark, landing, str(tmp_path / "csv"))
    batch = {
        (r["date"], r["hour"]): tuple(r[c] for c in TYPE_COLUMNS.values())
        for r in res.report.collect()
    }

    target = str(tmp_path / "target")
    schema = spark.read.parquet(landing).schema
    run_incremental_report(
        spark, landing, target, str(tmp_path / "ckpt"), schema
    )
    by_key: dict = {}
    for r in st.read_table(spark, target).collect():
        by_key.setdefault((r["date"], r["hour"]), {})[r["event_type"]] = r["n"]
    stream = {
        key: tuple(types[t] for t in TYPE_COLUMNS) for key, types in by_key.items()
    }
    assert all(set(types) == set(TYPE_COLUMNS) for types in by_key.values())

    assert len(batch) == 48  # 24 hours × 2 dates
    assert stream == batch
    # every fixture file carries one extra other-UA row; the malformed
    # file's 2 rows reach neither report
    total = sum(n + 1 for _, _, n in FIXTURE_FILES)
    assert sum(sum(v) for v in stream.values()) == total
    assert res.dead_letter_rows == 2


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
    assert "dead-letter rows: 2" in capsys.readouterr().err.splitlines()
