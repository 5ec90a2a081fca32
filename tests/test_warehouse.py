"""Warehouse load protocol tests against an embedded DuckDB warehouse —
the reference's idempotency semantics (tests/test_client_report_etl.py uses
substituted SQLite the same way): re-running a batch replaces rather than
duplicates, replaced rows are archived once, invalid rows upsert into the
dead letter."""

from __future__ import annotations

import duckdb
import pytest

from data_engineering_project_spark import warehouse as W
from data_engineering_project_spark.sinks.warehouse_sink import (
    MergeSpec,
    execute_merge,
)


@pytest.fixture()
def wh():
    con = duckdb.connect()
    for ddl in W.DDL.values():
        # DuckDB's ART index can't handle delete+reinsert of the same PK value
        # within one transaction (the protocol's ranged replace does exactly
        # that; Postgres — the reference target — handles it fine). Strip the
        # single-column PK for the embedded test warehouse only.
        con.execute(ddl.replace("TIMESTAMP PRIMARY KEY", "TIMESTAMP"))
    return con


def _stage(con, rows, table="client_report_staging"):
    con.execute(f"DROP TABLE IF EXISTS {table}")
    con.execute(
        f"""CREATE TABLE {table} (
            datetime TIMESTAMP, impression_count BIGINT, click_count BIGINT,
            audit_loaded_datetime TIMESTAMP)"""
    )
    con.executemany(
        f"INSERT INTO {table} VALUES (?, ?, ?, now())",
        [(r[0], r[1], r[2]) for r in rows],
    )


SPEC = MergeSpec(
    target="client_report",
    archive="client_report_archive",
    staging="client_report_staging",
)

BATCH_1 = [
    ("2022-05-26 11:00:00", 4, 0),
    ("2022-05-26 19:00:00", 10, 0),
]
BATCH_1_RERUN = [
    ("2022-05-26 11:00:00", 5, 1),  # revised numbers for the same window
    ("2022-05-26 19:00:00", 10, 0),
]


def test_initial_load(wh):
    _stage(wh, BATCH_1)
    execute_merge(wh, SPEC)
    v = W.verify_load(wh)
    assert v["record_count"] == 2
    assert v["total_impressions"] == 14
    assert wh.execute("SELECT count(*) FROM client_report_archive").fetchone()[0] == 0


def test_rerun_replaces_not_duplicates(wh):
    _stage(wh, BATCH_1)
    execute_merge(wh, SPEC)
    _stage(wh, BATCH_1_RERUN)
    execute_merge(wh, SPEC)
    v = W.verify_load(wh)
    # idempotent window replace (reference T4): still 2 rows, revised values
    assert v["record_count"] == 2
    assert v["total_impressions"] == 15
    assert v["total_clicks"] == 1
    # the replaced originals were archived exactly once
    archived = wh.execute(
        "SELECT datetime, impression_count FROM client_report_archive ORDER BY 1"
    ).fetchall()
    assert len(archived) == 2
    assert archived[0][1] == 4


def test_rerun_thrice_archives_once(wh):
    _stage(wh, BATCH_1)
    execute_merge(wh, SPEC)
    for _ in range(2):
        _stage(wh, BATCH_1_RERUN)
        execute_merge(wh, SPEC)
    # NOT-EXISTS guard: archive holds one row per datetime, not one per rerun
    n = wh.execute("SELECT count(*) FROM client_report_archive").fetchone()[0]
    assert n == 2


def test_window_scoping_leaves_other_dates(wh):
    _stage(wh, BATCH_1)
    execute_merge(wh, SPEC)
    _stage(wh, [("2022-05-27 12:00:00", 10, 20)])
    execute_merge(wh, SPEC)
    v = W.verify_load(wh)
    # disjoint [min,max] windows: first batch untouched
    assert v["record_count"] == 3


def test_invalid_upsert(wh):
    _stage(wh, BATCH_1)
    wh.execute("DROP TABLE IF EXISTS client_report_invalid_staging")
    wh.execute(
        """CREATE TABLE client_report_invalid_staging (
            datetime TIMESTAMP, impression_count BIGINT, click_count BIGINT,
            audit_loaded_datetime TIMESTAMP, validation_error TEXT,
            source_file TEXT)"""
    )
    wh.execute(
        """INSERT INTO client_report_invalid_staging VALUES
           ('2022-05-27 12:00:00', 10, 20, now(),
            'Clicks exceed impressions', 'task1_output_2022-05-27.csv')"""
    )
    spec = MergeSpec(
        target="client_report",
        archive="client_report_archive",
        staging="client_report_staging",
        invalid_staging="client_report_invalid_staging",
    )
    execute_merge(wh, spec)
    execute_merge(wh, spec)  # upsert: same (datetime, source_file) → 1 row
    n = wh.execute("SELECT count(*) FROM client_report_invalid").fetchone()[0]
    assert n == 1


def test_prepare_and_validate_spark_side(spark, tmp_path):
    csv = tmp_path / "task1_output_2022-05-27.csv"
    csv.write_text(
        "date,hour,impression_count,click_count\n"
        "2022-05-27,11,0,10\n"
        "2022-05-27,12,10,20\n"
        "2022-05-27,13,30,3\n"
    )
    df = W.read_report_csv(spark, str(csv))
    prepared = W.prepare_report(df)
    res = W.validate_report(prepared)
    valid = res.valid.collect()
    invalid = res.invalid.collect()
    # clicks>impressions rows routed (both h11 and h12), h13 clean
    assert len(valid) == 1
    assert str(valid[0]["datetime"]) == "2022-05-27 13:00:00"
    assert {str(r["datetime"]) for r in invalid} == {
        "2022-05-27 11:00:00",
        "2022-05-27 12:00:00",
    }
    assert all(r["validation_error"] == "Clicks exceed impressions" for r in invalid)
    # provenance is the row's own file (``_metadata.file_path``)
    assert all(r["source_file"].endswith("/" + csv.name) for r in invalid)


def test_cli_load_end_to_end(spark, tmp_path, capsys):
    """Task-2 via the CLI: CSV (with one invalid row) → validate →
    merge into an embedded DuckDB warehouse → verify summary.

    Reference T4 semantics (warehouse.py:411-466): the FULL prepared batch
    loads into client_report — invalid rows are dead-lettered AND loaded —
    and the archive/delete window spans the whole delivery, so boundary rows
    that turn invalid on re-delivery still get replaced."""
    import json

    import duckdb

    from data_engineering_project_spark.cli import main

    csv = tmp_path / "task1_output_2022-05-26.csv"
    csv.write_text(
        "date,hour,impression_count,click_count\n"
        "2022-05-26,11,4,0\n"
        "2022-05-26,19,10,0\n"
        "2022-05-26,20,-1,0\n"  # negative -> dead letter AND loaded
    )
    db = str(tmp_path / "wh.duckdb")
    rc = main(["load", "--csv", str(csv), "--db", db])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["record_count"] == "3"
    assert summary["total_impressions"] == "13"
    assert summary["invalid_rows"] == "1"
    con = duckdb.connect(db)
    assert con.execute("SELECT count(*) FROM client_report").fetchone()[0] == 3
    inv = con.execute(
        "SELECT validation_error FROM client_report_invalid"
    ).fetchall()
    assert len(inv) == 1 and "egative" in inv[0][0]
    con.close()

    # re-delivery where the last row went invalid: the merge window still
    # covers 20:00 (full-batch min/max), so no stale row survives
    csv.write_text(
        "date,hour,impression_count,click_count\n"
        "2022-05-26,11,4,0\n"
        "2022-05-26,19,10,0\n"
        "2022-05-26,20,-2,0\n"
    )
    rc = main(["load", "--csv", str(csv), "--db", db])
    assert rc == 0
    con = duckdb.connect(db)
    rows = dict(
        con.execute(
            "SELECT datetime, impression_count FROM client_report"
        ).fetchall()
    )
    assert len(rows) == 3
    import datetime as dt

    assert rows[dt.datetime(2022, 5, 26, 20, 0)] == -2  # replaced, not stale
    con.close()


def test_cli_load_failed_merge_leaves_dead_letter_unchanged(spark, tmp_path):
    """The dead-letter upsert is part of the load's one merge transaction:
    when the merge raises (here an archive table with an incompatible
    schema), client_report_invalid keeps exactly its previous rows."""
    import duckdb
    import pytest

    from data_engineering_project_spark.cli import main

    db = str(tmp_path / "wh.duckdb")
    csv = tmp_path / "task1_output_2022-05-26.csv"
    csv.write_text(
        "date,hour,impression_count,click_count\n"
        "2022-05-26,11,4,0\n"
        "2022-05-26,20,-1,0\n"
    )
    assert main(["load", "--csv", str(csv), "--db", db]) == 0
    con = duckdb.connect(db)
    before = con.execute("SELECT * FROM client_report_invalid").fetchall()
    con.execute("DROP TABLE client_report_archive")
    con.execute("CREATE TABLE client_report_archive (unrelated INTEGER)")
    con.close()
    assert len(before) == 1

    csv.write_text(
        "date,hour,impression_count,click_count\n"
        "2022-05-26,11,4,9\n"
        "2022-05-26,20,-3,0\n"
    )
    with pytest.raises(Exception):
        main(["load", "--csv", str(csv), "--db", db])
    con = duckdb.connect(db)
    assert con.execute("SELECT * FROM client_report_invalid").fetchall() == before
    con.close()


def _report_csv(path, day: str, rows) -> str:
    path.write_text(
        "date,hour,impression_count,click_count\n"
        + "".join(f"{day},{h},{i},{c}\n" for h, i, c in rows)
    )
    return str(path)


def test_cli_load_dead_letter_keeps_each_rows_own_file(spark, tmp_path):
    """A delivery read by glob stamps each dead-letter row with the file it
    came from, not the glob: re-delivering one of the files by its own path
    upserts its row instead of adding a second one for the same datetime."""
    import duckdb

    from data_engineering_project_spark.cli import main

    db = str(tmp_path / "wh.duckdb")
    day26 = _report_csv(
        tmp_path / "task1_output_2022-05-26.csv", "2022-05-26", [(11, 4, 0), (20, -1, 0)]
    )
    _report_csv(
        tmp_path / "task1_output_2022-05-27.csv", "2022-05-27", [(11, 4, 0), (20, 1, 5)]
    )
    glob_path = str(tmp_path / "task1_output_*.csv")
    assert main(["load", "--csv", glob_path, "--db", db]) == 0
    assert main(["load", "--csv", day26, "--db", db]) == 0
    con = duckdb.connect(db)
    rows = con.execute(
        "SELECT source_file FROM client_report_invalid ORDER BY datetime"
    ).fetchall()
    con.close()
    assert len(rows) == 2
    assert rows[0][0].endswith("task1_output_2022-05-26.csv")
    assert rows[1][0].endswith("task1_output_2022-05-27.csv")


def test_cli_load_stamps_one_audit_time_per_delivery(spark, tmp_path):
    """A staged row and its dead-letter copy carry the same
    ``audit_loaded_datetime``: the delivery is read by one action."""
    import duckdb

    from data_engineering_project_spark.cli import main

    db = str(tmp_path / "wh.duckdb")
    csv = _report_csv(
        tmp_path / "task1_output_2022-05-26.csv",
        "2022-05-26",
        [(11, 4, 0), (19, 1, 3), (20, -1, 0)],
    )
    assert main(["load", "--csv", csv, "--db", db]) == 0
    con = duckdb.connect(db)
    n_joined, n_differ = con.execute(
        """SELECT count(*), count(*) FILTER (
                   WHERE r.audit_loaded_datetime IS DISTINCT FROM i.audit_loaded_datetime)
           FROM client_report r JOIN client_report_invalid i USING (datetime)"""
    ).fetchone()
    con.close()
    assert (n_joined, n_differ) == (2, 0)


def test_cli_load_runs_one_spark_job(spark, tmp_path, capsys):
    """The load reads, keys and validates the delivery in one Spark action:
    no second read for the dead letter, no range-sort sampling job (the
    load order is the staging insert's ``ORDER BY``)."""
    from data_engineering_project_spark.cli import main
    from tests.test_local_frame import _jobs

    db = str(tmp_path / "wh.duckdb")
    _report_csv(
        tmp_path / "task1_output_2022-05-26.csv", "2022-05-26", [(19, 10, 0), (11, 4, 9)]
    )
    _report_csv(tmp_path / "task1_output_2022-05-27.csv", "2022-05-27", [(3, 1, 0)])
    glob_path = str(tmp_path / "task1_output_*.csv")
    with _jobs(spark) as ids:
        assert main(["load", "--csv", glob_path, "--db", db]) == 0
    assert len(ids) == 1, sorted(ids)
    summary = capsys.readouterr().out.strip().splitlines()[-1]
    assert '"record_count": "3"' in summary and '"invalid_rows": "1"' in summary
