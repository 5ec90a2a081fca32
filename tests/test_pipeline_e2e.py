"""Golden end-to-end test of the Task-1 analog pipeline.

Synthesizes the reference's committed fixture set (FIXTURES.md §A: 11 nested
parquet files whose filenames carry the batch timestamp) and asserts the
documented golden output (FIXTURES.md §B: 05-26 h11=(4,0) h19=(10,0);
05-27 h11=(0,10) h12=(10,20); dense 24-row grids, zero-filled elsewhere).
"""

from __future__ import annotations

import csv
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_engineering_project_spark.pipeline import run_daily_report

UA = "some user agent"
OTHER_UA = "an unrelated crawler"

# (event_type, batch_ts_with_ms, rows_with_target_ua) — FIXTURES.md §A table
FIXTURE_FILES = [
    ("impressions", "20220526113212045", 4),
    ("impressions", "20220526193204695", 7),
    ("impressions", "20220526193204903", 3),
    ("impressions", "20220527123154212", 4),
    ("impressions", "20220527123154402", 6),
    ("clicks", "20220527113145108", 5),
    ("clicks", "20220527113145201", 5),
    ("clicks", "20220527120143730", 7),
    ("clicks", "20220527120143900", 3),
    ("clicks", "20220527123154754", 7),
    ("clicks", "20220527123154813", 3),
]

GOLDEN = {
    "2022-05-26": {11: (4, 0), 19: (10, 0)},
    "2022-05-27": {11: (0, 10), 12: (10, 20)},
}


def _event_table(n_target: int, n_other: int = 1) -> pa.Table:
    """Nested subset of the AdTech schema (FIXTURES.md §A)."""
    n = n_target + n_other
    rows = {
        "transaction_header": [
            {"creation_time": 1653557530942 + i, "producer_time": 1653557530000}
            for i in range(n)
        ],
        "device_settings": [
            {
                "user_agent": UA if i < n_target else OTHER_UA,
                "browser_id": i,
                "screen_size": {"width": 1920, "height": 1080},
            }
            for i in range(n)
        ],
        "interaction_id": list(range(172845633, 172845633 + n)),
        "page_url": [f"https://example.test/page/{i}" for i in range(n)],
    }
    return pa.table(rows)


@pytest.fixture(scope="module")
def landing_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("raw_events")
    for i, (etype, ts, n) in enumerate(FIXTURE_FILES):
        lo = 172845633 + i * 10
        name = f"{etype}_processed_dk_{ts}_{lo}-{lo + n}_1.parquet"
        pq.write_table(_event_table(n), str(d / name))
    # an unparseable filename: reference hard-errors (data_processing.py:34-37
    # test); this engine routes its rows to the dead letter instead
    pq.write_table(_event_table(2, 0), str(d / "malformed_name.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def result(spark, landing_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("output")
    return run_daily_report(
        spark, landing_dir, str(out), user_agent=UA
    ), str(out)


def test_golden_values(result):
    res, _ = result
    rows = res.report.collect()
    by_key = {
        (r["date"], r["hour"]): (r["impression_count"], r["click_count"])
        for r in rows
    }
    assert len(rows) == 48  # 24 dense hours × 2 dates
    for date, hours in GOLDEN.items():
        for hour in range(24):
            assert by_key[(date, hour)] == hours.get(hour, (0, 0)), (date, hour)


def test_csv_files_match_reference_layout(result):
    res, out_dir = result
    expected = {
        os.path.join(out_dir, "task1_output_2022-05-26.csv"),
        os.path.join(out_dir, "task1_output_2022-05-27.csv"),
    }
    assert set(res.csv_paths) == expected
    with open(os.path.join(out_dir, "task1_output_2022-05-27.csv")) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 24
    assert [r["hour"] for r in rows] == [str(h) for h in range(24)]
    h12 = rows[12]
    assert (h12["impression_count"], h12["click_count"]) == ("10", "20")
    assert h12["date"] == "2022-05-27"


# task1_output_2022-05-27.csv byte for byte as the partitioned Spark CSV
# write produced it: date column first, rows in hour order, "\n" line ends
GOLDEN_CSV_0527 = (
    b"date,hour,impression_count,click_count\n"
    b"2022-05-27,0,0,0\n"
    b"2022-05-27,1,0,0\n"
    b"2022-05-27,2,0,0\n"
    b"2022-05-27,3,0,0\n"
    b"2022-05-27,4,0,0\n"
    b"2022-05-27,5,0,0\n"
    b"2022-05-27,6,0,0\n"
    b"2022-05-27,7,0,0\n"
    b"2022-05-27,8,0,0\n"
    b"2022-05-27,9,0,0\n"
    b"2022-05-27,10,0,0\n"
    b"2022-05-27,11,0,10\n"
    b"2022-05-27,12,10,20\n"
    b"2022-05-27,13,0,0\n"
    b"2022-05-27,14,0,0\n"
    b"2022-05-27,15,0,0\n"
    b"2022-05-27,16,0,0\n"
    b"2022-05-27,17,0,0\n"
    b"2022-05-27,18,0,0\n"
    b"2022-05-27,19,0,0\n"
    b"2022-05-27,20,0,0\n"
    b"2022-05-27,21,0,0\n"
    b"2022-05-27,22,0,0\n"
    b"2022-05-27,23,0,0\n"
)


def test_csv_bytes_pinned(result):
    _, out_dir = result
    with open(os.path.join(out_dir, "task1_output_2022-05-27.csv"), "rb") as f:
        assert f.read() == GOLDEN_CSV_0527
    # no staging directory or temporary file left beside the reports
    assert sorted(os.listdir(out_dir)) == [
        "task1_output_2022-05-26.csv",
        "task1_output_2022-05-27.csv",
    ]


def test_other_user_agent_filtered_out(result):
    res, _ = result
    # every fixture file carries 1 extra row with a different UA; none of
    # those rows may reach the report (golden totals already assert this,
    # but check the filter explicitly via total event count)
    total = sum(
        r["impression_count"] + r["click_count"] for r in res.report.collect()
    )
    assert total == sum(n for _, _, n in FIXTURE_FILES)


def test_malformed_filename_routes_to_dead_letter(result):
    res, _ = result
    bad = res.invalid.collect()
    # 2 rows in malformed_name.parquet match the UA filter and carry a
    # null batch_ts → Invalid hour
    assert len(bad) == 2
    assert all(r["validation_error"] == "Invalid hour" for r in bad)
    assert all("malformed_name.parquet" in r["source_file"] for r in bad)


def test_cli_batch_mode(spark, landing_dir, tmp_path_factory, capsys):
    """The argparse surface (reference main.py:249-258 analog) end-to-end."""
    from data_engineering_project_spark.cli import main

    out = tmp_path_factory.mktemp("cli_output")
    rc = main(
        [
            "batch",
            "--input-dir",
            landing_dir,
            "--output-dir",
            str(out),
            "--user-agent",
            UA,
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out.strip().splitlines()
    assert sorted(os.path.basename(p) for p in printed) == [
        "task1_output_2022-05-26.csv",
        "task1_output_2022-05-27.csv",
    ]
    with open(os.path.join(str(out), "task1_output_2022-05-26.csv")) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 24
    assert (rows[11]["impression_count"], rows[11]["click_count"]) == ("4", "0")


def test_observation_metrics_collected_without_extra_jobs(result):
    """df.observe replaces the reference's >=8 eager logging actions per
    date (data_processing.py:134-291): the counts come back as a side
    effect of the report's collect."""
    res, _ = result
    metrics = res.observation.get
    # 26 target-UA rows from FIXTURE_FILES + 2 rows in the malformed file
    assert metrics["rows_matched"] == sum(n for _, _, n in FIXTURE_FILES) + 2
    # 2 parseable dates + NULL date from the malformed filename
    assert metrics["n_dates"] == 2
    assert metrics["null_ua_rows"] == 0


def test_observed_n_dates_is_exact(spark, tmp_path):
    """n_dates counts the batch's distinct dates exactly: seven dates
    (2022-05-20..26) read 7, where an approx_count_distinct sketch read 6."""
    src = tmp_path / "raw"
    src.mkdir()
    for day in range(20, 27):
        ts = f"202205{day}113212045"
        name = f"impressions_processed_dk_{ts}_172845633-172845635_1.parquet"
        pq.write_table(_event_table(2), str(src / name))
    res = run_daily_report(spark, str(src), str(tmp_path / "out"), user_agent=UA)
    assert res.observation.get["n_dates"] == 7
    assert len(res.csv_paths) == 7
