"""CLI empty/single-row edge sweep (round-7 verdict #7).

The round-7 ANN empty-index guards came from driver ADVICE, not from our
own sweep — this file makes the sweep catch the next one first: every
data-plane subcommand (`index build/append/query/recall/optimize`,
`dedup`, `changes`, `query --save`, `sql`) runs against EMPTY and
SINGLE-ROW tables and must either succeed with sane output or exit 2 with
a one-line diagnostic — never a traceback. main() converts expected
operational errors (ValueError/FileNotFoundError from empty frames,
missing tables, bad versions) into exit code 2.
"""

from __future__ import annotations

import os

import pytest

from data_engineering_project_spark.cli import main
from data_engineering_project_spark.sinks import snapshot_table as st

@pytest.fixture(scope="module")
def edge_dirs(spark, sf_dir, tmp_path_factory):
    """sf-dir twins: every table schema present, zero rows / one row."""
    base = tmp_path_factory.mktemp("cli_edges")
    empty_sf = str(base / "empty")
    single_sf = str(base / "single")
    for t in ("documents", "embeddings"):
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        df.limit(0).coalesce(1).write.parquet(f"{empty_sf}/{t}.parquet")
        df.orderBy(df.columns[0]).limit(1).coalesce(1).write.parquet(
            f"{single_sf}/{t}.parquet"
        )
    return empty_sf, single_sf


def test_index_build_on_empty_embeddings_exits_2(spark, edge_dirs, tmp_path, capsys):
    empty_sf, _ = edge_dirs
    rc = main(["index", "build", str(tmp_path / "idx"), "--sf-dir", empty_sf])
    assert rc == 2
    assert "empty" in capsys.readouterr().err


def test_index_lifecycle_on_single_vector(spark, edge_dirs, tmp_path, capsys):
    """build → append(empty) → query → recall → optimize on a 1-vector
    corpus: every step succeeds; the single vector is its own top hit."""
    _, single_sf = edge_dirs
    empty_sf, _ = edge_dirs
    idx = str(tmp_path / "idx")
    assert main(["index", "build", idx, "--sf-dir", single_sf]) == 0
    # appending an EMPTY batch must not corrupt or crash the index
    assert main(["index", "append", idx, "--sf-dir", empty_sf]) == 0
    capsys.readouterr()
    assert main(["index", "query", idx, "--sf-dir", single_sf]) == 0
    out = capsys.readouterr().out
    assert "1.0" in out  # the vector matches itself at cosine 1.0
    assert main(["index", "recall", idx, "--sf-dir", single_sf]) == 0
    assert "1.0" in capsys.readouterr().out  # recall@k over 1 vector is 1
    assert main(["index", "optimize", idx, "--sf-dir", single_sf]) == 0


def test_index_query_missing_vec_id_exits_nonzero(spark, edge_dirs, tmp_path):
    _, single_sf = edge_dirs
    idx = str(tmp_path / "idx")
    assert main(["index", "build", idx, "--sf-dir", single_sf]) == 0
    with pytest.raises(SystemExit):
        main(["index", "query", idx, "--sf-dir", single_sf, "--query-id", "999"])


def test_index_query_on_missing_table_exits_2(spark, edge_dirs, tmp_path, capsys):
    _, single_sf = edge_dirs
    rc = main(
        ["index", "query", str(tmp_path / "nope"), "--sf-dir", single_sf]
    )
    assert rc == 2
    assert capsys.readouterr().err.strip()


@pytest.mark.parametrize("flavor", ["cosine", "substring"])
def test_dedup_on_empty_and_single_corpus(
    spark, edge_dirs, tmp_path, capsys, flavor
):
    """Dedup of nothing keeps nothing; dedup of one doc keeps it — both
    commit a readable snapshot table."""
    empty_sf, single_sf = edge_dirs
    for sf, n in ((empty_sf, 0), (single_sf, 1)):
        out = str(tmp_path / f"dd_{flavor}_{n}")
        man = str(tmp_path / f"ddm_{flavor}_{n}")
        rc = main(
            ["dedup", "--sf-dir", sf, "--out", out,
             "--manifest-out", man, "--flavor", flavor]
        )
        assert rc == 0
        assert f"({n}/{n} docs kept" in capsys.readouterr().out
        assert st.read_table(spark, out).count() == n
        assert st.read_table(spark, man).count() == 0  # nothing removed


def test_changes_edges(spark, tmp_path, capsys):
    tb = str(tmp_path / "tb")
    st.write_table(spark.createDataFrame([(1,)], "k int"), tb)
    # same-version diff: empty, clean exit
    assert main(["changes", tb, "--from", "0", "--to", "0"]) == 0
    capsys.readouterr()
    # nonexistent base version: diagnostic + exit 2, not a traceback
    rc = main(["changes", tb, "--from", "7"])
    assert rc == 2
    assert capsys.readouterr().err.strip()
    # missing table
    assert main(["changes", str(tmp_path / "nope"), "--from", "0"]) == 2


def test_query_save_of_empty_result_commits_readable_table(
    spark, edge_dirs, tmp_path, capsys
):
    """`query --save` of a catalog query over the EMPTY corpus commits a
    snapshot whose schema survives the round-trip."""
    empty_sf, _ = edge_dirs
    out = str(tmp_path / "saved")
    rc = main(
        ["query", "docs_exact_dedup", "--sf-dir", empty_sf, "--save", out]
    )
    assert rc == 0
    assert st.read_table(spark, out).count() == 0


def test_sql_over_empty_tables(spark, edge_dirs, capsys):
    empty_sf, _ = edge_dirs
    rc = main(
        ["sql", "SELECT count(*) AS n FROM documents", "--sf-dir", empty_sf]
    )
    assert rc == 0
    assert "0" in capsys.readouterr().out


def test_tag_operational_errors_exit_2(spark, tmp_path, capsys):
    """The tag subcommand honors the same operational-error envelope as
    the Spark-mode subcommands: missing table / missing tag are one-line
    exit-2 diagnostics, not tracebacks."""
    assert main(["tag", str(tmp_path / "nope"), "--create", "rel"]) == 2
    assert capsys.readouterr().err.strip()
    tb = str(tmp_path / "tb")
    st.write_table(spark.createDataFrame([(1,)], "k int"), tb)
    assert main(["tag", tb, "--delete", "missing-tag"]) == 2
    assert capsys.readouterr().err.strip()


def test_load_refuses_rows_without_date_or_hour(spark, tmp_path, capsys):
    """A report row with an empty ``hour`` or ``date`` has no datetime key.
    `load` exits 2 with one line and creates no warehouse file — it neither
    aborts mid-merge nor keys the dateless row on today's date."""
    csv = tmp_path / "task1_output_2022-05-26.csv"
    csv.write_text(
        "date,hour,impression_count,click_count\n"
        "2022-05-26,11,4,0\n"
        "2022-05-26,,10,0\n"
        ",3,7,1\n"
    )
    db = tmp_path / "wh.duckdb"
    rc = main(["load", "--csv", str(csv), "--db", str(db)])
    assert rc == 2
    err = capsys.readouterr().err.strip()
    assert len(err.splitlines()) == 1 and "2 row(s)" in err
    assert not db.exists()
