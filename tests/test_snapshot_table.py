"""Snapshot-manifest table format: ACID semantics over plain parquet.

Covers the four guarantees the format exists for — atomic visibility
(crashed commits invisible), optimistic-concurrency conflict, bounded
copy-on-write MERGE (untouched files carried by reference), and
bit-stable time travel — plus manifest-level stats pruning.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_project_spark.sinks import snapshot_table as st


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "k int, v string")


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def test_append_overwrite_and_time_travel(spark, table):
    st.write_table(_rows(spark, [(1, "a"), (2, "b")]), table)
    st.write_table(_rows(spark, [(3, "c")]), table, mode="append")
    st.write_table(_rows(spark, [(9, "z")]), table, mode="overwrite")

    assert st.current_version(table) == 2
    assert {r.k for r in st.read_table(spark, table).collect()} == {9}
    # every retained version re-reads exactly (immutable files)
    assert {r.k for r in st.read_table(spark, table, version=0).collect()} == {1, 2}
    assert {r.k for r in st.read_table(spark, table, version=1).collect()} == {1, 2, 3}


def test_crashed_commit_is_invisible_and_vacuumed(spark, table):
    st.write_table(_rows(spark, [(1, "a")]), table)
    # simulate a writer that died after writing data, before the manifest
    orphan_entries = st._write_snapshot_files(
        _rows(spark, [(99, "dead")]), table, ()
    )
    assert {r.k for r in st.read_table(spark, table).collect()} == {1}

    removed = st.vacuum(table)
    assert sorted(e["path"] for e in orphan_entries) == sorted(removed)
    for rel in removed:
        assert not os.path.exists(os.path.join(table, rel))
    # live data untouched
    assert {r.k for r in st.read_table(spark, table).collect()} == {1}


def test_concurrent_commit_conflict(spark, table):
    st.write_table(_rows(spark, [(1, "a")]), table)
    m = st.read_manifest(table)
    # a second writer lands version 1 first
    st._commit(table, st.Manifest(version=1, parent=0, operation="append", files=m.files))
    with pytest.raises(st.CommitConflictError):
        st._commit(
            table, st.Manifest(version=1, parent=0, operation="append", files=m.files)
        )


def test_merge_rewrites_only_touched_files(spark, table):
    # two files in v0 with disjoint key ranges (repartitionByRange keeps
    # them separable), so an update hitting one range must not rewrite
    # the other file
    base = _rows(spark, [(1, "a"), (2, "b"), (10, "x"), (11, "y")])
    st.write_table(
        base.repartitionByRange(2, "k"), table, stats_cols=("k",)
    )
    v0 = st.read_manifest(table)
    assert len(v0.files) == 2

    st.merge_upsert(
        spark,
        table,
        _rows(spark, [(10, "X"), (12, "new")]),
        key_cols=("k",),
        stats_cols=("k",),
    )
    v1 = st.read_manifest(table)
    carried = {f["path"] for f in v0.files} & {f["path"] for f in v1.files}
    assert len(carried) == 1  # the low-range file carried by reference

    got = {(r.k, r.v) for r in st.read_table(spark, table).collect()}
    assert got == {(1, "a"), (2, "b"), (10, "X"), (11, "y"), (12, "new")}


def test_merge_into_empty_table_is_create(spark, table):
    st.merge_upsert(spark, table, _rows(spark, [(5, "e")]), key_cols=("k",))
    assert {r.k for r in st.read_table(spark, table).collect()} == {5}


def test_stats_pruning_skips_files_and_keeps_answers(spark, table):
    base = _rows(spark, [(i, f"v{i}") for i in range(100)])
    st.write_table(
        base.repartitionByRange(4, "k"), table, stats_cols=("k",)
    )
    m = st.read_manifest(table)
    assert len(m.files) == 4
    keep = st.prune_files(m, "k", 10, 20)
    assert 0 < len(keep) < 4  # actually skipped files

    pruned = st.read_pruned(spark, table, "k", 10, 20).filter(
        F.col("k").between(10, 20)
    )
    full = st.read_table(spark, table).filter(F.col("k").between(10, 20))
    assert sorted(r.k for r in pruned.collect()) == sorted(
        r.k for r in full.collect()
    )


def test_empty_prune_fallback_keeps_the_pinned_schema(spark, table):
    """A tag-pinned reader whose prune matches zero files must get the
    PINNED generation's schema, even after a schema-changing rebuild."""
    st.write_table(_rows(spark, [(1, "a")]), table, stats_cols=("k",))
    st.create_tag(table, "serving")
    st.write_table(
        spark.createDataFrame([(9, "z", 1.5)], "k int, v string, extra double"),
        table,
        mode="overwrite",
        stats_cols=("k",),
    )
    out = st.read_pruned(spark, table, "k", 1000, 2000, tag="serving")
    assert out.count() == 0
    assert out.columns == ["k", "v"]  # not the current version's 3 columns
    # current-version reader still sees the new schema
    cur = st.read_pruned(spark, table, "k", 1000, 2000)
    assert cur.columns == ["k", "v", "extra"]


def test_vacuum_expires_old_versions(spark, table):
    st.write_table(_rows(spark, [(1, "a")]), table)
    st.write_table(_rows(spark, [(2, "b")]), table, mode="overwrite")
    st.vacuum(table, keep_versions=1)
    # v0's file is gone, its manifest too; newest version intact
    with pytest.raises(FileNotFoundError):
        st.read_manifest(table, 0)
    assert {r.k for r in st.read_table(spark, table).collect()} == {2}


def test_snapshot_upsert_batch_is_versioned_copy_on_write(spark, table):
    """The streaming foreachBatch writer commits one snapshot version per
    micro-batch and rewrites only the files whose keys the batch touches."""
    from data_engineering_project_spark.streaming.pipeline import (
        snapshot_upsert_batch,
    )

    write = snapshot_upsert_batch(table, ["k"])
    write(_rows(spark, [(1, "a"), (2, "b")]).repartitionByRange(2, "k"), 0)
    write(_rows(spark, [(2, "B"), (3, "c")]), 1)
    # re-delivery of batch 1 (crash/restart): content stays idempotent
    write(_rows(spark, [(2, "B"), (3, "c")]), 1)

    assert st.current_version(table) == 2
    got = {(r.k, r.v) for r in st.read_table(spark, table).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # batch 1 never touched key 1's file: carried by reference from v0
    v0 = {f["path"] for f in st.read_manifest(table, 0).files}
    v1 = {f["path"] for f in st.read_manifest(table, 1).files}
    assert v0 & v1


def test_vacuum_retention_protects_fresh_orphans(spark, table):
    """ADVICE r2: a concurrent writer's data files land BEFORE its manifest
    commit — vacuum with a retention window must leave fresh orphans alone
    (they may belong to an in-flight commit), while an expired orphan (or
    retention 0) is reclaimed."""
    st.write_table(_rows(spark, [(1, "a")]), table)
    orphans = st._write_snapshot_files(_rows(spark, [(99, "inflight")]), table, ())

    # fresh orphan + 1h retention: untouched
    removed = st.vacuum(table, retention_seconds=3600)
    assert removed == []
    for e in orphans:
        assert os.path.exists(os.path.join(table, e["path"]))

    # the "in-flight" writer now commits — its files become live and stay
    # protected by the manifest even under retention 0
    base = st.current_version(table)
    m = st.read_manifest(table, base)
    st._commit(
        table,
        st.Manifest(
            version=base + 1, parent=base, operation="append",
            files=m.files + orphans,
        ),
    )
    assert st.vacuum(table, retention_seconds=0) == []
    assert {r.k for r in st.read_table(spark, table).collect()} == {1, 99}


def test_vacuum_tolerates_manifests_removed_by_earlier_vacuum(spark, table):
    """ADVICE r2: a prior aggressive vacuum deleted old manifests; a later
    vacuum asked to keep MORE versions must skip the missing ones instead
    of crashing on FileNotFoundError."""
    st.write_table(_rows(spark, [(1, "a")]), table)
    st.write_table(_rows(spark, [(2, "b")]), table, mode="overwrite")
    st.write_table(_rows(spark, [(3, "c")]), table, mode="overwrite")
    st.vacuum(table, keep_versions=1)  # drops manifests v0, v1
    assert not os.path.exists(st._manifest_path(table, 0))

    # keep_versions spans the deleted range — must not raise
    removed = st.vacuum(table, keep_versions=3)
    assert removed == []
    assert {r.k for r in st.read_table(spark, table).collect()} == {3}


def test_writer_lease_blocks_vacuum_until_released(spark, table):
    """Lease protocol: while a writer's lease is live, vacuum reclaims
    NOTHING (even with retention 0); a crashed writer's expired lease is
    reaped and its orphans become reclaimable."""
    st.write_table(_rows(spark, [(1, "a")]), table)
    orphans = st._write_snapshot_files(_rows(spark, [(99, "dead")]), table, ())

    lease = st._begin_lease(table)  # simulated in-flight writer
    assert st.vacuum(table, retention_seconds=0) == []
    for e in orphans:
        assert os.path.exists(os.path.join(table, e["path"]))

    st._end_lease(lease)  # writer finished (or crashed long ago)
    removed = st.vacuum(table, retention_seconds=0)
    assert sorted(e["path"] for e in orphans) == sorted(removed)


def test_vacuum_stops_when_lease_appears_mid_scan(spark, table, monkeypatch):
    """ADVICE r3 TOCTOU: a writer whose lease registers AFTER vacuum's
    scan-start check must not lose files — leases are re-checked
    immediately before every delete, and the scan aborts the moment one
    appears."""
    st.write_table(_rows(spark, [(1, "a")]), table)
    orphans = st._write_snapshot_files(_rows(spark, [(99, "late")]), table, ())

    real = st._active_leases
    calls = {"n": 0}

    def racy(tbl, timeout):
        calls["n"] += 1
        if calls["n"] == 1:
            return real(tbl, timeout)  # scan-start check: no lease yet
        # a writer registered between the scan-start check and the delete
        return ["simulated-late-writer.lease"]

    monkeypatch.setattr(st, "_active_leases", racy)
    removed = st.vacuum(table, retention_seconds=0)
    assert removed == []  # nothing reclaimed once the late lease was seen
    assert calls["n"] >= 2  # the per-delete re-check actually ran
    for e in orphans:
        assert os.path.exists(os.path.join(table, e["path"]))


def test_expired_lease_is_reaped_and_does_not_block(spark, table):
    import time as _t

    st.write_table(_rows(spark, [(1, "a")]), table)
    lease = st._begin_lease(table)
    _t.sleep(0.05)
    # timeout shorter than the lease's age: treated as crashed debris
    removed = st.vacuum(table, retention_seconds=0, lease_timeout_seconds=0.01)
    assert not os.path.exists(lease)  # reaped
    assert removed == []  # nothing orphaned in this fixture — just no crash


def test_normal_writes_leave_no_lease_behind(spark, table):
    st.write_table(_rows(spark, [(1, "a")]), table)
    st.merge_upsert(spark, table, _rows(spark, [(1, "b")]), key_cols=("k",))
    ldir = os.path.join(table, "_leases")
    assert not os.path.isdir(ldir) or os.listdir(ldir) == []


# --- schema evolution (round 4) ---------------------------------------------


def test_append_adds_column_old_rows_read_null(spark, table):
    """Additive evolution: an append may introduce new columns; files
    committed before the column existed read back with null there, and
    column order follows the table (manifest) schema, not file layout."""
    st.write_table(_rows(spark, [(1, "a"), (2, "b")]), table)
    widened = spark.createDataFrame(
        [(3, "c", 30)], "k int, v string, score int"
    )
    st.write_table(widened, table, mode="append")

    got = {r.k: (r.v, r.score) for r in st.read_table(spark, table).collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}
    assert [f.name for f in st.read_table(spark, table).schema.fields] == [
        "k",
        "v",
        "score",
    ]
    # time travel to v0 shows the ORIGINAL two-column schema
    v0 = st.read_table(spark, table, version=0)
    assert [f.name for f in v0.schema.fields] == ["k", "v"]


def test_append_rejects_missing_and_retyped_columns(spark, table):
    st.write_table(_rows(spark, [(1, "a")]), table)
    with pytest.raises(st.SchemaEvolutionError, match="missing"):
        st.write_table(
            spark.createDataFrame([(2,)], "k int"), table, mode="append"
        )
    with pytest.raises(st.SchemaEvolutionError, match="changed type"):
        st.write_table(
            spark.createDataFrame([(2, 5)], "k int, v int"),
            table,
            mode="append",
        )
    # failure must not have committed anything
    assert st.current_version(table) == 0


def test_merge_upsert_carries_added_column(spark, table):
    """MERGE with a widened updates frame: untouched survivors fill null
    for the new column; the evolved schema is committed."""
    st.write_table(_rows(spark, [(1, "a"), (2, "b")]), table)
    updates = spark.createDataFrame(
        [(2, "B", 99)], "k int, v string, score int"
    )
    st.merge_upsert(spark, table, updates, ["k"])
    got = {r.k: (r.v, r.score) for r in st.read_table(spark, table).collect()}
    assert got == {1: ("a", None), 2: ("B", 99)}


def test_delete_where_rewrites_only_touched_files(spark, table):
    """COW DELETE: files without a matching row carry over by reference
    (same physical path), a file left empty drops from the manifest, and
    prior versions still read the deleted rows (time travel)."""
    st.write_table(_rows(spark, [(1, "a"), (2, "b")]).repartition(1), table)
    st.write_table(
        _rows(spark, [(3, "c"), (4, "d")]).repartition(1), table, mode="append"
    )
    before = {f["path"] for f in st.read_manifest(table).files}

    st.delete_where(spark, table, F.col("k") == 3)

    after = st.read_manifest(table)
    assert after.operation == "delete"
    # the file holding (1,2) is untouched — carried by identical path
    assert len({f["path"] for f in after.files} & before) == 1
    got = {r.k for r in st.read_table(spark, table).collect()}
    assert got == {1, 2, 4}
    # time travel still shows the deleted row
    assert {r.k for r in st.read_table(spark, table, version=1).collect()} == {
        1,
        2,
        3,
        4,
    }

    # deleting every remaining row of a file drops it from the manifest
    st.delete_where(spark, table, "k = 4")
    assert {r.k for r in st.read_table(spark, table).collect()} == {1, 2}
    assert len(st.read_manifest(table).files) == 1

    # ... and the emptied rewrite leaves NO unreferenced file behind
    # (ADVICE r10 #1: the dropped empty part was previously orphaned on
    # disk — a fabricated vacuum orphan). Every data file on disk must be
    # referenced by SOME version's manifest (time travel keeps old ones).
    import glob as _glob

    referenced = set()
    for v in range(1, st.read_manifest(table).version + 1):
        referenced |= {f["path"] for f in st.read_manifest(table, v).files}
    on_disk = {
        os.path.relpath(p, table)
        for p in _glob.glob(os.path.join(table, "data", "*", "*.parquet"))
    }
    assert on_disk == referenced


def test_delete_where_null_predicate_rows_survive(spark, table):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "x")], "k int, v string"
    )
    st.write_table(df.repartition(1), table)
    st.delete_where(spark, table, F.col("v") == "x")
    got = {(r.k, r.v) for r in st.read_table(spark, table).collect()}
    assert got == {(1, "a"), (2, None)}  # NULL-predicate row kept


def test_optimize_compacts_files_and_preserves_data(spark, table):
    """OPTIMIZE: many small files → few, as a committed version; data is
    identical, prior versions still time-travel, and a second OPTIMIZE on
    an already-compact table is a no-op (no version churn)."""
    for i in range(4):
        st.write_table(
            _rows(spark, [(i * 10 + j, f"v{i}") for j in range(5)]).repartition(2),
            table,
            mode="append" if i else "append",
        )
    v = st.current_version(table)
    n_files_before = len(st.read_manifest(table).files)
    assert n_files_before >= 4
    before = sorted((r.k, r.v) for r in st.read_table(spark, table).collect())

    m = st.optimize(spark, table, target_files=1, stats_cols=["k"])
    assert m is not None and m.operation == "optimize"
    assert len(st.read_manifest(table).files) == 1
    after = sorted((r.k, r.v) for r in st.read_table(spark, table).collect())
    assert after == before
    # time travel to the pre-compaction version still reads the old files
    assert (
        sorted((r.k, r.v) for r in st.read_table(spark, table, version=v).collect())
        == before
    )
    # idempotence: already compact → no new version
    assert st.optimize(spark, table, target_files=1) is None
    assert st.current_version(table) == v + 1


def test_optimize_zorder_tightens_file_stats(spark, table):
    """OPTIMIZE with zorder_cols: the compacted files' footer min/max on
    the clustered column are disjoint-ish segments, so stats pruning after
    compaction opens fewer files than before."""
    import random

    rng = random.Random(7)
    rows = [(rng.randrange(1000), f"r{i}") for i in range(400)]
    st.write_table(_rows(spark, rows).repartition(8), table)
    st.optimize(
        spark, table, target_files=4, stats_cols=["k"], zorder_cols=["k"]
    )
    m = st.read_manifest(table)
    assert len(m.files) == 4
    pruned = st.prune_files(m, "k", 0, 99)
    assert 0 < len(pruned) < len(m.files)  # stats actually skip files


def test_tags_pin_versions_against_vacuum(spark, table):
    """Iceberg-tag semantics: a named tag resolves through read_table,
    pins its version's files AND manifest through vacuum regardless of
    keep_versions, and releases them when deleted."""
    st.write_table(_rows(spark, [(1, "a")]), table)
    st.create_tag(table, "release-1")          # defaults to newest (v0)
    st.write_table(_rows(spark, [(2, "b")]), table, mode="overwrite")
    st.write_table(_rows(spark, [(3, "c")]), table, mode="overwrite")

    assert st.read_tag(table, "release-1") == 0
    assert st.list_tags(table) == {"release-1": 0}
    assert {r.k for r in st.read_table(spark, table, tag="release-1").collect()} == {1}

    st.vacuum(table, keep_versions=1)
    # v1 (untagged, expired) is gone; v0 survives via the tag
    with pytest.raises(FileNotFoundError):
        st.read_manifest(table, 1)
    assert {r.k for r in st.read_table(spark, table, tag="release-1").collect()} == {1}
    assert {r.k for r in st.read_table(spark, table).collect()} == {3}

    st.delete_tag(table, "release-1")
    st.vacuum(table, keep_versions=1)
    with pytest.raises(FileNotFoundError):
        st.read_manifest(table, 0)


def test_tag_create_conflicts_and_validation(spark, table):
    st.write_table(_rows(spark, [(1, "a")]), table)
    st.create_tag(table, "audit")
    with pytest.raises(FileExistsError):
        st.create_tag(table, "audit")          # exclusive create
    st.write_table(_rows(spark, [(2, "b")]), table, mode="overwrite")
    assert st.create_tag(table, "audit", replace=True) == 1
    assert st.read_tag(table, "audit") == 1
    with pytest.raises(FileNotFoundError):
        st.create_tag(table, "ghost", version=99)  # never committed
    with pytest.raises(ValueError):
        st.create_tag(table, "bad/name")
    with pytest.raises(ValueError):
        st.read_table(spark, table, version=1, tag="audit")  # exclusive args


def test_cli_tag_roundtrip(spark, table, capsys):
    """`tag` CLI: create (JSON out), list, delete — pure metadata, no
    Spark session is built."""
    import json

    from data_engineering_project_spark.cli import main

    st.write_table(_rows(spark, [(1, "a")]), table)
    assert main(["tag", table, "--create", "release-1"]) == 0
    assert json.loads(capsys.readouterr().out) == {
        "tag": "release-1", "version": 0,
    }
    assert main(["tag", table, "--list"]) == 0
    assert json.loads(capsys.readouterr().out) == {"release-1": 0}
    assert main(["tag", table, "--delete", "release-1"]) == 0
    assert main(["tag", table, "--list"]) == 0
    assert json.loads(capsys.readouterr().out) == {}


def test_tag_conflict_leaves_no_tmp_litter(spark, table):
    """The exclusive create writes a complete tmp file then hard-links it
    into place (atomic + exclusive) — a losing racer must clean its tmp
    and must not disturb the winner, and list_tags (which vacuum depends
    on) must keep working."""
    st.write_table(_rows(spark, [(1, "a")]), table)
    st.create_tag(table, "pin")
    with pytest.raises(FileExistsError):
        st.create_tag(table, "pin")
    tdir = os.path.join(table, "_tags")
    assert [n for n in os.listdir(tdir) if ".tmp." in n] == []
    assert st.list_tags(table) == {"pin": 0}


def test_list_tags_sweeps_stale_create_tag_tmps(spark, tmp_path):
    """A crashed create_tag orphans a .json.tmp.* file; list_tags sweeps
    litter older than the TTL but never a fresh in-flight write."""
    import os

    from data_engineering_project_spark.sinks import snapshot_table as st

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "a long")
    st.write_table(df, table)
    st.create_tag(table, "rel1")
    tdir = os.path.join(table, st._TAG_DIR)
    stale = os.path.join(tdir, "dead.json.tmp.abc123")
    fresh = os.path.join(tdir, "live.json.tmp.def456")
    for p in (stale, fresh):
        with open(p, "w") as fh:
            fh.write("{}")
    old = os.path.getmtime(stale) - st._TAG_TMP_TTL_SECONDS - 10
    os.utime(stale, (old, old))
    tags = st.list_tags(table)
    assert list(tags) == ["rel1"]
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)


class TestReadChanges:
    """CDF-style net row diffs between versions (read_changes)."""

    def _changes(self, spark, table, a, b):
        rows = st.read_changes(spark, table, a, b).collect()
        return (
            {(r.k, r.v) for r in rows if r._change == "insert"},
            {(r.k, r.v) for r in rows if r._change == "delete"},
        )

    def test_append_yields_pure_inserts(self, spark, table):
        st.write_table(_rows(spark, [(1, "a"), (2, "b")]), table)
        st.write_table(_rows(spark, [(3, "c")]), table, mode="append")
        ins, dels = self._changes(spark, table, 0, 1)
        assert ins == {(3, "c")} and dels == set()

    def test_upsert_emits_only_net_changes(self, spark, table):
        # cancel check: the rewritten file carries (11, "y") unchanged —
        # it must NOT appear on either side of the diff
        st.write_table(
            _rows(spark, [(1, "a"), (10, "x"), (11, "y")]).repartitionByRange(
                2, "k"
            ),
            table,
            stats_cols=("k",),
        )
        st.merge_upsert(
            spark,
            table,
            _rows(spark, [(10, "X"), (12, "new")]),
            key_cols=("k",),
            stats_cols=("k",),
        )
        ins, dels = self._changes(spark, table, 0, 1)
        assert ins == {(10, "X"), (12, "new")}
        assert dels == {(10, "x")}

    def test_delete_where_emits_pure_deletes(self, spark, table):
        st.write_table(_rows(spark, [(1, "a"), (2, "b"), (3, "c")]), table)
        st.delete_where(spark, table, F.col("k") == 2)
        ins, dels = self._changes(spark, table, 0, 1)
        assert ins == set() and dels == {(2, "b")}

    def test_roundtrip_identity_and_inverse(self, spark, table):
        st.write_table(_rows(spark, [(1, "a"), (2, "b")]), table)
        st.merge_upsert(spark, table, _rows(spark, [(2, "B")]), key_cols=("k",))
        st.write_table(_rows(spark, [(4, "d")]), table, mode="append")
        # v0 + inserts - deletes == v2 (multiset identity over the jump)
        ins, dels = self._changes(spark, table, 0, 2)
        v0 = {(r.k, r.v) for r in st.read_table(spark, table, version=0).collect()}
        v2 = {(r.k, r.v) for r in st.read_table(spark, table, version=2).collect()}
        assert (v0 | ins) - dels == v2
        # reverse diff is the exact inverse
        rins, rdels = self._changes(spark, table, 2, 0)
        assert (rins, rdels) == (dels, ins)

    def test_same_version_diff_is_empty(self, spark, table):
        st.write_table(_rows(spark, [(1, "a")]), table)
        assert st.read_changes(spark, table, 0, 0).count() == 0

    def test_schema_evolution_projects_old_rows(self, spark, table):
        st.write_table(_rows(spark, [(1, "a")]), table)
        widened = spark.createDataFrame([(2, "b", 7)], "k int, v string, w int")
        st.write_table(widened, table, mode="append")
        rows = st.read_changes(spark, table, 0, 1).collect()
        assert [(r.k, r.v, r.w, r._change) for r in rows] == [(2, "b", 7, "insert")]


def test_optimize_noop_when_all_files_empty(spark, table):
    """Round-7 advice: OPTIMIZE over a committed version whose files hold
    zero rows must be a no-op — a rewrite would either crash zorder_write
    on NULL min/max bounds or commit a zero-file manifest that breaks
    subsequent readers."""
    import json as _json

    st.write_table(_rows(spark, [(1, "a"), (2, "b")]).repartition(2), table)
    # fabricate the committed-but-empty shape: rewrite the manifest's file
    # entries to claim zero rows (the state an upstream writer of empty
    # part-files produces)
    v = st.current_version(table)
    path = os.path.join(table, "_manifests", f"v{v:08d}.json")
    raw = _json.load(open(path))
    assert len(raw["files"]) >= 2
    for f in raw["files"]:
        f["rows"] = 0
    with open(path, "w") as fh:
        _json.dump(raw, fh)
    before = st.current_version(table)
    assert st.optimize(spark, table, target_files=1, zorder_cols=("k",)) is None
    assert st.current_version(table) == before  # no version churn


def test_read_pruned_on_empty_pinned_version_returns_schema_frame(
    spark, table
):
    """Round-7 advice: a prune miss over a legitimately EMPTY pinned
    version must return an empty frame of the manifest schema instead of
    routing through read_table's no-files ValueError."""
    import json as _json

    st.write_table(_rows(spark, [(1, "a"), (5, "b")]), table, stats_cols=["k"])
    st.delete_where(spark, table, F.lit(True), stats_cols=["k"])  # empty v1
    m = st.read_manifest(table)
    assert sum(f["rows"] for f in m.files) == 0
    out = st.read_pruned(spark, table, "k", 0, 100)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v"]
    # the stricter shape: a pinned version holding NO files at all — the
    # empty-prune fallback must build the frame from the manifest schema
    # instead of routing through read_table's no-files ValueError
    v = st.current_version(table)
    path = os.path.join(table, "_manifests", f"v{v:08d}.json")
    raw = _json.load(open(path))
    raw["files"] = []
    with open(path, "w") as fh:
        _json.dump(raw, fh)
    out = st.read_pruned(spark, table, "k", 0, 100)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v"]


def test_timestamp_as_of_time_travel(spark, table):
    """TIMESTAMP AS OF (Delta semantics): as_of resolves the newest
    version committed at or before the timestamp; before-first raises;
    selectors are mutually exclusive; manifests without a committed_at
    stamp (pre-upgrade logs) resolve via file mtime."""
    import json as _json
    import time as _time

    st.write_table(_rows(spark, [(1, "a")]), table)          # v0
    t_after_v0 = _time.time()
    _time.sleep(0.05)
    st.write_table(_rows(spark, [(2, "b")]), table, mode="append")  # v1
    t_after_v1 = _time.time()
    _time.sleep(0.05)
    st.write_table(_rows(spark, [(9, "z")]), table, mode="overwrite")  # v2

    assert st.resolve_as_of(table, t_after_v0) == 0
    assert st.resolve_as_of(table, t_after_v1) == 1
    assert st.resolve_as_of(table, _time.time()) == 2
    assert {r.k for r in st.read_table(spark, table, as_of=t_after_v1).collect()} == {1, 2}
    assert {r.k for r in st.read_table(spark, table, as_of=_time.time()).collect()} == {9}
    # before the first commit: nothing existed
    with pytest.raises(ValueError):
        st.resolve_as_of(table, t_after_v0 - 3600)
    # selectors are exclusive
    with pytest.raises(ValueError):
        st.read_table(spark, table, version=0, as_of=t_after_v0)
    # pre-upgrade manifest (no committed_at) resolves via file mtime
    path = os.path.join(table, "_manifests", "v00000001.json")
    raw = _json.load(open(path))
    raw.pop("committed_at")
    with open(path, "w") as fh:
        _json.dump(raw, fh)
    os.utime(path, (t_after_v0 + 0.01, t_after_v0 + 0.01))
    assert st.resolve_as_of(table, t_after_v1) == 1


def _kr(spark, triples):
    return spark.createDataFrame(triples, "k int, rank int, v string")


def test_merge_replace_scope_deletes_shrunken_answer_set(spark, table):
    """ADVICE r9 #2 device: replace_scope=(k,) makes the update set the
    COMPLETE new answer per k — a re-merge with fewer ranks for a k must
    delete that k's stale higher ranks in the same commit, while keys
    absent from the update stay untouched."""
    st.write_table(
        _kr(spark, [(1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (2, 1, "x")]),
        table,
        stats_cols=("k",),
    )
    st.merge_upsert(
        spark,
        table,
        _kr(spark, [(1, 1, "A")]),  # k=1 now answers with ONE row
        key_cols=("k", "rank"),
        stats_cols=("k",),
        replace_scope=("k",),
    )
    got = {(r.k, r.rank, r.v) for r in st.read_table(spark, table).collect()}
    assert got == {(1, 1, "A"), (2, 1, "x")}  # ranks 2,3 gone; k=2 intact

    # plain merge (no scope) would have kept them — regression guard that
    # the default path is unchanged
    st.merge_upsert(
        spark,
        table,
        _kr(spark, [(2, 2, "y")]),
        key_cols=("k", "rank"),
        stats_cols=("k",),
    )
    got = {(r.k, r.rank, r.v) for r in st.read_table(spark, table).collect()}
    assert got == {(1, 1, "A"), (2, 1, "x"), (2, 2, "y")}


def test_merge_replace_scope_validates_subset(spark, table):
    st.write_table(_kr(spark, [(1, 1, "a")]), table)
    with pytest.raises(ValueError, match="replace_scope"):
        st.merge_upsert(
            spark,
            table,
            _kr(spark, [(1, 1, "b")]),
            key_cols=("k", "rank"),
            replace_scope=("nope",),
        )


def test_merge_replace_scope_rejects_non_prefix(spark, table):
    """ADVICE r10 #2: a member-but-not-prefix scope (('rank',) under keys
    ('k','rank')) would silently delete rows across unrelated k's — the
    validation must enforce the documented PREFIX contract, not set
    membership."""
    st.write_table(_kr(spark, [(1, 1, "a")]), table)
    for bad in [("rank",), ("rank", "k")]:
        with pytest.raises(ValueError, match="prefix"):
            st.merge_upsert(
                spark,
                table,
                _kr(spark, [(1, 1, "b")]),
                key_cols=("k", "rank"),
                replace_scope=bad,
            )


def test_merge_replace_scope_prunes_untouched_files(spark, table):
    """The scope-key widening must not break MERGE's file-pruning
    contract: files holding no served scope key carry by reference."""
    base = _kr(spark, [(1, 1, "a"), (1, 2, "b"), (10, 1, "x"), (10, 2, "y")])
    st.write_table(base.repartitionByRange(2, "k"), table, stats_cols=("k",))
    v0 = st.read_manifest(table)
    assert len(v0.files) == 2

    st.merge_upsert(
        spark,
        table,
        _kr(spark, [(10, 1, "X")]),
        key_cols=("k", "rank"),
        stats_cols=("k",),
        replace_scope=("k",),
    )
    v1 = st.read_manifest(table)
    carried = {f["path"] for f in v0.files} & {f["path"] for f in v1.files}
    assert len(carried) == 1
    got = {(r.k, r.rank, r.v) for r in st.read_table(spark, table).collect()}
    assert got == {(1, 1, "a"), (1, 2, "b"), (10, 1, "X")}


def test_as_of_clamps_non_monotonic_commit_times(spark, table):
    """ADVICE r9 #3: a pre-upgrade manifest whose mtime was touched
    (rsync without -t, object-store migration) can postdate the stamps
    around it. Unclamped, AS OF resolves to a version NEWER than anything
    that existed at the timestamp. Effective commit times are clamped
    monotonic (Delta's rule) and the repair warns."""
    import json as _json

    st.write_table(_rows(spark, [(1, "a")]), table)                     # v0
    st.write_table(_rows(spark, [(2, "b")]), table, mode="append")      # v1
    st.write_table(_rows(spark, [(9, "z")]), table, mode="overwrite")   # v2

    def _stamp(v, t):
        path = os.path.join(table, "_manifests", f"v{v:08d}.json")
        raw = _json.load(open(path))
        if t is None:
            raw.pop("committed_at", None)
        else:
            raw["committed_at"] = t
        with open(path, "w") as fh:
            _json.dump(raw, fh)
        return path

    _stamp(0, 50.0)
    _stamp(1, 100.0)
    p2 = _stamp(2, None)          # pre-upgrade manifest: mtime fallback
    os.utime(p2, (60.0, 60.0))    # touched BACKWARD past v1's stamp

    # at ts=70 only v0 existed (v1 committed at 100, v2 after it);
    # unclamped the mtime-60 v2 would win
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert st.resolve_as_of(table, 70.0) == 0
    assert any("non-monotonic" in str(w.message) for w in caught)

    # clamped v2 inherits v1's time: both visible from ts=100 onward
    assert st.resolve_as_of(table, 100.0) == 2
    # monotonic logs stay warning-free
    _stamp(2, 200.0)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert st.resolve_as_of(table, 150.0) == 1
    assert not caught


def test_read_pruned_keeps_the_table_schema(spark, table):
    """A pruned read carries the manifest schema like read_table: after an
    additive evolution, a prune that keeps only pre-evolution files still
    returns the added column, as NULL."""
    st.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, a string"),
        table,
        stats_cols=["k"],
    )
    st.write_table(
        spark.createDataFrame([(5, "e", 50)], "k int, a string, b int"),
        table,
        mode="append",
        stats_cols=["k"],
    )
    assert st.read_table(spark, table).columns == ["k", "a", "b"]
    pruned = st.read_pruned(spark, table, "k", 1, 1)
    assert pruned.columns == ["k", "a", "b"]
    assert sorted(tuple(r) for r in pruned.filter("k = 1").collect()) == [(1, "a", None)]
