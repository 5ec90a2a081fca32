"""Persisted IVF index: build/query/append over the snapshot-table format.

The serving-path contract: the index is built ONCE, queries read only the
probed cells' files (manifest pruning), and appends absorb new vectors
against the stored centroids with exactly-once merge semantics."""

from __future__ import annotations

import numpy as np
import pytest

from data_engineering_project_spark.operators.ann_index import (
    append_to_ivf_index,
    build_ivf_index,
    query_ivf_index,
)
from data_engineering_project_spark.sinks import snapshot_table as snap

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _brute_topk(emb_rows, qvec, k, scale=1000):
    """Driver-side exact cosine top-k on the SAME quantized representation
    the index stores (np.cumsum fold — the scorer's bit-exact twin)."""
    qq = np.array([round(float(v) * scale) for v in qvec], dtype=np.float64)
    out = []
    for r in emb_rows:
        v = np.array([round(float(x) * scale) for x in r["embedding"]], dtype=np.float64)
        dot = np.cumsum(v * qq)[-1]
        nv = np.sqrt(np.cumsum(v * v)[-1])
        nq = np.sqrt(np.cumsum(qq * qq)[-1])
        out.append((r["vec_id"], dot / (nv * nq)))
    out.sort(key=lambda t: (-t[1], t[0]))
    return [vid for vid, _ in out[:k]]


def test_full_probe_query_equals_brute_force(spark, emb, tmp_path):
    """With nprobe == k (every cell read) the index search IS exact — any
    mismatch would be a partition/pruning bug, not an ANN approximation."""
    table = str(tmp_path / "ivf")
    build_ivf_index(emb, table, k=8)
    rows = emb.collect()
    qvec = [float(v) for v in rows[0]["embedding"]]
    got = [r["vec_id"] for r in query_ivf_index(spark, table, qvec, k=10, nprobe=8).collect()]
    assert got == _brute_topk(rows, qvec, 10)


def test_probe_reads_only_the_probed_cells_files(spark, emb, tmp_path):
    """The 100 TB property: a probe must not touch the whole index. The
    manifest's per-file cell stats prune each single-cell read to a strict
    subset of the data files, and every returned row is from that cell."""
    table = str(tmp_path / "ivf")
    build_ivf_index(emb, table, k=8)
    m = snap.read_manifest(table)
    total = len(m.files)
    assert total > 1, "range-partitioned build must produce multiple files"
    seen_cells = set()
    for c in range(8):
        kept = snap.prune_files(m, "cell", c, c)
        assert len(kept) < total, f"cell {c} probe read the whole index"
        for f in kept:
            lo, hi = f["stats"]["cell"]
            assert lo <= c <= hi
        seen_cells.add(c)
    assert seen_cells == set(range(8))


def test_query_results_come_from_probed_cells_only(spark, emb, tmp_path):
    table = str(tmp_path / "ivf")
    build_ivf_index(emb, table, k=8)
    qvec = [float(v) for v in emb.collect()[3]["embedding"]]
    got = query_ivf_index(spark, table, qvec, k=10, nprobe=2).collect()
    assert got and len({r["cell"] for r in got}) <= 2


def test_append_absorbs_and_redelivery_replaces(spark, emb, tmp_path):
    table = str(tmp_path / "ivf")
    base = emb.filter("vec_id < 400")
    build_ivf_index(base, table, k=8)
    n0 = snap.read_table(spark, table).count()
    newer = emb.filter("vec_id >= 400")
    append_to_ivf_index(newer, table)
    n1 = snap.read_table(spark, table).count()
    assert n1 == n0 + newer.count()
    # a new vector is findable: query WITH its own embedding, full probe
    target = emb.filter("vec_id = 450").collect()[0]
    got = [
        r["vec_id"]
        for r in query_ivf_index(
            spark, table, [float(v) for v in target["embedding"]], k=1, nprobe=8
        ).collect()
    ]
    assert got == [450]
    # exactly-once: redelivering the same batch must not duplicate
    append_to_ivf_index(newer, table)
    assert snap.read_table(spark, table).count() == n1


def test_build_is_deterministic(spark, emb, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_ivf_index(emb, a, k=4)
    build_ivf_index(emb, b, k=4)
    da = sorted((r["vec_id"], r["cell"]) for r in snap.read_table(spark, a).collect())
    db = sorted((r["vec_id"], r["cell"]) for r in snap.read_table(spark, b).collect())
    assert da == db


def test_streaming_ingest_into_serving_index(spark, emb, tmp_path):
    """Drive upsert_ivf_index through a real readStream → foreachBatch →
    availableNow pipeline: batch 1 bootstraps the quantizer, batch 2
    appends against the stored centroids, and a second run over the same
    checkpoint consumes nothing new (exactly-once input)."""
    import os
    import time as _time

    from data_engineering_project_spark.streaming.pipeline import (
        upsert_ivf_index,
    )

    src = tmp_path / "emb_in"
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "ivf")
    src.mkdir()
    schema = "vec_id bigint, embedding array<double>, label bigint"

    first = emb.filter("vec_id < 300").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as embedding", "label"
    )
    second = emb.filter("vec_id >= 300").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as embedding", "label"
    )
    first.coalesce(1).write.parquet(str(src / "b1.parquet"))
    second.coalesce(1).write.parquet(str(src / "b2.parquet"))
    base = _time.time() - 3600
    for i, name in enumerate(sorted(os.listdir(src))):
        for f in os.listdir(src / name):
            os.utime(src / name / f, (base + 10 * i, base + 10 * i))
        os.utime(src / name, (base + 10 * i, base + 10 * i))

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            stream.writeStream.foreachBatch(upsert_ivf_index(table, k=8))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run()
    assert snap.read_table(spark, table).count() == emb.count()
    # a vector from the APPENDED batch is servable
    target = emb.filter("vec_id = 450").collect()[0]
    got = [
        r["vec_id"]
        for r in query_ivf_index(
            spark, table, [float(v) for v in target["embedding"]], k=1, nprobe=8
        ).collect()
    ]
    assert got == [450]
    v1 = snap.current_version(table)
    _run()  # no new files → no new version
    assert snap.current_version(table) == v1


def test_index_recall_monitor(spark, emb, tmp_path):
    """recall@k == 1.0 at full probe (it IS brute force then) and is a
    valid fraction at nprobe=1; the monitor is the rebuild-cadence signal
    for append-without-refit."""
    from data_engineering_project_spark.operators.ann_index import (
        ivf_index_recall,
    )

    table = str(tmp_path / "ivf")
    build_ivf_index(emb, table, k=8)
    sample = [[float(v) for v in r["embedding"]] for r in emb.limit(3).collect()]
    full = ivf_index_recall(spark, table, sample, k=5, nprobe=8).collect()[0]
    assert full["recall"] == 1.0
    narrow = ivf_index_recall(spark, table, sample, k=5, nprobe=1).collect()[0]
    assert 0.0 <= narrow["recall"] <= 1.0


@pytest.fixture(scope="module")
def clustered(spark):
    """5 far-apart cluster centers × 40 members with tiny noise, dim 16 —
    the shape where a correct residual encoder is unambiguous."""
    rng = np.random.RandomState(7)
    centers = rng.uniform(-1, 1, size=(5, 16)) * 10
    rows = []
    vid = 0
    for ci in range(5):
        for _ in range(40):
            v = centers[ci] + rng.uniform(-0.05, 0.05, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivfpq_index_stores_codes_not_vectors(spark, clustered, tmp_path):
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
    )

    table = str(tmp_path / "pq")
    build_ivfpq_index(clustered, table, k_cells=5, n_sub=4, k_codes=8)
    t = snap.read_table(spark, table)
    assert set(t.columns) == {"vec_id", "cell", "codes"}
    row = t.take(1)[0]
    assert len(row["codes"]) == 4 and all(0 <= c < 8 for c in row["codes"])


def test_ivfpq_query_finds_the_querys_own_cluster(
    spark, clustered, tmp_path, monkeypatch
):
    """Built on the distributed branch (the driver budget forced to 0), so
    the end-to-end build → query path of a corpus too large for the driver
    stays covered."""
    from data_engineering_project_spark.operators import ann_index
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    monkeypatch.setattr(ann_index, "_IVFPQ_DRIVER_MAX_ELEMS", 0)
    table = str(tmp_path / "pq")
    assert (
        build_ivfpq_index(clustered, table, k_cells=5, n_sub=4, k_codes=8)
        == "distributed"
    )
    # query with a member of cluster 2 (vec_ids 80..119): every top-10
    # neighbor must come from the same tight cluster, any probe width
    target = clustered.filter("vec_id = 85").collect()[0]
    got = query_ivfpq_index(
        spark, table, [float(v) for v in target["embedding"]], k=10, nprobe=5
    ).collect()
    assert len(got) == 10
    assert all(80 <= r["vec_id"] < 120 for r in got), [r["vec_id"] for r in got]


def test_ivfpq_probe_prunes_files(spark, clustered, tmp_path):
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
    )

    table = str(tmp_path / "pq")
    build_ivfpq_index(clustered, table, k_cells=5, n_sub=4, k_codes=8)
    m = snap.read_manifest(table)
    assert len(m.files) > 1
    cells = {r["cell"] for r in snap.read_table(spark, table).collect()}
    for c in cells:
        assert len(snap.prune_files(m, "cell", c, c)) < len(m.files)


def test_ivfpq_build_deterministic(spark, clustered, tmp_path):
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_ivfpq_index(clustered, a, k_cells=5)
    build_ivfpq_index(clustered, b, k_cells=5)
    da = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in snap.read_table(spark, a).collect()
    )
    db = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in snap.read_table(spark, b).collect()
    )
    assert da == db


def test_serving_query_paths_are_shuffle_free(spark, emb, clustered, tmp_path):
    """The per-query cost model the module docstring claims: probed cell
    scans → map-only scoring → distributed TakeOrdered. No exchange of any
    kind may appear — a shuffle here would mean the serving path re-keys
    the index per query."""
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb, ivf, k=8)
    qvec = [float(v) for v in emb.limit(1).collect()[0]["embedding"]]
    plan = (
        query_ivf_index(spark, ivf, qvec, k=10, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan

    pq = str(tmp_path / "pq")
    build_ivfpq_index(clustered, pq, k_cells=5)
    qvec2 = [float(v) for v in clustered.limit(1).collect()[0]["embedding"]]
    plan2 = (
        query_ivfpq_index(spark, pq, qvec2, k=10, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan2, plan2
    assert "TakeOrderedAndProject" in plan2


def test_build_on_empty_frame_raises(spark, tmp_path):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty embedding frame"):
        build_ivf_index(empty, str(tmp_path / "e"))
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
    )

    with pytest.raises(ValueError, match="empty embedding frame"):
        build_ivfpq_index(empty, str(tmp_path / "e2"))


def test_query_against_missing_index_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        query_ivf_index(spark, str(tmp_path / "nope"), [0.0] * 4)


def test_recall_monitor_on_empty_index_returns_null(spark, tmp_path):
    """Recall over an empty index is undefined: the monitor must surface
    NULL, not ZeroDivisionError (ADVICE r6)."""
    from data_engineering_project_spark.operators.ann_index import (
        ivf_index_recall,
    )
    from data_engineering_project_spark.sinks import snapshot_table as st

    table = str(tmp_path / "ivf_empty")
    empty = spark.createDataFrame(
        [], "vec_id long, cell int, q array<double>"
    )
    st.write_table(empty, table, stats_cols=("cell",))
    cent = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0])], "cell int, centroid array<double>"
    )
    st.write_table(cent, table.rstrip("/") + "__centroids")
    row = ivf_index_recall(spark, table, [[0.1] * 4], k=3, nprobe=1).collect()[0]
    assert row["recall"] is None


def test_query_against_empty_centroid_table_raises(spark, tmp_path):
    from data_engineering_project_spark.sinks import snapshot_table as st

    table = str(tmp_path / "ivf_nocent")
    st.write_table(
        spark.createDataFrame([], "vec_id long, cell int, q array<double>"),
        table,
        stats_cols=("cell",),
    )
    st.write_table(
        spark.createDataFrame([], "cell int, centroid array<double>"),
        table.rstrip("/") + "__centroids",
    )
    with pytest.raises(FileNotFoundError, match="no IVF centroid state"):
        query_ivf_index(spark, table, [0.0] * 4)


def test_ivfpq_rejects_indivisible_dim(spark, tmp_path):
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
    )

    odd = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="not divisible"):
        build_ivfpq_index(odd, str(tmp_path / "odd"), n_sub=2)


def test_promote_pins_a_serving_generation_across_rebuild(spark, emb, tmp_path):
    """Zero-downtime rebuild: promote pins the current generation under a
    tag; a rebuild on different data commits new versions; tagged queries
    keep answering from the pinned generation (even after vacuum), while
    untagged queries see the rebuild."""
    from data_engineering_project_spark.operators.ann_index import (
        promote_index,
    )

    table = str(tmp_path / "ivf")
    gen0 = emb.filter("vec_id < 250")
    build_ivf_index(gen0, table, k=4)
    versions = promote_index(table)
    assert versions[table] == 0 and len(versions) == 2  # data + centroids
    qvec = [float(v) for v in emb.filter("vec_id = 7").collect()[0]["embedding"]]
    pinned_before = [
        (r["vec_id"], r["cosine"])
        for r in query_ivf_index(spark, table, qvec, k=5, nprobe=4, tag="serving").collect()
    ]

    # rebuild on a DIFFERENT corpus slice (new quantizer, new data files)
    gen1 = emb.filter("vec_id >= 250")
    build_ivf_index(gen1, table, k=4)
    # untagged query serves the rebuild: vec 7 no longer exists
    fresh = {r["vec_id"] for r in query_ivf_index(spark, table, qvec, k=5, nprobe=4).collect()}
    assert fresh and all(v >= 250 for v in fresh)
    # tagged query still serves generation 0, identical results
    pinned_after = [
        (r["vec_id"], r["cosine"])
        for r in query_ivf_index(spark, table, qvec, k=5, nprobe=4, tag="serving").collect()
    ]
    assert pinned_after == pinned_before
    # vacuum must not reclaim the pinned generation's files
    snap.vacuum(table, keep_versions=1)
    assert [
        (r["vec_id"], r["cosine"])
        for r in query_ivf_index(spark, table, qvec, k=5, nprobe=4, tag="serving").collect()
    ] == pinned_before
    # move the pointer: tagged now serves the rebuild
    promote_index(table)
    moved = {
        r["vec_id"]
        for r in query_ivf_index(spark, table, qvec, k=5, nprobe=4, tag="serving").collect()
    }
    assert moved == fresh


def test_promote_missing_index_raises(tmp_path):
    from data_engineering_project_spark.operators.ann_index import (
        promote_index,
    )

    with pytest.raises(FileNotFoundError):
        promote_index(str(tmp_path / "nothing"))


def test_ivfpq_rerank_matches_exact_on_candidates(spark, clustered, tmp_path):
    """Two-stage serving: the exact re-rank over the codes-only index must
    return exactly the brute-force exact-cosine ranking whenever the
    shortlist covers the true top-k (here: full probe + shortlist >= the
    query's whole cluster)."""
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index_rerank,
    )

    table = str(tmp_path / "pqr")
    build_ivfpq_index(clustered, table, k_cells=5, n_sub=4, k_codes=8)
    target = clustered.filter("vec_id = 85").collect()[0]
    qvec = [float(v) for v in target["embedding"]]

    got = query_ivfpq_index_rerank(
        spark, table, qvec, clustered, k=10, shortlist=60, nprobe=5
    ).collect()
    assert [r["vec_id"] for r in got][:1] == [85]  # the query itself wins

    # exact brute-force on the RAW vectors (the re-rank stage's contract)
    import numpy as np

    rows = clustered.collect()
    qq = np.asarray(qvec)
    exact = sorted(
        (
            (
                r["vec_id"],
                float(
                    np.cumsum(np.asarray(r["embedding"]) * qq)[-1]
                    / (
                        np.sqrt(np.cumsum(np.asarray(r["embedding"]) ** 2)[-1])
                        * np.sqrt(np.cumsum(qq * qq)[-1])
                    )
                ),
            )
            for r in rows
        ),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert [r["vec_id"] for r in got] == [v for v, _ in exact]


def test_ivfpq_rerank_rescore_touches_only_shortlist(spark, clustered, tmp_path):
    """The stage-2 semi-join must be broadcast (bounded id list), never a
    shuffle of the vector corpus."""
    from data_engineering_project_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index_rerank,
    )

    table = str(tmp_path / "pqp")
    build_ivfpq_index(clustered, table, k_cells=5, n_sub=4, k_codes=8)
    target = clustered.filter("vec_id = 85").collect()[0]
    df = query_ivfpq_index_rerank(
        spark, table, [float(v) for v in target["embedding"]], clustered,
        k=5, shortlist=20, nprobe=2,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_optimize_index_restores_pruning_after_appends(spark, emb, tmp_path):
    """The serving-ops composition (r6 verdict #9): appends land as
    merge-upsert commits whose files interleave cells — probe read
    amplification grows with ingest. optimize_index re-clusters by cell
    in one commit: identical query results, per-cell prune back to ~1
    file, pre-optimize tag still serves the old generation, and a second
    pass is a no-op."""
    from data_engineering_project_spark.operators.ann_index import (
        optimize_index,
        promote_index,
    )

    table = str(tmp_path / "ivf")
    build_ivf_index(emb.filter("vec_id < 300"), table, k=8)
    append_to_ivf_index(emb.filter("vec_id >= 300 and vec_id < 400"), table)
    append_to_ivf_index(emb.filter("vec_id >= 400"), table)

    m_before = snap.read_manifest(table)
    worst_before = max(
        len(snap.prune_files(m_before, "cell", c, c)) for c in range(8)
    )
    assert worst_before > 1, "appends should have eroded per-cell pruning"

    qvec = [float(v) for v in emb.collect()[5]["embedding"]]
    before = [
        tuple(r) for r in query_ivf_index(spark, table, qvec, k=10, nprobe=8).collect()
    ]
    pinned = promote_index(table, name="pre_compact")

    m_after = optimize_index(spark, table)
    assert m_after is not None and m_after.operation == "optimize"
    worst_after = max(
        len(snap.prune_files(m_after, "cell", c, c)) for c in range(8)
    )
    assert worst_after <= 2 and worst_after < worst_before
    after = [
        tuple(r) for r in query_ivf_index(spark, table, qvec, k=10, nprobe=8).collect()
    ]
    assert after == before  # bit-identical serving results

    # the pinned pre-compaction generation still reads (old file set)
    tagged = snap.read_table(spark, table, tag="pre_compact")
    assert tagged.count() == snap.read_table(spark, table).count()

    # idempotent: already-compact table → no version churn
    assert optimize_index(spark, table) is None


def test_optimize_index_noop_on_empty_index(spark, emb, tmp_path):
    """Round-7 advice: optimize_index over an index whose data table was
    fully emptied (or committed with zero-row files) must return None and
    leave the table serving empty results, not raise or commit a
    zero-file manifest."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.operators.ann_index import (
        optimize_index,
    )

    table = str(tmp_path / "empty_idx")
    build_ivf_index(emb.limit(32), table, k=4)
    snap.delete_where(spark, table, F.lit(True), stats_cols=["cell"])
    before = snap.current_version(table)
    assert optimize_index(spark, table) is None
    assert snap.current_version(table) == before
    # the serving read path over the emptied index degrades to zero hits
    qv = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]
    assert query_ivf_index(spark, table, qv, k=5, nprobe=2).count() == 0


def test_streaming_auto_optimize_zero_downtime(spark, emb, tmp_path):
    """auto_optimize_files wires OPTIMIZE into the ingest loop (round-7
    verdict #8): appends accumulate files until the threshold, the writer
    compacts in-line, and a tag pinned BEFORE the compaction keeps serving
    its exact pre-compaction content afterwards (copy-on-write zero
    downtime), while current reads see the compacted, pruning-restored
    layout with identical data."""
    import os
    import time as _time

    from data_engineering_project_spark.streaming.pipeline import (
        upsert_ivf_index,
    )

    src = tmp_path / "emb_in"
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "ivf")
    src.mkdir()
    schema = "vec_id bigint, embedding array<double>, label bigint"
    slices = [(0, 200), (200, 300), (300, 400), (400, 500)]
    for i, (lo, hi) in enumerate(slices):
        emb.filter(f"vec_id >= {lo} and vec_id < {hi}").selectExpr(
            "vec_id",
            "transform(embedding, x -> cast(x as double)) as embedding",
            "label",
        ).coalesce(1).write.parquet(str(src / f"b{i}.parquet"))
    base = _time.time() - 3600
    for i, name in enumerate(sorted(os.listdir(src))):
        for f in os.listdir(src / name):
            os.utime(src / name / f, (base + 10 * i, base + 10 * i))
        os.utime(src / name, (base + 10 * i, base + 10 * i))

    # bootstrap on batch 0 only, then pin a tag on the bootstrap version
    # before the appends arrive
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b0.parquet")
    )
    q = (
        stream.writeStream.foreachBatch(upsert_ivf_index(table, k=4))
        .option("checkpointLocation", str(tmp_path / "ck0"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap.create_tag(table, "pinned")
    pinned_rows = sorted(
        (r["vec_id"], r["cell"])
        for r in snap.read_table(spark, table, tag="pinned").collect()
    )
    assert len(pinned_rows) == 200

    # appends with a low threshold: compaction must fire at least once
    # (threshold 2, not 5: since the writer stopped recording zero-row
    # part files, merges no longer pad the manifest with empty entries,
    # so the real-file count grows slower than it used to)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        stream.writeStream.foreachBatch(
            upsert_ivf_index(table, k=4, auto_optimize_files=2)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ops = [
        snap.read_manifest(table, v).operation
        for v in range(snap.current_version(table) + 1)
    ]
    assert "optimize" in ops  # the in-line compaction really fired
    # all 500 vectors present exactly once; a late vector is servable
    assert snap.read_table(spark, table).count() == emb.count()
    target = emb.filter("vec_id = 450").collect()[0]
    got = [
        r["vec_id"]
        for r in query_ivf_index(
            spark, table, [float(v) for v in target["embedding"]],
            k=1, nprobe=4,
        ).collect()
    ]
    assert got == [450]
    # zero downtime: the pre-compaction pin still reads its exact content
    assert (
        sorted(
            (r["vec_id"], r["cell"])
            for r in snap.read_table(spark, table, tag="pinned").collect()
        )
        == pinned_rows
    )


def test_streaming_knn_serving_matches_reader_and_replays_clean(
    spark, emb, tmp_path
):
    """knn_serving_batch: a query STREAM answered against the persisted
    index must reproduce the serving reader's (query_ivf_index) answers
    per query, and a full checkpoint-less replay must leave the results
    table byte-identical (merge by (query_id, rank))."""
    import os
    import time as _time

    from data_engineering_project_spark.streaming.pipeline import (
        knn_serving_batch,
    )

    index = str(tmp_path / "ivf")
    out = str(tmp_path / "results")
    build_ivf_index(emb, index, k=8)

    src = tmp_path / "queries"
    src.mkdir()
    schema = "vec_id bigint, embedding array<double>, label bigint"
    qset = emb.filter("vec_id < 6").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as embedding",
        "label",
    )
    qset.filter("vec_id < 3").coalesce(1).write.parquet(str(src / "b0.parquet"))
    qset.filter("vec_id >= 3").coalesce(1).write.parquet(str(src / "b1.parquet"))
    base = _time.time() - 3600
    for i, name in enumerate(sorted(os.listdir(src))):
        for f in os.listdir(src / name):
            os.utime(src / name / f, (base + 10 * i, base + 10 * i))
        os.utime(src / name, (base + 10 * i, base + 10 * i))

    def _run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            stream.writeStream.foreachBatch(
                knn_serving_batch(index, out, k=4, nprobe=2)
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run("ck1")
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cell"], r["cosine"])
        for r in snap.read_table(spark, out).collect()
    }
    assert len(got) == 6 * 4
    # per-query agreement with the proven serving reader
    for qid in range(6):
        qv = [
            float(v)
            for v in emb.filter(f"vec_id = {qid}").first()["embedding"]
        ]
        want = query_ivf_index(spark, index, qv, k=4, nprobe=2).collect()
        for rank0, w in enumerate(want):
            assert got[(qid, rank0 + 1)] == (
                w["vec_id"], w["cell"], w["cosine"],
            ), (qid, rank0)
    # replay from a FRESH checkpoint: every batch redelivers; the results
    # table must come back identical and version history must show merges,
    # not duplicates
    _run("ck2")
    again = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cell"], r["cosine"])
        for r in snap.read_table(spark, out).collect()
    }
    assert again == got


def test_streaming_knn_reserve_with_fewer_rows_drops_stale_ranks(
    spark, emb, tmp_path
):
    """ADVICE r9 #2: a later serve of the SAME query_id with a smaller k
    must fully replace the stored answer set — the earlier serve's
    higher-rank rows may not survive the merge."""
    from data_engineering_project_spark.streaming.pipeline import (
        knn_serving_batch,
    )

    index = str(tmp_path / "ivf")
    out = str(tmp_path / "results")
    build_ivf_index(emb, index, k=8)

    src = tmp_path / "queries"
    src.mkdir()
    schema = "vec_id bigint, embedding array<double>, label bigint"
    qset = emb.filter("vec_id < 2").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as embedding",
        "label",
    )
    qset.coalesce(1).write.parquet(str(src / "b0.parquet"))

    def _run(ckpt, k):
        q = (
            spark.readStream.schema(schema)
            .parquet(f"{src}/*")
            .writeStream.foreachBatch(knn_serving_batch(index, out, k=k, nprobe=2))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run("ck1", k=5)
    assert snap.read_table(spark, out).count() == 2 * 5
    # fresh checkpoint, smaller k: same queries redeliver with 3-row answers
    _run("ck2", k=3)
    rows = snap.read_table(spark, out).collect()
    assert len(rows) == 2 * 3, "stale higher ranks survived the re-serve"
    assert {r["rank"] for r in rows} == {1, 2, 3}


# ---- the driver-sized IVF-PQ build ----------------------------------------


def _clustered_rows(seed: int, n_clusters: int = 5, per: int = 40, dim: int = 16):
    rng = np.random.RandomState(seed)
    centers = rng.uniform(-1, 1, size=(n_clusters, dim)) * 5
    return [
        (c * per + i, [float(x) for x in centers[c] + rng.normal(0, 0.1, dim)])
        for c in range(n_clusters)
        for i in range(per)
    ]


def _index_state(spark, table):
    """Every row of the codes table and both side tables, each table's
    schema, and each data file's row count and ``cell`` range."""
    out = {}
    for t in (table, table + "__pq_centroids", table + "__pq_codebooks"):
        m = snap.read_manifest(t)
        rows = sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in snap.read_table(spark, t).collect()
        )
        files = sorted((f["rows"], str(f["stats"])) for f in m.files)
        out[t[len(table):]] = (rows, m.schema, files)
    return out


def _build_both(monkeypatch, frame, tmp_path, **kw):
    """Build on the default (driver-sized) branch and on the distributed
    branch; return both branches' names and index tables."""
    from data_engineering_project_spark.operators import ann_index as ai

    d, x = str(tmp_path / "driver"), str(tmp_path / "distributed")
    got_d = ai.build_ivfpq_index(frame, d, **kw)
    with monkeypatch.context() as m:
        m.setattr(ai, "_IVFPQ_DRIVER_MAX_ELEMS", 0)
        got_x = ai.build_ivfpq_index(frame, x, **kw)
    return (got_d, d), (got_x, x)


@pytest.mark.parametrize(
    "seed,k_cells,n_sub,k_codes",
    [(0, 4, 4, 8), (1, 5, 2, 4), (2, 6, 8, 4), (3, 8, 4, 16), (4, 4, 2, 8)],
)
def test_ivfpq_driver_build_equals_distributed(
    spark, monkeypatch, tmp_path, seed, k_cells, n_sub, k_codes
):
    """The driver-sized fit writes the distributed build's tables row for
    row, with the same schemas and per-file ``cell`` ranges, so queries
    answer the same."""
    from data_engineering_project_spark.operators.ann_index import (
        query_ivfpq_index,
    )

    rows = _clustered_rows(seed)
    frame = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    (got_d, d), (got_x, x) = _build_both(
        monkeypatch, frame, tmp_path, k_cells=k_cells, n_sub=n_sub, k_codes=k_codes
    )
    assert (got_d, got_x) == ("driver", "distributed")
    assert _index_state(spark, d) == _index_state(spark, x)
    for vid in (3, 77, 150):
        qa = query_ivfpq_index(spark, d, rows[vid][1], k=10, nprobe=2).collect()
        qb = query_ivfpq_index(spark, x, rows[vid][1], k=10, nprobe=2).collect()
        assert qa == qb


def test_ivfpq_driver_build_equals_distributed_on_clustered(
    spark, monkeypatch, clustered, tmp_path
):
    from data_engineering_project_spark.operators.ann_index import (
        query_ivfpq_index,
    )

    (got_d, d), (got_x, x) = _build_both(
        monkeypatch, clustered, tmp_path, k_cells=5, n_sub=4, k_codes=8
    )
    assert (got_d, got_x) == ("driver", "distributed")
    assert _index_state(spark, d) == _index_state(spark, x)
    q = [float(v) for v in clustered.filter("vec_id = 85").collect()[0]["embedding"]]
    assert (
        query_ivfpq_index(spark, d, q, k=10, nprobe=5).collect()
        == query_ivfpq_index(spark, x, q, k=10, nprobe=5).collect()
    )


def _outcome(spark, fn, table):
    try:
        branch = fn()
    except Exception as exc:  # the error itself is the result compared
        return ("raised", type(exc).__name__, str(exc).splitlines()[0])
    return ("built", branch, _index_state(spark, table))


_GOOD = [[1.0, 2.0, 3.0, 4.0], [1.1, 2.0, 3.0, 4.1], [-3.0, 0.5, 1.0, 2.0]] * 4


@pytest.mark.parametrize(
    "hostile,n_sub",
    [
        ("null_element", 2),
        ("short_row", 2),
        ("long_row", 2),
        ("indivisible_dim", 3),
        ("empty", 2),
    ],
)
def test_ivfpq_hostile_frames_take_the_distributed_branch(
    spark, monkeypatch, tmp_path, hostile, n_sub
):
    """A frame the driver fit must not take — a NULL element, a ragged
    row, a dim the subspaces do not divide, no rows — skips it and gives
    exactly the distributed build's result or error."""
    from data_engineering_project_spark.operators import ann_index as ai

    vecs = [list(v) for v in _GOOD]
    if hostile == "null_element":
        vecs[5][2] = None
    elif hostile == "short_row":
        vecs[5] = vecs[5][:3]
    elif hostile == "long_row":
        vecs[5] = vecs[5] + [9.0]
    elif hostile == "empty":
        vecs = []
    frame = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    kw = dict(k_cells=2, n_sub=n_sub, k_codes=2)

    fits = []
    fit = ai._fit_ivfpq_on_driver
    monkeypatch.setattr(
        ai, "_fit_ivfpq_on_driver", lambda *a, **k: fits.append(fit(*a, **k)) or fits[-1]
    )
    d, x = str(tmp_path / "default"), str(tmp_path / "distributed")
    default = _outcome(spark, lambda: ai.build_ivfpq_index(frame, d, **kw), d)
    assert fits == [None]
    monkeypatch.setattr(ai, "_IVFPQ_DRIVER_MAX_ELEMS", 0)
    forced = _outcome(spark, lambda: ai.build_ivfpq_index(frame, x, **kw), x)
    assert default == forced
    if default[0] == "built":
        assert default[1] == "distributed"


def test_ivfpq_build_drops_null_vectors(spark, monkeypatch, tmp_path):
    """A row whose vector is NULL has no cell and no codes: both branches
    drop it at ingestion (as ``kmeans_assignments`` and ``ivfpq_topk``
    do), so no query can return its id, and the driver fit no longer
    defers to the distributed build for it."""
    vecs = [list(v) for v in _GOOD]
    vecs[5] = None
    frame = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    (got_d, d), (got_x, x) = _build_both(
        monkeypatch, frame, tmp_path, k_cells=2, n_sub=2, k_codes=2
    )
    assert (got_d, got_x) == ("driver", "distributed")
    state = _index_state(spark, d)
    assert state == _index_state(spark, x)
    ids = [r[0] for r in state[""][0]]
    assert 5 not in ids and len(ids) == 11
