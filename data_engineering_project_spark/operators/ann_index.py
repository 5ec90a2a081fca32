"""Persisted IVF index over the snapshot-table format: build once, query many.

The catalog's ANN queries (``emb_ivf_topk``, ``emb_pq_topk``, …) fit their
coarse quantizer inside the query — correct for a driver-hashable one-shot,
wrong as the production serving pattern: at corpus scale the fit is a batch
job and queries must touch only the probed cells' FILES, not re-cluster the
corpus. This module is that serving path, composed from pieces that already
exist:

- **build_ivf_index**: quantized Lloyd fit (``operators/clustering._lloyd``)
  → every vector assigned to its cell → ``(vec_id, cell, q)`` written
  range-partitioned by ``cell`` into a snapshot table with per-file
  ``cell`` min/max stats, so each data file covers one (or few) cells and
  a probe of cell ``c`` touches only that cell's files — partition
  pruning from footer stats, no metastore. The k centroids persist in a
  tiny side table (``<table>__centroids``, k rows), overwritten atomically
  with each rebuild.
- **query_ivf_index**: rank cells driver-side against the k stored
  centroids (k×dim floats — the same bounded state MLlib keeps), read ONLY
  the ``nprobe`` winning cells via manifest pruning (one scan over their
  files, ``snapshot_table.read_where_in``), score in-cell with the
  Arrow-vectorized cosine scorer. Cost per query: k-row centroid read +
  one scan of the probed cells' files; the corpus is never touched.
- **append_to_ivf_index**: assign new vectors with the SAME stored
  centroids (an IVF index absorbs inserts without refit; recall decays only
  as the data distribution drifts — rebuild cadence is the operational
  knob, measurable in-engine exactly as ``emb_ivf_recall`` does) and
  ``merge_upsert`` by id, so redelivered ids replace instead of duplicate —
  the exactly-once contract every other sink in this repo honors.

Cosine on the quantized vectors equals cosine on the originals up to the
quantization round (scale cancels in the ratio); the index stores the
quantized form because integer cells/sums are what keep build determinism
partition-independent (see operators/clustering.py).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_project_spark.operators.clustering import (
    _lloyd,
    _lloyd_books_multi,
    _lloyd_rounds_local,
    _make_codes_matrix,
    pq_codes_arrow,
    quantize_vec,
)
from data_engineering_project_spark.operators.kernels import (
    kernel_columns,
    kernel_input,
    split_rows,
)
from data_engineering_project_spark.operators.similarity import (
    score_cosine_pairs_vectorized,
)
from data_engineering_project_spark.sinks import snapshot_table as snap
from data_engineering_project_spark.sources.tables import local_frame


def _centroid_table(table: str) -> str:
    return table.rstrip("/") + "__centroids"


def _quantize_query(query_vec, scale: int) -> list[float]:
    """Driver-side query quantization with HALF-AWAY-FROM-ZERO rounding —
    the same device as the corpus's ``quantize_vec`` (Spark ``F.round``,
    HALF_UP away from zero) and the oracle's DuckDB ``round``. Python's
    builtin ``round`` is half-to-EVEN and would diverge on a component
    whose x*scale lands exactly on .5 (grid-aligned embeddings)."""
    import math

    out = []
    for v in query_vec:
        x = float(v) * scale
        out.append(float(math.floor(abs(x) + 0.5) * (1 if x >= 0 else -1)))
    return out


def build_ivf_index(
    emb: DataFrame,
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    scale: int = 1000,
) -> None:
    """Fit the coarse quantizer and materialize the cell-clustered index."""
    spark = emb.sparkSession
    pts = emb.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col), scale).alias("q"),
    ).persist()
    try:
        assigned, centroids = _lloyd(pts, k, n_iter)
        if assigned is None:
            raise ValueError("build_ivf_index: empty embedding frame")
        rows = [(cid, centroids[cid]) for cid in sorted(centroids)]
        cdf = local_frame(spark, rows, "cell int, centroid array<double>")
        # data files range-partitioned by cell: one file ≈ one cell, so the
        # manifest's per-file [min,max] prunes a probe to its cell's files
        data = assigned.select(
            "vec_id", F.col("cluster").alias("cell"), "q"
        ).repartitionByRange(len(centroids), "cell")
        snap.write_table(data, table, mode="overwrite", stats_cols=["cell"])
        snap.write_table(cdf, _centroid_table(table), mode="overwrite")
    finally:
        pts.unpersist()


def _load_centroids(
    spark: SparkSession, table: str, tag: str | None = None
) -> dict[int, list[float]]:
    rows = snap.read_table(spark, _centroid_table(table), tag=tag).collect()
    return {r["cell"]: [float(v) for v in r["centroid"]] for r in rows}


def query_ivf_index(
    spark: SparkSession,
    table: str,
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 2,
    scale: int = 1000,
    tag: str | None = None,
) -> DataFrame:
    """Top-k cosine neighbors reading only the ``nprobe`` probed cells.

    Cell ranking happens driver-side over the k stored centroids (same L2
    metric the build's Lloyd assignment used, quantized units on both
    sides); ties break toward the smaller cell id, mirroring the build's
    (d, cid) argmin.
    ``tag`` resolves a :func:`promote_index` pin — serving reads keep
    answering from the pinned generation while a rebuild commits."""
    centroids = _load_centroids(spark, table, tag)
    if not centroids:
        raise FileNotFoundError(
            f"no IVF centroid state under {_centroid_table(table)!r} — "
            "build_ivf_index must run before queries"
        )
    qq = _quantize_query(query_vec, scale)
    ranked = sorted(
        (sum((a - b) ** 2 for a, b in zip(qq, c)), cid)
        for cid, c in centroids.items()
    )
    probed = [cid for _, cid in ranked[:nprobe]]
    cells = snap.read_where_in(spark, table, "cell", probed, tag=tag)
    with_q = cells.withColumn("qe", F.array(*[F.lit(v) for v in qq]))
    scored = score_cosine_pairs_vectorized(
        with_q, vec_col="q", query_vec_col="qe", keep_cols=("vec_id", "cell")
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "cell", F.round("cosine", 6).alias("cosine"))
    )


def append_to_ivf_index(
    emb_new: DataFrame,
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> None:
    """Absorb new vectors without a refit: assign against the stored
    centroids with the build's own final-assignment kernel, merge by id
    (redelivery replaces, never duplicates)."""
    spark = emb_new.sparkSession
    centroids = _load_centroids(spark, table)
    if not centroids:
        raise FileNotFoundError(
            f"no IVF centroid state under {_centroid_table(table)!r} — "
            "build_ivf_index must run before appends"
        )
    pts = emb_new.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col), scale).alias("q"),
    )
    updates = pq_codes_arrow(
        pts,
        books=[centroids],
        sub=len(next(iter(centroids.values()))),
        vec_col="q",
        strict_len=True,
        keep_vec=True,
    ).select("vec_id", F.col("c0").alias("cell"), "q")
    snap.merge_upsert(spark, table, updates, ["vec_id"], stats_cols=["cell"])


def optimize_index(
    spark: SparkSession,
    table: str,
    *,
    target_files: int | None = None,
    min_files_to_compact: int = 2,
):
    """Table service for the serving index — the OPTIMIZE pass that keeps
    append-without-refit prunable.

    Each :func:`append_to_ivf_index` (or streaming upsert) commit lands the
    batch's rows as NEW files spanning many cells, so after k appends a
    probe's manifest prune matches ~k extra files per cell — read
    amplification that grows with ingest, not with data. This pass
    re-clusters the CURRENT version by ``cell`` in one
    ``snapshot_table.optimize`` commit (single-column Z-order ==
    range-partition + sort by cell — the build's original layout), so
    probes prune to ~one file per probed cell again. Copy-on-write
    semantics come free from the format: tag-pinned readers keep serving
    the pre-compaction generation (``promote_index`` pins), the swap is
    one atomic manifest commit, and a concurrent append either commits
    before (gets compacted) or wins the race (next OPTIMIZE sweeps it).

    Works on the IVF data table and the IVF-PQ codes table alike — both
    carry ``cell``. Returns the new manifest, or None when the table is
    already compact (idempotent: running twice never churns versions).

    ``target_files`` defaults to the index's distinct cell count — one
    file ≈ one cell, matching the build. At 100 TB size by bytes instead
    (files ≈ table_bytes / 128 MiB, still clustered by cell).
    """
    cur = snap.current_version(table)
    if cur is not None:
        m = snap.read_manifest(table, cur)
        if m.operation == "optimize":
            # nothing landed since the last compaction — any append/merge
            # commit resets `operation`, so this check is exactly "no churn"
            return None
        if not m.files or sum(f.get("rows", 0) for f in m.files) == 0:
            # committed-but-empty index: nothing to compact, and the
            # target_files probe below would raise on a zero-file manifest
            return None
    if target_files is None:
        target_files = (
            snap.read_table(spark, table).select("cell").distinct().count() or 1
        )
    return snap.optimize(
        spark,
        table,
        target_files=target_files,
        min_files_to_compact=min_files_to_compact,
        stats_cols=("cell",),
        zorder_cols=("cell",),
    )


def ivf_index_recall(
    spark: SparkSession,
    table: str,
    query_vecs: list[list[float]],
    *,
    k: int = 10,
    nprobe: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """In-engine recall@k of the probed search against brute force over the
    SAME index contents — the operational monitor for append-without-refit:
    as appended data drifts away from the stored centroids, this number
    decays and tells the pipeline when a rebuild is due (the persisted-index
    analog of the catalog's ``emb_ivf_recall``).

    ``query_vecs`` is a bounded evaluation sample (tens, not the corpus):
    each query costs one full map-only scan (brute force) plus one probed
    read — O(sample · index), driver state O(k) per query."""
    if not query_vecs:
        raise ValueError("ivf_index_recall: empty query sample")
    hits = total = 0
    for qv in query_vecs:
        qq = _quantize_query(qv, scale)
        full = snap.read_table(spark, table).withColumn(
            "qe", F.array(*[F.lit(v) for v in qq])
        )
        exact = {
            r["vec_id"]
            for r in score_cosine_pairs_vectorized(
                full, vec_col="q", query_vec_col="qe", keep_cols=("vec_id",)
            )
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k)
            .collect()
        }
        approx = {
            r["vec_id"]
            for r in query_ivf_index(
                spark, table, qv, k=k, nprobe=nprobe, scale=scale
            ).collect()
        }
        hits += len(exact & approx)
        total += len(exact)
    # An empty index yields an empty exact top-k for every query: recall is
    # undefined — surface NULL for the monitor rather than ZeroDivisionError.
    recall = round(hits / total, 6) if total else None
    return local_frame(
        spark,
        [(len(query_vecs), k, nprobe, recall)],
        "n_queries int, k int, nprobe int, recall double",
    )


def _pq_side_tables(table: str) -> tuple[str, str]:
    base = table.rstrip("/")
    return base + "__pq_centroids", base + "__pq_codebooks"


# IVF-PQ builds of fewer vector elements (rows × dim) than this fit on the
# driver from one bounded Arrow collect — the union-find rule of
# operators/components.py:_UF_MAX_ROWS applied to the index build. The
# distributed build pays ~19 Spark jobs and 4 Python-worker stages
# whatever the size. Median build seconds, driver vs distributed branch,
# clustered vectors from parquet, k_cells=8, local[4] on 4 vCPU:
#   64-d:   200 rows 1.0 vs 3.6 · 20k (1.3M elements) 2.7 vs 4.9 ·
#           50k (3.2M) 5.1 vs 6.7 · 100k (6.4M) 9.3 vs 11.3 ·
#           200k (12.8M) 20.7 vs 20.0
#   768-d:  2k (1.5M) 5.3 vs 8.5 · 10k (7.7M) 9.3 vs 13.3
# so the branches cross near 12M elements at 64-d. The budget sits at a
# third of that: more cores speed only the distributed branch, and the
# driver holds a few int64 copies of the corpus (32 MB each at the bound).
_IVFPQ_DRIVER_MAX_ELEMS = 4_000_000


def _fit_ivfpq_on_driver(
    pts: DataFrame, *, k_cells: int, n_sub: int, k_codes: int, n_iter: int
):
    """The IVF-PQ fit of a driver-sized ``(vec_id, q)`` frame, or None when
    the frame is not one: larger than ``_IVFPQ_DRIVER_MAX_ELEMS``, empty,
    holding a NULL, ragged or NULL-element vector, or with ``dim`` not
    divisible by ``n_sub``. Those keep the distributed build, with its
    exact results and errors.

    Spark computes ``q`` and the ``md5`` init key, so the driver sees the
    values the distributed build sees, and runs its steps with the same
    worker-side kernels: md5-ordered Lloyd cells, integer cell centroids
    ``floor(s/n + 0.5)``, integer residuals, the ``n_sub`` residual
    codebooks and the codes. Returns ``(data, cent_int, books, sub)``:
    ``data`` is the ``(vec_id, cell, codes)`` local relation, with the
    distributed build's schema and range partitioning by ``cell``."""
    if k_cells < 1 or k_codes < 1:
        return None
    head = pts.select(F.size("q").alias("n")).take(1)
    dim = head[0]["n"] if head else None
    if not dim or dim < 0 or dim % n_sub:
        return None
    # rows strictly under the budget: the probe never collects more than
    # _IVFPQ_DRIVER_MAX_ELEMS elements, and a row of another length comes
    # back NULL (so it fails the well-formed gate) instead of in full.
    # coalesce(1) makes it one task that stops reading at the limit; a
    # bare limit(n).toArrow() shuffles up to n rows from every partition.
    max_rows = _IVFPQ_DRIVER_MAX_ELEMS // dim
    probe = (
        kernel_input(
            pts.select("vec_id", F.when(F.size("q") == dim, F.col("q")).alias("q")),
            "q",
            "vec_id",
            F.md5(F.col("vec_id").cast("string")).alias("_md5"),
        )
        .coalesce(1)
        .limit(max_rows)
        .toArrow()
    )
    if probe.num_rows >= max_rows:
        return None
    vec, hn = kernel_columns(probe)
    fast, X, _ = split_rows(vec, dim, hn, dtype=np.int64)
    if not fast.all():
        return None
    md5 = probe.column("_md5").to_pylist()
    # Spark's ascending order: NULL first, then byte order of the hex string
    order = sorted(range(len(md5)), key=lambda i: (md5[i] is not None, md5[i]))

    cents = _lloyd_rounds_local(
        vec,
        hn,
        [{cid: [float(v) for v in X[i]] for cid, i in enumerate(order[:k_cells])}],
        sub=dim,
        n_iter=n_iter,
        strict_len=True,
    )
    cell = _make_codes_matrix(cents, dim, strict_len=True)(vec, hn)[0][:, 0]
    cent_int: dict[int, list[int]] = {}
    for c in np.unique(cell):
        members = cell == c
        n = int(members.sum())
        cent_int[int(c)] = [
            math.floor(int(s) / n + 0.5) for s in X[members].sum(axis=0)
        ]
    R = X - np.array([cent_int[int(c)] for c in cell], dtype=np.int64)
    res = _list_array(R, pa.int64())
    no_null = np.zeros(len(R), dtype=bool)
    sub = dim // n_sub
    books = _lloyd_rounds_local(
        res,
        no_null,
        [
            {
                cid: [float(v) for v in R[i, s * sub : (s + 1) * sub]]
                for cid, i in enumerate(order[:k_codes])
            }
            for s in range(n_sub)
        ],
        sub=sub,
        n_iter=n_iter,
    )
    codes = _make_codes_matrix(books, sub)(res, no_null)[0]
    data = pa.table(
        {
            "vec_id": probe.column("vec_id"),
            "cell": pa.array(cell, type=pa.int32()),
            "codes": _list_array(codes, pa.int32()),
        }
    )
    # the distributed build's schema: the id as given, a nullable
    # kernel-output cell, and a non-NULL array of codes
    schema = T.StructType(
        [
            pts.schema["vec_id"],
            T.StructField("cell", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType()), False),
        ]
    )
    frame = local_frame(pts.sparkSession, data, schema)
    return frame.repartitionByRange(k_cells, "cell"), cent_int, books, sub


def _list_array(M: np.ndarray, value_type: pa.DataType) -> pa.ListArray:
    """The rows of matrix ``M`` as an Arrow list column."""
    offsets = np.arange(0, M.size + 1, M.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(M.ravel(), type=value_type)
    )


def _write_ivfpq(
    table: str,
    data: DataFrame,
    cent_int: dict[int, list[int]],
    books: list[dict[int, list[float]]],
    sub: int,
    *,
    scale: int,
) -> None:
    """Commit the codes table and its two side tables."""
    spark = data.sparkSession
    ctab, btab = _pq_side_tables(table)
    snap.write_table(data, table, mode="overwrite", stats_cols=["cell"])
    cents_df = local_frame(
        spark,
        [(c, v, scale, sub) for c, v in sorted(cent_int.items())],
        "cell int, cvec array<bigint>, scale int, sub int",
    )
    snap.write_table(cents_df, ctab, mode="overwrite")
    bdf = local_frame(
        spark,
        [(s, cid, book[cid]) for s, book in enumerate(books) for cid in sorted(book)],
        "sub int, code int, cvec array<double>",
    )
    snap.write_table(bdf, btab, mode="overwrite")


def build_ivfpq_index(
    emb: DataFrame,
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cells: int = 8,
    n_sub: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    scale: int = 1000,
) -> str:
    """Materialize the residual IVF-PQ serving index: the codes-only form
    that makes billion-vector search fit storage budgets — each data row is
    ``(vec_id, cell, n_sub small codes)``, never the vector itself.

    Same fit discipline as ``operators/clustering.ivfpq_topk`` (which stays
    the one-shot/driver-hashable twin): learned Lloyd cells, INTEGER cell
    centroids from exact sums, integer residuals, global per-subspace
    residual codebooks, codes as literal projections. Side tables hold the
    complete serving state — integer cell centroids (+ the quantization
    scale and subspace width, so a query needs no out-of-band config) and
    the residual codebooks.

    Two branches write the same tables. A corpus of fewer than
    ``_IVFPQ_DRIVER_MAX_ELEMS`` well-formed elements is fitted on the
    driver from one bounded Arrow collect (:func:`_fit_ivfpq_on_driver`)
    and written back as a local relation; anything else — larger, empty,
    NULL or ragged vectors, an indivisible ``dim`` — runs the distributed
    fit. Both range-partition the codes by ``cell``, so each data file
    covers one or few cells and ``read_where_in`` prunes a probe to its
    cells' files. Returns the branch that ran: ``"driver"`` or
    ``"distributed"``.
    """
    spark = emb.sparkSession
    pts = emb.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col), scale).alias("q"),
    )
    fit = _fit_ivfpq_on_driver(
        pts, k_cells=k_cells, n_sub=n_sub, k_codes=k_codes, n_iter=n_iter
    )
    if fit is not None:
        _write_ivfpq(table, *fit, scale=scale)
        return "driver"
    pts = pts.persist()
    try:
        assigned, _ = _lloyd(pts, k_cells, n_iter)
        if assigned is None:
            raise ValueError("build_ivfpq_index: empty embedding frame")
        assigned = assigned.withColumnRenamed("cluster", "cell").persist()
        # integer cell centroids from exact integer sums (Lloyd's float
        # centroids only seeded the partition; the serving quantizer is the
        # integer snap, same as ivfpq_topk)
        cstats = (
            assigned.select("cell", F.posexplode("q").alias("dim", "qv"))
            .groupBy("cell", "dim")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        dim = len(assigned.take(1)[0]["q"])
        if dim % n_sub:
            raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
        sub = dim // n_sub
        cent_int: dict[int, list[int]] = {}
        for r in cstats:
            cent_int.setdefault(r["cell"], [0] * dim)[r["dim"]] = int(
                math.floor(r["s"] / r["n"] + 0.5)
            )
        cvecs = local_frame(
            spark, sorted(cent_int.items()), "cell int, cvec array<bigint>"
        )
        res = assigned.join(F.broadcast(cvecs), "cell").select(
            "vec_id",
            "cell",
            F.zip_with("q", "cvec", lambda a, b: a - b).alias("r"),
        ).persist()
        # all n_sub residual codebooks train with SHARED jobs (one init +
        # one stats job per round, bit-identical books — r13 job fusion)
        books = _lloyd_books_multi(
            res, k=k_codes, n_iter=n_iter, n_sub=n_sub, sub=sub, vec_col="r"
        )
        if books is None:  # unreachable: assigned was proven non-empty
            books = [{} for _ in range(n_sub)]
        # codes via the Arrow kernel (r14): same values as the expression
        # argmins, one vectorized map stage instead of n_sub interpreted
        # HOF projections (see clustering.pq_codes_arrow). The range
        # partitioning by cell comes first: its bound sampler then reads
        # the persisted residuals instead of running the kernel a second
        # time, and the map stage keeps the cell-clustered partitions.
        data = pq_codes_arrow(
            res.repartitionByRange(k_cells, "cell"),
            books=books,
            sub=sub,
            vec_col="r",
        ).select(
            "vec_id",
            "cell",
            F.array(*[f"c{s}" for s in range(n_sub)]).alias("codes"),
        )
        _write_ivfpq(table, data, cent_int, books, sub, scale=scale)
        res.unpersist()
        assigned.unpersist()
    finally:
        pts.unpersist()
    return "distributed"


def query_ivfpq_index(
    spark: SparkSession,
    table: str,
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 2,
    tag: str | None = None,
) -> DataFrame:
    """ADC scan over the probed cells' CODE files: per-(cell, subspace)
    lookup tables from the query's residual, map-only projection, top-k by
    (adc, vec_id). The vectors themselves exist nowhere in the index —
    cost per query is nprobe cells × n_sub map lookups per code row.
    ``tag`` resolves a :func:`promote_index` pin."""
    ctab, btab = _pq_side_tables(table)
    crows = snap.read_table(spark, ctab, tag=tag).collect()
    if not crows:
        raise FileNotFoundError(f"no PQ centroid state under {ctab!r}")
    scale, sub = crows[0]["scale"], crows[0]["sub"]
    cent_int = {r["cell"]: [int(v) for v in r["cvec"]] for r in crows}
    brows = snap.read_table(spark, btab, tag=tag).collect()
    books: dict[int, dict[int, list[float]]] = {}
    for r in brows:
        books.setdefault(r["sub"], {})[r["code"]] = [float(v) for v in r["cvec"]]
    n_sub = len(books)
    q0 = [int(u) for u in _quantize_query(query_vec, scale)]
    probes = sorted(
        cent_int,
        key=lambda c: (
            sum((a - b) * (a - b) for a, b in zip(q0, cent_int[c])),
            c,
        ),
    )[:nprobe]

    def _lookup(cell: int, s: int):
        rq = [q0[i] - cent_int[cell][i] for i in range(s * sub, (s + 1) * sub)]
        tab = {}
        for cid in sorted(books[s]):
            acc = 0.0
            for a, b in zip(rq, books[s][cid]):
                d = a - b
                acc += d * d
            tab[cid] = acc
        m = F.create_map(
            *[x for cid in sorted(tab) for x in (F.lit(cid), F.lit(tab[cid]))]
        )
        return m[F.element_at(F.col("codes"), s + 1)]

    cand = snap.read_where_in(spark, table, "cell", probes, tag=tag)
    adc = None
    for cell in probes:
        cell_adc = _lookup(cell, 0)
        for s in range(1, n_sub):
            cell_adc = cell_adc + _lookup(cell, s)
        adc = (
            F.when(F.col("cell") == int(cell), cell_adc)
            if adc is None
            else adc.when(F.col("cell") == int(cell), cell_adc)
        )
    return (
        cand.withColumn("adc", adc)
        .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", "cell", F.round("adc", 4).alias("adc"))
    )


def query_ivfpq_index_rerank(
    spark: SparkSession,
    table: str,
    query_vec: list[float],
    vectors: DataFrame,
    *,
    k: int = 10,
    shortlist: int = 50,
    nprobe: int = 2,
    tag: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage serving over the codes-only index: the ADC scan shortlists
    ``shortlist`` candidates (:func:`query_ivfpq_index`), then their TRUE
    vectors are fetched from ``vectors`` — the source corpus table the
    index was built from, which the codes-only index deliberately does not
    duplicate — by a broadcast semi-join and exactly re-scored (FAISS's
    refine / k_factor stage; in the catalog twin this lifts recall@10 to
    exactly the probe ceiling).

    Scale shape: stage 1 inherits the manifest-pruned map-only code scan;
    stage 2 touches O(shortlist) vectors — broadcast the bounded id list,
    never shuffle the corpus — and re-scores with the same deterministic
    vectorized scorer as the brute-force baseline. Returns
    ``(vec_id, cosine)`` rows, top-``k`` by exact cosine.
    """
    from data_engineering_project_spark.operators.similarity import (
        topk_cosine_vectorized,
    )

    cand = query_ivfpq_index(
        spark, table, query_vec, k=shortlist, nprobe=nprobe, tag=tag
    ).select(F.col("vec_id").alias(id_col))
    base = vectors.join(F.broadcast(cand), id_col, "left_semi")
    qdf = local_frame(
        spark,
        [([float(v) for v in query_vec],)],
        "query_embedding array<double>",
    )
    top = topk_cosine_vectorized(
        base, qdf, k, id_col=id_col, vec_col=vec_col
    )
    return top.select(id_col, F.round("cosine", 6).alias("cosine"))


def promote_index(table: str, *, name: str = "serving") -> dict[str, int]:
    """Zero-downtime rebuild pointer: pin the CURRENT version of the index
    data table and every existing side table under one tag name. Readers
    that query with ``tag=name`` keep resolving the pinned generation while
    a rebuild commits new versions on top (vacuum retains every pinned
    file for as long as the tag exists); one promote moves the pointer.

    The per-table tag writes are sequential, not a cross-table transaction:
    a reader that starts MID-promote can resolve a mixed serving set. Both
    generations' files stay alive through the move (old pins are replaced,
    not deleted first), so the exposure is one inconsistent read, never a
    missing file — promote between query batches, or re-run the query.
    """
    versions: dict[str, int] = {}
    side = [_centroid_table(table), *_pq_side_tables(table)]
    for t in [table, *side]:
        if snap.current_version(t) is not None:
            versions[t] = snap.create_tag(t, name, replace=True)
    if not versions:
        raise FileNotFoundError(f"no committed index under {table!r}")
    return versions
