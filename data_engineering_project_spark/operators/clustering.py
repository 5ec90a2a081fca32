"""Distributed k-means (Lloyd's) as DataFrame plans with deterministic math.

The IVF-training / semantic-dedup primitive: cluster an embedding corpus so
downstream ANN probes (plans/similarity_queries.py: emb_ivf_topk) get real
learned cells instead of hash grids.

Design for scale AND for cross-engine determinism (the driver compares this
against a DuckDB oracle running the identical algorithm):

- **Quantized input**: components snap to integer units (``round(x*scale)``
  as BIGINT) so every per-cluster sum is exact integer arithmetic — immune
  to Spark's nondeterministic partial-agg merge order (repo invariant).
- **Centroid state on the driver**: k×dim numbers collected per iteration
  and re-embedded as literal arrays — the same broadcast-the-model pattern
  MLlib uses. Data never moves; per iteration one scan computes
  assignments and one narrow (k×dim)-row aggregate updates the state.
  Plan depth is CONSTANT per iteration (each rebuilds from the persisted
  points), so no lineage blow-up and no checkpoint needed.
- **Explicit tie-break**: a point equidistant to two centroids goes to the
  smaller cluster id via lexicographic ``(dist, cid)`` comparison —
  ``array_min`` over structs here, ``arg_min(cid, [dist, cid])`` in the
  oracle — so both engines agree even on exact ties.
- **Empty-cluster rule**: a cluster that loses all members keeps its
  previous centroid (both engines implement the same rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from data_engineering_project_spark.operators.components import release
from data_engineering_project_spark.operators.kernels import (
    kernel_columns,
    kernel_input,
    left_fold,
    split_rows,
)
from data_engineering_project_spark.sources.tables import local_frame


def quantize_vec(vec: Column, scale: int) -> Column:
    """float array → integer-unit BIGINT array (exact, order-safe sums)."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * scale).cast("bigint")
    )


def _dist2(q: Column, centroid: list[float]) -> Column:
    """Squared distance of a quantized point to one centroid — a sequential
    left-fold over the dims, the same evaluation order the oracle's
    ``list_sum(list_transform(...))`` uses."""
    c = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(q, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_code(vec: Column, s: int, sub: int, book: dict[int, list[float]]) -> Column:
    """PQ code of subspace ``s`` as a LITERAL projection (no join against an
    assignment frame): argmin over the codebook with the (dist, cid)
    lexicographic tie-break — Lloyd's final step IS assignment with the
    final centroids."""
    scored = F.array(
        *[
            F.struct(
                _dist2(F.slice(vec, s * sub + 1, sub), book[cid]).alias("d"),
                F.lit(cid).alias("cid"),
            )
            for cid in sorted(book)
        ]
    )
    return F.array_min(scored).getField("cid")


def _make_codes_matrix(
    books: list[dict[int, list[float]]], sub: int, strict_len: bool = False
):
    """Build the per-batch PQ-codes closure — the vectorized replica of
    ``n_sub`` ``_pq_code`` projections (bit-identical: the per-pair
    distance is the ``left_fold`` of ``(x_i - b_i)²`` in dimension order,
    the strict left fold the zip_with+aggregate expression evaluates, on
    exact int64→double values; ``np.argmin`` takes the first minimum over
    codebooks stacked in ascending-cid order = the (d, cid) lexicographic
    tie-break; NaN cannot arise from integer inputs and finite codebooks).

    Malformed-row semantics, empirically pinned against the expression
    form (ANSI session; tests/test_timeseries_clustering.py): a NULL
    vector, a window truncated by a short array, or a NULL element inside
    the window nulls every candidate's distance and ``array_min`` orders
    NULL-``d`` structs FIRST — the code degrades to the smallest cid; a
    fully-present window (even on an over-long row) computes normally.

    ``strict_len=True`` selects the whole-vector k-means contract instead
    (one book, ``sub`` = dim): the ``_dist2`` fold there zips the FULL
    vector against a dim-length centroid, so an over-long row ALSO nulls
    every distance (the centroid side pads) and degrades to the smallest
    cid; PQ's ``slice`` semantics compute over-long rows normally.

    Returned as a FACTORY so the worker-side closure carries its codebooks
    by value. The closure maps ``(vec: pa.ListArray, hn: np.ndarray)`` to
    ``(codes (m, n_sub) int64, fast mask, Xi)`` where ``Xi`` is the
    (n_fast, dim) int64 matrix of well-formed rows (reused by the
    training-stats kernel for exact integer sums).
    """
    n_sub = len(books)
    dim = n_sub * sub
    keys = [sorted(b) for b in books]

    def slow_code(vals, s: int) -> int:
        ks = keys[s]
        if vals is None:
            return ks[0]
        if strict_len and len(vals) != dim:
            return ks[0]
        lo, hi = s * sub, (s + 1) * sub
        if len(vals) < hi:
            return ks[0]
        window = vals[lo:hi]
        if any(v is None for v in window):
            return ks[0]
        book = books[s]
        best_d = None
        best_c = ks[0]
        for cid in ks:
            b = book[cid]
            acc = 0.0
            for a, bb in zip(window, b):
                d = float(a) - bb
                acc += d * d
            if best_d is None or acc < best_d:
                best_d, best_c = acc, cid
        return best_c

    def codes_matrix(vec, hn):
        import numpy as np

        fast, Xi, _ = split_rows(vec, dim, hn, dtype=np.int64)
        codes = np.zeros((len(vec), n_sub), dtype=np.int64)
        k = len(Xi)
        if k:
            Xf = Xi.astype(np.float64)
            for s in range(n_sub):
                W = Xf[:, s * sub : (s + 1) * sub]
                D = np.empty((k, len(keys[s])), dtype=np.float64)
                for ci, cid in enumerate(keys[s]):
                    b = books[s][cid]
                    D[:, ci] = left_fold(
                        (np.square(W[:, i] - b[i]) for i in range(sub)), k
                    )
                codes[fast, s] = np.asarray(keys[s], dtype=np.int64)[
                    np.argmin(D, axis=1)
                ]
        for r in np.flatnonzero(~fast):
            vals = vec[int(r)].as_py()
            for s in range(n_sub):
                codes[r, s] = slow_code(vals, s)
        return codes, fast, Xi

    return codes_matrix


def pq_codes_arrow(
    frame: DataFrame,
    *,
    books: list[dict[int, list[float]]],
    sub: int,
    vec_col: str,
    strict_len: bool = False,
    keep_vec: bool = False,
) -> DataFrame:
    """All PQ subspace codes as ONE Arrow map stage (guide §4): replaces
    ``n_sub`` interpreted ``_pq_code`` projections (HOFs are
    CodegenFallback — the r14 stage attribution put the scan's 1.3 s
    almost entirely there, OPTIMIZATION_r14.md wave 3). Passes every other
    column of ``frame`` through untouched and appends ``c0..c{n_sub-1}``
    (int, same values as the expression form — semantics pinned in
    :func:`_make_codes_matrix`). ``strict_len=True`` with one whole-vector
    book is the k-means cell assignment (``_dist2`` argmin). Plan shape: a
    single ``MapInArrow`` over whatever partitioning the input already has
    — no shuffle, no BatchEvalPython."""
    n_sub = len(books)
    keep = [c for c in frame.columns if c != vec_col]
    schema_fields = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in frame.schema.fields
        if f.name != vec_col
    ]
    if keep_vec:
        vt = frame.schema[vec_col].dataType.simpleString()
        schema_fields.append(f"{vec_col} {vt}")
    out_schema = ", ".join(
        schema_fields + [f"c{s} int" for s in range(n_sub)]
    )
    src = kernel_input(frame, vec_col, *keep)
    out_names = keep + ([vec_col] if keep_vec else []) + [
        f"c{s}" for s in range(n_sub)
    ]

    codes_matrix = _make_codes_matrix(books, sub, strict_len)

    def gen(batches):
        import pyarrow as pa

        for rb in batches:
            vec, hn = kernel_columns(rb)
            codes, _, _ = codes_matrix(vec, hn)
            cols = [rb.column(c) for c in keep]
            if keep_vec:
                cols.append(vec)
            cols += [
                pa.array(codes[:, s], type=pa.int32()) for s in range(n_sub)
            ]
            yield pa.RecordBatch.from_arrays(cols, names=out_names)

    return src.mapInArrow(gen, out_schema)


def _lloyd_stats_arrow(
    frame: DataFrame,
    *,
    books: list[dict[int, list[float]]],
    sub: int,
    vec_col: str,
    strict_len: bool = False,
) -> list:
    """One Lloyd recompute round's (s, cluster, d) integer sufficient
    statistics via an Arrow partial-aggregation kernel — the vectorized
    replica of the expression round (assignment argmins + posexplode +
    groupBy sum/count), whose interpreted argmin HOFs and 64× row explode
    were the training round's entire 1.6 s (OPTIMIZATION_r14.md wave 3).

    Exactness: codes are bit-identical (:func:`_make_codes_matrix`);
    per-group sums are int64 over int64 (order-free); count parity
    includes NULL elements exactly as ``count(lit(1))`` over the explode
    did, and ``sm`` stays NULL for a group whose every element was NULL
    (slow rows only). A malformed row LONGER than dim raises, reproducing
    the expression form's ANSI ``element_at(_cls, s+1)`` out-of-bounds
    error on its phantom trailing dims.

    Returns the collected (s, cluster, d, sm, n) rows, same contract as
    the old ``.collect()``.
    """
    n_sub = len(books)
    dim = n_sub * sub
    kmax = max(len(b) for b in books)
    keys = [sorted(b) for b in books]
    src = kernel_input(frame, vec_col)

    codes_matrix = _make_codes_matrix(books, sub, strict_len)

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        SM = np.zeros((n_sub, kmax, sub), dtype=np.int64)
        N = np.zeros((n_sub, kmax, sub), dtype=np.int64)
        # (s, cluster, d) -> [sm, n, seen_nonnull] for slow-row elements
        slow: dict = {}
        for rb in batches:
            vec, hn = kernel_columns(rb)
            codes, fast, Xi = codes_matrix(vec, hn)
            fast_codes = codes[fast]
            for s in range(n_sub):
                W = Xi[:, s * sub : (s + 1) * sub]
                for ci, cid in enumerate(keys[s]):
                    mask = fast_codes[:, s] == cid
                    cnt = int(mask.sum())
                    if cnt:
                        SM[s, ci] += W[mask].sum(axis=0)
                        N[s, ci] += cnt
            for r in np.flatnonzero(~fast):
                vals = vec[int(r)].as_py()
                if vals is None:
                    continue  # NULL array explodes to nothing
                for j, qv in enumerate(vals):
                    if j >= dim:
                        raise ArithmeticError(
                            "[INVALID_ARRAY_INDEX_IN_ELEMENT_AT] phantom "
                            "trailing dim in PQ training (row longer than "
                            f"{dim}; ANSI-mode parity with the expression "
                            "form's element_at)"
                        )
                    s = j // sub
                    g = (s, int(codes[r, s]), j % sub)
                    ent = slow.setdefault(g, [0, 0, False])
                    ent[1] += 1
                    if qv is not None:
                        ent[0] += qv
                        ent[2] = True
        out_s: list[int] = []
        out_c: list[int] = []
        out_d: list[int] = []
        out_sm: list[int] = []
        out_sm_null: list[bool] = []
        out_n: list[int] = []
        for s in range(n_sub):
            for ci, cid in enumerate(keys[s]):
                for d in range(sub):
                    sm = int(SM[s, ci, d])
                    n = int(N[s, ci, d])
                    seen = n > 0
                    g = (s, cid, d)
                    if g in slow:
                        esm, en, eseen = slow.pop(g)
                        sm += esm
                        n += en
                        seen = seen or eseen
                    if n == 0:
                        continue
                    out_s.append(s)
                    out_c.append(cid)
                    out_d.append(d)
                    out_sm.append(sm)
                    out_sm_null.append(not seen)
                    out_n.append(n)
        for (s, cid, d), (esm, en, eseen) in sorted(slow.items()):
            out_s.append(s)
            out_c.append(cid)
            out_d.append(d)
            out_sm.append(esm)
            out_sm_null.append(not eseen)
            out_n.append(en)
        if out_s:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_s, type=pa.int32()),
                    pa.array(out_c, type=pa.int32()),
                    pa.array(out_d, type=pa.int32()),
                    pa.array(out_sm, mask=np.array(out_sm_null), type=pa.int64()),
                    pa.array(out_n, type=pa.int64()),
                ],
                names=["s", "cluster", "d", "sm", "n"],
            )

    return (
        src.mapInArrow(gen, "s int, cluster int, d int, sm bigint, n bigint")
        .groupBy("s", "cluster", "d")
        .agg(F.sum("sm").alias("sm"), F.sum("n").alias("n"))
        .collect()
    )


def kmeans_assignments(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 3,
    scale: int = 1000,
    keep_vec: bool = False,
) -> DataFrame:
    """Run ``n_iter`` Lloyd iterations; return (id, cluster) assignments.

    ``keep_vec=True`` also returns the quantized vector column ``q`` so
    downstream within-cluster work (e.g. semantic dedup) avoids a join
    back to the corpus.

    Init: the k points with the smallest ``md5(id)`` — deterministic,
    partition-independent, and a real-data init (k-means|| would be the
    production upgrade; the fit loop is identical).
    """
    # NULL vectors cannot be clustered — drop them at ingestion (a crash
    # here took down the whole fit on one corrupt row; null-fuzz finding)
    pts = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col), scale).alias("q")
    ).persist()

    assigned, _ = _lloyd(pts, k, n_iter)
    if assigned is None:
        # an empty corpus (routine for a day-partition at scale) yields an
        # empty assignment, not a crash on the missing init sample
        cols = ["vec_id", "q"] if keep_vec else ["vec_id"]
        return pts.select(*cols, F.lit(0).cast("int").alias("cluster"))
    out_cols = ["vec_id", "q", "cluster"] if keep_vec else ["vec_id", "cluster"]
    return assigned.select(*out_cols)


def _lloyd(
    pts: DataFrame, k: int, n_iter: int
) -> tuple[DataFrame | None, dict[int, list[float]]]:
    """The shared Lloyd loop over a quantized ``(vec_id, q)`` frame:
    md5-ordered real-data init, ``n_iter - 1`` recompute rounds, final
    assignment. Returns (assignments-with-q, final centroids); (None, {})
    on an empty frame. Centroid state stays driver-side (k×dim numbers)
    like MLlib; assignments stay fully distributed."""
    init_rows = (
        pts.orderBy(F.md5(F.col("vec_id").cast("string"))).limit(k).collect()
    )
    if not init_rows:
        return None, {}
    centroids = {
        cid: [float(v) for v in row["q"]] for cid, row in enumerate(init_rows)
    }
    dim = len(next(iter(centroids.values())))

    for _ in range(n_iter - 1):
        # assignment argmins + the dim-wide posexplode aggregate fused
        # into one Arrow partial-aggregation stage (r14): the interpreted
        # _dist2 argmin folds were the whole fit cost — emb_semantic_dedup's
        # adaptive-k fit read 16.1 s of its 19.0 s sf0.5 total
        # (tools/ab_semantic_dedup.py). strict_len keeps the whole-vector
        # hostile contract (ANY malformed vector, over-long included,
        # degrades to the smallest cid).
        stats = _lloyd_stats_arrow(
            pts, books=[centroids], sub=dim, vec_col="q", strict_len=True
        )
        new_c: dict[int, list[float]] = {}
        for r in stats:
            new_c.setdefault(r["cluster"], [0.0] * dim)[r["d"]] = (
                r["sm"] / r["n"]
            )
        # empty clusters keep their previous centroid
        centroids = {
            cid: new_c.get(cid, centroids[cid]) for cid in sorted(centroids)
        }

    assigned = pq_codes_arrow(
        pts,
        books=[centroids],
        sub=dim,
        vec_col="q",
        strict_len=True,
        keep_vec=True,
    ).withColumnRenamed("c0", "cluster")
    return assigned, centroids


def _lloyd_books_multi(
    frame: DataFrame,
    *,
    k: int,
    n_iter: int,
    n_sub: int,
    sub: int,
    vec_col: str = "q",
) -> list[dict[int, list[float]]] | None:
    """Train ``n_sub`` independent Lloyd codebooks — one per contiguous
    length-``sub`` slice of ``vec_col`` — with SHARED Spark jobs.

    Bit-identical to ``n_sub`` sequential :func:`_lloyd` calls over the
    slices (the r13 job-fusion optimization): the md5-ordered init does not
    depend on the slice, so every subspace draws the SAME k rows (ONE
    TakeOrdered job instead of n_sub); each recompute round evaluates all
    n_sub assignment argmins in one projection and aggregates all
    subspaces' (cluster, dim) integer sums in ONE groupBy job (posexplode
    of the full vector = the union of the n_sub slice explodes). Sums are
    exact bigint (order-free) and the sum/n division happens driver-side in
    the same order, so the returned books match the sequential fit exactly
    — property-tested in tests/test_timeseries_clustering.py.

    Returns the list of per-subspace codebooks, or None on an empty frame
    (the ``_lloyd`` ``(None, {})`` contract).
    """
    init_rows = (
        frame.orderBy(F.md5(F.col("vec_id").cast("string"))).limit(k).collect()
    )
    if not init_rows:
        return None
    books: list[dict[int, list[float]]] = [
        {
            cid: [float(v) for v in row[vec_col][s * sub : (s + 1) * sub]]
            for cid, row in enumerate(init_rows)
        }
        for s in range(n_sub)
    ]

    for _ in range(n_iter - 1):
        # assignment argmins + the 64× posexplode + groupBy, fused into one
        # Arrow partial-aggregation map stage (r14; was interpreted-HOF
        # argmin expressions — the whole training-round cost in
        # OPTIMIZATION_r14.md wave 3). Bit-identical stats: exact int64 sums,
        # count parity incl. NULL elements, ANSI element_at throw on
        # phantom trailing dims — see _lloyd_stats_arrow.
        stats = _lloyd_stats_arrow(
            frame, books=books, sub=sub, vec_col=vec_col
        )
        new_books: list[dict[int, list[float]]] = [{} for _ in range(n_sub)]
        for r in stats:
            if r["cluster"] is None:
                continue  # phantom trailing dims on a malformed row
            new_books[r["s"]].setdefault(r["cluster"], [0.0] * sub)[
                r["d"]
            ] = r["sm"] / r["n"]
        # empty clusters keep their previous centroid, per subspace
        books = [
            {
                cid: new_books[s].get(cid, books[s][cid])
                for cid in sorted(books[s])
            }
            for s in range(n_sub)
        ]
    return books


def pq_topk(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: int = 0,
    dim: int = 64,
    n_sub: int = 4,
    k: int = 8,
    n_iter: int = 2,
    scale: int = 1000,
    topk: int = 10,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI'11 — the billion-scale
    standard): the vector splits into ``n_sub`` subspaces, each gets its
    own ``k``-code Lloyd codebook, every vector encodes to ``n_sub`` small
    codes, and the query scans CODES with an asymmetric-distance (ADC)
    lookup table instead of raw floats — memory per vector drops from
    dim×4 bytes to n_sub codes, which is what makes billion-vector search
    fit in RAM.

    Determinism: codebooks train on integer-quantized subvectors (exact
    sums), the ADC table is k×n_sub doubles computed in one fixed fold
    order, and ties break on vec_id — the whole train→encode→scan
    pipeline restates in SQL exactly.
    """
    sub = dim // n_sub
    full = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col), scale).alias("qf"),
    ).persist()

    # one driver-side fetch of the query's full quantized vector (sliced
    # per subspace below, instead of re-collecting it n_sub times), with a
    # clear error when the id is absent from a non-empty corpus
    qrows = full.filter(F.col("vec_id") == query_id).take(1)
    if not qrows and not full.isEmpty():
        raise ValueError(
            f"query id {query_id!r} not found in {id_col!r} of the corpus"
        )
    qfull = [float(v) for v in qrows[0]["qf"]] if qrows else []

    # per-subspace codebooks (driver state k × sub), trained with SHARED
    # jobs — one init TakeOrdered + one stats groupBy per round for ALL
    # subspaces instead of n_sub sequential fits (bit-identical books;
    # r13 job fusion: the fixed training constant dominated bench wall)
    books = _lloyd_books_multi(
        full, k=k, n_iter=n_iter, n_sub=n_sub, sub=sub, vec_col="qf"
    )
    if books is None:
        full.unpersist()
        return full.select(
            "vec_id", F.lit(0.0).alias("adc")
        ).filter(F.lit(False))
    adc_terms = []
    for s in range(n_sub):
        cents = books[s]
        q0 = qfull[s * sub : (s + 1) * sub]
        # ADC lookup entries: ||q0_s - c||² in the SAME left-fold order the
        # oracle's list_sum uses (both are IEEE doubles → bit-identical)
        dist = {}
        for cid in sorted(cents):
            acc = 0.0
            for qi, ci in zip(q0, cents[cid]):
                d = qi - ci
                acc += d * d
            dist[cid] = acc
        lookup = F.create_map(
            *[
                x
                for cid in sorted(dist)
                for x in (F.lit(cid), F.lit(dist[cid]))
            ]
        )
        adc_terms.append(lookup[F.col(f"c{s}")])

    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t
    # codes are literal projections over the quantized corpus (Lloyd's final
    # step IS assignment with the final centroids), so the scan path is ONE
    # map-only pass + TakeOrdered — no n_sub-way join on vec_id, and the
    # corpus cache can be released (no leaked relations across repeated
    # queries in one session; the lazy result recomputes map-only if
    # re-materialized)
    result = (
        pq_codes_arrow(
            full.select("vec_id", "qf"), books=books, sub=sub, vec_col="qf"
        )
        .withColumn("adc", adc)
        .filter(F.col("vec_id") != query_id)
        .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
        .limit(topk)
        .select("vec_id", F.round("adc", 4).alias("adc"))
    )
    full.unpersist()
    return result


def ivfpq_topk(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    query_id: int = 0,
    dim: int = 64,
    n_sub: int = 4,
    k: int = 8,
    n_iter: int = 2,
    scale: int = 1000,
    nprobe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """IVF-PQ with residual encoding (Jégou et al., PAMI'11 §V — the
    composition billion-scale ANN actually deploys): a coarse quantizer
    partitions the corpus into cells, every vector PQ-encodes its
    RESIDUAL against its cell centroid (residuals concentrate near zero,
    so the same codebook capacity buys far more precision than raw-vector
    PQ), and a query probes only its ``nprobe`` nearest cells, ADC-scanning
    codes with a per-cell lookup table built from the QUERY's residual in
    that cell.

    Determinism discipline (all driver-hash-checkable):
    - cells are the corpus's own ``cell_col`` partitions (the same coarse
      quantizer ``emb_ivf_topk`` uses; a learned k-means coarse quantizer
      drops in without changing any later stage);
    - cell centroids snap to INTEGERS — floor(sum/count + 0.5) per dim on
      exact integer sums — so residuals are exact integers and the whole
      encode path reuses the quantized-Lloyd machinery;
    - probe ranking is pure integer L2 (no float anywhere);
    - PQ codebooks train per subspace over ALL residuals (global residual
      codebooks, the standard variant) with the shared ``_lloyd`` loop;
    - ADC tables are computed driver-side in the same left-fold order the
      oracle's ``list_sum`` uses, keyed (cell, code) since the query
      residual differs per probed cell.

    Scale shape: one posexplode aggregate for centroids (cells × dim
    rows), a broadcast join for residuals, ``n_sub`` Lloyd fits (each
    driver state k × sub), then a map-only ADC projection + TakeOrdered
    over the probed cells — no shuffle on the candidate path; every
    collect is O(cells × dim) or O(k × sub) metadata.
    """
    sub = dim // n_sub
    # a row with no vector or no cell cannot live in an IVF index —
    # drop both classes at ingestion (NULL cells poisoned the centroid
    # key space and crashed probe ranking; null-fuzz finding)
    pts = df.filter(
        F.col(vec_col).isNotNull() & F.col(cell_col).isNotNull()
    ).select(
        F.col(id_col).alias("vec_id"),
        F.col(cell_col).alias("cell"),
        quantize_vec(F.col(vec_col), scale).alias("qf"),
    ).persist()

    # integer cell centroids from exact integer sums (cells × dim rows)
    cstats = (
        pts.select("cell", F.posexplode("qf").alias("dim", "qv"))
        .groupBy("cell", "dim")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not cstats:
        pts.unpersist()
        return pts.select(
            "vec_id", "cell", F.lit(0.0).alias("adc")
        ).filter(F.lit(False))
    import math as _math

    cent_int: dict[int, list[int]] = {}
    for r in cstats:
        cent_int.setdefault(r["cell"], [0] * dim)[r["dim"]] = int(
            _math.floor(r["s"] / r["n"] + 0.5)
        )

    qrows = pts.filter(F.col("vec_id") == query_id).take(1)
    if not qrows:
        raise ValueError(
            f"query id {query_id!r} not found in {id_col!r} of the corpus"
        )
    q0 = [int(v) for v in qrows[0]["qf"]]

    # probe: nprobe nearest cells by exact integer L2, ties to smaller cell
    probes = sorted(
        cent_int,
        key=lambda c: (
            sum((a - b) * (a - b) for a, b in zip(q0, cent_int[c])),
            c,
        ),
    )[:nprobe]

    # integer residuals vs the OWN cell's integer centroid
    cents_df = local_frame(
        pts.sparkSession,
        [(c, v) for c, v in sorted(cent_int.items())],
        "cell int, cvec array<bigint>",
    )
    res = pts.join(F.broadcast(cents_df), "cell").select(
        "vec_id",
        "cell",
        F.zip_with("qf", "cvec", lambda a, b: a - b).alias("r"),
    ).persist()

    # per-subspace global residual codebooks (training collects only the
    # k × sub centroid state; the assignment frames are discarded — final
    # codes are recomputed below as map-only expressions, which is exact
    # because Lloyd's last step IS assignment with these same centroids).
    # All n_sub fits share jobs (_lloyd_books_multi, bit-identical books;
    # r13 job fusion — training constants dominated bench wall)
    books = _lloyd_books_multi(
        res, k=k, n_iter=n_iter, n_sub=n_sub, sub=sub, vec_col="r"
    )
    if books is None:  # unreachable: qrows above proved res non-empty
        books = [{} for _ in range(n_sub)]
    # the first fit materialized ``res``; nothing re-reads the raw corpus
    pts.unpersist()

    # ADC lookup per (probed cell, subspace, code), driver-side in the
    # oracle's left-fold order
    def _adc_table(cell: int, s: int) -> dict[int, float]:
        rq = [
            q0[i] - cent_int[cell][i]
            for i in range(s * sub, (s + 1) * sub)
        ]
        out = {}
        for cid in sorted(books[s]):
            acc = 0.0
            for a, b in zip(rq, books[s][cid]):
                d = a - b
                acc += d * d
            out[cid] = acc
        return out

    def _lookup(cell: int, s: int) -> Column:
        tab = _adc_table(cell, s)
        m = F.create_map(
            *[x for cid in sorted(tab) for x in (F.lit(cid), F.lit(tab[cid]))]
        )
        return m[F.col(f"c{s}")]

    # candidate scan: probed cells only; codes + per-cell ADC are pure
    # projections (literal codebooks and maps), so the whole candidate
    # path is ONE map-only pass over the cached residuals + TakeOrdered —
    # zero joins, zero shuffles (plan-asserted in test_plan_quality.py)
    cand = pq_codes_arrow(
        res.filter(F.col("cell").isin([int(c) for c in probes]))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", "cell", "r"),
        books=books,
        sub=sub,
        vec_col="r",
    )
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
    result = (
        cand.withColumn("adc", adc)
        .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
        .limit(topk)
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.round("adc", 4).alias("adc"),
        )
    )
    # release the residual cache before returning: no relations leak across
    # repeated queries in one session; if the caller materializes later the
    # candidate path recomputes as scan → broadcast-join → projection, still
    # shuffle-free (plan-asserted)
    res.unpersist()
    return result


def power_iteration_top_component(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rounds: int = 3,
) -> DataFrame:
    """Top principal direction of X·Xᵀ by power iteration, quantized so the
    unrolled computation is bit-reproducible and oracle-checkable — the
    PageRank integer-arithmetic discipline applied to linear algebra.

    Per round (v held in 2^20 "unit" scale, components in 1e5 units):
      s_r  = floor( Σ_j U_rj·V_j / 2^20 )          row projections
      w_j  = Σ_r s_r·U_rj                           back-projection
      w2_j = (w_j + 2^62) div 2^32 − 2^30           exact scale-down*
      v'_j = floor( w2_j·2^20 / ‖w2‖ + 0.5 )        renormalize

    (*) the +2^62 offset makes the dividend positive so truncating
    division IS floor division in every engine — signed integer division
    truncates toward zero in Spark but not necessarily elsewhere. All
    double intermediates stay below 2^53 (exact); divisions by powers of
    two are exact in doubles; sqrt/floor on identical doubles are
    bit-identical across engines.

    Scale shape: the quantized (row, dim, unit) triples are computed once
    and persisted (the loop invariant); each round is a broadcast join
    against the 64-row direction vector, one row-keyed and one dim-keyed
    aggregation (both map-side combined), and a tiny renormalization.
    Magnitude budget documented inline holds to ~10⁷ rows at 64 dims;
    beyond that raise the w scale-down.

    Returns ``(dim, v_unit)`` — the direction in 2^20-unit scale,
    one row per dimension (1-based).
    """
    M = 1 << 20
    OFF = 1 << 62
    DIV = 1 << 32

    flat = emb.select(
        F.col(id_col).alias("rid"),
        F.posexplode(
            F.transform(
                vec_col,
                lambda x: F.floor(
                    x.cast("double") * 100000 + F.lit(0.5)
                ).cast("long"),
            )
        ).alias("pos0", "uv"),
    ).select("rid", (F.col("pos0") + 1).alias("pos"), "uv")
    flat = flat.persist(StorageLevel.MEMORY_AND_DISK)

    v = (
        flat.select("pos")
        .distinct()
        .select("pos", F.lit(M).cast("long").alias("vv"))
    )
    ckpts = []
    for i in range(rounds):
        s = (
            flat.join(F.broadcast(v), "pos")
            .groupBy("rid")
            .agg(
                F.floor(
                    F.sum(F.col("uv") * F.col("vv")) / float(M)
                )
                .cast("long")
                .alias("s2")
            )
        )
        w = (
            flat.join(s, "rid")
            .groupBy("pos")
            .agg(F.sum(F.col("s2") * F.col("uv")).alias("w"))
        )
        w2 = w.select(
            "pos",
            (
                F.expr(f"(w + {OFF}L) div {DIV}L") - F.lit(OFF // DIV)
            ).alias("w2"),
        )
        nrm = w2.agg(
            F.sqrt(
                F.sum(F.col("w2") * F.col("w2")).cast("double")
            ).alias("nrm")
        )
        v = (
            w2.crossJoin(F.broadcast(nrm))
            .select(
                "pos",
                F.floor(
                    (F.col("w2") * M) / F.col("nrm") + F.lit(0.5)
                )
                .cast("long")
                .alias("vv"),
            )
        )
        v = v.localCheckpoint(eager=(i == rounds - 1))
        ckpts.append(v)
    # the eager final round materialized the lazy ones before it
    for r in ckpts[:-1]:
        release(r)
    flat.unpersist()
    return v.select(F.col("pos").alias("dim"), F.col("vv").alias("v_unit"))
