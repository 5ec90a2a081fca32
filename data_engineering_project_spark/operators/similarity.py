"""Embedding similarity-search operators.

Brute-force cosine top-k is the exact baseline (a map-only scan when the
query side is broadcast — linear in corpus size, embarrassingly parallel).
The scale path is LSH: random-hyperplane sign bits bucket the vectors so
candidate generation is a hash-partitioned equi-join on the bucket key
instead of an all-pairs cross join.

Two forms of every score live here:

- the expression form (:func:`dot`, :func:`norm`, :func:`cosine`,
  :func:`topk_cosine`, :func:`lsh_bucket`): ``zip_with``/``aggregate``
  folds over ``array<float>`` cast to double, evaluated on the JVM. These
  are the references the tests compare against, and the probe rankings
  over a handful of centroids still use them;
- the Arrow kernels (:func:`score_cosine_pairs_vectorized`,
  :func:`lsh_buckets_vectorized`, :func:`blocked_cosine_pairs`): numpy
  over whole Arrow batches or blocks, on the shared contract in
  ``operators/kernels.py`` (the same left fold, so the same doubles, and
  the same NULL/NaN/ANSI rules on hostile rows).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_project_spark.operators.kernels import (
    kernel_columns,
    kernel_input,
    left_fold,
    masked_float64,
    matrix,
    raise_divide_by_zero,
    row_lengths,
    split_rows,
)


def finite_vector(col: Column) -> Column:
    """TRUE iff the vector is non-NULL and every element is a finite
    non-NULL float.

    The similarity operators' poisoned-vector guard (round-10 hostile-
    numeric sweep): a NaN/inf element makes the cosine NaN, and the
    engines disagree on where NaN ranks in a top-k window — so poisoned
    vectors are EXCLUDED at the operator, exactly like the NULL-vector
    exclusions the NULL-fuzz round established. SQL twin: the
    ``list_bool_and(list_transform(..., isfinite))`` predicate inlined in
    the query oracles. Empty arrays pass on both sides (Spark ``forall``
    over [] is TRUE; the twin COALESCEs DuckDB's NULL fold to TRUE)."""
    inf = float("inf")
    return col.isNotNull() & F.forall(
        col,
        lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) < F.lit(inf)),
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with double accumulation (left-to-right, deterministic)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_cosine(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """Exact top-k by cosine against a (tiny, broadcast) query side.

    ORDER BY score DESC with the id as tie-break keeps results deterministic.
    Spark's sort+limit executes as a distributed TakeOrdered — only k rows
    per partition survive the shuffle, so this holds at any corpus size.
    """
    scored = corpus.crossJoin(F.broadcast(query)).select(
        id_col,
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def score_cosine_pairs_vectorized(
    joined: DataFrame,
    *,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    keep_cols: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """Row-pair cosine scorer: ``keep_cols + (cosine,)`` per input row,
    scoring ``vec_col`` against the same row's ``query_vec_col`` — a
    broadcast single query (crossJoin against a 1-row query side) or one
    query per row (the kernel of a batched kNN join) alike. One numpy pass
    per Arrow batch (``mapInArrow``) instead of interpreted higher-order
    functions (Catalyst doesn't codegen ``aggregate``/``zip_with`` lambdas
    — they evaluate row-at-a-time on the JVM).

    Bit-exact with :func:`cosine`: dot and both norms are the strict left
    fold of ``operators/kernels.py``, the order of ``F.aggregate(...,
    acc + x)`` and of the SQL oracle's ``list_sum`` (asserted in
    tests/test_similarity.py). The cosine is NULL for a NULL, ragged or
    empty row, a NULL query, and wherever the IEEE cosine is NaN.

    Passthrough column types are taken from the input (a hardcoded
    ``long`` would silently miscast int/string ids).
    """

    def batches(it):
        import numpy as np
        import pyarrow as pa

        for rb in it:
            v, q = rb.column(vec_col), rb.column(query_vec_col)
            lv, lq = row_lengths(v), row_lengths(q)
            ok = (lv == lq) & (lv > 0)
            cos = np.full(rb.num_rows, np.nan)
            with np.errstate(all="ignore"):
                # rows of one length stack into one matrix pair
                for dim in np.unique(lv[ok]):
                    rows = np.flatnonzero(ok & (lv == dim))
                    V, Q = matrix(v, rows, dim), matrix(q, rows, dim)
                    n = len(rows)
                    dots = left_fold((x * y for x, y in zip(V.T, Q.T)), n)
                    nv = np.sqrt(left_fold((x * x for x in V.T), n))
                    nq = np.sqrt(left_fold((x * x for x in Q.T), n))
                    cos[rows] = dots / (nv * nq)
            # NaN reads NULL: a NULL or NaN element, an all-zero vector
            # (0/0) and inf/inf all score NULL, the oracle's contract here
            # (finite_vector guards keep such rows out of the catalog)
            yield pa.RecordBatch.from_arrays(
                [rb.column(c) for c in keep_cols]
                + [masked_float64(cos, np.isnan(cos))],
                names=[*keep_cols, "cosine"],
            )

    fields = ", ".join(
        f"{c} {joined.schema[c].dataType.simpleString()}" for c in keep_cols
    )
    narrowed = joined.select(*keep_cols, vec_col, query_vec_col)
    return narrowed.mapInArrow(batches, f"{fields}, cosine double")


def topk_cosine_vectorized(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """Bit-exact vectorized twin of :func:`topk_cosine`.

    Same shape (broadcast crossJoin → map-only scoring → distributed
    TakeOrdered); the batch scorer is :func:`score_cosine_pairs_vectorized`.
    """
    joined = corpus.crossJoin(F.broadcast(query))
    scored = score_cosine_pairs_vectorized(
        joined,
        vec_col=vec_col,
        query_vec_col=query_vec_col,
        keep_cols=(id_col,),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG so the
    plan is reproducible without numpy on the executors — planes are plan
    literals, generated driver-side once)."""
    state = seed & 0x7FFFFFFF or 1
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            # Park-Miller LCG → uniform(-1, 1)
            state = (state * 48271) % 2147483647
            v.append(state / 2147483647.0 * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket(vec: Column, dim: int, n_planes: int = 16, seed: int = 42) -> Column:
    """Random-hyperplane (SimHash for vectors) bucket key: the sign bit of
    the projection onto each plane, concatenated into a string key.

    Vectors with high cosine similarity collide with probability
    (1 - θ/π)^n_planes — candidate pairs come from a groupBy/equi-join on
    this key, turning O(n²) scoring into a per-bucket problem.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    bits = [
        F.when(dot(vec, F.array(*[F.lit(x) for x in plane])) >= 0, "1").otherwise("0")
        for plane in planes
    ]
    return F.concat(*bits)


def blocked_cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str,
    dim: int,
) -> DataFrame:
    """Within-block all-pairs exact cosine (``id_a < id_b``) — the shared
    quadratic pair stage behind the label-blocked dedup queries and the
    LSH candidate scorer.

    Each block ships ONCE through Arrow (``applyInArrow``) — n rows of
    ``dim`` floats, not O(n²) pair rows — and the kernel emits the pair
    triangle from numpy. The per-pair dot accumulates rank-1 updates in
    dimension order (the ``left_fold`` of ``operators/kernels.py``), the
    identical strict left fold the ``zip_with``+``aggregate`` expression
    evaluates, so every IEEE double is bit-identical (NaN/inf included).
    The plan is a plain block-keyed exchange + FlatMapGroupsInArrow.

    Fold-semantics contract on hostile rows, reproduced exactly
    (tests/test_similarity.py::
    test_blocked_pairs_match_cosine_fold_on_hostile_frame):

    - NULL vector, or any NULL ELEMENT in either side → cosine NULL (the
      fold's NULL product poisons the dot AND that side's norm);
    - length mismatch → NULL (``zip_with`` pads the shorter side);
    - two equally SHORT arrays → the shorter fold's real value;
    - NaN/inf elements → IEEE propagation, bit-identical in numpy;
    - a pair whose norm product is EXACTLY 0.0 with a non-NULL dot (two
      empty arrays, or two equal-length all-zero vectors) → the kernel
      RAISES, reproducing ANSI-mode Spark's loud DIVIDE_BY_ZERO on the
      expression paths.

    NaN survives the boundary as a VALUE (Spark ranks NaN above every
    double, so ``NaN >= threshold`` is TRUE while ``NULL >= t`` drops the
    row).

    Returns ``(id_a, id_b, <block_col>, cosine)``. Rows with a NULL id or
    NULL block emit no pairs (the old join's ``<``/``=`` semantics).
    """
    id_t = df.schema[id_col].dataType.simpleString()
    blk_t = df.schema[block_col].dataType.simpleString()
    out_schema = (
        f"id_a {id_t}, id_b {id_t}, {block_col} {blk_t}, cosine double"
    )

    src = kernel_input(
        df.filter(F.col(block_col).isNotNull() & F.col(id_col).isNotNull()),
        vec_col,
        F.col(id_col).alias("_id"),
        block_col,
    )
    # explicit-count repartition on the block key: the shuffle's BYTES are
    # tiny while per-block work is quadratic CPU — AQE's byte-advisory
    # coalescing would collapse the python workers onto one task. The
    # group clustering below reuses this exact partitioning (no second
    # exchange).
    src = src.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(block_col)
    )

    def score_block(tbl: "pa.Table") -> "pa.Table":
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        ids = tbl.column("_id").combine_chunks()
        names = ["id_a", "id_b", block_col, "cosine"]
        if tbl.num_rows < 2:
            empty = [ids[:0], ids[:0], tbl.column(block_col)[:0]]
            return pa.Table.from_arrays(
                empty + [masked_float64([], [])], names=names
            )
        blk0 = tbl.column(block_col)[0]

        # sort by id so emitted pairs are (smaller id, larger id) — the
        # old join's id_a < id_b orientation (cosine itself is symmetric
        # bit-for-bit: per-element products commute, fold order is by
        # dimension on both orientations)
        order = pc.sort_indices(ids)
        ids = ids.take(order)
        vec, hn = kernel_columns(tbl)
        vec = vec.take(order)
        hn = hn[order.to_numpy(zero_copy_only=False)]
        fast, X, lens = split_rows(vec, dim, hn)

        pos_i: list = []
        pos_j: list = []
        cos_v: list = []
        cos_null: list = []

        fast_idx = np.flatnonzero(fast)
        k = len(fast_idx)
        if k >= 2:
            with np.errstate(all="ignore"):
                nrm = np.sqrt(left_fold((x * x for x in X.T), k))
                # chunk the pair triangle so acc stays ~64 MB
                cs = max(1, min(k, (1 << 23) // k))
                for r0 in range(0, k - 1, cs):
                    r1 = min(r0 + cs, k - 1)
                    A = X[r0:r1]
                    P = X[r0 + 1 :]
                    acc = left_fold(
                        (A[:, d, None] * P[None, :, d] for d in range(dim)),
                        (r1 - r0, P.shape[0]),
                    )
                    den = nrm[r0:r1][:, None] * nrm[r0 + 1 :][None, :]
                    cos = acc / den
                    mask = (
                        np.arange(P.shape[0])[None, :]
                        >= np.arange(r1 - r0)[:, None]
                    )
                    li, lj = np.nonzero(mask)
                    if (den[li, lj] == 0.0).any():
                        raise_divide_by_zero("blocked_cosine_pairs")
                    pos_i.append(fast_idx[r0 + li])
                    pos_j.append(fast_idx[r0 + 1 + lj])
                    cos_v.append(cos[li, lj])
                    cos_null.append(np.zeros(len(li), dtype=bool))

        slow_idx = np.flatnonzero(~fast)
        if len(slow_idx):
            s_i: list = []
            s_j: list = []
            s_v: list = []

            def _pair(a: int, b: int) -> None:
                # fold value for a pair where at least one side is slow
                # (None: the fold is NULL)
                s_i.append(a)
                s_j.append(b)
                if lens[a] < 0 or lens[a] != lens[b] or hn[a] or hn[b]:
                    s_v.append(None)
                    return
                u = np.asarray(vec[a].as_py(), dtype=np.float64)
                w = np.asarray(vec[b].as_py(), dtype=np.float64)
                with np.errstate(all="ignore"):
                    den = np.sqrt(left_fold(u * u)) * np.sqrt(left_fold(w * w))
                    if den == 0.0:
                        raise_divide_by_zero("blocked_cosine_pairs")
                    s_v.append(float(left_fold(u * w) / den))

            for s in slow_idx:
                for t in range(int(s) + 1, len(lens)):
                    _pair(int(s), t)
                # fast partners BEFORE s (slow partners < s were covered
                # when that smaller slow row iterated)
                for t in fast_idx[fast_idx < s]:
                    _pair(int(t), int(s))
            pos_i.append(np.asarray(s_i, dtype=np.int64))
            pos_j.append(np.asarray(s_j, dtype=np.int64))
            cos_v.append(np.asarray([np.nan if c is None else c for c in s_v]))
            cos_null.append(np.asarray([c is None for c in s_v], dtype=bool))

        pi = np.concatenate(pos_i)
        pj = np.concatenate(pos_j)
        cv = np.concatenate(cos_v)
        cn = np.concatenate(cos_null)
        id_a = ids.take(pa.array(pi))
        id_b = ids.take(pa.array(pj))
        # the old join's STRICT id_a < id_b drops duplicate-id pairs
        neq = pc.not_equal(id_a, id_b)
        if not pc.all(neq).as_py():
            keep = neq.to_numpy(zero_copy_only=False).astype(bool)
            id_a = id_a.filter(neq)
            id_b = id_b.filter(neq)
            cv = cv[keep]
            cn = cn[keep]
        return pa.Table.from_arrays(
            [id_a, id_b, pa.repeat(blk0, len(cv)), masked_float64(cv, cn)],
            names=names,
        )

    return src.groupBy(block_col).applyInArrow(score_block, out_schema)


def lsh_buckets_vectorized(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """``(id, bucket)`` — the per-row :func:`lsh_bucket` expression as one
    numpy matmul per Arrow batch (``mapInArrow``), with the same buckets on
    every row class:

    - NULL vector, length ≠ ``dim``, or a NULL ELEMENT → bucket
      ``'0' * n_planes``: ``zip_with`` pads/propagates NULL, the dot folds
      to NULL, and ``when(NULL >= 0)`` emits '0' for every plane.
    - A NaN element (or inf−inf overflow) makes the projection NaN, and
      Spark's ``NaN >= 0`` is TRUE (NaN sorts above every double) — so
      NaN projections read bit '1'.
    - Well-formed rows take one matmul. BLAS summation order can differ
      from the expression form's strict left fold by ~1 ulp, which only
      matters when it flips the SIGN — so projections within a relative
      epsilon of zero (|p| ≤ 1e-9·Σ|xᵢpᵢ|) are recomputed with the exact
      fold before the sign is read.

    The id column keeps its input type.
    """
    planes = _hyperplanes(dim, n_planes, seed)  # captured by value

    def batches(it):
        import numpy as np
        import pyarrow as pa

        plane_mat = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
        for rb in it:
            vec, hn = kernel_columns(rb)
            fast, X, _ = split_rows(vec, dim, hn)
            with np.errstate(all="ignore"):
                proj = X @ plane_mat  # (n_fast, n_planes)
                scale = np.abs(X) @ np.abs(plane_mat)
                for ri, pi in zip(*np.nonzero(np.abs(proj) <= 1e-9 * scale)):
                    proj[ri, pi] = left_fold(X[ri] * plane_mat[:, pi])
            bits = np.zeros((rb.num_rows, n_planes), dtype=bool)
            bits[fast] = (proj >= 0) | np.isnan(proj)
            chars = np.where(bits, ord("1"), ord("0")).astype(np.uint8)
            buckets = pa.array(chars.view(f"S{n_planes}").ravel())
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col), buckets.cast(pa.string())],
                names=[id_col, "bucket"],
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return kernel_input(df, vec_col, id_col).mapInArrow(
        batches, f"{id_col} {id_type}, bucket string"
    )


def lsh_candidate_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs: bucket by LSH key, self-join within
    buckets (id_a < id_b), score exactly with cosine. The self-join shuffles
    both sides on the bucket key only — no cross join ever materializes.

    Bucketing is one numpy matmul per Arrow batch
    (:func:`lsh_buckets_vectorized` — the per-row ``lsh_bucket``
    expression folded n_planes interpreted dots per vector, and its
    512-literal plane tree dominated small-SF planning), joined back on the
    id; scoring runs through :func:`blocked_cosine_pairs`. Both kernels
    reproduce the expression form on every malformed row class (asserted
    in tests/test_similarity.py).
    """
    buckets = lsh_buckets_vectorized(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim,
        n_planes=n_planes, seed=seed,
    )
    bucketed = corpus.select(F.col(id_col), F.col(vec_col)).join(
        buckets, id_col
    )
    return blocked_cosine_pairs(
        bucketed, id_col=id_col, vec_col=vec_col, block_col="bucket", dim=dim
    ).select("id_a", "id_b", "cosine")
