"""Unit behaviors for the timeseries (gapfill/LOCF) and clustering operators.

Value parity vs DuckDB runs through `tests/test_oracle_parity.py`
(events_hourly_gapfill_locf, emb_kmeans_clusters, docs_sequence_packing);
these tests pin semantics the fixtures can't discriminate.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_engineering_project_spark.operators import timeseries as TS
from data_engineering_project_spark.operators.clustering import kmeans_assignments


def _ts(h: int) -> datetime.datetime:
    return datetime.datetime(2022, 1, 1, h)


def test_locf_carries_last_value_and_leaves_leading_nulls(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", h=_ts(0), v=None),
            Row(k="a", h=_ts(1), v=10.0),
            Row(k="a", h=_ts(2), v=None),
            Row(k="a", h=_ts(3), v=30.0),
            Row(k="b", h=_ts(0), v=None),  # other series must not leak in
        ]
    )
    out = {
        (r["k"], r["h"].hour): r["filled"]
        for r in df.select(
            "k", "h", TS.locf("v", ["k"], "h").alias("filled")
        ).collect()
    }
    assert out[("a", 0)] is None  # nothing to carry yet
    assert out[("a", 1)] == 10.0
    assert out[("a", 2)] == 10.0  # carried
    assert out[("a", 3)] == 30.0
    assert out[("b", 0)] is None  # partition isolation


def test_bucket_spine_dense_over_global_range(spark):
    df = spark.createDataFrame(
        [Row(k="a", h=_ts(0)), Row(k="a", h=_ts(5)), Row(k="b", h=_ts(2))]
    )
    spine = TS.bucket_spine(df, ["k"], "h")
    assert spine.count() == 2 * 6  # 2 keys × hours 0..5
    per_key = spine.groupBy("k").count().collect()
    assert all(r["count"] == 6 for r in per_key)


def test_kmeans_deterministic_across_partitioning(spark):
    import random

    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows)
    a1 = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assignments(
            df.repartition(1), k=4, n_iter=3
        ).collect()
    }
    a2 = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assignments(
            df.repartition(11, "vec_id"), k=4, n_iter=3
        ).collect()
    }
    assert a1 == a2  # hash init + integer sums: partitioning-independent
    assert set(a1.values()) == set(range(4))  # all clusters populated


def test_kmeans_iterations_reduce_objective(spark):
    import random

    rng = random.Random(11)
    # two well-separated blobs: one iteration must already separate them,
    # and more iterations never mix them back
    rows = [
        Row(
            vec_id=i,
            embedding=[
                (5.0 if i % 2 else -5.0) + rng.uniform(-0.5, 0.5)
                for _ in range(4)
            ],
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)
    assigned = kmeans_assignments(df, k=2, n_iter=3)
    joined = assigned.join(df, "vec_id")
    purity = (
        joined.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("vec_id") % 2).cast("int")).alias("odd"),
        )
        .collect()
    )
    for r in purity:
        assert r["odd"] in (0, r["n"])  # each cluster is pure one blob


def test_bucket_spine_refuses_absurd_ranges_loudly(spark):
    """One corrupt timestamp (year 1582 or 9999) must NOT densify into a
    tens-of-millions-slot sequence that OOMs the executor — the
    hostile-time sweep killed the JVM exactly that way. Beyond max_slots
    the spine raises a clear USER_RAISED_EXCEPTION naming the range."""
    import datetime as dt

    import pytest

    df = spark.createDataFrame(
        [("a", dt.datetime(1582, 10, 4)), ("a", dt.datetime(9999, 12, 30))],
        "k string, h timestamp",
    )
    with pytest.raises(Exception, match="bucket_spine.*max_slots"):
        TS.bucket_spine(df, ["k"], "h").count()
    # a deliberate widen still works: daily steps fit the same range in
    # ~3.1M slots (step*max_slots must stay inside interval arithmetic —
    # an absurd combo overflows, which is also a loud refusal, not an OOM)
    wide = TS.bucket_spine(
        df, ["k"], "h", step="INTERVAL 1 DAY", max_slots=4_000_000
    )
    assert wide.count() > 2_000_000


def test_bucket_spine_empty_input_yields_empty_spine(spark):
    """Empty (and all-NULL-bucket) input must produce an EMPTY spine by
    construction — the NULL bounds take the explicit NULL arm of the
    guard, never the raise_error branch (ADVICE r10: previously that
    depended on optimizer null-propagation, not an explicit guard)."""
    empty = spark.createDataFrame([], "k string, h timestamp")
    assert TS.bucket_spine(empty, ["k"], "h").count() == 0
    allnull = spark.createDataFrame([("a", None)], "k string, h timestamp")
    assert TS.bucket_spine(allnull, ["k"], "h").count() == 0


def test_bucket_spine_max_slots_is_strict(spark):
    """Exactly max_slots slots pass; max_slots+1 refuses (the inclusive
    sequence() end previously let one extra slot through)."""
    import datetime as dt

    import pytest

    df = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 0)), ("a", dt.datetime(2024, 1, 1, 9))],
        "k string, h timestamp",
    )  # dense range = 10 hourly slots
    assert TS.bucket_spine(df, ["k"], "h", max_slots=10).count() == 10
    with pytest.raises(Exception, match="bucket_spine.*max_slots"):
        TS.bucket_spine(df, ["k"], "h", max_slots=9).count()


def test_bucket_spine_max_slots_exact_on_unaligned_span(spark):
    """A span that is not a multiple of step must not be falsely refused:
    step 1h over a 9.5h span yields exactly 10 slots, so max_slots=10
    passes and max_slots=9 refuses (ADVICE r11: the old conservative
    bound lo + step*(max_slots-1) >= hi raised on this legal range)."""
    import datetime as dt

    import pytest

    df = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1, 0, 0)),
            ("a", dt.datetime(2024, 1, 1, 9, 30)),
        ],
        "k string, h timestamp",
    )  # sequence(00:00, 09:30, 1h) -> 00:00..09:00 = 10 slots
    assert TS.bucket_spine(df, ["k"], "h", max_slots=10).count() == 10
    with pytest.raises(Exception, match="bucket_spine.*max_slots"):
        TS.bucket_spine(df, ["k"], "h", max_slots=9).count()


def test_lloyd_books_multi_matches_sequential_subspace_fits(spark):
    """The fused multi-subspace trainer (r13 job fusion) must return
    BIT-IDENTICAL codebooks to n_sub sequential _lloyd calls over the
    slices — the equivalence the PQ/IVF-PQ oracle hashes rest on."""
    import random

    from data_engineering_project_spark.operators.clustering import (
        _lloyd,
        _lloyd_books_multi,
    )

    rng = random.Random(7)
    dim, n_sub, k, n_iter = 8, 4, 3, 3
    sub = dim // n_sub
    rows = [
        (i, [rng.randint(-1000, 1000) for _ in range(dim)]) for i in range(60)
    ]
    frame = spark.createDataFrame(rows, "vec_id long, q array<bigint>")

    seq_books = []
    for s in range(n_sub):
        pts = frame.select(
            "vec_id", F.slice("q", s * sub + 1, sub).alias("q")
        )
        _, cents = _lloyd(pts, k, n_iter)
        seq_books.append(cents)

    multi = _lloyd_books_multi(
        frame, k=k, n_iter=n_iter, n_sub=n_sub, sub=sub, vec_col="q"
    )
    assert multi == seq_books  # exact float equality, not approx

    # empty-frame contract matches _lloyd's (None, {})
    empty = frame.filter(F.lit(False))
    assert (
        _lloyd_books_multi(
            empty, k=k, n_iter=n_iter, n_sub=n_sub, sub=sub, vec_col="q"
        )
        is None
    )


def test_pq_codes_arrow_matches_expression_on_hostile_frame(spark):
    """The Arrow codes kernel (pq_codes_arrow) must reproduce the
    expression-form _pq_code on every hostile row class: NULL vector,
    short array (whole and partial subspace windows), NULL elements,
    over-long rows, empty arrays, ties — pinned empirically (ANSI
    session: a malformed window nulls every candidate distance and
    array_min orders NULL-d structs first, degrading the code to the
    smallest cid)."""
    import random

    from data_engineering_project_spark.operators.clustering import (
        _pq_code,
        pq_codes_arrow,
    )

    books = [
        {0: [0.0, 0.0], 1: [10.0, 10.0]},
        {0: [5.0, 5.0], 1: [0.0, 1.0]},
    ]
    rng = random.Random(11)
    rows = [
        (1, [0, 0, 0, 1]),
        (2, None),
        (3, [0, 0]),
        (4, [0, None, 0, 1]),
        (5, [0, 0, 0, 1, 99, 99]),
        (6, []),
        (7, [0, 0, 0]),
        (8, [11, 11, 0, 1]),
        (9, [None, None, None, None]),
        (10, [5, 5, 5, 5]),  # equidistant tie in s=1 -> smaller cid
    ] + [
        (100 + i, [rng.randint(-20, 20) for _ in range(4)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, q array<bigint>")
    expr = sorted(
        tuple(r)
        for r in df.select(
            "vec_id",
            *[
                _pq_code(F.col("q"), s, 2, books[s]).alias(f"c{s}")
                for s in range(2)
            ],
        ).collect()
    )
    arrow = sorted(
        tuple(r)
        for r in pq_codes_arrow(
            df, books=books, sub=2, vec_col="q"
        ).collect()
    )
    assert expr == arrow


def test_pq_codes_arrow_strict_len_matches_dist2_argmin_on_hostile_frame(
    spark,
):
    """pq_codes_arrow(strict_len=True) is the k-means cell assignment
    (the build's final step and the IVF append). It must reproduce the
    whole-vector expression argmin — a (_dist2, cid) struct array_min
    over the centroids — on every hostile row class: a NULL vector, a
    short row, an over-long row (the centroid side pads, so it also
    degrades to the smallest cid) and a NULL element."""
    from data_engineering_project_spark.operators.clustering import (
        _dist2,
        pq_codes_arrow,
    )

    cents = {0: [0.0, 0.0, 0.0], 1: [10.0, 10.0, 10.0], 2: [20.0, 20.0, 20.0]}
    rows = [
        (1, [9, 9, 9]),
        (2, None),
        (3, [10, 10]),  # short
        (4, [10, 10, 10, 10]),  # over-long
        (5, [10, None, 10]),  # NULL element
        (6, []),
        (7, [15, 15, 15]),  # equidistant from cells 1 and 2 -> smaller cid
        (8, [19, 21, 20]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, q array<bigint>")
    expr_cell = F.array_min(
        F.array(
            *[
                F.struct(
                    _dist2(F.col("q"), cents[cid]).alias("d"),
                    F.lit(cid).alias("cid"),
                )
                for cid in sorted(cents)
            ]
        )
    ).getField("cid")
    expr = sorted(
        tuple(r) for r in df.select("vec_id", expr_cell.alias("c0")).collect()
    )
    arrow = sorted(
        tuple(r)
        for r in pq_codes_arrow(
            df, books=[cents], sub=3, vec_col="q", strict_len=True
        ).collect()
    )
    assert expr == arrow
    got = dict(arrow)
    assert got[1] == 1 and got[7] == 1 and got[8] == 2
    assert got[2] == got[3] == got[4] == got[5] == got[6] == 0


def test_lloyd_stats_arrow_matches_expression_stats(spark):
    """The Arrow training-stats kernel must reproduce the old
    posexplode+groupBy round bit-for-bit (sums, counts incl. NULL
    elements, group set) on a frame mixing well-formed and malformed
    rows — and raise on a row longer than dim exactly where the ANSI
    element_at would."""
    import pytest

    from data_engineering_project_spark.operators.clustering import (
        _lloyd_stats_arrow,
        _pq_code,
    )

    books = [
        {0: [0.0, 0.0], 1: [10.0, 10.0]},
        {0: [5.0, 5.0], 1: [0.0, 1.0]},
    ]
    rows = [
        (1, [0, 0, 0, 1]),
        (2, None),
        (3, [0, 0]),
        (4, [0, None, 0, 1]),
        (6, []),
        (7, [0, 0, 0]),
        (8, [11, 11, 0, 1]),
        (10, [5, 5, 5, 5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, q array<bigint>")
    cls = F.array(*[_pq_code(F.col("q"), s, 2, books[s]) for s in range(2)])
    s_col = F.floor(F.col("dim") / 2).cast("int")
    old = (
        df.select(F.col("q").alias("_v"), cls.alias("_cls"))
        .select("_cls", F.posexplode("_v").alias("dim", "qv"))
        .select(
            s_col.alias("s"),
            F.element_at(F.col("_cls"), s_col + 1).alias("cluster"),
            (F.col("dim") % 2).alias("d"),
            "qv",
        )
        .groupBy("s", "cluster", "d")
        .agg(F.sum("qv").alias("sm"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    new = _lloyd_stats_arrow(df, books=books, sub=2, vec_col="q")
    as_t = lambda rs: sorted(
        (r["s"], r["cluster"], r["d"], r["sm"], r["n"]) for r in rs
    )
    assert as_t(old) == as_t(new)

    long_df = spark.createDataFrame(
        [(5, [0, 0, 0, 1, 99, 99])], "vec_id long, q array<bigint>"
    )
    with pytest.raises(Exception, match="ELEMENT_AT"):
        _lloyd_stats_arrow(long_df, books=books, sub=2, vec_col="q")
