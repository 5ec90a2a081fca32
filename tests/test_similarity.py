"""Similarity operators: the vectorized cosine scorer must be BIT-exact
against the expression path (operators/kernels.py:left_fold is the same
left fold in doubles as F.aggregate's acc+x), not merely approximately
equal — the SQL oracle hashes exact values after ROUND."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from data_engineering_project_spark.operators.similarity import (
    topk_cosine,
    topk_cosine_vectorized,
)


def _corpus(spark, n=200, dim=64, seed=7):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_vectorized_topk_is_bit_identical_to_expression_path(spark):
    e = _corpus(spark)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_embedding")
    )
    corpus = e.filter(F.col("vec_id") != 0)
    # compare FULL score sets (k = corpus size), not just the top-10 — a
    # drifted low-rank score would hide in a top-k-only comparison
    expr = {
        r["vec_id"]: r["cosine"]
        for r in topk_cosine(corpus, q, 199).collect()
    }
    vec = {
        r["vec_id"]: r["cosine"]
        for r in topk_cosine_vectorized(corpus, q, 199).collect()
    }
    assert expr == vec  # exact float equality, all 199 scores


def test_vectorized_topk_orders_and_limits(spark):
    e = _corpus(spark, n=50)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_embedding")
    )
    top = topk_cosine_vectorized(e.filter(F.col("vec_id") != 0), q, 5).collect()
    assert len(top) == 5
    scores = [r["cosine"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_pq_topk_missing_query_id_raises_value_error(spark):
    """A query id absent from a non-empty corpus must raise a descriptive
    ValueError (not an IndexError from an empty collect), and the query
    vector is fetched once, not once per subspace."""
    import pytest

    from data_engineering_project_spark.operators.clustering import pq_topk

    e = _corpus(spark, n=20)
    with pytest.raises(ValueError, match="not found"):
        pq_topk(e, query_id=9999, dim=64, n_sub=4, k=4, n_iter=1, topk=5)


def _clustered_corpus(spark, n_cells=4, per_cell=30, dim=64, seed=11):
    """Tight clusters: cell c centers at 10*c per dim with small jitter —
    the regime residual encoding is FOR (residuals tiny vs raw values)."""
    rng = random.Random(seed)
    rows = []
    vid = 0
    for c in range(n_cells):
        for _ in range(per_cell):
            rows.append(
                (vid, [10.0 * c + rng.uniform(-0.5, 0.5) for _ in range(dim)], c)
            )
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_ivfpq_topk_on_clustered_corpus_finds_own_cell(spark):
    """On a tightly clustered corpus the residual IVF-PQ scan must (a)
    return candidates only from the probed cells, (b) rank the query's own
    cell's members on top — the property raw PQ with the same 4x8 codebook
    capacity cannot guarantee, because residual encoding spends all its
    precision inside the cell."""
    from data_engineering_project_spark.operators.clustering import ivfpq_topk

    e = _clustered_corpus(spark)
    top = ivfpq_topk(
        e, query_id=0, dim=64, n_sub=4, k=8, n_iter=2, scale=1000,
        nprobe=2, topk=10,
    ).collect()
    assert len(top) == 10
    assert all(r["cell"] in (0, 1) for r in top)  # probed cells only
    assert all(r["cell"] == 0 for r in top)       # own tight cell wins
    adcs = [r["adc"] for r in top]
    assert adcs == sorted(adcs)


def test_ivfpq_missing_query_id_raises_value_error(spark):
    import pytest

    from data_engineering_project_spark.operators.clustering import ivfpq_topk

    e = _clustered_corpus(spark, n_cells=2, per_cell=10)
    with pytest.raises(ValueError, match="not found"):
        ivfpq_topk(e, query_id=12345, dim=64, n_sub=4, k=8, n_iter=1)


def test_pq_and_ivfpq_release_all_caches(spark):
    """Repeated ANN queries in one session must not accumulate leaked cached
    relations (round-5 advice): after materializing a result, zero RDDs
    remain persisted."""
    from data_engineering_project_spark.operators.clustering import (
        ivfpq_topk,
        pq_topk,
    )

    # delta, not absolute: under the full suite, other tests' lingering
    # localCheckpoint RDDs survive clearCache() and are not ours to count
    spark.catalog.clearCache()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    e = _clustered_corpus(spark, n_cells=2, per_cell=10)
    pq_topk(e, query_id=0, dim=64, n_sub=4, k=4, n_iter=1, topk=5).collect()
    ivfpq_topk(
        e, query_id=0, dim=64, n_sub=4, k=4, n_iter=1, nprobe=1, topk=5
    ).collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"{after - before} cached relations leaked"


def test_rowpair_scorer_bit_identical_to_expression_cosine(spark):
    """score_cosine_pairs_vectorized (the batched kNN-join kernel, query
    varies per row) must reproduce the expression path's doubles exactly
    for every pair — each row scored against its own query, never one
    query lifted for the whole batch."""
    from data_engineering_project_spark.operators.similarity import (
        cosine,
        score_cosine_pairs_vectorized,
    )

    e = _corpus(spark, n=60)
    # every corpus row paired with a DIFFERENT query (cyclic shift by 7)
    pairs = (
        e.alias("a")
        .join(
            e.select(
                F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qe"),
            ).alias("b"),
            F.col("a.vec_id") == (F.col("qid") + 7) % 60,
        )
        .select("vec_id", "qid", "embedding", "qe")
    )
    expr = {
        (r["vec_id"], r["qid"]): r["c"]
        for r in pairs.select(
            "vec_id", "qid", cosine(F.col("embedding"), F.col("qe")).alias("c")
        ).collect()
    }
    vec = {
        (r["vec_id"], r["qid"]): r["cosine"]
        for r in score_cosine_pairs_vectorized(
            pairs,
            vec_col="embedding",
            query_vec_col="qe",
            keep_cols=("vec_id", "qid"),
        ).collect()
    }
    assert expr == vec and len(vec) == 60  # exact float equality, all pairs


def test_dup_threshold_curve_is_monotone(spark, sf_dir):
    """emb_dup_threshold_curve: qualifying pairs and removable vectors must
    be non-increasing in the threshold, and removable <= pairs at every
    cutoff (each removable vector needs at least one qualifying pair)."""
    from data_engineering_project_spark.plans.catalog import queries

    rows = (
        queries()["emb_dup_threshold_curve"](spark, sf_dir)
        .orderBy("threshold")
        .collect()
    )
    assert len(rows) == 5
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_pairs"] <= prev["n_pairs"]
        assert cur["n_removable"] <= prev["n_removable"]
    for r in rows:
        assert r["n_removable"] <= r["n_pairs"]
        assert (r["n_pairs"] == 0) == (r["n_removable"] == 0)


def test_dimsum_centroids_match_posexplode_build(spark):
    """emb_centroid_silhouette's r13 centroid build (64 avg∘get columns on
    one groupBy(label)) must reproduce the posexplode/two-level-agg shape
    it replaced — including NULL-element skipping and double accumulation
    — bit-for-bit on a frame with repeats and a NULL dimension."""
    rows = [
        (0, [1.0, 2.0, None]),
        (0, [3.0, 4.0, 5.0]),
        (0, [5.0, 0.0, 1.0]),
        (1, [2.5, None, None]),
    ]
    e = spark.createDataFrame(rows, "label int, embedding array<double>")
    dim = 3

    expl = e.select(
        "label", F.posexplode("embedding").alias("pos", "v0")
    ).select("label", "pos", F.col("v0").cast("double").alias("v"))
    old = {
        (r["label"], r["pos"]): r["c"]
        for r in expl.groupBy("label", "pos").agg(F.avg("v").alias("c")).collect()
    }

    new = e.groupBy("label").agg(
        *[
            F.avg(F.get("embedding", i).cast("double")).alias(f"c{i}")
            for i in range(dim)
        ]
    )
    for r in new.collect():
        for i in range(dim):
            assert r[f"c{i}"] == old.get((r["label"], i)), (r["label"], i)


def _same_double(a, b) -> bool:
    import math

    return (
        a == b
        or (a is None and b is None)
        or (a is not None and b is not None and math.isnan(a) and math.isnan(b))
    )


def test_blocked_pairs_match_cosine_fold_on_hostile_frame(spark):
    """blocked_cosine_pairs' Arrow kernel must reproduce a cosine() fold
    self-join (zip_with+aggregate per pair, blocks joined on equality with
    id_a < id_b) bit-for-bit on every hostile row class — same pair SET,
    same NULL/NaN/short-fold values — and must preserve NaN as a VALUE
    across the Arrow boundary (Spark ranks NaN above every double, so a
    NaN→NULL coercion would flip downstream `c >= t` filters). Also pins
    the duplicate-id rule: strict id_a < id_b emits NO self-pair for two
    rows sharing an id, and a NULL block pairs with nothing."""
    import math

    import pytest

    from data_engineering_project_spark.operators.similarity import (
        blocked_cosine_pairs,
        cosine,
    )

    dim = 6
    random.seed(7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(dim)], "b0") for i in range(5)
    ]
    nanv = [1.0] * dim
    nanv[2] = float("nan")
    nullv = [1.0] * dim
    nullv[4] = None
    rows += [
        (5, nanv, "b0"),  # NaN element: cosine NaN
        (6, nullv, "b0"),  # NULL element: cosine NULL
        (7, [0.9, 0.7], "b0"),  # equal-short pair: real partial fold
        (8, [0.8, 0.6], "b0"),
        (9, [0.5] * 3, "b0"),  # length-mismatched vs everything
        (10, None, "b0"),  # NULL embedding
        (11, [], "b0"),  # empty array: NULL vs every partner
        (20, [0.1] * dim, "b1"),  # second block
        (21, [0.2] * dim, "b1"),
        (22, [0.3] * dim, None),  # NULL block: no pairs
    ]
    # duplicate id inside one block: strict id_a < id_b drops the self-pair
    rows += [(30, [0.4] * dim, "b2"), (30, [0.5] * dim, "b2")]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )

    side = lambda n: e.select(  # noqa: E731
        F.col("vec_id").alias(f"id_{n}"),
        F.col("embedding").alias(f"v_{n}"),
        F.col("label").alias(f"l_{n}"),
    )
    fold = side("a").join(
        side("b"),
        (F.col("l_a") == F.col("l_b")) & (F.col("id_a") < F.col("id_b")),
    )
    old = {
        (r["id_a"], r["id_b"], r["l_a"]): r["c"]
        for r in fold.select(
            "id_a", "id_b", "l_a", cosine(F.col("v_a"), F.col("v_b")).alias("c")
        ).collect()
    }
    new = {}
    for r in blocked_cosine_pairs(
        e, id_col="vec_id", vec_col="embedding", block_col="label", dim=dim
    ).collect():
        key = (r["id_a"], r["id_b"], r["label"])
        assert key not in new, f"duplicate pair {key}"
        new[key] = r["cosine"]

    assert set(new) == set(old)
    n_b0 = 12
    assert len([k for k in new if k[2] == "b0"]) == n_b0 * (n_b0 - 1) // 2
    assert (30, 30, "b2") not in new  # duplicate-id self-pair dropped
    diverged = [k for k in old if not _same_double(old[k], new[k])]
    assert not diverged, [(k, old[k], new[k]) for k in diverged]
    # NaN survived the Arrow boundary as NaN (not coerced to NULL):
    assert new[(0, 5, "b0")] is not None and math.isnan(new[(0, 5, "b0")])
    # NULL-element and mismatched-length pairs stay NULL:
    assert new[(0, 6, "b0")] is None and new[(0, 9, "b0")] is None
    # the equal-short pair carries the REAL partial fold:
    assert new[(7, 8, "b0")] is not None and not math.isnan(new[(7, 8, "b0")])

    # ANSI parity on a zero norm product (two empty arrays in one block):
    # the fold raises Spark's DIVIDE_BY_ZERO; the kernel must be equally
    # loud, not quietly emit NaN/NULL
    ee = spark.createDataFrame(
        [(0, [], "z"), (1, [], "z")],
        "vec_id long, embedding array<float>, label string",
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        ee.alias("a").join(
            ee.alias("b"), F.col("a.vec_id") < F.col("b.vec_id")
        ).select(cosine(F.col("a.embedding"), F.col("b.embedding"))).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        blocked_cosine_pairs(
            ee, id_col="vec_id", vec_col="embedding", block_col="label",
            dim=dim,
        ).collect()


def test_blocked_pairs_presplit_matches_fold_on_hostile_frame(spark, tmp_path):
    """_blocked_pairs (the plan-level pair stage, once a 64-column presplit
    dot, now blocked_cosine_pairs' Arrow kernel) must reproduce the old
    zip_with+aggregate fold shape bit-for-bit at the query's real 64-dim
    width on EVERY hostile row class: well-formed floats, a NULL element,
    a NaN element, TWO equally short arrays (the fold sums a SHORTER left
    fold), a length-mismatched array (NULL dot), a NULL embedding, and an
    empty array — all read back through parquet like the query does."""
    import math

    from data_engineering_project_spark.operators.similarity import dot, norm
    from data_engineering_project_spark.plans.extended_queries import (
        _blocked_pairs,
    )

    random.seed(3)
    rows = []
    for vid in range(6):  # well-formed 64-dim vectors, one shared label
        rows.append(
            (vid, [random.uniform(-1, 1) for _ in range(64)], 0)
        )
    null_elem = [1.0] * 64
    null_elem[7] = None
    rows.append((6, null_elem, 0))
    nan_elem = [1.0] * 64
    nan_elem[3] = float("nan")
    rows.append((7, nan_elem, 0))
    rows.append((8, [0.9, 0.9, 0.9], 0))  # equally-short pair: fold sums
    rows.append((9, [0.8, 0.95, 0.99], 0))  # 3 terms, the kernel must too
    rows.append((10, [0.5] * 5, 0))  # length-mismatched vs everything
    rows.append((11, None, 0))  # NULL embedding
    rows.append((12, [], 0))  # empty array
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    e.write.parquet(str(tmp_path / "embeddings.parquet"))

    base = spark.read.parquet(str(tmp_path / "embeddings.parquet")).select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    a = base.select(
        F.col("vec_id").alias("id_a"),
        "label",
        F.col("embedding").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    fold = a.join(
        b,
        (F.col("label") == F.col("label_b")) & (F.col("id_a") < F.col("id_b")),
    ).select(
        "id_a",
        "id_b",
        (
            dot(F.col("vec_a"), F.col("vec_b"))
            / (F.col("nrm_a") * F.col("nrm_b"))
        ).alias("c"),
    )

    old = {(r["id_a"], r["id_b"]): r["c"] for r in fold.collect()}
    new = {
        (r["id_a"], r["id_b"]): r["c"]
        for r in _blocked_pairs(spark, str(tmp_path)).collect()
    }
    assert set(new) == set(old) and len(new) == 13 * 12 // 2
    diverged = [k for k in old if not _same_double(old[k], new[k])]
    assert not diverged, [(k, old[k], new[k]) for k in diverged]
    # the short-equal pair must carry the REAL partial-fold cosine (not
    # NULL)
    assert new[(8, 9)] is not None and not math.isnan(new[(8, 9)])


def test_rowpair_scorer_nulls_nan_empty_and_null_query(spark):
    """The one cosine scorer's NULL contract: NULL for a NULL, ragged or
    empty row, a NULL query, and wherever the IEEE cosine is NaN (a NaN or
    NULL element, an all-zero vector); real rows of different lengths in
    one batch score exactly like cosine()."""
    from data_engineering_project_spark.operators.similarity import (
        cosine,
        score_cosine_pairs_vectorized,
    )

    q = [0.5, -1.0, 2.0]
    rows = [
        (0, [1.0, 2.0, 3.0], q),
        (1, [3.0, 4.0], [1.0, 0.5]),  # a second length in the same batch
        (2, [float("nan"), 1.0, 1.0], q),
        (3, [1.0, None, 1.0], q),
        (4, [0.0, 0.0, 0.0], q),  # 0/0
        (5, [], []),
        (6, [1.0, 2.0, 3.0], None),
        (7, None, q),
        (8, [1.0, 2.0], q),  # ragged
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, qe array<double>"
    ).coalesce(1)
    got = {
        r["vec_id"]: r["cosine"]
        for r in score_cosine_pairs_vectorized(
            df, vec_col="embedding", query_vec_col="qe"
        ).collect()
    }
    want = {
        r["vec_id"]: r["c"]
        for r in df.filter("vec_id < 2")
        .select("vec_id", cosine(F.col("embedding"), F.col("qe")).alias("c"))
        .collect()
    }
    assert got == {**want, **{i: None for i in range(2, 9)}}
    assert None not in want.values()


def test_lsh_candidate_pairs_matches_expression_form_on_hostile_frame(spark):
    """The r13 lsh_candidate_pairs rewrite (vectorized exact bucketing +
    presplit pair scoring) must reproduce the pre-r13 per-row expression
    shape — lsh_bucket() + cosine()-per-pair — on every hostile row class:
    well-formed vectors, a NULL vector, a NaN element, an equally-short
    pair (buckets to '0'*n_planes on BOTH paths and carries a real partial
    cosine), a length-mismatched vector, and an empty array."""
    import math

    from data_engineering_project_spark.operators.similarity import (
        cosine,
        lsh_bucket,
        lsh_candidate_pairs,
    )

    dim, n_planes, seed = 8, 4, 42
    random.seed(11)
    rows = [(i, [random.uniform(-1, 1) for _ in range(dim)]) for i in range(8)]
    nanv = [0.5] * dim
    nanv[2] = float("nan")
    rows += [
        (8, nanv),
        (9, None),
        (10, [0.9, 0.8, 0.7]),   # equally-short pair: real partial cosine
        (11, [0.85, 0.81, 0.69]),
        (12, [0.4] * 5),          # length-mismatched with everything
        (13, []),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    bucketed = e.select(
        "vec_id",
        "embedding",
        lsh_bucket(F.col("embedding"), dim, n_planes, seed).alias("bucket"),
    )
    left = bucketed.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"), "bucket"
    )
    right = bucketed.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"), "bucket"
    )
    old_pairs = (
        left.join(right, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine(F.col("vec_a"), F.col("vec_b")).alias("cosine")
        )
    )
    old = {(r["id_a"], r["id_b"]): r["cosine"] for r in old_pairs.collect()}
    new = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in lsh_candidate_pairs(
            e, dim=dim, n_planes=n_planes, seed=seed
        ).collect()
    }
    assert set(new) == set(old)
    assert (10, 11) in new  # the short-equal pair bucketed together
    for k in old:
        o, n = old[k], new[k]
        same = (
            o == n
            or (o is None and n is None)
            or (o is not None and n is not None and math.isnan(o) and math.isnan(n))
        )
        assert same, (k, o, n)
