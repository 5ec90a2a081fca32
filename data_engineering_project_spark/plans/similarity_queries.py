"""Similarity-search queries over the `embeddings` table (array<float> × 64).

Brute-force exact cosine is oracle-checked against element-wise SQL in
DuckDB (identical double accumulation order → identical bits after ROUND).
The LSH variant's bucketing is also oracle-checked: the hyperplanes are
deterministic plan literals, so the same SQL expression reproduces them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.scalars import (
    half_up_ratio,
    sql_half_up_ratio,
)
from data_engineering_project_spark.operators import similarity as S
from data_engineering_project_spark.plans.catalog import register
from data_engineering_project_spark.sources.tables import load_table, local_frame

EMB_DIM = 64


def _sql_finite_vec(col: str) -> str:
    """DuckDB twin of operators/similarity.py:finite_vector — TRUE iff the
    vector is non-NULL with every element finite and non-NULL. COALESCE
    matches Spark ``forall`` returning TRUE on an empty array (DuckDB's
    fold over [] is NULL)."""
    return (
        f"({col} IS NOT NULL AND COALESCE(list_bool_and(list_transform("
        f"{col}, x -> x IS NOT NULL AND isfinite(CAST(x AS DOUBLE)))), TRUE))"
    )


def _plane_literal(plane: list[float]) -> str:
    """DuckDB list literal of the plane's double coefficients. ``repr`` is
    shortest-roundtrip, so DuckDB parses back the identical double."""
    return "[" + ", ".join(repr(x) for x in plane) + "]"


def _lsh_bucket_sql(n_planes: int, seed: int = 42, vec: str = "embedding") -> str:
    """DuckDB restatement of operators/similarity.py:lsh_bucket — the
    hyperplanes are deterministic plan literals (pure-python LCG), so the
    oracle embeds the exact same doubles and reproduces every sign bit.
    A sign flip would need |dot| within one ulp of zero (the vectorized
    path's own bit-exactness argument)."""
    bits = [
        "CASE WHEN list_sum(list_transform(list_zip({v}, {p}), "
        "z -> CAST(z[1] AS DOUBLE) * z[2])) >= 0 THEN '1' ELSE '0' END".format(
            v=vec, p=_plane_literal(plane)
        )
        for plane in S._hyperplanes(EMB_DIM, n_planes, seed)
    ]
    return " || ".join(bits)


@register(
    "emb_cosine_topk",
    sql="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id,
               list_sum(list_transform(list_zip(e.embedding, q.qe),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qe,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        FROM embeddings e CROSS JOIN q
    )
    SELECT vec_id, ROUND(c, 6) AS cosine
    FROM scored WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    doc="Exact brute-force cosine top-10 against a query vector (vec_id=0): "
    "broadcast query → map-only scoring scan → distributed TakeOrdered. The "
    "ANN baseline every approximate method is judged against.",
    tags=("similarity", "ann"),
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_embedding")
    )
    top = S.topk_cosine_vectorized(e.filter(F.col("vec_id") != 0), q, 10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


@register(
    "emb_label_centroid_norms",
    sql="""
    WITH expl AS (
        SELECT label, u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) u
    ),
    cent AS (
        SELECT label, pos, avg(v) AS c FROM expl GROUP BY label, pos
    )
    SELECT label, ROUND(sqrt(sum(c * c)), 4) AS centroid_norm,
           CAST(count(*) AS INTEGER) AS dim
    FROM cent GROUP BY label
    """,
    doc="Per-label centroid (mean vector) L2 norms — the IVF coarse-quantizer "
    "building block: posexplode → two-level agg, no UDF, one shuffle per agg.",
    tags=("similarity", "agg"),
)
def emb_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    expl = e.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), F.col("v").cast("double").alias("v"))
    cent = expl.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    return cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 4).alias("centroid_norm"),
        F.count("*").cast("int").alias("dim"),
    )


@register(
    "emb_lsh_bucket_profile",
    sql=f"""
    WITH b AS (SELECT {_lsh_bucket_sql(12)} AS bucket FROM embeddings
               WHERE {_sql_finite_vec('embedding')})
    SELECT bucket, COUNT(*) AS n_vectors FROM b GROUP BY bucket
    """,
    doc="LSH bucketing profile: random-hyperplane sign-bit bucket per vector "
    "(12 planes, seed 42), bucket population counts. The candidate-generation "
    "half of scalable near-dup / ANN search; scoring happens only within "
    "buckets (see operators/similarity.py:lsh_candidate_pairs). Bucketing "
    "runs through the numpy-vectorized mapInArrow kernel (one matmul per "
    "Arrow batch) — tested bit-identical to the expression path, ~100× "
    "per-row at bulk scale. The hyperplanes are deterministic plan "
    "literals, so the DuckDB oracle embeds the same doubles and "
    "hash-matches the full bucket histogram (was rows-only in round 2). "
    "NULL and non-finite vectors have no bucket (round-10 hostile sweep: "
    "a NaN projection's sign bit is engine-dependent).",
    tags=("similarity", "ann", "lsh"),
)
def emb_lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(
        # NULL vectors have no bucket; neither do NaN/inf-poisoned ones
        S.finite_vector(F.col("embedding"))
    )
    bucketed = S.lsh_buckets_vectorized(e, dim=EMB_DIM, n_planes=12, seed=42)
    return (
        bucketed.groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


@register(
    "emb_lsh_near_pairs",
    sql=f"""
    WITH b AS (
        SELECT vec_id, embedding, {_lsh_bucket_sql(8)} AS bucket
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
               list_sum(list_transform(list_zip(a.embedding, b2.embedding),
                        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b2.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    )
    SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM pairs WHERE c > 0.3
    """,
    doc="Nearest-neighbour embedding pairs via LSH: bucket join (8 planes) → "
    "exact cosine within buckets → keep pairs above a similarity floor. The "
    "embedding-space analog of MinHash near-dup text dedup; the join "
    "shuffles on the bucket key only, never materializing the cross join. "
    "(Floor 0.3 suits the synthetic random vectors; real near-dup corpora "
    "use ~0.95.)",
    tags=("similarity", "dedup", "lsh"),
)
def emb_lsh_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pairs = S.lsh_candidate_pairs(
        e, dim=EMB_DIM, n_planes=8, seed=42
    )
    return (
        pairs.filter(F.col("cosine") > 0.3)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


@register(
    "emb_ivf_topk",
    sql="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    expl AS (
        SELECT label, u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) u
    ),
    cent AS (SELECT label, pos, avg(v) AS c FROM expl GROUP BY label, pos),
    cvec AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
    cscore AS (
        SELECT label,
               list_sum(list_transform(list_zip(cv, qe),
                        p -> p[1] * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                  * sqrt(list_sum(list_transform(qe,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cc
        FROM cvec CROSS JOIN q
    ),
    probe AS (SELECT label FROM cscore ORDER BY cc DESC, label LIMIT 2),
    cand AS (
        SELECT e.vec_id, e.label, e.embedding
        FROM embeddings e JOIN probe t ON e.label = t.label
        WHERE e.vec_id <> 0
    ),
    scored AS (
        SELECT vec_id, label,
               list_sum(list_transform(list_zip(embedding, qe),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(qe,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        FROM cand CROSS JOIN q
    )
    SELECT vec_id, label, ROUND(c, 6) AS cosine
    FROM scored ORDER BY c DESC, vec_id LIMIT 10
    """,
    doc="IVF-style ANN — the scale path for similarity search: per-label "
    "mean vectors form the coarse quantizer (in production: k-means "
    "centroids), the query probes its nprobe=2 nearest cells, and exact "
    "cosine runs only inside those cells. The candidate scan is "
    "|2 cells| ≪ N; the brute-force baseline emb_cosine_topk is the recall "
    "oracle. Everything is deterministic, so the full IVF pipeline "
    "(centroids → probe → rank) is SQL-restatable and hash-checked.",
    tags=("similarity", "ann", "ivf"),
)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))

    # coarse quantizer: mean vector per label (posexplode → 2-level agg,
    # same building block as emb_label_centroid_norms)
    expl = e.select("label", F.posexplode("embedding").alias("pos", "v0")).select(
        "label", "pos", F.col("v0").cast("double").alias("v")
    )
    cent = expl.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cv")
    )

    # probe: nprobe=2 nearest centroids to the query vector
    probe = (
        cvec.crossJoin(F.broadcast(q))
        .select("label", S.cosine(F.col("cv"), F.col("qe")).alias("cc"))
        .orderBy(F.desc("cc"), F.asc("label"))
        .limit(2)
        .select("label")
    )

    # exact search inside the probed cells only; the in-cell scorer is the
    # numpy batch scorer (bit-exact twin of the expression fold — see
    # operators/similarity.py), not row-at-a-time HOF evaluation
    cand = e.filter(F.col("vec_id") != 0).join(F.broadcast(probe), "label")
    scored = S.score_cosine_pairs_vectorized(
        cand.crossJoin(F.broadcast(q)),
        vec_col="embedding",
        query_vec_col="qe",
        keep_cols=("vec_id", "label"),
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("cosine", 6).alias("cosine"))
    )


# --- k-means (operators/clustering.py) -------------------------------------

KM_K, KM_DIM, KM_SCALE, KM_ITER = 8, 64, 1000, 3


def _km_assign(cents: str, it: int) -> str:
    return f"""
    assigned{it} AS (
        SELECT p.vec_id, p.q,
               (min(struct_pack(
                   d := list_sum(list_transform(generate_series(1, {KM_DIM}),
                       i -> (p.q[i] - c.cvec[i]) * (p.q[i] - c.cvec[i]))),
                   cid := c.cid))).cid AS cid
        FROM pts p, {cents} c
        GROUP BY p.vec_id, p.q
    )"""


def _km_recompute(assigned: str, prev: str, it: int) -> str:
    return f"""
    sums{it} AS (
        SELECT a.cid, d.dim, sum(a.q[d.dim]) AS s, count(*) AS n
        FROM {assigned} a,
             LATERAL (SELECT unnest(range(1, {KM_DIM} + 1)) AS dim) d
        GROUP BY a.cid, d.dim
    ),
    re{it} AS (
        SELECT cid, list(s / n ORDER BY dim) AS cvec FROM sums{it} GROUP BY cid
    ),
    cents{it} AS (
        SELECT p.cid, coalesce(r.cvec, p.cvec) AS cvec
        FROM {prev} p LEFT JOIN re{it} r USING (cid)
    )"""


_KM_SQL = f"""
    WITH pts AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(round(x * {KM_SCALE}) AS BIGINT)) AS q
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    init AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
                   AS cid, q
        FROM pts ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {KM_K}
    ),
    cents0 AS (
        SELECT cid, list_transform(q, x -> CAST(x AS DOUBLE)) AS cvec FROM init
    ),
    {_km_assign('cents0', 1)},
    {_km_recompute('assigned1', 'cents0', 1)},
    {_km_assign('cents1', 2)},
    {_km_recompute('assigned2', 'cents1', 2)},
    {_km_assign('cents2', 3)}
    SELECT cid AS cluster,
           count(*) AS n_points,
           CAST(sum(vec_id) AS BIGINT) AS member_id_sum
    FROM assigned3
    GROUP BY cid
"""


@register(
    "emb_kmeans_clusters",
    sql=_KM_SQL,
    doc=f"Distributed k-means (operators/clustering.py): {KM_ITER} Lloyd "
    f"iterations, k={KM_K}, over integer-quantized embeddings — the "
    "IVF-cell training step, oracle-checked END TO END against DuckDB "
    "running the identical algorithm (same hash init, same (dist, cid) "
    "tie-break, same keep-previous empty-cluster rule). Integer "
    "quantization makes every per-cluster sum exact, so the iterative "
    "fixpoint is bit-identical across engines; centroid state (k×dim "
    "numbers) broadcasts from the driver per iteration like MLlib, while "
    "assignments stay fully distributed — plan depth constant per "
    "iteration, no lineage growth.",
    tags=("similarity", "clustering", "iterative"),
)
def emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.clustering import (
        kmeans_assignments,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assignments(
        e, vec_col="embedding", id_col="vec_id", k=KM_K, n_iter=KM_ITER,
        scale=KM_SCALE,
    )
    return assigned.groupBy(F.col("cluster").cast("bigint").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("vec_id").cast("bigint").alias("member_id_sum"),
    )


@register(
    "emb_dim_standardize",
    sql=f"""
    WITH expl AS (
        SELECT u.i AS pos,
               CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS units
        FROM embeddings, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) u
        WHERE embedding IS NOT NULL
    ),
    stats AS (
        SELECT pos, CAST(count(*) AS BIGINT) AS n,
               sum(units) AS su, sum(units * units) AS ssu
        FROM expl GROUP BY pos
    ),
    derived AS (
        SELECT pos, n,
               su / (n * 1000000.0) AS mean,
               sqrt(greatest(ssu / (n * 1000000000000.0)
                             - (su / (n * 1000000.0))
                               * (su / (n * 1000000.0)), 0.0)) AS std
        FROM stats
    ),
    outliers AS (
        SELECT e.pos, CAST(count(*) AS BIGINT) AS n_outliers
        FROM expl e JOIN derived d ON e.pos = d.pos
        WHERE abs(e.units / 1000000.0 - d.mean) > 3 * d.std
        GROUP BY e.pos
    )
    SELECT d.pos, d.n,
           CAST(floor(d.mean * 1000000 + 0.5) AS BIGINT) AS mean_u,
           CAST(floor(d.std * 1000000 + 0.5) AS BIGINT) AS std_u,
           COALESCE(o.n_outliers, CAST(0 AS BIGINT)) AS n_outliers
    FROM derived d LEFT JOIN outliers o ON d.pos = o.pos
    """,
    doc="Per-dimension feature standardization — the fit half of the "
    "standard-scaler every training pipeline runs before model input: "
    "mean and population std per embedding dimension plus the 3-sigma "
    "outlier count (the transform half is a map-only broadcast-join "
    "apply). Two passes by construction: pass 1 reduces the corpus to "
    "dim-count rows (values snapped to exact integer micro-units so the "
    "LONG partial sums are order-independent; variance derives from "
    "integer sum/sumsq with one double conversion at the end), pass 2 "
    "re-scans with the 64-row stats broadcast to score outliers. No "
    "state grows with corpus size; the shuffles carry dim-count rows.",
    tags=("similarity", "profile", "standardize"),
)
def emb_dim_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    expl = e.select(
        F.posexplode("embedding").alias("pos0", "v")
    ).select(
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("v").cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("units"),
    )
    stats = expl.groupBy("pos").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("units").alias("su"),
        F.sum(F.col("units") * F.col("units")).alias("ssu"),
    )
    mean = F.col("su") / (F.col("n") * 1000000.0)
    msq = F.col("ssu") / (F.col("n") * 1000000000000.0)
    derived = stats.select(
        "pos",
        "n",
        mean.alias("mean"),
        F.sqrt(F.greatest(msq - mean * mean, F.lit(0.0))).alias("std"),
    )
    outliers = (
        expl.join(F.broadcast(derived), "pos")
        .filter(
            F.abs(F.col("units") / 1000000.0 - F.col("mean"))
            > 3 * F.col("std")
        )
        .groupBy("pos")
        .agg(F.count("*").cast("bigint").alias("n_outliers"))
    )
    return (
        derived.join(outliers, "pos", "left")
        .select(
            "pos",
            "n",
            F.floor(F.col("mean") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("mean_u"),
            F.floor(F.col("std") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("std_u"),
            F.coalesce(F.col("n_outliers"), F.lit(0).cast("bigint")).alias(
                "n_outliers"
            ),
        )
    )


@register(
    "emb_norm_outliers",
    sql="""
    WITH norms AS (
        SELECT vec_id, label,
               list_sum(list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)
                        * CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                               AS BIGINT)))
                   AS norm_u2
        FROM embeddings
    )
    SELECT vec_id, label,
           ROUND(sqrt(CAST(norm_u2 AS DOUBLE)) / 1000000.0, 6) AS l2_norm
    FROM norms
    ORDER BY norm_u2 DESC, vec_id
    LIMIT 10
    """,
    doc="Embedding-norm outlier screen: the 10 largest L2 norms — the "
    "vector-sanity probe that catches unnormalized/corrupted embeddings "
    "before they poison cosine search (a giant-norm vector dominates "
    "dot products). Components quantize to integer micro-units before "
    "the squared sum, so the norm ranking is exact and order-"
    "independent — float array folds associate differently between "
    "Spark's aggregate() and DuckDB's list_sum, and float×int "
    "promotion differs too, so components widen to double (exact) "
    "BEFORE scaling; sqrt/ROUND apply only to the final display "
    "value. Map-only scan + TakeOrdered — no shuffle of vector "
    "payloads.",
    tags=("similarity", "quality", "profile"),
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    norm_u2 = F.aggregate(
        F.transform(
            "embedding",
            lambda v: F.floor(
                v.cast("double") * 1000000 + F.lit(0.5)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, u: acc + u * u,
    )
    return (
        e.select("vec_id", "label", norm_u2.alias("norm_u2"))
        .orderBy(F.desc("norm_u2"), "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "label",
            F.round(F.sqrt(F.col("norm_u2").cast("double")) / 1000000.0, 6)
            .alias("l2_norm"),
        )
    )


def _pi_round(prev: str, k: int) -> str:
    """One unrolled power-iteration round (see
    operators/clustering.py:power_iteration_top_component for the
    scale/offset discipline)."""
    return f"""
    s{k} AS (
        SELECT f.vec_id,
               CAST(floor(sum(f.uv * v.vv) / 1048576.0) AS BIGINT) AS s2
        FROM flat f JOIN {prev} v ON v.pos = f.pos
        GROUP BY f.vec_id
    ),
    w{k} AS (
        SELECT f.pos, sum(s.s2 * f.uv) AS w
        FROM flat f JOIN s{k} s ON s.vec_id = f.vec_id
        GROUP BY f.pos
    ),
    w2_{k} AS (
        SELECT pos,
               (w + 4611686018427387904) // 4294967296 - 1073741824 AS w2
        FROM w{k}
    ),
    n{k} AS (
        SELECT sqrt(CAST(sum(w2 * w2) AS DOUBLE)) AS nrm FROM w2_{k}
    ),
    v{k} AS (
        SELECT pos,
               CAST(floor(w2 * 1048576 / n.nrm + 0.5) AS BIGINT) AS vv
        FROM w2_{k}, n{k} n
    )"""


_PI_ROUNDS = 3

_PI_SQL = f"""
    WITH u AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 100000 + 0.5)
                             AS BIGINT)) AS u
        FROM embeddings
    ),
    flat AS (
        SELECT vec_id, CAST(g.i AS INTEGER) AS pos,
               u[CAST(g.i AS INTEGER)] AS uv
        FROM u, LATERAL unnest(generate_series(1, len(u))) AS g(i)
    ),
    v0 AS (
        SELECT DISTINCT pos, CAST(1048576 AS BIGINT) AS vv FROM flat
    ),
    {",".join(_pi_round(f"v{i}", i + 1) for i in range(_PI_ROUNDS))}
    SELECT pos AS dim, vv AS v_unit FROM v{_PI_ROUNDS}
"""


@register(
    "emb_pca_top_component",
    sql=_PI_SQL,
    doc="Distributed PCA: the corpus's top principal direction by 3 "
    "rounds of power iteration on X·Xᵀ — the dimensionality/whitening "
    "primitive behind embedding compression and drift monitoring. The "
    "iteration is integer-quantized (components in 1e-5 units, the "
    "direction in 2^20 units) with power-of-two scale-downs and a "
    "+2^62 offset that makes truncating division floor division in "
    "every engine, so the unrolled DuckDB oracle hash-matches the "
    "3-round computation exactly — the PageRank discipline applied to "
    "linear algebra (operators/clustering.py:"
    "power_iteration_top_component, magnitude budget documented "
    "there). Per round: one broadcast join against the 64-row "
    "direction, two map-side-combined aggregations; the quantized "
    "triples persist once as the loop invariant.",
    tags=("similarity", "iterative", "pca"),
)
def emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.clustering import (
        power_iteration_top_component,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return power_iteration_top_component(e, rounds=_PI_ROUNDS)


#: Matryoshka comparison: prefix length for the truncated ranking.
_MRL_DIM = 16
_MRL_K = 10


def _cos_sql(vec: str, qvec: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({vec}, {qvec}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform({vec}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
        f"* sqrt(list_sum(list_transform({qvec}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )


@register(
    "emb_matryoshka_overlap",
    sql=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    full_rank AS (
        SELECT e.vec_id
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY {_cos_sql("e.embedding", "q.qe")} DESC, e.vec_id
        LIMIT {_MRL_K}
    ),
    pref_rank AS (
        SELECT e.vec_id
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY {_cos_sql(f"e.embedding[1:{_MRL_DIM}]", f"q.qe[1:{_MRL_DIM}]")}
                 DESC, e.vec_id
        LIMIT {_MRL_K}
    )
    SELECT CAST({_MRL_K} AS BIGINT) AS k,
           CAST({_MRL_DIM} AS BIGINT) AS prefix_dim,
           CAST((SELECT count(*) FROM full_rank f
                 WHERE f.vec_id IN (SELECT vec_id FROM pref_rank))
                AS BIGINT) AS n_overlap,
           CAST((SELECT min(vec_id) FROM full_rank) AS BIGINT)
               AS sample_full_id,
           CAST((SELECT min(vec_id) FROM pref_rank) AS BIGINT)
               AS sample_pref_id
    """,
    doc="Matryoshka-truncation quality probe: top-10 neighbours of the "
    f"query by FULL {EMB_DIM}-dim cosine vs top-10 by the first "
    f"{_MRL_DIM} dimensions only, reporting overlap@10 — the measurement "
    "that decides whether a cheap prefix index (MRL embeddings, "
    "dimension-sliced storage) can serve first-stage retrieval with "
    "full-dim re-ranking on the short list. Both rankings are map-only "
    "scoring scans + distributed TakeOrdered (no shuffle of the corpus); "
    "at 100 TB the prefix scan reads a quarter of the vector bytes — "
    "with dimension-chunked storage, only the prefix columns. Cosine is "
    "the deterministic left-fold expression shared with emb_cosine_topk; "
    "ties break on vec_id, so both engines select identical sets.",
    tags=("similarity", "ann", "matryoshka"),
)
def emb_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    corpus = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))

    def top_ids(vec_expr, qvec_expr):
        return (
            corpus.select(
                "vec_id", S.cosine(vec_expr, qvec_expr).alias("c")
            )
            .orderBy(F.desc("c"), F.asc("vec_id"))
            .limit(_MRL_K)
            .select("vec_id")
        )

    full_rank = top_ids(F.col("embedding"), F.col("qe"))
    pref_rank = top_ids(
        F.slice(F.col("embedding"), 1, _MRL_DIM),
        F.slice(F.col("qe"), 1, _MRL_DIM),
    )
    overlap = full_rank.join(pref_rank, "vec_id", "left_semi").agg(
        F.count("*").cast("bigint").alias("n_overlap")
    )
    samples = full_rank.agg(
        F.min("vec_id").cast("bigint").alias("sample_full_id")
    ).crossJoin(
        pref_rank.agg(F.min("vec_id").cast("bigint").alias("sample_pref_id"))
    )
    return (
        overlap.crossJoin(samples)
        .select(
            F.lit(_MRL_K).cast("bigint").alias("k"),
            F.lit(_MRL_DIM).cast("bigint").alias("prefix_dim"),
            "n_overlap",
            "sample_full_id",
            "sample_pref_id",
        )
    )


@register(
    "emb_centroid_silhouette",
    sql=f"""
    WITH expl AS (
        SELECT label, u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
        FROM embeddings, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) u
    ),
    cent AS (SELECT label, pos, avg(v) AS c FROM expl GROUP BY label, pos),
    cvec AS (SELECT label AS clabel, list(c ORDER BY pos) AS cv
             FROM cent GROUP BY label),
    scored AS (
        SELECT e.vec_id, e.label, c.clabel,
               {_cos_sql("e.embedding", "c.cv")} AS cos
        FROM embeddings e CROSS JOIN cvec c
    ),
    per_vec AS (
        SELECT vec_id, label,
               max(CASE WHEN clabel = label THEN cos END) AS own_cos,
               max(CASE WHEN clabel <> label THEN cos END) AS best_other_cos
        FROM scored GROUP BY vec_id, label
    ),
    s AS (
        SELECT label,
               CAST(floor(
                   ((1 - best_other_cos) - (1 - own_cos))
                   / greatest(1 - own_cos, 1 - best_other_cos)
                   * 1000000 + 0.5) AS BIGINT) AS s_micro
        FROM per_vec
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           {sql_half_up_ratio('sum(s_micro)',
                              '1000000 * CAST(count(*) AS HUGEINT)',
                              6)} AS mean_silhouette
    FROM s GROUP BY label ORDER BY label
    """,
    doc="Simplified (centroid-based) silhouette score per label over "
    "cosine distance: a = distance to the OWN label centroid, b = "
    "distance to the nearest OTHER centroid, s = (b−a)/max(a,b) — the "
    "standard clustering-quality metric, in the O(N·k) centroid form "
    "that scales (full silhouette is O(N²) pairwise and dead at 100 TB). "
    "Centroids are k rows of 64 per-dimension avg columns on one "
    "groupBy(label) (partial-agg'd map-side; avg∘get reproduces "
    "posexplode's NULL-skipping per dimension — the old N×D posexplode "
    "build paid row generation plus a (label,pos) hash agg), collected "
    "into a SINGLE broadcast row with ‖c‖ precomputed, so own/best-other "
    "cosines are array HOFs evaluated map-side: ‖v‖ once per vector, ‖c‖ "
    "once per centroid, and NO per-vector shuffle — the old shape "
    "crossJoined k centroid rows and re-shuffled all N·k scored rows "
    "through groupBy(vec_id) while recomputing ‖v‖ k times (r13 A/B "
    "tools/ab_silhouette.py: sf0.1→sf0.5 marginal 1.225 → 0.436 s, slope "
    "4.24 → ~1.7). Each row's s floor-quantizes to integer micro-units "
    "BEFORE the per-label mean (cross-row double summation is merge-"
    "order-dependent — the repo's standard device), so the oracle "
    "hash-matches exactly.",
    tags=("similarity", "clustering", "quality"),
)
def emb_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cvec = e.groupBy("label").agg(
        *[
            F.avg(F.get("embedding", i).cast("double")).alias(f"c{i}")
            for i in range(EMB_DIM)
        ]
    ).select(
        F.col("label").alias("clabel"),
        F.array(*[F.col(f"c{i}") for i in range(EMB_DIM)]).alias("cv"),
    )
    cents = cvec.agg(
        F.collect_list(
            F.struct(
                F.col("clabel"), F.col("cv"), S.norm(F.col("cv")).alias("cn")
            )
        ).alias("cents")
    )
    own = F.get(
        F.filter(F.col("cents"), lambda c: c["clabel"] == F.col("label")), 0
    )
    own_cos = S.dot(F.col("embedding"), own["cv"]) / (F.col("ne") * own["cn"])
    best_other_cos = F.array_max(
        F.transform(
            F.filter(F.col("cents"), lambda c: c["clabel"] != F.col("label")),
            lambda c: S.dot(F.col("embedding"), c["cv"])
            / (F.col("ne") * c["cn"]),
        )
    )
    per_vec = (
        e.crossJoin(F.broadcast(cents))
        .withColumn("ne", S.norm(F.col("embedding")))
        .select(
            "label",
            own_cos.alias("own_cos"),
            best_other_cos.alias("best_other_cos"),
        )
    )
    a = 1 - F.col("own_cos")
    b = 1 - F.col("best_other_cos")
    s_micro = F.floor(
        (b - a) / F.greatest(a, b) * 1000000 + F.lit(0.5)
    ).cast("bigint")
    return (
        per_vec.select("label", s_micro.alias("s_micro"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            half_up_ratio(
                F.sum("s_micro"),
                # decimal(38,0): 1e6 * count overflows LONG past ~9e12
                # rows/label; oracle twin pre-casts to HUGEINT
                F.lit(1000000) * F.count("*").cast("decimal(38,0)"),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


# compose the two registered pipelines' own oracle SQL verbatim — the
# recall metric must measure exactly the queries it claims to measure
from data_engineering_project_spark.plans.catalog import QUERIES as _Q


@register(
    "emb_ivf_recall",
    sql=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_overlap,
           ROUND(count(*) / 10.0, 2) AS recall_at_10
    FROM ({_Q["emb_cosine_topk"].sql}) e
    JOIN ({_Q["emb_ivf_topk"].sql}) a USING (vec_id)
    """,
    doc="Recall@10 of the IVF ANN index against the exact brute-force "
    "ranking — THE acceptance metric for any approximate-nearest-neighbor "
    "deployment, computed in-engine by joining the two catalog pipelines' "
    "top-10 lists (their oracle SQL is composed verbatim, so the driver "
    "hash-checks the recall of exactly the queries it already checks "
    "individually). nprobe=2 of 8 cells bounds the candidate scan to ~1/4 "
    "of the corpus; this query states what that buys and what it costs.",
    tags=("similarity", "ann", "evaluation"),
)
def emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = emb_cosine_topk(spark, sf_dir).select("vec_id")
    approx = emb_ivf_topk(spark, sf_dir).select("vec_id")
    overlap = exact.join(approx, "vec_id", "left_semi").agg(
        F.count("*").cast("bigint").alias("n_overlap")
    )
    return overlap.select(
        "n_overlap",
        F.round(F.col("n_overlap") / 10.0, 2).alias("recall_at_10"),
    )


# --- SemDeDup-style semantic dedup (cluster-then-dedup) ---------------------

#: pair-cosine prune threshold — suits the synthetic random vectors (real
#: corpora run ~0.95); matches emb_blocked_near_pairs' floor.
SD_TAU = 0.35
#: target points per cell: k = max(KM_K, ceil(N / SD_CELL)). SemDeDup's
#: pair cost is sum-of-cell², so a FIXED k makes cells ~N/k and pairs
#: ~N²/k — quadratic (measured: the r12 sf0.5 slope sweep read Spark
#: 5.6 -> 56 s on 5x data). Scaling k with N pins the EXPECTED cell size
#: at ~SD_CELL and the pair cost at ~N·SD_CELL — linear, the
#: production SemDeDup recipe. 250 = the sf0.1 cell size, so k (and
#: therefore every output) is UNCHANGED at all driver-checked SFs
#: (N <= 2000 -> k = 8); the adaptive branch only engages above that.
SD_CELL = 250

_SD_SQL = f"""
    WITH pts AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(round(x * {KM_SCALE}) AS BIGINT)) AS q
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    kval AS (
        SELECT GREATEST({KM_K},
                        CAST(CEIL(COUNT(*) / {SD_CELL}.0) AS BIGINT)) AS k
        FROM pts
    ),
    init AS (
        SELECT rn - 1 AS cid, q
        FROM (
            SELECT q,
                   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))
                       AS rn
            FROM pts
        ) CROSS JOIN kval
        WHERE rn <= k
    ),
    cents0 AS (
        SELECT cid, list_transform(q, x -> CAST(x AS DOUBLE)) AS cvec FROM init
    ),
    {_km_assign('cents0', 1)},
    {_km_recompute('assigned1', 'cents0', 1)},
    {_km_assign('cents1', 2)},
    {_km_recompute('assigned2', 'cents1', 2)},
    {_km_assign('cents2', 3)},
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(list_sum(list_transform(list_zip(a.q, b.q),
                             p -> p[1] * p[2])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x))
                            AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(b.q, x -> x * x))
                              AS DOUBLE))) AS c
        FROM assigned3 a
        JOIN assigned3 b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    pruned AS (
        SELECT id_b AS vec_id FROM pairs WHERE c >= {SD_TAU} GROUP BY id_b
    )
    SELECT a.cid AS cluster,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(p.vec_id) AS BIGINT) AS n_pruned,
           CAST(COALESCE(sum(p.vec_id), 0) AS BIGINT) AS pruned_id_sum
    FROM assigned3 a LEFT JOIN pruned p ON p.vec_id = a.vec_id
    GROUP BY a.cid
"""


@register(
    "emb_semantic_dedup",
    sql=_SD_SQL,
    doc=f"SemDeDup-style semantic deduplication: k-means cells (the SAME "
    f"{KM_ITER}-iteration quantized Lloyd fit as `emb_kmeans_clusters`, "
    "oracle-unrolled end to end) act as the blocking key, exact cosine "
    "runs only WITHIN a cell, and each qualifying pair prunes its higher "
    "id (deterministic keep-lowest rule — commutative, so the surviving "
    "set is partitioning-independent). This is the third near-dup "
    "blocking strategy next to LSH buckets (`emb_lsh_near_pairs`) and "
    "label blocks (`emb_blocked_near_pairs`): learned cells track the "
    "data distribution, which is why cluster-then-dedup is the standard "
    "recipe for billion-scale embedding corpora. k is ADAPTIVE: "
    "max(KM_K, ceil(N / SD_CELL)) pins the expected cell at ~250 points, "
    "so the within-cell pair cost stays LINEAR in N (a fixed k measured "
    "quadratic: Spark 5.6 -> 56 s on the r12 sf0.5 sweep; adaptive k "
    "re-measured 21.9 s). At all driver-checked SFs (N <= 2000) the "
    "adaptive k resolves to KM_K=8, so reference outputs are unchanged. "
    "At extreme N the Lloyd ASSIGNMENT stage (N*k distance evals) "
    "becomes the bottleneck; the named production upgrade is "
    "ANN-assisted assignment (this repo's IVF index) + k-means||. "
    "The in-cell cosine runs "
    "on the integer-quantized vectors (scale cancels in the ratio), so "
    "dot products and norms are exact integer sums — bit-identical "
    "doubles across engines with NO float-accumulation-order caveat. "
    "Output: per-cell point/prune counts plus the pruned-id checksum.",
    tags=("similarity", "dedup", "clustering"),
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.clustering import (
        kmeans_assignments,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # adaptive k (see SD_CELL): one bounded count action sizes the fit so
    # cells stay ~SD_CELL points and the within-cell pair cost stays
    # LINEAR in N; at every driver-checked SF this resolves to KM_K, so
    # outputs are bit-identical to the fixed-k fit there
    n = e.filter(F.col("embedding").isNotNull()).count()
    k = max(KM_K, -(-n // SD_CELL))
    assigned = kmeans_assignments(
        e, vec_col="embedding", id_col="vec_id", k=k, n_iter=KM_ITER,
        scale=KM_SCALE, keep_vec=True,
    )
    # in-cell pairing is CPU-bound on tiny bytes: explicit partition count
    # on the block key or AQE coalesces the pair stage to one thread (the
    # _blocked_pairs / minhash lesson)
    lnorm2 = lambda col: F.aggregate(
        F.transform(col, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # norm precompute (r13, guide §1.2): √Σq² is per-POINT — computing it
    # per PAIR ran the interpreted HOF fold O(pairs) extra times (the
    # dominant term of the sf0.5 marginal). Σq² is an exact integer sum
    # and sqrt of the same bigint is the identical double, so the pair
    # cosine below is bit-unchanged; each pair now folds ONCE (the dot).
    blocks = assigned.withColumn(
        "sn", F.sqrt(lnorm2(F.col("q")).cast("double"))
    ).repartition(
        spark.sparkContext.defaultParallelism, F.col("cluster")
    ).persist()
    # distinct column names on each side: a self-join on `cluster == cluster`
    # resolves both legs to the SAME attribute id (Spark warns "trivially
    # true predicate"), so rename before joining
    a = blocks.select(
        F.col("cluster").alias("cl_a"),
        F.col("vec_id").alias("id_a"),
        F.col("q").alias("qa"),
        F.col("sn").alias("sn_a"),
    )
    b = blocks.select(
        F.col("cluster").alias("cl_b"),
        F.col("vec_id").alias("id_b"),
        F.col("q").alias("qb"),
        F.col("sn").alias("sn_b"),
    )
    ldot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b, (F.col("cl_a") == F.col("cl_b")) & (F.col("id_a") < F.col("id_b"))
    ).select(
        "id_b",
        (ldot.cast("double") / (F.col("sn_a") * F.col("sn_b"))).alias("c"),
    )
    pruned = (
        pairs.filter(F.col("c") >= SD_TAU)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.lit(1).alias("hit"))
    )
    return (
        blocks.join(pruned, "vec_id", "left")
        .groupBy(F.col("cluster").cast("bigint").alias("cluster"))
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.count("hit").cast("bigint").alias("n_pruned"),
            F.coalesce(
                F.sum(F.when(F.col("hit").isNotNull(), F.col("vec_id"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("pruned_id_sum"),
        )
    )


# --- product quantization (Jégou et al., PAMI'11) ---------------------------

PQ_S, PQ_SUB, PQ_K, PQ_ITER = 4, EMB_DIM // 4, 8, 2


def _pq_sub(s: int, p: str = "", src: str = "pts", col: str = "q") -> str:
    """Subspace slice CTE; ``p`` prefixes every CTE name so the residual
    IVF-PQ fit (prefix 'r', source 'res') reuses the same generators."""
    lo, hi = s * PQ_SUB + 1, (s + 1) * PQ_SUB
    return (
        f"{p}sub{s} AS (SELECT vec_id, {col}[{lo}:{hi}] AS q FROM {src})"
    )


def _pq_init(s: int, p: str = "") -> str:
    return f"""
    {p}init{s} AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
                   AS cid, q
        FROM {p}sub{s} ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {PQ_K}
    ),
    {p}cents{s}_0 AS (
        SELECT cid, list_transform(q, x -> CAST(x AS DOUBLE)) AS cvec
        FROM {p}init{s}
    )"""


def _pq_assign(s: int, cents: str, it: int, p: str = "") -> str:
    return f"""
    {p}pas{s}_{it} AS (
        SELECT p.vec_id, p.q,
               (min(struct_pack(
                   d := list_sum(list_transform(generate_series(1, {PQ_SUB}),
                       i -> (p.q[i] - c.cvec[i]) * (p.q[i] - c.cvec[i]))),
                   cid := c.cid))).cid AS cid
        FROM {p}sub{s} p, {cents} c
        GROUP BY p.vec_id, p.q
    )"""


def _pq_recompute(s: int, it: int, p: str = "") -> str:
    return f"""
    {p}psums{s}_{it} AS (
        SELECT a.cid, d.dim, sum(a.q[d.dim]) AS s, count(*) AS n
        FROM {p}pas{s}_{it} a,
             LATERAL (SELECT unnest(range(1, {PQ_SUB} + 1)) AS dim) d
        GROUP BY a.cid, d.dim
    ),
    {p}pre{s}_{it} AS (
        SELECT cid, list(s / n ORDER BY dim) AS cvec
        FROM {p}psums{s}_{it} GROUP BY cid
    ),
    {p}cents{s}_{it} AS (
        SELECT p.cid, coalesce(r.cvec, p.cvec) AS cvec
        FROM {p}cents{s}_{it - 1} p LEFT JOIN {p}pre{s}_{it} r USING (cid)
    )"""


def _pq_dist(s: int) -> str:
    return f"""
    d{s} AS (
        SELECT c.cid,
               list_sum(list_transform(generate_series(1, {PQ_SUB}),
                   i -> (q.q[i] - c.cvec[i]) * (q.q[i] - c.cvec[i]))) AS dist
        FROM cents{s}_{PQ_ITER - 1} c,
             (SELECT q FROM sub{s} WHERE vec_id = 0) q
    )"""


_PQ_PER_SUB = ",\n".join(
    ",\n".join(
        [_pq_sub(s), _pq_init(s)]
        + [
            part
            for it in range(1, PQ_ITER)
            for part in (_pq_assign(s, f"cents{s}_{it - 1}", it),
                         _pq_recompute(s, it))
        ]
        + [_pq_assign(s, f"cents{s}_{PQ_ITER - 1}", PQ_ITER), _pq_dist(s)]
    )
    for s in range(PQ_S)
)

_PQ_SQL = f"""
    WITH pts AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(round(x * {KM_SCALE}) AS BIGINT)) AS q
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    {_PQ_PER_SUB}
    SELECT a0.vec_id,
           ROUND(d0.dist + d1.dist + d2.dist + d3.dist, 4) AS adc
    FROM pas0_{PQ_ITER} a0
    JOIN pas1_{PQ_ITER} a1 USING (vec_id)
    JOIN pas2_{PQ_ITER} a2 USING (vec_id)
    JOIN pas3_{PQ_ITER} a3 USING (vec_id)
    JOIN d0 ON d0.cid = a0.cid
    JOIN d1 ON d1.cid = a1.cid
    JOIN d2 ON d2.cid = a2.cid
    JOIN d3 ON d3.cid = a3.cid
    WHERE a0.vec_id != 0
    ORDER BY d0.dist + d1.dist + d2.dist + d3.dist, a0.vec_id
    LIMIT 10
"""


@register(
    "emb_pq_topk",
    sql=_PQ_SQL,
    doc=f"Product-quantization ANN (Jégou et al., PAMI'11 — the "
    f"billion-scale standard that IVF composes with): the {EMB_DIM}-dim "
    f"vector splits into {PQ_S} subspaces, each trains its own "
    f"{PQ_K}-code Lloyd codebook (same quantized-integer fit as "
    "`emb_kmeans_clusters`, oracle-unrolled per subspace), every vector "
    f"encodes to {PQ_S} one-byte codes, and the query scans CODES with "
    "an asymmetric-distance lookup table (k x n_sub doubles, broadcast "
    "as a literal map) instead of raw floats. This is the memory step "
    "that makes billion-vector search fit in RAM: bytes per vector drop "
    f"{EMB_DIM}x4 -> {PQ_S}, and the scan is a map-only projection + "
    "TakeOrdered — no shuffle, no join on the data path. The whole "
    "train->encode->ADC-scan pipeline is deterministic (integer "
    "codebook sums, fixed fold order for the lookup doubles, vec_id "
    "tie-break) and hash-checked end to end against the fully unrolled "
    "DuckDB restatement.",
    tags=("similarity", "ann", "quantization"),
)
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.clustering import pq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        e, vec_col="embedding", id_col="vec_id", query_id=0, dim=EMB_DIM,
        n_sub=PQ_S, k=PQ_K, n_iter=PQ_ITER, scale=KM_SCALE, topk=10,
    )


@register(
    "emb_pq_recall",
    sql=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_overlap,
           ROUND(count(*) / 10.0, 2) AS recall_at_10
    FROM ({_Q["emb_cosine_topk"].sql}) e
    JOIN ({_PQ_SQL}) a USING (vec_id)
    """,
    doc="Recall@10 of the product-quantization code scan against the exact "
    "brute-force ranking — the acceptance metric that closes the PQ "
    "pipeline the same way `emb_ivf_recall` closes IVF. ADC distances "
    "are quantization approximations twice over (codebook residual + "
    "lookup asymmetry), so the recall number is what tells you whether "
    f"{PQ_S}x{PQ_K} codes are enough codebook capacity for the corpus; "
    "computed in-engine by a semi-join of the two catalog pipelines' "
    "top-10 lists, with both oracle SQLs composed verbatim.",
    tags=("similarity", "ann", "evaluation"),
)
def emb_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = emb_cosine_topk(spark, sf_dir).select("vec_id")
    approx = emb_pq_topk(spark, sf_dir).select("vec_id")
    overlap = exact.join(approx, "vec_id", "left_semi").agg(
        F.count("*").cast("bigint").alias("n_overlap")
    )
    return overlap.select(
        "n_overlap",
        F.round(F.col("n_overlap") / 10.0, 2).alias("recall_at_10"),
    )


# --- IVF-PQ residual composition (Jégou et al., PAMI'11 §V) -----------------

IPQ_NPROBE = 2


def _ipq_qres_dist(s: int) -> str:
    """Per-probed-cell query residual + ADC table for subspace ``s``: the
    lookup differs per cell because the QUERY's residual does."""
    off = s * PQ_SUB
    return f"""
    qres{s} AS (
        SELECT pr.label,
               list_transform(generate_series(1, {PQ_SUB}),
                   i -> q0.q[{off} + i] - c.cv[{off} + i]) AS q
        FROM probe pr JOIN cint c USING (label) CROSS JOIN q0
    ),
    dq{s} AS (
        SELECT qr.label, c.cid,
               list_sum(list_transform(generate_series(1, {PQ_SUB}),
                   i -> (qr.q[i] - c.cvec[i]) * (qr.q[i] - c.cvec[i])))
                   AS dist
        FROM rcents{s}_{PQ_ITER - 1} c CROSS JOIN qres{s} qr
    )"""


_IPQ_PER_SUB = ",\n".join(
    ",\n".join(
        [_pq_sub(s, "r", "res", "r"), _pq_init(s, "r")]
        + [
            part
            for it in range(1, PQ_ITER)
            for part in (
                _pq_assign(s, f"rcents{s}_{it - 1}", it, "r"),
                _pq_recompute(s, it, "r"),
            )
        ]
        + [
            _pq_assign(s, f"rcents{s}_{PQ_ITER - 1}", PQ_ITER, "r"),
            _ipq_qres_dist(s),
        ]
    )
    for s in range(PQ_S)
)

_IPQ_SQL = f"""
    WITH pts AS (
        SELECT vec_id, label,
               list_transform(embedding,
                              x -> CAST(round(x * {KM_SCALE}) AS BIGINT)) AS q
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    cstat AS (
        SELECT label, d.dim, sum(q[d.dim]) AS s, count(*) AS n
        FROM pts, LATERAL (SELECT unnest(range(1, {EMB_DIM} + 1)) AS dim) d
        GROUP BY 1, 2
    ),
    cint AS (
        SELECT label,
               list(CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT)
                    ORDER BY dim) AS cv
        FROM cstat GROUP BY label
    ),
    q0 AS (SELECT q FROM pts WHERE vec_id = 0),
    probe AS (
        SELECT c.label,
               list_sum(list_transform(generate_series(1, {EMB_DIM}),
                   i -> (q0.q[i] - c.cv[i]) * (q0.q[i] - c.cv[i]))) AS d
        FROM cint c CROSS JOIN q0
        ORDER BY d, label LIMIT {IPQ_NPROBE}
    ),
    res AS (
        SELECT p.vec_id, p.label,
               list_transform(generate_series(1, {EMB_DIM}),
                   i -> p.q[i] - c.cv[i]) AS r
        FROM pts p JOIN cint c USING (label)
    ),
    {_IPQ_PER_SUB}
    SELECT v.vec_id, CAST(v.label AS INTEGER) AS cell,
           ROUND(d0.dist + d1.dist + d2.dist + d3.dist, 4) AS adc
    FROM pts v
    JOIN probe USING (label)
    JOIN rpas0_{PQ_ITER} a0 USING (vec_id)
    JOIN rpas1_{PQ_ITER} a1 USING (vec_id)
    JOIN rpas2_{PQ_ITER} a2 USING (vec_id)
    JOIN rpas3_{PQ_ITER} a3 USING (vec_id)
    JOIN dq0 d0 ON d0.cid = a0.cid AND d0.label = v.label
    JOIN dq1 d1 ON d1.cid = a1.cid AND d1.label = v.label
    JOIN dq2 d2 ON d2.cid = a2.cid AND d2.label = v.label
    JOIN dq3 d3 ON d3.cid = a3.cid AND d3.label = v.label
    WHERE v.vec_id != 0
    ORDER BY d0.dist + d1.dist + d2.dist + d3.dist, v.vec_id
    LIMIT 10
"""


@register(
    "emb_ivfpq_topk",
    sql=_IPQ_SQL,
    doc=f"IVF-PQ with residual encoding — the composition billion-scale "
    "ANN actually deploys (Jégou et al., PAMI'11 §V; FAISS's IndexIVFPQ): "
    "the coarse quantizer partitions the corpus into cells (here the "
    "label cells `emb_ivf_topk` probes; a learned k-means coarse "
    "quantizer drops in unchanged), every vector PQ-encodes its RESIDUAL "
    "against its cell centroid — residuals concentrate near zero, so the "
    f"same {PQ_S}x{PQ_K} codebook capacity buys far more precision than "
    "raw-vector PQ (`emb_pq_topk`'s documented ceiling) — and the query "
    f"probes its {IPQ_NPROBE} nearest cells, ADC-scanning codes with a "
    "PER-CELL lookup table built from the query's residual in that cell. "
    "Determinism end to end: cell centroids snap to integers "
    "(floor(sum/n + .5) on exact integer sums) so residuals are exact "
    "integers; probe ranking is pure integer L2; the residual codebooks "
    "are the same md5-init quantized Lloyd fit as PQ, oracle-unrolled "
    "per subspace; ADC doubles are computed in the oracle's list_sum "
    "fold order. Scale shape: cells×dim centroid aggregate, broadcast "
    "residual join, map-only ADC projection + TakeOrdered over the "
    "probed cells — no shuffle on the candidate path.",
    tags=("similarity", "ann", "ivf", "quantization"),
)
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.clustering import (
        ivfpq_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        e, vec_col="embedding", id_col="vec_id", cell_col="label",
        query_id=0, dim=EMB_DIM, n_sub=PQ_S, k=PQ_K, n_iter=PQ_ITER,
        scale=KM_SCALE, nprobe=IPQ_NPROBE, topk=10,
    )


@register(
    "emb_ivfpq_recall",
    sql=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_overlap,
           ROUND(count(*) / 10.0, 2) AS recall_at_10
    FROM ({_Q["emb_cosine_topk"].sql}) e
    JOIN ({_IPQ_SQL}) a USING (vec_id)
    """,
    doc="Recall@10 of the residual IVF-PQ scan against the exact "
    "brute-force ranking, computed in-engine like `emb_ivf_recall` / "
    "`emb_pq_recall` (both oracle SQLs composed verbatim). The number to "
    "compare against `emb_pq_recall`: same codebook capacity, residual "
    "encoding + cell pruning — on random vectors the probe keeps only "
    f"~{IPQ_NPROBE}/10 of the corpus, so this bounds what cell-local ADC "
    "can recover; on clustered real corpora the residual variant "
    "dominates raw PQ, which is why it is the deployed composition.",
    tags=("similarity", "ann", "evaluation"),
)
def emb_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = emb_cosine_topk(spark, sf_dir).select("vec_id")
    approx = emb_ivfpq_topk(spark, sf_dir).select("vec_id")
    overlap = exact.join(approx, "vec_id", "left_semi").agg(
        F.count("*").cast("bigint").alias("n_overlap")
    )
    return overlap.select(
        "n_overlap",
        F.round(F.col("n_overlap") / 10.0, 2).alias("recall_at_10"),
    )


# --- two-stage serving: ADC shortlist -> exact re-rank ----------------------

#: candidate-list width for the exact re-rank stage; ~5x the final k is the
#: standard production ratio (FAISS's k_factor)
RERANK_SHORTLIST = 50

# widen the ADC scan's final cut to the shortlist size; the assert pins the
# single-occurrence assumption the textual substitution relies on
assert _IPQ_SQL.count("LIMIT 10") == 1
_IPQ_SHORTLIST_SQL = _IPQ_SQL.replace("LIMIT 10", f"LIMIT {RERANK_SHORTLIST}")


@register(
    "emb_ivfpq_rerank_topk",
    sql=f"""
    WITH cand AS (SELECT vec_id FROM ({_IPQ_SHORTLIST_SQL}) c),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id,
               list_sum(list_transform(list_zip(e.embedding, q.qe),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qe,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
    )
    SELECT vec_id, ROUND(c, 6) AS cosine
    FROM scored WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    doc=f"Two-stage ANN serving: the residual IVF-PQ ADC scan shortlists "
    f"{RERANK_SHORTLIST} candidates, then the TRUE vectors of just those "
    "candidates are fetched and exactly re-ranked (FAISS's k_factor "
    "refine / IndexRefineFlat — the deployed mitigation for ADC "
    "quantization error, here over the documented 4x8-code capacity "
    "ceiling of `emb_pq_recall`). Scale shape: stage 1 is the existing "
    "shuffle-free probed-cell code scan; stage 2 is a broadcast semi-join "
    "of the bounded candidate id list against the vector table (point "
    "lookups — at index scale the ids prune to their cells' files) "
    "followed by the same map-only exact scorer as `emb_cosine_topk`. "
    "Exact-rescore cost is per-query O(shortlist), independent of corpus "
    "size.",
    tags=("similarity", "ann", "quantization"),
)
def emb_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_project_spark.operators.clustering import (
        ivfpq_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cand = ivfpq_topk(
        e, vec_col="embedding", id_col="vec_id", cell_col="label",
        query_id=0, dim=EMB_DIM, n_sub=PQ_S, k=PQ_K, n_iter=PQ_ITER,
        scale=KM_SCALE, nprobe=IPQ_NPROBE, topk=RERANK_SHORTLIST,
    ).select("vec_id")
    base = e.filter(F.col("vec_id") != 0).join(
        F.broadcast(cand), "vec_id", "left_semi"
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_embedding")
    )
    top = S.topk_cosine_vectorized(base, q, 10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


@register(
    "emb_ivfpq_rerank_recall",
    sql=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_overlap,
           ROUND(count(*) / 10.0, 2) AS recall_at_10
    FROM ({_Q["emb_cosine_topk"].sql}) e
    JOIN ({_Q["emb_ivfpq_rerank_topk"].sql}) a USING (vec_id)
    """,
    doc="Recall@10 of the re-ranked two-stage pipeline against exact "
    "brute force — read alongside `emb_ivfpq_recall` (same probe, ADC "
    "ranking only): the delta is exactly what the exact-rescore stage "
    "recovers of ADC's quantization error; the residual gap to 1.0 is "
    "the probe's cell-pruning ceiling (`emb_ivf_recall`'s number), which "
    "re-ranking cannot cross by construction. In-engine, both oracle "
    "SQLs composed verbatim like the other recall monitors.",
    tags=("similarity", "ann", "evaluation"),
)
def emb_ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = emb_cosine_topk(spark, sf_dir).select("vec_id")
    approx = emb_ivfpq_rerank_topk(spark, sf_dir).select("vec_id")
    overlap = exact.join(approx, "vec_id", "left_semi").agg(
        F.count("*").cast("bigint").alias("n_overlap")
    )
    return overlap.select(
        "n_overlap",
        F.round(F.col("n_overlap") / 10.0, 2).alias("recall_at_10"),
    )


# --- persisted IVF serving path (operators/ann_index.py) --------------------

IVF_SERVE_NQ, IVF_SERVE_K, IVF_SERVE_NPROBE = 4, 10, 2

_IVF_SERVE_SQL = f"""
    WITH pts AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(round(x * {KM_SCALE}) AS BIGINT)) AS q
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    init AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
                   AS cid, q
        FROM pts ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {KM_K}
    ),
    cents0 AS (
        SELECT cid, list_transform(q, x -> CAST(x AS DOUBLE)) AS cvec FROM init
    ),
    {_km_assign('cents0', 1)},
    {_km_recompute('assigned1', 'cents0', 1)},
    {_km_assign('cents1', 2)},
    {_km_recompute('assigned2', 'cents1', 2)},
    {_km_assign('cents2', 3)},
    qv AS (
        SELECT vec_id AS query_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {KM_SCALE})
                             AS DOUBLE)) AS qq
        FROM embeddings WHERE vec_id < {IVF_SERVE_NQ}
    ),
    cdist AS (
        SELECT v.query_id, v.qq, c.cid,
               list_sum(list_transform(generate_series(1, {KM_DIM}),
                   i -> (v.qq[i] - c.cvec[i]) * (v.qq[i] - c.cvec[i]))) AS d
        FROM qv v CROSS JOIN cents2 c
    ),
    probe AS (
        SELECT query_id, qq, cid FROM (
            SELECT query_id, qq, cid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d, cid) AS rn
            FROM cdist)
        WHERE rn <= {IVF_SERVE_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id, a.cid AS cell,
               list_sum(list_transform(list_zip(a.q, p.qq),
                        z -> CAST(z[1] AS DOUBLE) * z[2]))
               / (sqrt(list_sum(list_transform(a.q,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(p.qq, x -> x * x)))) AS c
        FROM probe p JOIN assigned3 a ON a.cid = p.cid
    )
    SELECT CAST(query_id AS INT) AS query_id,
           CAST(rn AS INT) AS rank,
           vec_id,
           CAST(cell AS INT) AS cell,
           ROUND(c, 6) AS cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY c DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {IVF_SERVE_K}
"""


@register(
    "emb_ivf_index_serving",
    sql=_IVF_SERVE_SQL,
    doc="The PERSISTED serving path end-to-end, driver-hashable: "
    "build_ivf_index materializes the cell-clustered snapshot index "
    "(quantized Lloyd fit, k=8, one file per cell with footer stats), "
    "then a fixed 4-query probe set runs through query_ivf_index — "
    "driver-side cell ranking over the k stored centroids, manifest-"
    "pruned reads of only the nprobe=2 winning cells, Arrow-vectorized "
    "in-cell cosine, top-10 per query. The oracle restates the whole "
    "pipeline in SQL: the emb_kmeans_clusters Lloyd unroll supplies "
    "cents2 (= the STORED centroid state, _lloyd returns the post-"
    "recompute generation) and assigned3 (= the persisted cell "
    "assignments); probe ranking is L2 on quantized vectors with the "
    "(d, cid) tie-break; in-cell scoring is the proven exact-integer "
    "cosine device. The result frame is rebuilt from the collected "
    "top-k rows (<= nq*k = 40 by construction) so the temp index dir "
    "can be reclaimed eagerly — the distributed work (fit, assignment "
    "write, pruned scans, scoring) all happens through the index.",
    tags=("similarity", "ann", "ivf", "serving"),
)
def emb_ivf_index_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from data_engineering_project_spark.operators import ann_index as ai

    out_schema = (
        "query_id int, rank int, vec_id bigint, cell int, cosine double"
    )
    e = load_table(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id") < IVF_SERVE_NQ).orderBy("vec_id").collect()
    )
    if not qrows:
        # empty corpus: nothing to index, nothing to probe — the oracle's
        # SQL yields zero rows on the same input
        return local_frame(spark, [], out_schema)
    tmp = tempfile.mkdtemp(prefix="ivf_serving_")
    table = os.path.join(tmp, "index")
    rows = []
    try:
        ai.build_ivf_index(
            e, table, k=KM_K, n_iter=KM_ITER, scale=KM_SCALE
        )
        for qr in qrows:
            hits = ai.query_ivf_index(
                spark,
                table,
                [float(v) for v in qr["embedding"]],
                k=IVF_SERVE_K,
                nprobe=IVF_SERVE_NPROBE,
                scale=KM_SCALE,
            ).collect()
            rows.extend(
                (
                    int(qr["vec_id"]),
                    rank0 + 1,
                    int(h["vec_id"]),
                    int(h["cell"]),
                    float(h["cosine"]),
                )
                for rank0, h in enumerate(hits)
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(spark, rows, out_schema)


# --- batched kNN join -------------------------------------------------------

KNN_NQ, KNN_K, KNN_NPROBE = 16, 3, 2

_KNN_COS = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform({b}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

_KNN_SQL = f"""
    WITH emb AS (
        -- poisoned-vector guard (round-10 hostile sweep): NaN/inf elements
        -- make cosine NaN, whose top-k rank is engine-dependent — exclude
        -- at the operator, like NULL vectors (twin of finite_vector)
        SELECT * FROM embeddings WHERE {_sql_finite_vec('embedding')}
    ),
    q AS (
        SELECT vec_id AS qid, embedding AS qe FROM emb
        WHERE vec_id < {KNN_NQ}
    ),
    expl AS (
        SELECT label, u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
        FROM emb, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) u
    ),
    cent AS (SELECT label, pos, avg(v) AS c FROM expl GROUP BY label, pos),
    cvec AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
    cscore AS (
        SELECT q.qid, c.label, {_KNN_COS.format(a='c.cv', b='q.qe')} AS cc
        FROM cvec c CROSS JOIN q
    ),
    probe AS (
        SELECT qid, label FROM (
            SELECT qid, label,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cc DESC, label) AS rn
            FROM cscore)
        WHERE rn <= {KNN_NPROBE}
    ),
    cand AS (
        SELECT p.qid, e.vec_id, e.label, e.embedding, q.qe
        FROM emb e
        JOIN probe p ON e.label = p.label
        JOIN q ON q.qid = p.qid
        WHERE e.vec_id <> p.qid
    ),
    scored AS (
        SELECT qid, vec_id, label,
               {_KNN_COS.format(a='embedding', b='qe')} AS c
        FROM cand
    )
    SELECT qid AS query_id,
           CAST(rn AS INT) AS rank,
           vec_id, label,
           ROUND(c, 6) AS cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY c DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {KNN_K}
"""


@register(
    "emb_knn_join",
    sql=_KNN_SQL,
    doc="Batched kNN JOIN — the OFFLINE batch-scoring counterpart of the "
    "per-query serving loop, and the shape a 100 TB feature pipeline "
    "actually runs (score a whole query table, not one vector): 16 query "
    "vectors probe their nprobe=2 nearest label-centroid cells in ONE "
    "plan — the (qid, label) probe table is built from a 16×n_labels "
    "crossJoin of two tiny frames, then BROADCAST against the corpus so "
    "every corpus partition is read once for ALL queries, with zero "
    "shuffles of the big side; each candidate (corpus row, query) pair "
    "scores through the row-pair vectorized cosine kernel "
    "(score_cosine_pairs_vectorized), and top-3 per query falls out "
    "of one window. Oracle restates centroids, probe ranking, and the "
    "exact cosine fold per pair.",
    tags=("similarity", "ann", "knn-join"),
)
def emb_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # poisoned-vector guard: NULL/NaN/inf vectors neither query nor serve
    # (finite_vector; round-10 hostile sweep — NaN cosine ranks are
    # engine-dependent)
    e = load_table(spark, sf_dir, "embeddings").filter(
        S.finite_vector(F.col("embedding"))
    )
    # the query set is a PARAMETER of a kNN join, not a corpus subset: pin
    # it driver-side (16 rows) so the broadcast build is a local relation —
    # a fact-scan build side would be flagged by the broadcast audit, and
    # at 100 TB the query table arrives from the user anyway
    qrows = (
        e.filter(F.col("vec_id") < KNN_NQ)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    q16 = local_frame(
        spark,
        [(int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in qrows],
        "qid bigint, qe array<double>",
    )
    expl = e.select(
        "label", F.posexplode("embedding").alias("pos", "v0")
    ).select("label", "pos", F.col("v0").cast("double").alias("v"))
    cent = expl.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    pairs = cvec.crossJoin(F.broadcast(q16)).select(
        "qid", "label", S.cosine(F.col("cv"), F.col("qe")).alias("cc")
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("cc"), F.asc("label"))
    probe = (
        pairs.select("qid", "label", F.row_number().over(wp).alias("rn"))
        .filter(F.col("rn") <= KNN_NPROBE)
        .select("qid", "label")
    )
    cand = (
        e.join(F.broadcast(probe), "label")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(q16), "qid")
    )
    scored = S.score_cosine_pairs_vectorized(
        cand,
        vec_col="embedding",
        query_vec_col="qe",
        keep_cols=("qid", "vec_id", "label"),
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.select(
            "qid", "vec_id", "label", "cosine",
            F.row_number().over(wk).alias("rn"),
        )
        .filter(F.col("rn") <= KNN_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rn").cast("int").alias("rank"),
            "vec_id",
            "label",
            F.round("cosine", 6).alias("cosine"),
        )
    )


_HN_NQ = 8   # anchors
_HN_K = 5    # hard negatives per anchor

_HARD_NEG_SQL = f"""
    WITH emb AS (
        -- poisoned-vector guard (round-10 hostile sweep): see _KNN_SQL
        SELECT * FROM embeddings WHERE {_sql_finite_vec('embedding')}
    ),
    q AS (
        SELECT vec_id AS qid, label AS qlabel, embedding AS qe
        FROM emb
        WHERE vec_id < {_HN_NQ}
    ),
    scored AS (
        SELECT q.qid, e.vec_id, e.label,
               {_KNN_COS.format(a='e.embedding', b='q.qe')} AS c
        FROM emb e JOIN q ON e.label <> q.qlabel
    )
    SELECT qid AS anchor_id,
           CAST(rn AS INT) AS rank,
           vec_id AS negative_id,
           label,
           ROUND(c, 6) AS cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY c DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_HN_K}
"""


@register(
    "emb_hard_negatives",
    sql=_HARD_NEG_SQL,
    doc="Hard-negative mining for contrastive training: for each anchor, "
    "the top-k most-similar vectors of a DIFFERENT label — the negatives "
    "that actually move an embedding model (uniform random negatives are "
    "trivially separable after the first epochs). Plan: the 8-row anchor "
    "set is pinned driver-side and BROADCAST (local relation, not a "
    "fact-scan build), the corpus streams once through a broadcast "
    "nested-loop against it (label <> anchor_label is a theta predicate "
    "— no shuffle of the big side), each (corpus row, anchor) pair "
    "scores through the row-pair vectorized cosine kernel, and top-k "
    "per anchor is a row_number window whose INPUT is |corpus|*|anchors| "
    "rows — what bounds it at scale is Spark 4's WindowGroupLimit rank-"
    "limit pushdown (map-side top-k per anchor before the exchange, "
    "asserted in tests/test_plan_quality.py), not the plan shape itself. "
    "At 100 TB this is the mining pass of a SimCLR/DPR-style "
    "data pipeline: corpus-partition-parallel, anchor-batched, index-"
    "accelerable by the same IVF cells emb_knn_join probes.",
    tags=("similarity", "ml", "contrastive"),
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # poisoned-vector guard (round-10 hostile sweep): NULL/NaN/inf vectors
    # neither anchor nor serve — NaN cosine ranks are engine-dependent
    e = load_table(spark, sf_dir, "embeddings").filter(
        S.finite_vector(F.col("embedding"))
    )
    # anchors are a PARAMETER of the mining pass (driver-pinned local
    # relation — same device as emb_knn_join, keeps the broadcast audit
    # clean); at production scale the anchor batch arrives from the
    # training loop anyway
    arows = (
        e.filter(F.col("vec_id") < _HN_NQ)
        .select("vec_id", "label", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    a8 = local_frame(
        spark,
        [
            (int(r["vec_id"]),
             int(r["label"]) if r["label"] is not None else None,
             [float(v) for v in r["embedding"]])
            for r in arows
        ],
        "qid bigint, qlabel int, qe array<double>",
    )
    cand = e.join(F.broadcast(a8), e["label"] != a8["qlabel"])
    scored = S.score_cosine_pairs_vectorized(
        cand,
        vec_col="embedding",
        query_vec_col="qe",
        keep_cols=("qid", "vec_id", "label"),
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.select(
            "qid", "vec_id", "label", "cosine",
            F.row_number().over(wk).alias("rn"),
        )
        .filter(F.col("rn") <= _HN_K)
        .select(
            F.col("qid").alias("anchor_id"),
            F.col("rn").cast("int").alias("rank"),
            F.col("vec_id").alias("negative_id"),
            "label",
            F.round("cosine", 6).alias("cosine"),
        )
    )
