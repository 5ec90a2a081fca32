"""Connected components — duplicate-pair edges → duplicate clusters.

Near-dup detection yields PAIRS; deduplication needs CLUSTERS (keep one
representative per component). This is the one genuinely iterative
algorithm in a training-data pipeline: transitive closure over the
similarity graph.

Implementation: min-label propagation. Every node starts labeled with its
own id; each round every node takes the minimum label among itself and its
neighbors; converged when no label changes. Each round is one shuffle
(join + groupBy); rounds needed = graph diameter. Duplicate clusters are
small and dense (diameter ≤ ~3), so this converges in 2-4 rounds — for
general graphs with long chains, swap in the large-star/small-star
alternation (Kiveris et al., "Connected Components in MapReduce"), which
contracts paths in O(log²) rounds at the same per-round shuffle cost.

The driver-side loop is NOT a driver-side data path: per round the driver
sees one count (the convergence check); all data stays distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_project_spark.sources.tables import local_frame


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint: materialize ``df`` and truncate its lineage.
    Free the blocks with :func:`release` once no later frame reads them —
    without that every round's checkpoint lives for the whole session (r13
    measured the failure: 40+ checkpoint rounds in one session outpaced the
    ContextCleaner and degraded sym-build 5.8 → 26.7 s)."""
    return df.localCheckpoint()


def release(df: DataFrame) -> None:
    """Unpersist the RDD under ``df``'s own ``LogicalRDD`` root (non-blocking).

    ``df`` must be the frame a ``localCheckpoint`` returned (eager, or lazy
    and since materialized): its blocks are found through the frame's plan,
    never through the SparkContext's global RDD registry, so a checkpoint
    another caller made concurrently is never touched. Any other root —
    say a projection of the checkpoint — raises ValueError rather than
    guessing. Safe ONLY for frames never read again: a checkpointed RDD has
    no lineage to recompute from."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD":
        raise ValueError(
            f"release() needs a checkpointed frame, got a {plan.nodeName()} root"
        )
    plan.rdd().unpersist(False)


# Residual-quotient edges at or below this count are solved driver-side
# (exact union-find) instead of by distributed star contraction. The
# quotient after 8 propagation rounds holds only the unconverged chain
# structure — hundreds of rows at the sf0.5 probe — while each star round
# costs 3 checkpoints + 2 exceptAll-isEmpty ACTIONS of pure job-scheduling
# constants (~3.3 s measured for a 946-row quotient). 100k edges is a few
# MB on the driver; anything larger keeps the scale path.
_UF_MAX_ROWS = 100_000


def _union_find_min_label(pairs) -> dict:
    """Exact min-label connected components on a driver-sized edge list.

    Union by MIN (the smaller root becomes parent) with path compression,
    so every root IS its component's minimum id — the same contract as
    the distributed paths: component = smallest reachable node id.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 8,
    fallback_to_star: bool = True,
) -> DataFrame:
    """Undirected connected components over an edge list.

    Returns ``(node, component)`` where ``component`` is the smallest node
    id reachable from ``node``. Plain min-label propagation needs
    diameter-many rounds, so a chain-shaped graph (e.g. the salted-chunk
    CHAIN EDGES a hot dedup bucket emits: a 3.8k-doc bucket in 64-doc
    chunks is a 60-edge path — the r13 sf0.5 sweep hit exactly this)
    blows the round cap. When that happens the call ESCALATES — but
    WITHOUT discarding the rounds already paid: the graph is contracted
    by the learned labels and :func:`connected_components_star` (O(log²)
    rounds, diameter-free) runs on the residual QUOTIENT graph only (one
    node per surviving label — exactly the unconverged chain structure,
    typically a few thousand rows), then composes node → label → root.
    Identical contract — equality property-tested; pass
    ``fallback_to_star=False`` to get the old loud failure.

    ``max_iter`` defaults to 8, a diameter budget, not a convergence
    tuning knob: duplicate clusters are dense (diameter ≤ ~3, converged
    by round 4-5); past ~8 rounds the graph is chain-shaped and each
    propagation round advances the min label ONE hop — the r13 sf0.5
    profile read 21 rounds at ~1 s/round — while the quotient star
    closes the same residual in 2-3 jobs over a tiny frame.
    """
    # localCheckpoint (not persist): persist caches the ROWS but every
    # round's join still embeds sym's full upstream logical plan — for a
    # near-dup pipeline feeding this operator that is the whole blocked-
    # pairs tree, re-analyzed by Catalyst once per round. Truncating the
    # lineage makes each round's plan O(round), not O(pipeline).
    sym = checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # localCheckpoint (not persist): each round's plan embeds the
    # previous round's twice (neighbor join + convergence join), so
    # without lineage TRUNCATION the logical plan doubles per round
    # and Catalyst itself OOMs after ~15 rounds. persist() caches data
    # but keeps the full plan; checkpointing cuts it. On a real
    # cluster prefer setCheckpointDir + checkpoint() so executor loss
    # cannot drop a round.
    labels = checkpoint(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = checkpoint(
            labels.join(
                neighbor_min, labels["node"] == neighbor_min["node2"], "left"
            ).select(
                "node",
                F.col("component").alias("_old"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # convergence check folded into the checkpointed frame: the old
        # label rides along as _old, so `changed` is a filter+count over
        # the just-materialized rows — not a second join per round
        changed = new_labels.filter(
            F.col("component") != F.col("_old")
        ).count()
        # the eager checkpoint above materialized this round; the previous
        # round's blocks are now unreachable — free them (ADVICE r13: they
        # otherwise accumulate max_iter frames per call for the session)
        release(labels)
        labels = new_labels
        if changed == 0:
            # the returned frame reads only the final round's checkpoint;
            # sym is no longer reachable from it
            release(sym)
            return labels.select("node", "component")
    if fallback_to_star:
        # Contract by the labels already learned: every within-cluster
        # edge has collapsed to a self-loop by now, so the quotient holds
        # only the cross-label (chain) structure. Star-contract THAT,
        # then compose node -> label -> root; labels whose cluster fully
        # converged never enter the quotient and keep their value.
        la = labels.select(F.col("node").alias("a"), F.col("component").alias("ca"))
        lb = labels.select(F.col("node").alias("b"), F.col("component").alias("cb"))
        quotient = (
            sym.join(la, "a")
            .join(lb, "b")
            .select(F.col("ca").alias("u"), F.col("cb").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # r14: the residual quotient is typically a FEW HUNDRED rows (946
        # at the sf0.5 probe) — star contraction on it cost 3.3 s of pure
        # per-round job constants (3 checkpoints + 2 exceptAll-isEmpty
        # actions per round on a driver-sized frame). Size-gate: a
        # quotient within the driver budget is collected and solved with
        # exact min-label union-find (identical contract — component =
        # smallest reachable id — equality property-tested); larger
        # residuals keep the distributed star path.
        q_rows = quotient.take(_UF_MAX_ROWS + 1)
        if len(q_rows) <= _UF_MAX_ROWS:
            # driver-sized by the gate above: broadcast it back
            mapping = _union_find_min_label([(r["u"], r["v"]) for r in q_rows])
            spark = labels.sparkSession
            dt = labels.schema["component"].dataType
            from pyspark.sql.types import StructField, StructType

            roots = F.broadcast(
                local_frame(
                    spark,
                    sorted(mapping.items()),
                    StructType(
                        [
                            StructField("component", dt),
                            StructField("_root", dt),
                        ]
                    ),
                )
            )
        else:
            # one row per quotient node, of any size: the planner picks
            # the join
            roots = connected_components_star(
                quotient, src="u", dst="v"
            ).select(
                F.col("node").alias("component"),
                F.col("component").alias("_root"),
            )
        out = labels.join(roots, "component", "left").select(
            "node",
            F.coalesce(F.col("_root"), F.col("component")).alias("component"),
        )
        # the quotient was consumed eagerly (take / the star's input
        # checkpoint) and `out` reads only the final labels checkpoint +
        # the roots frame — sym is unreachable now
        release(sym)
        return out
    raise RuntimeError(
        f"connected_components: no convergence in {max_iter} rounds — "
        "graph diameter too large for plain propagation; use "
        "star-contraction"
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every neighbor larger than u links to u's min.

    Per node u over the symmetric edge view, ``m = min(neighbors ∪ {u})``;
    emits (v, m) for neighbors v > u. Expressed as groupBy-min + join —
    NOT ``collect_set`` — so a hub node with millions of neighbors streams
    through the join instead of materializing one giant array row. Both
    the aggregate and the join shuffle on u; AQE reuses the partitioning.
    """
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over the (larger → smaller) directed view.

    Per node u whose directed neighbors are all smaller, ``m = min(N)``;
    re-links u and every v ∈ N to m. Same join-based single-aggregate
    shape as large-star.
    """
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        directed.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_link = mins.filter(F.col("u") != F.col("m")).select(
        "u", F.col("m").alias("v")
    )
    return relink.unionByName(self_link).distinct()


def connected_components_star(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Converges in O(log² n) rounds regardless of graph DIAMETER — the
    scale path for chain-shaped graphs where plain min-label propagation
    (``connected_components``) needs diameter-many shuffles. Convergence
    is reached when large-star is a fixed point (every component has
    contracted to a star rooted at its minimum node). Per-round
    ``localCheckpoint`` truncates the plan lineage, which otherwise
    doubles every iteration; on a real cluster prefer
    ``sparkContext.setCheckpointDir`` + ``checkpoint()`` so executor loss
    cannot silently drop a round.

    Returns ``(node, component)`` — identical contract to
    ``connected_components``; equality on random graphs is
    property-tested in tests/test_components_star.py.
    """
    e = checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if e.isEmpty():
        return e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    for _ in range(max_iter):
        e2 = checkpoint(_small_star(_large_star(e)))
        ls = checkpoint(_large_star(e2))
        stable = ls.exceptAll(e2).isEmpty() and e2.exceptAll(ls).isEmpty()
        # ls exists only for the fixed-point check; the previous round's
        # edges are unreachable once e2 materialized — free both (the
        # final e2 stays: the returned frame reads it)
        release(ls)
        release(e)
        e = e2
        if stable:
            roots = (
                e.select(F.col("v").alias("node"))
                .distinct()
                .withColumn("component", F.col("node"))
            )
            leaves = e.select(
                F.col("u").alias("node"), F.col("v").alias("component")
            )
            return leaves.unionByName(roots).distinct()
    raise RuntimeError(
        f"connected_components_star: no convergence in {max_iter} rounds"
    )
