"""Iterative graph algorithms as DataFrame loops (PageRank).

The reference has no graph operators; this family exists for the 100 TB
curation story: link-graph centrality (PageRank over a hyperlink or
interaction graph) is a standard web-corpus quality signal, and the
iterative join/agg loop is the same scaffold as connected components
(`operators/components.py`).

Exactness design — why this is oracle-checkable at all
------------------------------------------------------
Textbook PageRank sums floating-point contributions, and float addition is
not associative: Spark's partial-aggregate merge order varies run to run,
so a float implementation can never hash-match a different engine (or even
itself). Instead ranks live in integer **micro-units** (1e6 = rank 1.0) and
every division is integer floor division:

    contrib(u -> v) = rank_micro(u) div out_degree(u)
    rank_micro'(v)  = (unit - damping) + (damping * sum(contrib)) div unit

Integer sums are exact and order-independent, so the result is
bit-reproducible across engines, partitionings, and runs. The quantization
error per iteration is < out_degree ulps of 1e-6 — irrelevant for ranking
use, decisive for verifiability.

Scale notes: the edge table (with out-degree attached) is loop-INVARIANT,
so it is hash-partitioned on ``src`` and persisted ONCE before the loop;
every iteration's edges⋈ranks join then reuses the cached partitioning and
only the (far smaller, |nodes|-sized) rank side is exchanged. Without this,
each of the N rounds re-shuffles the full edge list — the dominant cost at
scale. The node spine is likewise persisted pre-partitioned on ``node`` for
the densification join. Ranks lineage is truncated per round with
``localCheckpoint`` (iterative DataFrame loops otherwise double the plan
every round — see components.py and ROADMAP invariants); the final round
checkpoints eagerly so the loop-invariant caches and the earlier rounds'
checkpoints can be freed before returning (no cache leak across catalog
sweeps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from data_engineering_project_spark.operators.components import (
    checkpoint,
    release,
)

#: 1.0 of rank, expressed in integer micro-units.
UNIT = 1_000_000
#: damping factor 0.85 in micro-units.
DAMPING_MICRO = 850_000


def pagerank_quantized(
    edges: DataFrame,
    iterations: int = 3,
    unit: int = UNIT,
    damping_micro: int = DAMPING_MICRO,
    _keep_plan: bool = False,
) -> DataFrame:
    """Integer-quantized PageRank over a directed edge list.

    Parameters
    ----------
    edges:
        DataFrame with ``src: long`` / ``dst: long`` columns, already
        deduplicated (parallel edges would double-count contributions).

    Returns ``(node: long, rank_micro: long)`` for every node that appears
    as a source or destination. Dangling nodes (no out-edges) simply leak
    their mass, as in the classic formulation without dangling-mass
    redistribution; nodes with no in-edges settle at the base rank.
    """
    if not {"src", "dst"} <= set(edges.columns):
        raise ValueError("edges must have 'src' and 'dst' columns")
    base = unit - damping_micro

    # NOTE: the edge list's upstream is NOT persisted even though deg /
    # edges_deg / nodes all read it — Catalyst's ReuseExchange dedupes the
    # repeated subplan's shuffles already, and an explicit cache barrier
    # measurably slows the build (9-10 s vs 5.7-6 s at sf0.1, A/B-tested)
    # by blocking whole-stage codegen fusion around the scan.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Loop-invariant: (src, dst, deg), hash-partitioned on the join key,
    # SORTED within partitions on it, and persisted. InMemoryTableScan
    # reports both the cached partitioning and ordering, so every
    # iteration's sort-merge join against ranks needs NO exchange and NO
    # sort on the edge side — only the |nodes|-sized rank table moves.
    # The merge hint forces SMJ for the deg join (a broadcast join would
    # leave the output partitioning unknown); its output is then already
    # hash(src)-partitioned AND src-sorted, so no extra repartition/sort
    # pass is needed before caching.
    edges_deg = edges.join(deg.hint("merge"), "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Node spine from the CACHED edge table (not the raw upstream, which may
    # be an expensive join+distinct that would be recomputed): src ∪ dst,
    # pre-partitioned + pre-sorted on node for the densification join.
    nodes = (
        edges_deg.select(F.col("src").alias("node"))
        .union(edges_deg.select(F.col("dst").alias("node")))
        .distinct()  # output is already hash(node)-partitioned
        .sortWithinPartitions("node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranks = nodes.select("node", F.lit(unit).cast("long").alias("rank_micro"))

    ckpts = []
    for i in range(iterations):
        contrib = edges_deg.join(
            ranks, edges_deg["src"] == ranks["node"]
        ).select(
            F.col("dst").alias("node"),
            F.expr("rank_micro div deg").alias("c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_micro} * coalesce(s, 0L)) div {unit}")
            )
            .cast("long")
            .alias("rank_micro"),
        )
        # Truncate lineage: without this the plan doubles per round and
        # Catalyst analysis blows up on deeper iteration counts. The FINAL
        # round checkpoints eagerly, which materializes every earlier
        # round, so the loop-invariant caches and those rounds can be
        # released deterministically (catalog sweeps run hundreds of
        # queries in one session — leaked caches accumulate). ``_keep_plan``
        # (test hook) leaves the last round un-checkpointed so plan tests
        # can assert the Exchange-free edge side; caches and rounds are
        # then left to the caller.
        if _keep_plan and i == iterations - 1:
            return ranks
        ranks = ranks.localCheckpoint(eager=(i == iterations - 1))
        ckpts.append(ranks)
    for r in ckpts[:-1]:
        release(r)
    edges_deg.unpersist()
    nodes.unpersist()
    return ranks


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Multi-source breadth-first search: minimum hop count from any source
    node, bounded at ``rounds`` hops.

    Parameters
    ----------
    edges:
        ``src: long`` / ``dst: long`` directed edge list (deduplicated —
        parallel edges don't change hop counts but inflate the join).
    sources:
        single ``node: long`` column; distance 0 seeds.

    Returns ``(node: long, hops: int)`` for every node reachable in at most
    ``rounds`` hops. Hop counts are exact integers and the per-round
    reduction is ``min`` — order-independent, so the unrolled computation
    is bit-reproducible and oracle-checkable (same argument as the
    integer-quantized PageRank above).

    Scale notes: mirrors the PageRank loop scaffold — the loop-invariant
    edge table is hash-partitioned on ``src`` and persisted once, so each
    round exchanges only the (|reached nodes|-sized) distance table; the
    full-frontier re-join per round (instead of delta-frontier tracking)
    keeps every round's plan identical and the oracle trivially unrollable
    — for bounded small ``rounds`` the re-joined closed set costs one extra
    |reached| exchange, not an edge reshuffle. Lineage truncated per round
    via ``localCheckpoint``.
    """
    if not {"src", "dst"} <= set(edges.columns):
        raise ValueError("edges must have 'src' and 'dst' columns")
    edges_p = edges.repartition("src").sortWithinPartitions("src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dist = sources.select("node", F.lit(0).cast("int").alias("hops"))
    ckpts = []
    for i in range(rounds):
        stepped = edges_p.join(
            dist, edges_p["src"] == dist["node"]
        ).select(
            F.col("dst").alias("node"),
            (F.col("hops") + 1).cast("int").alias("hops"),
        )
        dist = (
            dist.union(stepped)
            .groupBy("node")
            .agg(F.min("hops").cast("int").alias("hops"))
        )
        dist = dist.localCheckpoint(eager=(i == rounds - 1))
        ckpts.append(dist)
    # the eager final round materialized the lazy ones before it
    for r in ckpts[:-1]:
        release(r)
    edges_p.unpersist()
    return dist


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation (community detection), made
    deterministic: every node starts labeled with its own id; each round
    every node adopts the label that is most frequent among its in-
    neighbors, ties broken by the SMALLEST label; nodes with no
    in-edges keep their current label. All state is integer labels and
    integer counts with a total (count desc, label asc) order, so the
    unrolled computation is bit-reproducible and oracle-checkable —
    the async/random-order variants in common use are not.

    Scale shape: same scaffold as ``pagerank_quantized`` — the edge list
    is hash-partitioned on ``src`` and persisted once; each round joins
    the |nodes|-sized label table to it, counts (dst, label) pairs, and
    picks the per-dst winner with a keyed window (partitioned by dst —
    parallel, no global sort). Lineage truncated per round.
    """
    if not {"src", "dst"} <= set(edges.columns):
        raise ValueError("edges must have 'src' and 'dst' columns")
    from pyspark.sql import Window

    edges_p = edges.repartition("src").sortWithinPartitions("src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    nodes = (
        edges_p.select(F.col("src").alias("node"))
        .union(edges_p.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
    ckpts = []
    for i in range(rounds):
        neigh = (
            edges_p.join(labels, edges_p["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        winner = (
            neigh.select(
                "node", "label", F.row_number().over(w).alias("rn")
            )
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(winner, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("new_label"), F.col("label")).alias(
                    "label"
                ),
            )
        )
        labels = labels.localCheckpoint(eager=(i == rounds - 1))
        ckpts.append(labels)
    for r in ckpts[:-1]:
        release(r)
    edges_p.unpersist()
    nodes.unpersist()
    return labels


def kcore_peel(edges: DataFrame, k: int, rounds: int = 3) -> DataFrame:
    """Bounded k-core peeling: repeatedly drop nodes of degree < ``k`` and
    restrict the edge set to surviving endpoints, for ``rounds`` rounds.

    Parameters
    ----------
    edges:
        ``src: long`` / ``dst: long`` undirected edge list with BOTH
        directions materialized and deduplicated, so ``groupBy(src)`` is
        the degree.

    Returns ``(src, deg)`` — the nodes still alive after the final round
    with their residual degrees. Everything is integer counts and set
    restriction — order-independent, so the bounded computation unrolls
    into exact SQL (the BFS/LPA precedent). Convergence: a fixpoint is
    reached when a round removes nothing; bounded rounds are the
    deterministic contract (true core = run until no change, detectable
    by comparing consecutive survivor counts).

    Nodes that appear only as ``dst`` (input not symmetrized) have no
    degree row; round 0 treats them as removed, the way the restriction
    loop's dst semi-join drops their edges.

    Scale notes: unlike PageRank/BFS the edge set SHRINKS every round, so
    the loop peels degrees instead of edges: the edge list is
    checkpointed once, and each round moves only the edges incident to
    the nodes it removes — one semi-join (an anti-join in round 0) and
    one degree-delta aggregation, hash-partitioned on the node key.
    Lineage is truncated per round via ``localCheckpoint`` (the
    iterative-plan-doubling fix shared by every loop in this module).
    """
    if not {"src", "dst"} <= set(edges.columns):
        raise ValueError("edges must have 'src' and 'dst' columns")

    # r14 DELTA PEELING (guide §2.2 shuffle fewer bytes): the old loop
    # re-restricted and re-shuffled the ENTIRE shrinking edge set twice
    # per round (semi-join on src, semi-join on dst) and re-aggregated
    # full degrees; each round now moves only the edges INCIDENT TO
    # FRESHLY-REMOVED nodes: deg_{r+1}(s) = deg_r(s) − #removed
    # neighbors. Output-identical (property-tested vs the restriction
    # loop): deg_r equals the degree inside round r's surviving subgraph
    # by induction, a removed node leaves the degree table exactly once,
    # and final deg == 0 rows (last-round survivors whose neighbors all
    # left) are filtered — the old final groupBy over alive edges never
    # saw them. Round 0 removes every node outside the survivors, so an
    # anti-join against them also catches what the semi-joins dropped
    # without a degree row: NULL dst (a NULL never matches a join key)
    # and dst-only nodes. NULL src rows leave the degree table in round
    # 0; later rounds see no NULL keys. The A/B numbers (sf0.5 9.88 →
    # 5.39 s) are in OPTIMIZATION_r14.md, wave 7.
    edges_ck = checkpoint(edges)
    deg = checkpoint(edges_ck.groupBy("src").agg(F.count("*").alias("deg")))
    for i in range(rounds):
        survivors = deg.filter(F.col("deg") >= k)
        if i == 0:
            survivors = survivors.filter(F.col("src").isNotNull())
            hit = edges_ck.join(
                survivors.select(F.col("src").alias("dst")), "dst", "left_anti"
            )
        else:
            removed = deg.filter(F.col("deg") < k).select(
                F.col("src").alias("dst")
            )
            hit = edges_ck.join(removed, "dst", "left_semi")
        delta = hit.groupBy("src").agg(F.count("*").alias("drop"))
        new_deg = checkpoint(
            survivors.join(delta, "src", "left").select(
                "src",
                (F.col("deg") - F.coalesce(F.col("drop"), F.lit(0))).alias(
                    "deg"
                ),
            )
        )
        release(deg)
        deg = new_deg
    out = deg.filter(F.col("deg") > 0).select(
        "src", F.col("deg").cast("bigint").alias("deg")
    )
    release(edges_ck)
    return out
