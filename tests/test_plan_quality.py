"""Physical-plan assertions: the properties that make plans survive a
100× scale-up, checked against the actual optimized plans (SURVEY.md §4 —
pushdown/pruning/broadcast are the contract, not an accident)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = entrymod.queries()

    def plan_of(name: str) -> str:
        # Frames persisted by earlier-run queries (iterative operators
        # materialize intermediates) substitute InMemoryRelation into any
        # later plan with a matching subtree, changing FileScan/Exchange
        # counts — plan assertions must run against a cache-clean session.
        spark.catalog.clearCache()
        return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_q1_pushes_shipdate_filter_to_scan(plans):
    plan = plans("q1_pricing_summary")
    scan = plan[plan.index("FileScan") :]
    assert "PushedFilters" in scan
    assert "l_shipdate" in scan.split("PushedFilters")[1][:300]


def test_q1_reads_only_needed_columns(plans):
    plan = plans("q1_pricing_summary")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # 7 referenced columns; the other 4 (orderkey/partkey/suppkey/linenumber)
    # must be pruned from the parquet read
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_promo_revenue_broadcasts_the_dimension(plans):
    assert "BroadcastHashJoin" in plans("promo_revenue_by_brand")


def test_flagship_report_scans_events_once(plans):
    # map-based densification (fold hours into a per-date map, explode
    # 0..23, zero-fill lookup misses) reads the raw events exactly once —
    # the round-2 spine-join shape needed a persist barrier to avoid a
    # second full scan, and that cache leaked across catalog sweeps
    plan = plans("hourly_report_dense")
    assert plan.count("FileScan") == 1
    assert "InMemoryTableScan" not in plan


def test_flagship_report_densification_needs_no_join(plans):
    # no spine join at all: densification is a per-date map lookup, so the
    # only exchanges are the two aggregations (date,hour then date)
    plan = plans("hourly_report_dense")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_flagship_report_leaves_no_cached_rdds(spark, sf_dir):
    """VERDICT r2 #5: catalog sweeps run hundreds of queries in one session
    — the flagship query must not leave persisted RDDs behind after a full
    end-to-end materialization."""
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())
    df = entrymod.queries()["hourly_report_dense"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    after = set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())
    assert after <= before


def test_whole_stage_codegen_covers_the_agg(spark, sf_dir):
    # the hot path (scan -> partial agg) must be inside codegen, not
    # interpreted row-at-a-time; AQE's pre-execution plan string omits the
    # codegen markers, so ask for codegen explain mode explicitly
    df = entrymod.queries()["event_type_counts"](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "codegen"
    )
    text = df._jdf.queryExecution().explainString(mode)
    assert "WholeStageCodegen" in text


def test_salted_agg_is_two_stage(plans):
    plan = plans("events_salted_type_stats")
    # stage 1 keyed on (key, salt), stage 2 on key: two shuffles by design,
    # each bounded; a single hot-key shuffle is what it replaces
    assert plan.count("Exchange hashpartitioning") == 2


def test_asof_join_is_single_window_shuffle(plans):
    plan = plans("events_asof_purchase_click")
    assert "Window" in plan
    # union + window: no join node at all, one hash partitioning on user_id
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_interval_join_keys_on_equi_column(plans):
    plan = plans("purchase_click_attribution_1h")
    # the range predicate must NOT force a nested-loop/cartesian plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """Skewed JOINS need no hand-rolled salting: AQE detects the hot key's
    oversized shuffle partition at runtime and splits it across tasks
    (SortMergeJoin(skew=true) + AQEShuffleRead skewed). This is the
    join-side complement of operators/skew.py:salted_aggregate — the test
    constructs one key carrying 10× the volume of the whole long tail and
    asserts the executed (final adaptive) plan actually split it. The
    thresholds are shrunk so local-mode data volumes qualify; at real
    scale the defaults (256 MB advisory, factor 5) behave the same way."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        hot = spark.range(300_000).select(
            F.lit(0).alias("k"), F.col("id").alias("payload")
        )
        cold = spark.range(30_000).select(
            (F.col("id") % 1000 + 1).alias("k"), F.col("id").alias("payload")
        )
        left = hot.unionByName(cold).withColumn(
            "pad", F.concat_ws("-", *[F.col("payload")] * 8)
        )
        right = spark.range(1001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("dim")
        )
        j = left.join(right, "k").groupBy().agg(F.count("*").alias("n"))
        assert j.collect()[0]["n"] == 330_000
        # the FINAL adaptive plan of the execution just run, not a re-plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prefilters_fact_scan(spark, sf_dir):
    """A selective dimension side injects a runtime Bloom filter into the
    fact side's scan (bloom_filter_agg on the build side, might_contain on
    the probe side) — rows for order keys that cannot match are dropped
    BEFORE the join shuffle. session.py enables the feature; this proves
    it actually fires on a representative selective join. Thresholds are
    lowered because local SF scan sizes sit below the 10 GB default
    application-side gate; at warehouse scale the defaults fire as-is."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        # force a shuffle join: broadcast joins skip bloom injection
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 450000
        )
        j = (
            li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy()
            .agg(F.count("*").alias("n"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sf_scaling_dims_broadcast_via_size_gate_not_hard_hint(plans):
    """q5/q9 no longer hard-hint supplier/part (a hard hint overrides the
    size check and OOMs at 100× SF — round-1 verdict #3). At test SF the
    size gate re-applies the hint, so the physical join must still be
    broadcast — proving the gate, not the unconditional hint, chooses."""
    assert plans("q5_local_supplier_volume").count("BroadcastHashJoin") >= 3
    assert plans("q9_nation_profit").count("BroadcastHashJoin") >= 3


def test_q5_never_builds_the_fact_table(plans):
    """Round-6 codegen-dump find: when the supplier-dim hint declines (the
    join-output estimate false negative), the planner hashes LINEITEM as
    the broadcast build side — the fact table in memory, streamed by a
    4k-row dim. The estimate_from gate (operators/hints.py) must keep the
    fact scan off every broadcast build side."""
    plan = plans("q5_local_supplier_volume")
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" in ln:
            subtree = "\n".join(lines[i + 1 : i + 8])
            assert "lineitem" not in subtree, ln + "\n" + subtree


def test_broadcast_gate_declines_frames_above_threshold(spark, sf_dir):
    from data_engineering_project_spark.operators.hints import broadcast_if_small

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # oversized for the threshold → returned unhinted, AQE decides at runtime
    assert broadcast_if_small(li, threshold_bytes=1) is li
    # disabled threshold (-1) never hints, matching engine behavior
    assert broadcast_if_small(li, threshold_bytes=-1) is li
    # under the threshold → the explicit hint is applied
    assert broadcast_if_small(li, threshold_bytes=10**12) is not li
    # estimate_from: gate on a proxy frame's estimate, not the target's —
    # a tiny-proxy gate hints even when the target's own (join-inflated)
    # estimate would decline, and an oversized proxy declines the hint
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    joined = li.join(s, li["l_suppkey"] == s["s_suppkey"])
    tiny = spark.range(1)
    assert (
        broadcast_if_small(joined, threshold_bytes=1000, estimate_from=tiny)
        is not joined
    )
    assert (
        broadcast_if_small(tiny, threshold_bytes=1000, estimate_from=li)
        is tiny
    )


def test_minhash_band_join_shuffles_exclude_shingles(spark, sf_dir):
    """The LSH band-key self-join must shuffle ONLY (id, band_key) — the
    shingle arrays re-enter by id after candidate dedup. A band-key exchange
    carrying the shingle sets multiplies shuffle payload by corpus text size
    × n_bands at 100 TB (the round-1 flaw). Formatted explain lists each
    Exchange's input columns; every hashpartitioning(band_key) exchange must
    carry exactly two. (Broadcast is disabled for the assertion — at test SF
    AQE would broadcast the tiny side and no band-key exchange would exist;
    at corpus scale the self-join always shuffles.)"""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = entrymod.queries()["docs_minhash_pairs"](spark, sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        text = df._jdf.queryExecution().explainString(mode)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    band_exchanges = [
        blk
        for blk in text.split("\n\n")
        if "Exchange" in blk and "hashpartitioning(band_key" in blk
    ]
    assert band_exchanges, text[:2000]
    for blk in band_exchanges:
        assert "Input [2]:" in blk, blk


def test_q6_pushes_all_three_predicates_to_scan(plans):
    # Q6's whole value is scan-side filtering: date range, discount band,
    # and quantity cap must ALL reach the parquet reader
    plan = plans("q6_forecast_revenue")
    scan = plan[plan.index("FileScan") :]
    pushed = scan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed


def test_q12_prunes_orders_to_two_columns(plans):
    # the orders side of the fact-fact join must read only the join key and
    # the priority column — 2 of 6 columns
    plan = plans("q12_priority_by_linestatus")
    orders_scan = [
        seg for seg in plan.split("FileScan") if "orders.parquet" in seg[:400]
    ]
    assert orders_scan
    schema = orders_scan[0].split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in schema and "o_orderpriority" in schema
    assert "o_totalprice" not in schema and "o_custkey" not in schema


def test_q19_envelopes_push_into_both_scans(plans):
    # the OR'd brackets can't push down as written; the stated single-table
    # envelopes must — quantity range on lineitem, brand IN + size on part
    plan = plans("q19_bracketed_revenue")
    li_scan = [
        seg for seg in plan.split("FileScan") if "lineitem.parquet" in seg[:400]
    ]
    p_scan = [
        seg for seg in plan.split("FileScan") if "part.parquet" in seg[:400]
    ]
    assert li_scan and p_scan
    assert "l_quantity" in li_scan[0].split("PushedFilters")[1][:400]
    pushed_part = p_scan[0].split("PushedFilters")[1][:400]
    assert "p_brand" in pushed_part and "p_size" in pushed_part


def test_funnel_windows_share_one_exchange(plans):
    # v and c are two stacked Window nodes over the same user_id hash
    # partitioning; the final groupBy(user_id) also reuses it — a plan
    # that re-shuffled per stage would carry the event stream 3× at 100 TB
    plan = plans("events_funnel_conversion")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_interval_overlap_joins_on_bin_key(plans):
    # the overlap theta predicate must ride an equi join on (user_id, bin),
    # never a nested-loop/cartesian candidate generation
    plan = plans("events_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_wedge_join_is_equi(plans):
    # edge build keys on l_orderkey (the p1<p2 orientation is a post-join
    # filter); both wedge joins key on edge endpoints — all hash/merge
    # joins, no quadratic node anywhere
    plan = plans("parts_triangle_affinity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rfm_is_single_aggregation_shuffle(plans):
    # per-customer agg = one hash exchange on o_custkey; the global-max
    # order date is a broadcast scalar, and threshold scoring is map-side
    plan = plans("customer_rfm_segments")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pagerank_iteration_never_reshuffles_edges(spark):
    """The edge⋈deg table is loop-invariant: cached hash(src)-partitioned
    and src-sorted, so each PageRank round's join must not exchange (or
    re-sort) the edge side — only the |nodes|-sized rank table and the one
    contribution aggregation shuffle. Asserted on the physical-plan TREE
    (the printed string nests cached plans inside InMemoryRelation, which
    would double-count); AQE off so the static plan is the executed one."""
    from data_engineering_project_spark.operators.graph import (
        pagerank_quantized,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        edges = (
            spark.range(1000)
            .select(
                (F.col("id") % 97).alias("src"),
                (F.col("id") % 89 + 100).alias("dst"),
            )
            .distinct()
        )
        ranks = pagerank_quantized(edges, iterations=2, _keep_plan=True)
        plan = ranks._jdf.queryExecution().executedPlan()

        def walk(node):
            yield node
            children = node.children()
            for i in range(children.size()):
                yield from walk(children.apply(i))

        nodes = list(walk(plan))
        names = [n.getClass().getSimpleName() for n in nodes]
        # the loop body reads the cached edge table, it doesn't rebuild it
        assert "InMemoryTableScanExec" in names
        shuffles = [
            n for n in nodes if "ShuffleExchange" in n.getClass().getSimpleName()
        ]
        # at most: rank-side exchange + contribution groupBy(node)
        assert len(shuffles) <= 2, names
        for exchange in shuffles:
            part = exchange.outputPartitioning().toString()
            assert "src" not in part, part
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        for (_, rdd) in spark.sparkContext._jsc.getPersistentRDDs().items():
            rdd.unpersist()


def test_bm25_search_has_no_explode(plans):
    # tf/dl are array expressions in the scan projection; corpus stats are
    # one broadcast scalar row; ranking is a distributed TakeOrdered. An
    # exploded-postings BM25 would shuffle |tokens| rows instead of k/part.
    plan = plans("docs_bm25_search")
    assert "Generate" not in plan  # Spark's explode operator
    assert "TakeOrderedAndProject" in plan


def test_daily_anomalies_carries_integer_moments(plans):
    # one shuffle for the daily agg, one (dates x types sized) for the
    # trailing window — and no float stddev/variance aggregate anywhere:
    # the z-score derives from exact integer (n, sum, sum-of-squares)
    plan = plans("events_daily_anomalies")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "stddev" not in plan and "var_samp" not in plan


def test_markov_sequence_and_normalize_share_keyed_exchanges(plans):
    # the lag() window and the pair aggregation both key on user-derived
    # columns; the normalizing window partitions on from_type over the
    # tiny matrix — no unpartitioned global sort anywhere in the plan
    plan = plans("events_markov_transitions")
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_shuffle_positions_sort_is_per_shard_not_global(plans):
    # the training-shuffle permutation must come from a per-shard sort
    # (hash exchange on shard_id), never a global range exchange — that's
    # the whole point of the two-level manifest
    plan = plans("docs_shuffle_positions")
    assert "Exchange hashpartitioning(shard_id" in plan
    assert "Exchange rangepartitioning" not in plan


def test_dim_standardize_broadcasts_stats_to_scoring_pass(plans):
    # pass 2 scores outliers against the dim-count stats frame via a
    # broadcast join; the left join assembling the final 64-row result may
    # hash-shuffle, but no exchange may carry the exploded corpus beyond
    # the stats aggregations
    plan = plans("emb_dim_standardize")
    assert "BroadcastHashJoin" in plan


def test_seasonal_decompose_windows_run_post_aggregation(plans):
    # the 7-day trend window sorts the aggregated daily series (bounded
    # rows), which Spark plans as a single-partition window AFTER the
    # daily aggregation's hash exchange — the raw events are scanned once
    plan = plans("events_seasonal_decompose")
    assert plan.count("FileScan") == 1


def test_cooccurrence_is_join_free_single_scan(plans):
    # the bipartite projection folds each order's suppliers into a sorted
    # array and unfolds pair combinations array-side — no self-join, one
    # scan, two shuffles (order fold, edge count)
    plan = plans("suppliers_cooccurrence")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_corr_matrix_caches_sufficient_stats(plans):
    # the 1-row moment frame feeds all three unioned matrix cells from
    # cache; without it the full lineitem aggregate re-runs 3x
    plan = plans("lineitem_corr_matrix")
    assert "InMemoryTableScan" in plan
    assert "Union" in plan


def test_acf_pair_join_is_broadcast_on_cached_daily(plans):
    # both lag-pair sides read the persisted ~|days|-row daily aggregate;
    # the pairing joins broadcast (post-agg frames), never shuffling the
    # raw events a second time
    plan = plans("events_daily_acf")
    assert "InMemoryTableScan" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pareto_nested_loop_runs_on_pruned_candidates_only(plans):
    # the exact dominance anti-join may nested-loop ONLY over the cached
    # candidate survivors of the bin-prefix prune — both its sides must be
    # InMemoryTableScans, never a raw FileScan of part
    plan = plans("parts_pareto_frontier")
    nl = plan.index("BroadcastNestedLoopJoin")
    below = plan[nl:]
    assert "InMemoryTableScan" in below
    # the prune threshold itself reaches the map side as a broadcast join
    assert "BroadcastHashJoin" in plan


def test_mean_shift_windows_run_post_aggregation(plans):
    plan = plans("events_mean_shift")
    assert plan.count("FileScan") == 1


def test_streaks_windows_partition_by_user(plans):
    # gaps-and-islands: every window partitions by user_id (parallel), the
    # only global order is the final TakeOrdered top-20
    plan = plans("users_activity_streaks")
    assert plan.count("FileScan") == 1
    assert "TakeOrderedAndProject" in plan


def test_bigram_lm_scores_via_broadcast_model(plans):
    # the LM model/context/vocab frames are |alphabet|^2-sized and must
    # come back to the corpus-sized count table as broadcast joins; the
    # count table itself is cached (feeds model build + scoring)
    plan = plans("docs_bigram_lm_score")
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan


def test_bfs_rounds_truncate_lineage(plans):
    # after 3 unrolled rounds the returned plan must be a checkpoint scan,
    # not a 3x-nested join tree (localCheckpoint per round)
    plan = plans("graph_bfs_hops_trade")
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


def test_pit_enrichment_is_single_shuffle_no_join(plans):
    # the PIT lookup must be the union+LOCF-window form: one scan, one
    # user_id exchange, no interval join fan-out
    plan = plans("events_pit_enrichment")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_interarrival_single_scan_two_keyed_windows(plans):
    plan = plans("events_interarrival_stats")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_time_to_convert_shares_user_partitioning(plans):
    # first-click window + per-user min groupBy reuse one hash exchange on
    # user_id; the converted-user delta frame is CACHED once (r12: its
    # rank rides the two-pass prefix scan, whose bounds/bucketed/totals
    # consumers would otherwise each replay the events scan). Every
    # InMemoryTableScan PRINT embeds the cached lineage's FileScan, so
    # effective scans = raw count - cached prints + 1 materialization.
    plan = plans("events_time_to_convert")
    assert "InMemoryTableScan" in plan
    effective = plan.count("FileScan") - plan.count("InMemoryTableScan") + 1
    assert effective <= 2  # one delta materialization + clicker count
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_rank_shift_aggregates_before_rank_windows(plans):
    # rank windows must run on the (user, half) aggregate, and the bounds
    # frame arrives broadcast — no driver collect, no raw-data sort
    plan = plans("users_rank_shift")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_length_buckets_is_one_combined_shuffle(plans):
    plan = plans("docs_length_buckets")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_deciles_preaggregate_orders_before_join(plans):
    # the revenue side must reduce orders per customer BEFORE joining the
    # binned customers (HashAggregate below the join on the orders branch)
    plan = plans("customers_balance_deciles")
    join_at = plan.index("SortMergeJoin") if "SortMergeJoin" in plan else plan.index("Join")
    below = plan[join_at:]
    assert "HashAggregate" in below


def test_bloom_probe_join_is_broadcast(plans):
    # the bloom set-bit table is O(m) rows regardless of member cardinality
    # — it must reach the probe side as a broadcast, never a shuffle join
    plan = plans("events_bloom_prune_witness")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_balanced_downsample_filters_without_row_shuffle(plans):
    # per-type thresholds broadcast back onto the raw scan; the events rows
    # themselves are never hash-exchanged before the keep-filter, and the
    # raw table is scanned at most twice (count pass + filter pass — the
    # cached thresholds frame stops per-use recomputation)
    plan = plans("events_balanced_downsample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # thresholds are cached and BOTH uses (broadcast keep-filter, final
    # report join) read the cache — the raw table is physically read twice
    # (count pass inside the cache definition + filter pass). Any FileScan
    # beyond those two sits inside the InMemoryRelation DEFINITION string,
    # which the plan printer repeats per use, so count cache READS, not
    # scan strings.
    assert plan.count("InMemoryTableScan") >= 2


def test_sliding_windows_expand_map_side(plans):
    # F.window(size=2h, slide=1h) assigns each row to its 2 windows in the
    # projection (Expand), so the only exchange is the (window,type) agg —
    # no self-join, one scan
    plan = plans("events_sliding_2h_windows")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ols_trend_joins_nation_broadcast(plans):
    # the regression runs on the ~|nation x month| aggregate; the 25-row
    # nation-name join must be broadcast
    plan = plans("nation_monthly_ols_trend")
    assert "BroadcastHashJoin" in plan


def test_chi2_computes_on_cell_grid(plans):
    # one raw-data scan; marginals and the statistic are window sums over
    # the tiny |types| x 7 grid
    plan = plans("events_chi2_type_dow")
    assert plan.count("FileScan") == 1


def test_hhi_aggregates_by_supplier_before_join(plans):
    # lineitem collapses to |suppliers| rows (map-side combine) before any
    # join; nation lookup is broadcast
    plan = plans("supplier_nation_hhi")
    assert "Exchange hashpartitioning(l_suppkey" in plan
    assert "BroadcastHashJoin" in plan


def test_zipf_ranks_topk_not_full_vocabulary(plans):
    # top-200 terms come from a distributed TakeOrdered, so the global
    # row_number window only ever sees 200 rows — never the whole vocab
    plan = plans("docs_zipf_slope")
    assert "TakeOrderedAndProject" in plan


def test_kcore_edges_shrink_with_checkpoint_per_round(plans):
    # bounded peeling truncates lineage per round — the final plan must not
    # contain the unrolled join tower (localCheckpoint leaves scan nodes)
    plan = plans("graph_kcore_trade")
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


def test_ewm_pairs_join_is_broadcast_on_cached_daily(plans):
    # the 10-lag pairing runs on the cached ~|days|-row aggregate with
    # broadcast joins; the raw events are scanned once (cache definition)
    plan = plans("events_ewm_daily")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "InMemoryTableScan" in plan


def test_rrf_pools_via_distributed_topk(plans):
    # each term ranking pools top-100 via TakeOrdered — the row_number
    # window never sees more than the pooled candidates
    plan = plans("docs_rrf_fusion")
    assert "TakeOrderedAndProject" in plan


def test_gini_runs_on_count_of_counts(plans):
    # two keyed exchanges (user count, count-of-counts); the unpartitioned
    # cumulative window runs on the tiny grouped-frequency frame
    plan = plans("events_user_gini")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_kaplan_meier_scans_events_once(plans):
    # the censoring horizon folds over the cached per-user aggregate: both
    # consumers (global max + lifetime classification) read the
    # InMemoryRelation, so the fact table is physically scanned once.
    # (InMemoryRelation PRINTS its stored definition — a FileScan — inside
    # each InMemoryTableScan node, so counting 'FileScan' strings
    # overstates the physical scans; count the cache reads instead.)
    plan = plans("events_kaplan_meier")
    assert plan.count("InMemoryTableScan") == 2


def test_adamic_adar_pairs_from_postings_join(plans):
    # candidate pairs come from the equi-join on the shared supplier (cost
    # sum(deg^2)); the weight side broadcasts; no cartesian anywhere
    plan = plans("graph_adamic_adar")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_time_decay_attribution_no_cross_product(plans):
    # the 24h range join rides the user_id equi-key; per-key fan-out is a
    # user's own events, never a cross product
    plan = plans("events_time_decay_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_ks_two_sample_single_scan_no_join(plans):
    # CDFs collapse onto the count-of-values table before any window: one
    # pushed-filter scan of events, no join anywhere in the statistic
    plan = plans("events_ks_two_sample")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    scan = plan[plan.index("FileScan") :]
    assert "PushedFilters" in scan
    assert "event_type" in scan.split("PushedFilters")[1][:300]


def test_mannwhitney_single_scan_no_join(plans):
    # rank sums come from the tied-rank closed form over the grouped
    # frequency table — no per-row ranking, no join, one scan
    plan = plans("events_mannwhitney_u")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_collocations_pmi_broadcast_marginals(plans):
    # bigrams unfold array-side; marginals are vocab-sized aggregates
    # joined back BROADCAST onto the cached pair table (r12: the former
    # partitionBy() global window funneled every pair through one task).
    # Effective scans: InMemoryTableScan prints embed the cached lineage's
    # FileScan, so subtract the prints and add back one materialization.
    plan = plans("docs_collocations_pmi")
    assert "InMemoryTableScan" in plan  # pairs cached once, four consumers
    assert plan.count("FileScan") - plan.count("InMemoryTableScan") + 1 == 1
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan  # marginals never shuffle the pairs


def test_theilsen_self_joins_cached_rollup(plans):
    # both pairwise-slope sides read the persisted monthly rollup
    # (InMemoryRelation prints its stored FileScan definition inside each
    # InMemoryTableScan node — count cache reads, not 'FileScan' strings):
    # the orders⋈customer fact work physically executes once
    plan = plans("nation_theilsen_trend")
    assert plan.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in plan


def test_clustering_coeff_shares_cached_edges(plans):
    # degrees, all three wedge-join sides, and the corner unfold all read
    # the persisted thresholded edge list; lineitem is scanned once at
    # cache materialization
    plan = plans("graph_clustering_coeff")
    assert plan.count("InMemoryTableScan") >= 4
    assert "CartesianProduct" not in plan


def test_session_concurrency_single_sessionize_pass(plans):
    # every consumer of the grouped boundary table — the prefix scan's
    # split sampling + bucketed pass (r13 migration off the global
    # window) and the start counts — reads the persisted frame; a naive
    # union/self-read would re-execute the sessionization subtree per
    # consumer
    plan = plans("events_session_concurrency")
    assert plan.count("InMemoryTableScan") == 3, plan[:2000]
    assert "CartesianProduct" not in plan


def test_simhash_hamming_pairs_shares_cached_fingerprints(plans):
    # band explode and both verification sides read the persisted
    # fingerprint frame; candidates come from band equi-joins only
    plan = plans("docs_simhash_hamming_pairs")
    assert plan.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_no_cross_cluster_pairing(plans):
    # the in-cell pair join must stay an equi-join on the block key —
    # an ambiguous self-join predicate would silently degrade to a
    # cross product over all cells
    plan = plans("emb_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_median_cumsum_is_two_pass_not_single_reducer(plans):
    # the cumulative weight must run through the two-pass parallel scan
    # (operators/prefix.py): every Window ordered by the price grid is
    # partitioned by (flag, _bucket) — never by flag alone, which would
    # funnel a whole flag's cell table through one task. The only
    # flag-partitioned window is the O(buckets) offsets step, ordered by
    # _bucket over the per-bucket totals.
    plan = plans("lineitem_weighted_median_price")
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert windows, "expected window nodes in the weighted-median plan"
    for ln in windows:
        spec = ln.split("windowspecdefinition(", 1)[1]
        if "cents" in spec.split("specifiedwindowframe")[0]:
            assert "_bucket" in spec.split("specifiedwindowframe")[0], ln


def test_ivfpq_candidate_path_is_shuffle_free(plans):
    # codes and per-cell ADC tables are literal projections over the
    # residual frame; the only wide operation allowed is TakeOrdered.
    # A joins-on-vec_id codes assembly (the first implementation) would
    # show Exchange/SortMergeJoin here and re-shuffle the corpus per query.
    plan = plans("emb_ivfpq_topk")
    assert "TakeOrdered" in plan
    # the cells×dim centroid frame broadcasts (BroadcastExchange is the
    # point); what must NOT appear is a data shuffle or a shuffle join
    assert "Exchange hashpartitioning" not in plan, plan
    assert "ShuffleExchange" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_winnowing_fp_join_shuffles_exclude_text(spark, sf_dir):
    """The winnowing fp self-join must shuffle ONLY (doc_id, fp) — never
    the token arrays or raw text (same 100 TB payload rule as the minhash
    band join). Broadcast disabled so the self-join's exchanges exist at
    test SF."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = entrymod.queries()["docs_winnowing_pairs"](spark, sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        text = df._jdf.queryExecution().explainString(mode)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    fp_exchanges = [
        blk
        for blk in text.split("\n\n")
        if "Exchange" in blk
        and ("hashpartitioning(fp_a" in blk or "hashpartitioning(fp_b" in blk)
    ]
    assert fp_exchanges, text[:2000]
    for blk in fp_exchanges:
        assert "Input [2]:" in blk, blk


def test_rerank_rescore_stage_is_broadcast_point_lookup(plans):
    """Two-stage serving (emb_ivfpq_rerank_topk): the exact-rescore stage
    must fetch candidate vectors through a BROADCAST semi join of the
    bounded shortlist — a shuffle join here would re-partition the vector
    corpus per query. The ADC stage's shuffle-free contract is inherited
    (test_ivfpq_candidate_path_is_shuffle_free)."""
    plan = plans("emb_ivfpq_rerank_topk")
    assert "TakeOrdered" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_knn_join_never_shuffles_the_corpus(plans):
    """emb_knn_join is the batched offline shape: the corpus scan must feed
    BROADCAST joins against the (tiny) probe table and query frame — at
    100 TB every corpus partition is read once for ALL queries with zero
    shuffles of the big side; the only corpus-bearing exchange allowed is
    the per-query top-k window's hashpartitioning on qid, which carries
    only the probed candidates."""
    plan = plans("emb_knn_join")
    # corpus joins are broadcast, never sort-merge
    assert "SortMergeJoin" not in plan
    corpus_scans = [
        seg for seg in plan.split("FileScan")[1:] if "embeddings" in seg[:300]
    ]
    assert corpus_scans, "corpus scan missing"
    # the query frame is a driver-side local relation, not a corpus scan
    # (a fact-scan broadcast build is what the broadcast audit flags)
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_serving_index_probe_reads_are_pruned(spark, sf_dir, tmp_path):
    """query_ivf_index must touch only the probed cells' FILES: with k
    cells written one-file-per-cell, a 2-probe query's scan lists exactly
    2 data files — manifest pruning from footer stats, the 100 TB read
    shape."""
    from data_engineering_project_spark.operators.ann_index import (
        build_ivf_index,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    table = str(tmp_path / "ivf")
    build_ivf_index(emb, table, k=8)
    qv = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]
    df = query_ivf_index(spark, table, qv, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two probed cells -> ONE scan listing exactly their two files (one
    # pruned read over both cells' file sets)
    assert plan.count("InMemoryFileIndex") == 1, plan[:500]
    assert "InMemoryFileIndex(2 paths)" in plan, plan[:500]


#: an interpreted vector fold: ``aggregate(zip_with(...), 0.0, acc + x)``
#: (a bare elementwise ``zip_with``, e.g. an IVF-PQ residual, folds nothing)
_VECTOR_FOLD = "aggregate("
_NOT_ARROW = ("BatchEvalPython", "MapInPandas")

#: emb_* plans that call an Arrow kernel yet keep an expression fold
_FOLD_ALLOWED = {
    # the probe ranks a handful of centroids with cosine(); the per-row
    # scoring is the Arrow scorer
    "emb_ivf_topk",
    "emb_ivf_recall",
    "emb_knn_join",
    # the integer-dot pair stage is its own open item (ROADMAP direction 2)
    "emb_semantic_dedup",
}


def test_vector_kernel_plans_cross_through_arrow_without_folds(plans):
    """Every emb_* plan whose vector path runs an Arrow kernel
    (operators/kernels.py) shows no BatchEvalPython, no MapInPandas and —
    outside the allowlist — no interpreted aggregate/zip_with fold."""
    import __spark_entry__ as m

    kernel_plans = 0
    for name in sorted(n for n in m.queries() if n.startswith("emb_")):
        plan = plans(name)
        if "MapInArrow" not in plan and "FlatMapGroupsInArrow" not in plan:
            continue
        kernel_plans += 1
        for node in _NOT_ARROW:
            assert node not in plan, (name, node)
        if name not in _FOLD_ALLOWED:
            assert _VECTOR_FOLD not in plan, name
    assert kernel_plans >= 12


def test_ivf_index_build_append_query_plans_use_arrow_kernels(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The serving index's build, append and query plans run the Arrow
    kernels: cell assignment through pq_codes_arrow (build and append
    alike) and in-cell scoring through the row-pair scorer — no
    BatchEvalPython, no MapInPandas, no interpreted distance fold."""
    from data_engineering_project_spark.operators import ann_index
    from data_engineering_project_spark.sinks import snapshot_table as snap

    written = {}

    def spy(fn, label):
        def wrapped(*args, **kwargs):
            df = next(a for a in args if hasattr(a, "_jdf"))
            written.setdefault(label, []).append(
                df._jdf.queryExecution().executedPlan().toString()
            )
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(snap, "write_table", spy(snap.write_table, "build"))
    monkeypatch.setattr(snap, "merge_upsert", spy(snap.merge_upsert, "append"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    table = str(tmp_path / "ivf")
    ann_index.build_ivf_index(emb.filter("vec_id % 2 = 0"), table, k=4)
    ann_index.append_to_ivf_index(emb.filter("vec_id % 2 = 1"), table)
    qv = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]
    query = ann_index.query_ivf_index(spark, table, qv, k=5, nprobe=2)

    build_data, append = written["build"][0], written["append"][0]
    query_plan = query._jdf.queryExecution().executedPlan().toString()
    for label, plan in (
        ("build", build_data), ("append", append), ("query", query_plan)
    ):
        assert "MapInArrow" in plan, label
        for node in (*_NOT_ARROW, _VECTOR_FOLD, "zip_with("):
            assert node not in plan, (label, node)


def test_brute_topk_windows_get_rank_limit_pushdown(plans):
    """The brute-force ANN top-k shapes (emb_cosine_topk, emb_knn_join,
    emb_hard_negatives) feed a row_number window whose INPUT is
    |corpus| x |queries| rows — the plan survives 100 TB only because
    Spark 4's WindowGroupLimit pushes the rank limit map-side (a partial
    top-k per group before the exchange). Assert the operator is
    actually present in each executed plan so a regression (e.g. a
    filter expressed in a way the rule can't match) fails loudly instead
    of silently turning the window into a full-corpus sort (round-9
    VERDICT next-round #5)."""
    for name in [
        "emb_knn_join",
        "emb_hard_negatives",
        "top3_orders_per_customer",
    ]:
        plan = plans(name)
        assert "WindowGroupLimit" in plan, (
            f"{name}: no rank-limit pushdown\n{plan[:3000]}"
        )
    # the single-query brute shape is a global orderBy().limit(k) —
    # TakeOrderedAndProject is its map-side-partial equivalent
    plan = plans("emb_cosine_topk")
    assert "TakeOrderedAndProject" in plan, plan[:3000]


#: Every global (un-partitioned) Window.orderBy site in the engine, with the
#: reason its input frame is SCHEMA-BOUNDED (saturating grid / top-k limit /
#: O(buckets) scan internals) rather than data-scaled. Data-scaled ordered
#: tables must use operators/prefix.py (two-pass parallel scan) — the three
#: single-reducer windows that slipped past code review this way cost r11/r12
#: slope sweeps to find (customers_balance_deciles, orders_decile_stats,
#: events_session_concurrency). Adding a NEW global window requires adding
#: its (file, function) here with a bounded-frame justification.
GLOBAL_WINDOW_ALLOWLIST = {
    ("plans/analytics_queries.py", "orders_yoy_growth"): "monthly grid (~84 rows over the 7-year TPC-H span)",
    ("plans/inference_queries.py", "docs_zipf_slope"): "window over the 200-row top-k limit",
    ("plans/inference_queries.py", "events_ks_two_sample"): "grouped cents grid (saturating value domain)",
    ("plans/inference_queries.py", "events_mannwhitney_u"): "grouped cents grid (saturating value domain)",
    ("plans/inference_queries.py", "events_user_gini"): "count-of-counts table (|distinct activity levels|)",
    ("plans/profile_queries.py", "events_cusum_drift_alarm"): "daily grid",
    ("plans/profile_queries.py", "events_value_quantile_rollup"): "fixed histogram bins",
    ("plans/relational_queries.py", "parts_pareto_frontier"): "fixed price bins",
    ("plans/search_queries.py", "docs_rrf_fusion"): "window over the RRF pool limit",
    ("plans/sharding_queries.py", "docs_neyman_allocation"): "per-language rows (bounded lang domain)",
    ("plans/stats_queries.py", "events_kaplan_meier"): "grouped lifetime-hours grid",
    ("plans/stats_queries.py", "events_runs_test"): "daily grid (~|days| rows)",
    ("plans/stats_queries.py", "events_value_isotonic_rate"): "fixed value bins",
    ("plans/stats_queries.py", "marg"): "spearman marginal over the ~550-cell quantity/discount grid",
    ("plans/text_queries.py", "docs_vocab_growth_curve"): "fixed corpus-fraction buckets",
    ("plans/timeseries_queries.py", "events_seasonal_decompose"): "daily grid",
    ("streaming/pipeline.py", "_write"): "micro-batch state tables: daily grid / sketch-sized heavy-hitter estimates",
    ("streaming/pipeline.py", "read_quantile_estimates"): "fixed histogram bins",
}


def test_global_order_windows_are_allowlisted_schema_bounded():
    """Static pin on the single-reducer-window class (r12 VERDICT #3): a
    Window.orderBy with no partitionBy coalesces its whole input through
    ONE task, so every such site must sit over a documented schema-bounded
    frame. AST-scan the package; any new site fails here until it is
    either migrated to operators/prefix.py or ratified in the allowlist."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "data_engineering_project_spark")
    pkg = os.path.abspath(pkg)
    found = set()
    for dirpath, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            spans = [
                (n.lineno, n.end_lineno or n.lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "orderBy"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "Window"
                ):
                    continue
                enclosing = [
                    name
                    for (lo, hi, name) in spans
                    if lo <= node.lineno <= hi
                ]
                # innermost enclosing def (spans nest; the last match with
                # the smallest extent is the innermost — sort by size)
                inner = min(
                    (
                        (hi - lo, name)
                        for (lo, hi, name) in spans
                        if lo <= node.lineno <= hi
                    ),
                    default=(0, "<module>"),
                )[1] if enclosing else "<module>"
                found.add((os.path.relpath(path, pkg), inner))

    new = found - set(GLOBAL_WINDOW_ALLOWLIST)
    stale = set(GLOBAL_WINDOW_ALLOWLIST) - found
    assert not new, (
        "NEW un-partitioned Window.orderBy site(s) — migrate to "
        f"operators/prefix.py or ratify with a bounded-frame reason: {sorted(new)}"
    )
    assert not stale, f"stale allowlist entries (site removed): {sorted(stale)}"
