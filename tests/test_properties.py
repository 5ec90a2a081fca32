"""Property-based tests (hypothesis) — the layer SURVEY.md §5 notes the
reference lacks. Invariants over arbitrary inputs, not fixtures:

- densification always yields exactly 24 rows per date, zero-filled
- dense totals preserve the input row count (nothing lost, nothing invented)
- the salted aggregate equals the plain aggregate for any salt count
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_engineering_project_spark.operators.report import combine_hourly_reports
from data_engineering_project_spark.operators.skew import salted_aggregate

# events: (day 1-3, hour 0-23, type) — arbitrary sparse/dense/skewed mixes
EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),
        st.integers(min_value=0, max_value=23),
        st.sampled_from(["view", "click"]),
    ),
    min_size=1,
    max_size=60,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(events=EVENTS)
@settings(**_SETTINGS)
def test_densified_report_is_always_a_full_grid(spark, events):
    df = spark.createDataFrame(
        [(dt.date(2022, 5, d), h, t) for d, h, t in events],
        "d date, h int, t string",
    )
    report = combine_hourly_reports(
        df, date_col="d", hour_col="h", type_col="t", types=("view", "click")
    ).collect()

    n_dates = len({d for d, _, _ in events})
    assert len(report) == 24 * n_dates
    by_date: dict = {}
    for r in report:
        by_date.setdefault(r["date"], []).append(r)
    for rows in by_date.values():
        assert sorted(r["hour"] for r in rows) == list(range(24))
        assert all(r["view_count"] >= 0 and r["click_count"] >= 0 for r in rows)

    # conservation: dense totals == input multiset counts
    total_views = sum(r["view_count"] for r in report)
    total_clicks = sum(r["click_count"] for r in report)
    assert total_views == sum(1 for _, _, t in events if t == "view")
    assert total_clicks == sum(1 for _, _, t in events if t == "click")


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "hot"]),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=50,
    ),
    n_salt=st.sampled_from([1, 2, 7, 32]),
)
@settings(**_SETTINGS)
def test_salted_aggregate_equals_plain_for_any_salt(spark, rows, n_salt):
    df = spark.createDataFrame(rows, "k string, v long")
    salted = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in salted_aggregate(
            df,
            ["k"],
            [("count", "*", "n"), ("sum", "v", "s"), ("min", "v", "mn"), ("max", "v", "mx")],
            n_salt=n_salt,
        ).collect()
    }
    plain = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert salted == plain


@given(
    left_rows=st.lists(
        st.tuples(st.sampled_from(["hot", "a", "b"]), st.integers(0, 99)),
        min_size=1,
        max_size=40,
    ),
    right_rows=st.lists(
        st.tuples(st.sampled_from(["hot", "a", "c"]), st.integers(0, 99)),
        min_size=0,
        max_size=10,
    ),
    how=st.sampled_from(["inner", "left"]),
)
@settings(**_SETTINGS)
def test_salted_join_equals_plain_join(spark, left_rows, right_rows, how):
    from data_engineering_project_spark.operators.skew import salted_join

    left = spark.createDataFrame(left_rows, "k string, lv long")
    right = spark.createDataFrame(right_rows, "k string, rv long") if right_rows else (
        spark.createDataFrame([], "k string, rv long")
    )
    salted = sorted(
        (r["k"], r["lv"], r["rv"])
        for r in salted_join(left, right, "k", how=how, n_salt=4).collect()
    )
    plain = sorted(
        (r["k"], r["lv"], r["rv"]) for r in left.join(right, "k", how).collect()
    )
    assert salted == plain


@given(
    left_rows=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50), st.integers(0, 999)),
        min_size=1,
        max_size=25,
    ),
    right_rows=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)),
        min_size=1,
        max_size=25,
    ),
)
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows):
    """operators/asof.py against the canonical reference implementation
    (pandas merge_asof, direction='backward') on arbitrary inputs."""
    import pandas as pd

    from data_engineering_project_spark.operators.asof import asof_join

    # dedup (key, time) on the left like merge_asof's last-wins: keep max v
    best = {}
    for k, t, v in left_rows:
        best[(k, t)] = max(v, best.get((k, t), -1))
    left_rows = [(k, t, v) for (k, t), v in best.items()]

    left = spark.createDataFrame(
        [(k, dt.datetime(2022, 1, 1, 0, t), float(v)) for k, t, v in left_rows],
        "k long, t timestamp, v double",
    )
    right = spark.createDataFrame(
        [
            (i, k, dt.datetime(2022, 1, 1, 0, t))
            for i, (k, t) in enumerate(right_rows)
        ],
        "rid long, k long, rt timestamp",
    )
    got = {
        r["rid"]: r["asof_v"]
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="rt", carry=["v"]
        ).collect()
    }

    lp = pd.DataFrame(
        [(k, dt.datetime(2022, 1, 1, 0, t), float(v)) for k, t, v in left_rows],
        columns=["k", "t", "v"],
    ).sort_values(["t", "k"]).reset_index(drop=True)
    rp = pd.DataFrame(
        [
            (i, k, dt.datetime(2022, 1, 1, 0, t))
            for i, (k, t) in enumerate(right_rows)
        ],
        columns=["rid", "k", "rt"],
    ).sort_values(["rt", "k"]).reset_index(drop=True)
    expected_df = pd.merge_asof(
        rp, lp, left_on="rt", right_on="t", by="k", direction="backward"
    )
    expected = {
        int(r.rid): (None if pd.isna(r.v) else float(r.v))
        for r in expected_df.itertuples()
    }
    assert got == expected


# --- round-4b: skyline and BFS vs brute-force references -------------------

POINTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),   # size
        st.integers(min_value=1, max_value=8),   # price units (small domain
    ),                                           # forces ties + duplicates)
    min_size=1,
    max_size=16,
)


@given(points=POINTS)
@settings(**_SETTINGS)
def test_skyline_matches_bruteforce(spark, points):
    import data_engineering_project_spark.plans.relational_queries as R

    df = spark.createDataFrame(
        [
            (i, f"p{i}", sz, float(pr))
            for i, (sz, pr) in enumerate(points)
        ],
        "p_partkey long, p_name string, p_size int, p_retailprice double",
    )
    orig = R.load_table
    try:
        R.load_table = lambda spark, sf, name: df
        got = sorted(
            r["p_partkey"]
            for r in R.parts_pareto_frontier(spark, "unused").collect()
        )
    finally:
        R.load_table = orig

    def dominated(i):
        szi, pri = points[i]
        return any(
            prj <= pri and szj >= szi and (prj < pri or szj > szi)
            for j, (szj, prj) in enumerate(points)
            if j != i
        )

    want = sorted(i for i in range(len(points)) if not dominated(i))
    assert got == want


EDGE_LISTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=0, max_value=6),
    ),
    min_size=1,
    max_size=14,
)


@given(edges=EDGE_LISTS, rounds=st.integers(min_value=1, max_value=3))
@settings(**_SETTINGS)
def test_bfs_matches_bruteforce(spark, edges, rounds):
    from data_engineering_project_spark.operators.graph import bfs_hops

    eset = sorted(set(edges))
    edf = spark.createDataFrame(eset, "src long, dst long")
    src_node = eset[0][0]
    sdf = spark.createDataFrame([(src_node,)], "node long")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edf, sdf, rounds=rounds).collect()
    }

    want = {src_node: 0}
    frontier = {src_node}
    for k in range(1, rounds + 1):
        nxt = {d for (s, d) in eset if s in want and want[s] == k - 1}
        new = {d for d in nxt if d not in want}
        for d in new:
            want[d] = k
        if not new:
            break
    assert got == want


EDGE_PAIRS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=30,
)


@given(edges=EDGE_PAIRS, k=st.integers(min_value=1, max_value=4))
@settings(**_SETTINGS)
def test_kcore_matches_bruteforce_peeling(spark, edges, k):
    from data_engineering_project_spark.operators.graph import kcore_peel

    # undirected, deduplicated, both directions (the operator's contract)
    und = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    rounds = 4
    edf = spark.createDataFrame(und, "src long, dst long")
    got = {
        r["src"]: r["deg"] for r in kcore_peel(edf, k=k, rounds=rounds).collect()
    }

    alive = set(und)
    for _ in range(rounds):
        deg: dict[int, int] = {}
        for s, _d in alive:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        alive = {(s, d) for s, d in alive if s in keep and d in keep}
    want: dict[int, int] = {}
    for s, _d in alive:
        want[s] = want.get(s, 0) + 1
    assert got == want


@given(
    members=st.sets(st.integers(min_value=0, max_value=10_000), max_size=40),
    probes=st.sets(st.integers(min_value=0, max_value=10_000), max_size=40),
)
@settings(**_SETTINGS)
def test_bloom_positions_never_false_negative(spark, members, probes):
    """Any true member's k positions are all set by construction, for ANY
    member/probe mix — the hard Bloom guarantee the witness query and the
    streaming writer both rely on."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.operators.sketch import bloom_positions

    if not members:
        return
    m, kk = 512, 3  # small m → plenty of collisions → fp pressure
    mdf = spark.createDataFrame([(x,) for x in sorted(members)], "key long")
    bits = {
        r["pos"]
        for r in mdf.select(
            F.explode(bloom_positions(F.col("key"), m=m, k=kk)).alias("pos")
        ).collect()
    }
    pdf = spark.createDataFrame(
        [(x,) for x in sorted(members | probes)], "key long"
    )
    rows = pdf.select(
        "key", bloom_positions(F.col("key"), m=m, k=kk).alias("pos")
    ).collect()
    for r in rows:
        passes = all(p in bits for p in r["pos"])
        if r["key"] in members:
            assert passes  # no false negatives, ever


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),                 # group
            st.integers(min_value=-50, max_value=50),    # value (cents)
            st.integers(min_value=1, max_value=9),       # weight
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_weighted_median_matches_expanded_bruteforce(spark, rows):
    """The grouped-cumulative weighted median (the
    lineitem_weighted_median_price device: min(v | 2*cum >= total) over
    per-value weight sums) must equal the lower median of the fully
    EXPANDED multiset — each value repeated weight times — for any mix
    of ties, skewed weights, and negative values."""
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "g string, v long, w long")
    cells = df.groupBy("g", "v").agg(F.sum("w").alias("w"))
    wf = Window.partitionBy("g")
    cum = cells.select(
        "g",
        "v",
        F.sum("w").over(wf.orderBy("v")).alias("cw"),
        F.sum("w").over(wf).alias("tw"),
    )
    got = {
        r["g"]: r["m"]
        for r in cum.groupBy("g")
        .agg(
            F.min(
                F.when(F.col("cw") * 2 >= F.col("tw"), F.col("v"))
            ).alias("m")
        )
        .collect()
    }
    by_g: dict = {}
    for g, v, w in rows:
        by_g.setdefault(g, []).extend([v] * w)
    for g, vals in by_g.items():
        vals.sort()
        want = vals[(len(vals) + 1) // 2 - 1]  # lower median, 1-based ceil
        assert got[g] == want, (g, vals, got[g])


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(  # order key — ties, skew, AND NULLs
                st.none(), st.integers(min_value=-100, max_value=100)
            ),
            st.one_of(  # value — NULLs must not be invented or dropped
                st.none(), st.integers(min_value=-20, max_value=20)
            ),
        ),
        min_size=1,
        max_size=60,
    ),
    n_buckets=st.sampled_from([1, 3, 8, 32]),
    strategy=st.sampled_from(["range", "sampled"]),
)
@settings(**_SETTINGS)
def test_partitioned_cumsum_equals_global_window(
    spark, rows, n_buckets, strategy
):
    """The two-pass parallel scan (operators/prefix.py) must equal the
    single-reducer global window for ANY key distribution — skew, ties,
    negative values, NULL order keys (sort first, never dropped), NULL
    values (sum-of-nothing stays NULL), more buckets than rows, and both
    split strategies (deterministic value-range and quantile-sampled).
    Ties are totally ordered by a unique id, the same contract the global
    window needs."""
    from pyspark.sql import Window

    from data_engineering_project_spark.operators.prefix import (
        partitioned_cumsum,
    )

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k long, v long"
    )
    got = {
        r["id"]: r["cumsum"]
        for r in partitioned_cumsum(
            df, order_col="k", value_col="v", tie_col="id",
            n_buckets=n_buckets, split_strategy=strategy,
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["id"]: r["c"]
        for r in df.select("id", F.sum("v").over(w).alias("c")).collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "hot"]),          # group
            st.integers(min_value=-50, max_value=50),    # order key (ties!)
            st.integers(min_value=-20, max_value=20),    # value
        ),
        min_size=1,
        max_size=60,
    ),
    n_buckets=st.sampled_from([1, 4, 16]),
    strategy=st.sampled_from(["range", "sampled"]),
)
@settings(**_SETTINGS)
def test_partitioned_cumsum_grouped_equals_grouped_window(
    spark, rows, n_buckets, strategy
):
    """Grouped variant (partition_cols) must equal the per-group ordered
    window — the shape the weighted-median / KS catalog queries use. The
    bucketing is shared across groups; each (group, bucket) window runs
    independently, so no single task ever sees a whole group."""
    from pyspark.sql import Window

    from data_engineering_project_spark.operators.prefix import (
        partitioned_cumsum,
    )

    df = spark.createDataFrame(
        [(i, g, k, v) for i, (g, k, v) in enumerate(rows)],
        "id long, g string, k long, v long",
    )
    got = {
        r["id"]: r["cumsum"]
        for r in partitioned_cumsum(
            df, order_col="k", value_col="v", tie_col="id",
            partition_cols=["g"], n_buckets=n_buckets,
            split_strategy=strategy,
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy("k", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["c"]
        for r in df.select("id", F.sum("v").over(w).alias("c")).collect()
    }
    assert got == want


def test_partitioned_cumsum_sampled_handles_string_keys_and_heavy_skew(spark):
    """Two claims the range split cannot make: the sampled (quantile-
    sketch) split needs no key arithmetic — string keys order correctly —
    and a 90%-one-key skew still equals the global window (a hot key is
    unsplittable by ANY range partitioner; correctness must not depend on
    where the splits land)."""
    from pyspark.sql import Window

    from data_engineering_project_spark.operators.prefix import (
        partitioned_cumsum,
    )

    rows = [(i, "hot" if i % 10 else f"k{i:03d}", i % 7 - 3) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, k string, v long")
    got = {
        r["id"]: r["cumsum"]
        for r in partitioned_cumsum(
            df, order_col="k", value_col="v", tie_col="id",
            n_buckets=8, split_strategy="sampled",
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["id"]: r["c"]
        for r in df.select("id", F.sum("v").over(w).alias("c")).collect()
    }
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=20,
    ),
    quals=st.lists(
        st.integers(min_value=0, max_value=5), min_size=15, max_size=15
    ),
)
@settings(**_SETTINGS)
def test_canonical_selection_matches_union_find(spark, pairs, quals):
    """canonical_selection vs a brute-force Python union-find on arbitrary
    pair graphs (self-loop-free, duplicate/reversed edges allowed) with
    arbitrary tie-heavy qualities: same clusters, same keep rule
    (quality DESC, id ASC), same removal manifest."""
    from data_engineering_project_spark.operators.dedup import (
        canonical_selection,
    )

    docs = spark.createDataFrame(
        list(enumerate(quals)), "doc_id long, n_chars long"
    )
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in canonical_selection(pdf, docs).collect()
    }

    parent = list(range(15))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    clusters: dict = {}
    touched = {x for p in pairs for x in p}
    for x in touched:
        clusters.setdefault(find(x), []).append(x)
    want = {}
    for members in clusters.values():
        canon = min(members, key=lambda m: (-quals[m], m))
        for m in members:
            if m != canon:
                want[m] = (canon, len(members))
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            # minutes offsets, intentionally dense around multiples of 30
            # so ts == prev + gap (the >= boundary) actually occurs
            st.sampled_from(
                [0, 1, 29, 30, 31, 59, 60, 61, 90, 120, 240, 1440]
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_sessionize_matches_bruteforce_with_boundary_ties(spark, events):
    """sessionize == the obvious per-user Python fold: sort by (ts,
    event_id), new session when ts - prev >= gap. The sampled offsets
    land events EXACTLY at prev + 30min, pinning the documented >=
    boundary (an event at exactly the gap starts a NEW session, matching
    F.session_window's [start, start+gap) contract); duplicate (user,
    ts) pairs pin the event_id tie-break."""
    import datetime as dt

    from data_engineering_project_spark.operators.asof import sessionize

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, u, base + dt.timedelta(minutes=m))
        for i, (u, m) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: (r["user_id"], r["session_id"])
        for r in sessionize(
            df, key="user_id", time_col="ts", gap="30 minutes",
            order_tie_break="event_id",
        ).collect()
    }

    want = {}
    by_user: dict = {}
    for i, u, t in rows:
        by_user.setdefault(u, []).append((t, i))
    for u, evs in by_user.items():
        sid, prev = 0, None
        for t, i in sorted(evs):
            if prev is None or (t - prev) >= dt.timedelta(minutes=30):
                sid += 1
            want[i] = (u, sid)
            prev = t
    assert got == want


# token lists that stress the run-length boundary logic: repeats, empty
# strings (the whitespace tokenizer emits '' for blank text), singletons,
# and already-sorted / reverse-sorted inputs via the sampled alphabet
TOKEN_LISTS = st.lists(
    st.sampled_from(["a", "b", "ab", "", "z", "aa"]),
    min_size=0,
    max_size=40,
)


@given(toks=TOKEN_LISTS)
@settings(**_SETTINGS)
def test_term_counts_equals_explode_groupby(spark, toks):
    """term_counts (the map-side boundary-RLE device behind
    docs_tfidf_top_terms, r13) must agree with the shuffle shape it
    replaced — explode + groupBy count — for any token multiset."""
    from collections import Counter

    from data_engineering_project_spark.operators.text import term_counts

    df = spark.createDataFrame([(toks,)], "toks array<string>")
    [row] = df.select(term_counts(F.col("toks")).alias("tc")).collect()
    got = {p["term"]: p["tf"] for p in row["tc"]}
    assert got == dict(Counter(toks))
    # terms are emitted sorted and exactly once apiece
    assert [p["term"] for p in row["tc"]] == sorted(set(toks))


def test_term_counts_null_array_propagates(spark):
    from data_engineering_project_spark.operators.text import term_counts

    [row] = (
        spark.range(1)
        .select(F.lit(None).cast("array<string>").alias("toks"))
        .select(term_counts(F.col("toks")).alias("tc"))
        .collect()
    )
    assert row["tc"] is None


def test_kcore_delta_matches_restriction_loop_on_hostile_frame(spark):
    """The r14 delta-peeling rewrite must reproduce the old
    restrict-alive-edges loop exactly on hostile rows: NULL src / NULL
    dst edges (semi-joins never match NULL keys, so such edges vanish in
    round 0 and their endpoints lose that degree), duplicate edges
    (counted per row by both forms), self-loops, and a last-round
    survivor whose neighbors all leave (absent from both outputs), and a
    node that appears only as dst (no degree row: the dst semi-join drops
    its edge in round 0, so its clique neighbor loses that degree)."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.operators.graph import kcore_peel

    edges = [
        # 4-clique (survives k=3)
        *[(a, b) for a in range(4) for b in range(4) if a != b],
        # chain peeled over rounds
        (4, 5), (5, 4), (5, 6), (6, 5),
        # clique member also linked to the chain
        (0, 4), (4, 0),
        # hostile: null keys, duplicate edge rows, self-loop
        (None, 1), (1, None), (None, None),
        (2, 3), (2, 3),
        (7, 7),
        # hostile: dst-only node 9 hangs off a clique member
        (1, 9),
    ]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["src"], r["deg"])
        for r in kcore_peel(edf, k=3, rounds=3).collect()
    }

    # old restriction loop, inline as the reference
    alive = edf
    for i in range(3):
        deg = alive.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= 3).select("src")
        alive = alive.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )
        alive = alive.localCheckpoint(eager=(i == 2))
    want = {
        (r["src"], r["deg"])
        for r in alive.groupBy("src")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .collect()
    }
    assert got == want
