"""Iterative operators own their checkpoints.

Every loop that truncates lineage with ``localCheckpoint`` frees the
rounds it no longer reads through ``operators/components.py:release``,
which finds the blocks under the frame's own ``LogicalRDD`` root. These
tests pin the two halves of that contract: a call leaves exactly its
result persisted (earlier rounds do not pile up for the session), and a
checkpoint another caller makes meanwhile is never freed by the operator.
"""

from __future__ import annotations

import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


def _persistent_ids(spark) -> set[int]:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


def _edges(spark):
    # a 4-clique plus a tail, both directions, so every operator has work
    pairs = [(a, b) for a in range(4) for b in range(4) if a != b]
    pairs += [(3, 4), (4, 3), (4, 5), (5, 4)]
    return spark.createDataFrame(pairs, "src long, dst long")


def _pagerank(spark):
    from data_engineering_project_spark.operators.graph import pagerank_quantized

    return pagerank_quantized(_edges(spark), iterations=5)


def _bfs(spark):
    from data_engineering_project_spark.operators.graph import bfs_hops

    return bfs_hops(_edges(spark), spark.createDataFrame([(0,)], "node long"))


def _lpa(spark):
    from data_engineering_project_spark.operators.graph import label_propagation

    return label_propagation(_edges(spark))


def _kcore(spark):
    from data_engineering_project_spark.operators.graph import kcore_peel

    return kcore_peel(_edges(spark), k=3)


def _cc(spark):
    from data_engineering_project_spark.operators.components import (
        connected_components,
    )

    return connected_components(_edges(spark))


def _words(spark):
    return spark.createDataFrame(
        [("lower", 7), ("lowest", 5), ("newer", 6), ("aaaa", 3)],
        "word string, cnt long",
    )


def _bpe_symbols(spark):
    from data_engineering_project_spark.operators.text import bpe_train

    return bpe_train(_words(spark), 4, return_symbols=True)[1]


def _bpe_merges(spark):
    from data_engineering_project_spark.operators.text import bpe_train

    assert bpe_train(_words(spark), 4)
    return None


def _power_iteration(spark):
    from data_engineering_project_spark.operators.clustering import (
        power_iteration_top_component,
    )

    rows = [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return power_iteration_top_component(emb)


def _cohort_writer(spark):
    import tempfile

    from pyspark.sql import functions as F

    from data_engineering_project_spark.streaming.pipeline import (
        upsert_cohort_state,
    )

    batch = spark.createDataFrame(
        [(1, "2022-05-02 10:00:00"), (2, "2022-05-10 11:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with tempfile.TemporaryDirectory() as state_dir:
        upsert_cohort_state(state_dir, time_col="ts")(batch, 0)


@pytest.mark.parametrize(
    "op",
    [
        _pagerank,
        _bfs,
        _lpa,
        _kcore,
        _cc,
        _bpe_symbols,
        _bpe_merges,
        _power_iteration,
        _cohort_writer,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_iterative_operator_leaves_only_its_result_persisted(spark, op):
    before = _persistent_ids(spark)
    out = op(spark)
    left = _persistent_ids(spark) - before
    assert len(left) == (0 if out is None else 1), sorted(left)
    if out is not None:
        # the one block set left is what the result reads
        assert out.count() > 0


@pytest.mark.parametrize(
    "op",
    [_cc, _kcore],
    ids=["connected_components", "kcore_peel"],
)
def test_operator_never_frees_a_concurrent_checkpoint(spark, monkeypatch, op):
    """A checkpoint another caller makes while the operator's first
    checkpoint runs must survive the operator: its blocks are the only copy
    of its rows, so freeing them would make the other caller's frame
    unreadable."""
    real = ClassicDataFrame.localCheckpoint
    intruders = []

    def _checkpoint_with_intruder(self, *args, **kwargs):
        if not intruders:
            intruders.append(real(self.sparkSession.range(7)))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(
        ClassicDataFrame, "localCheckpoint", _checkpoint_with_intruder
    )
    op(spark)
    monkeypatch.undo()
    assert intruders
    assert intruders[0].count() == 7


def test_release_refuses_a_frame_that_is_not_a_checkpoint(spark):
    from data_engineering_project_spark.operators.components import (
        checkpoint,
        release,
    )

    ck = checkpoint(spark.range(5))
    with pytest.raises(ValueError, match="Project"):
        release(ck.select("id"))
    assert ck.count() == 5
    release(ck)


def _chain(spark, n=8):
    pairs = [(i, i + 1) for i in range(n - 1)]
    return spark.createDataFrame(pairs, "src long, dst long")


def test_cc_broadcasts_roots_only_on_the_union_find_branch(spark, monkeypatch):
    """One propagation round cannot close a chain, so the call escalates.
    The union-find roots are driver-sized and broadcast back; the star
    branch's roots have one row per quotient node, so the planner picks
    that join."""
    from data_engineering_project_spark.operators import components

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    uf = components.connected_components(_chain(spark), max_iter=1)
    assert "strategy=broadcast" in analyzed(uf)
    assert {r["component"] for r in uf.collect()} == {0}

    monkeypatch.setattr(components, "_UF_MAX_ROWS", 0)
    star = components.connected_components(_chain(spark), max_iter=1)
    assert "strategy=broadcast" not in analyzed(star)
    assert {r["component"] for r in star.collect()} == {0}
