"""Property-based tests for the streaming state protocols (hypothesis):
the scripted twins pin one split and one redelivery each; these assert
the protocol CONTRACTS over arbitrary schedules.

- exactly-once counters (upsert_ewma_state): for ANY partition of the
  events into batches, delivered in ANY order, with ANY subset
  redelivered any number of times, the reader re-derives the batch
  events_value_ewma bit-identically. The (key, batch_id) replace step is
  what makes additive counters safe under replay — a broken replace
  shows up as double counting on the first redelivered example.

- idempotent one-table state (upsert_cohort_state): same schedule
  freedom, same bit-identity against events_cohort_retention — here the
  min merge per (user, active week) carries the guarantee instead of
  batch_id keys.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_engineering_project_spark.plans import catalog

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# a delivery schedule: batch count k, an initial order over 0..k-1, and
# a tail of redeliveries (any batch, any multiplicity)
_SCHEDULE = st.integers(min_value=2, max_value=4).flatmap(
    lambda k: st.tuples(
        st.just(k),
        st.permutations(list(range(k))),
        st.lists(
            st.integers(min_value=0, max_value=k - 1), max_size=3
        ),
    )
)


def _deliver(spark, sf_dir, write, k, order, redeliveries):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for b in list(order) + list(redeliveries):
        write(ev.filter(F.pmod(F.col("event_id"), F.lit(k)) == b), b)


@given(schedule=_SCHEDULE)
@settings(**_SETTINGS)
def test_ewma_counters_converge_under_any_schedule(
    spark, sf_dir, tmp_path_factory, schedule
):
    from data_engineering_project_spark.streaming.pipeline import (
        read_ewma_trend,
        upsert_ewma_state,
    )

    k, order, redeliveries = schedule
    target = str(tmp_path_factory.mktemp("ewma") / "state")
    _deliver(
        spark, sf_dir, upsert_ewma_state(target, time_col="ts"),
        k, order, redeliveries,
    )
    got = [tuple(r) for r in read_ewma_trend(spark, target).collect()]
    want = [
        tuple(r)
        for r in catalog.queries()["events_value_ewma"](spark, sf_dir).collect()
    ]
    assert got == want


@given(schedule=_SCHEDULE)
@settings(**_SETTINGS)
def test_cohort_state_converges_under_any_schedule(
    spark, sf_dir, tmp_path_factory, schedule
):
    from data_engineering_project_spark.streaming.pipeline import (
        read_cohort_retention,
        upsert_cohort_state,
    )

    k, order, redeliveries = schedule
    target = str(tmp_path_factory.mktemp("cohort") / "state")
    _deliver(
        spark, sf_dir, upsert_cohort_state(target, time_col="ts"),
        k, order, redeliveries,
    )
    got = sorted(
        tuple(r) for r in read_cohort_retention(spark, target).collect()
    )
    want = sorted(
        tuple(r)
        for r in catalog.queries()["events_cohort_retention"](
            spark, sf_dir
        ).collect()
    )
    assert got == want
