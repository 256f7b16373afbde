"""Banded interval-join boundary semantics: inclusive start, exclusive end,
intervals spanning bin boundaries, points far outside any interval
(findb_spark.ops.interval)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from findb_spark.ops.interval import interval_join


def _points(spark, days):
    return spark.createDataFrame(
        [(dt.date(2020, 1, 1) + dt.timedelta(days=d),) for d in days], "pd DATE"
    )


def _intervals(spark, spans):
    rows = [
        (
            i,
            dt.date(2020, 1, 1) + dt.timedelta(days=s),
            dt.date(2020, 1, 1) + dt.timedelta(days=e),
        )
        for i, (s, e) in enumerate(spans)
    ]
    return spark.createDataFrame(rows, "iv_id INT, ws DATE, we DATE")


def test_start_inclusive_end_exclusive(spark):
    pts = _points(spark, [0, 9, 10])
    ivs = _intervals(spark, [(0, 10)])  # [day 0, day 10)
    got = sorted(
        r.pd for r in interval_join(pts, ivs, "pd", "ws", "we").collect()
    )
    assert got == [dt.date(2020, 1, 1), dt.date(2020, 1, 10)]


def test_interval_spanning_bins_with_tiny_bin(spark):
    # bin_days=7 forces the 30-day interval across 5+ bins; every inside
    # point must still match exactly once (explode covers all bins)
    pts = _points(spark, list(range(-3, 35)))
    ivs = _intervals(spark, [(0, 30)])
    got = interval_join(pts, ivs, "pd", "ws", "we", bin_days=7)
    assert got.count() == 30
    assert got.select("pd").distinct().count() == 30


def test_overlapping_intervals_multi_match(spark):
    pts = _points(spark, [5])
    ivs = _intervals(spark, [(0, 10), (3, 7), (6, 9)])
    got = sorted(r.iv_id for r in interval_join(pts, ivs, "pd", "ws", "we").collect())
    assert got == [0, 1]  # third interval starts after the point


def test_no_match_outside(spark):
    pts = _points(spark, [100])
    ivs = _intervals(spark, [(0, 30)])
    assert interval_join(pts, ivs, "pd", "ws", "we").count() == 0


def test_inverted_interval_yields_nothing_without_explosion(spark):
    """end <= start matches nothing — and is filtered BEFORE the bin
    explode (F.sequence counts downward on inverted ranges, so an
    unguarded badly-inverted interval would fan out into a huge bin
    array before the post-filter discarded it)."""
    pts = _points(spark, list(range(0, 30)))
    ivs = _intervals(spark, [(10, 10), (300, -300)])
    joined = interval_join(pts, ivs, "pd", "ws", "we")
    assert joined.count() == 0
    # the guard is in the plan: interval scan carries the we > ws filter
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "(we" in plan and ">" in plan


def test_join_strategy_is_conditional_not_forced_broadcast(spark):
    """The strategy is left to Catalyst: with Spark's broadcast threshold
    off, the join on _bin must plan as a non-broadcast equi-join (the
    100 TB shape when the interval side outgrows the broadcast threshold)
    and return what the default plan returns."""
    pts = _points(spark, list(range(0, 30)))
    ivs = _intervals(spark, [(0, 10), (5, 20)])
    expect = interval_join(pts, ivs, "pd", "ws", "we").count()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuffled = interval_join(pts, ivs, "pd", "ws", "we")
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoop" not in plan
        assert shuffled.count() == expect
    finally:
        spark.conf.set(key, old)
