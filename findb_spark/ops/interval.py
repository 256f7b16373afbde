"""Banded interval (range) join.

Vanilla Spark plans a point-in-interval predicate join as a broadcast
nested loop (fine when one side is tiny) or, worse, a cartesian product.
The scale-safe formulation bins time: explode each interval into the
coarse bins it overlaps, equi-join points to bins (a plain hash
shuffle/broadcast join Catalyst optimizes normally), then post-filter
exact containment. Shuffle volume is O(points + intervals x
bins_per_interval) instead of O(points x intervals).

This is the standard banding trick for range joins (same family as the
date-bin mitigation SURVEY §4.3 suggests for the as-of batch join; an
engine like Databricks' range-join hint automates exactly this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_days: int = 92,
    by: list[str] | None = None,
) -> DataFrame:
    """Join point rows (``point_col``: DateType) to interval rows
    (``[start_col, end_col)`` DateType, end exclusive) via day-binned
    equi-join + exact post-filter. Output: all point columns + all
    interval columns, one row per containment.

    The join strategy is left to Catalyst/AQE: the exploded interval side
    broadcasts only if its size estimate clears
    ``spark.sql.autoBroadcastJoinThreshold``, else both sides hash-shuffle
    on ``_bin``.  An unconditional broadcast would OOM the executors once
    the interval table stops being dimension-sized."""
    pb = points.withColumn(
        "_bin", F.floor(F.unix_date(F.col(point_col)) / bin_days).cast("bigint")
    )
    # degenerate intervals (end <= start) match nothing: drop them BEFORE
    # exploding — F.sequence(start, stop) on an inverted range counts
    # DOWNWARD, so a badly inverted interval would otherwise fan out into
    # a large bogus bin array that the exact post-filter then discards.
    ib = intervals.where(F.col(end_col) > F.col(start_col)).withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_date(F.col(start_col)) / bin_days).cast("bigint"),
                # end is exclusive: the last covered day is end - 1
                F.floor((F.unix_date(F.col(end_col)) - 1) / bin_days).cast("bigint"),
            )
        ),
    )
    # optional equi-keys (``by``) join WITH the bin, so e.g. a per-asset
    # validity-interval probe shuffles on (asset, bin) and never fans out
    # across unrelated keys sharing a calendar bin
    keys = (by or []) + ["_bin"]
    return (
        pb.join(ib, keys)
        .where(
            (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col))
        )
        .drop("_bin")
    )
