"""Incremental view maintenance by DELTA ARITHMETIC — repair a stored
aggregate from a CDC batch alone, touching neither the source table nor
the unaffected aggregate groups.

This is the second half of the materialized-view story started in
:mod:`findb_spark.ops.incremental` (which re-AGGREGATES the affected
partitions from source).  Here the aggregate is repaired purely from the
delta: every insert/update/delete is expressed as a signed contribution
row ``(keys..., dn, dmeasure...)`` and the merge is

    new_agg[g] = old_agg[g] (+) sum(delta[g])        for touched groups g,
    groups with n = 0 after merge are dropped.

which is exact for any SUM/COUNT-decomposable aggregate (AVG = sum/count
at read time).  Cost: O(|delta| + |touched groups|) — source size never
appears.  MIN/MAX are NOT delta-maintainable under deletes (a retraction
of the current extremum needs a source rescan); callers wanting them
should use the partition-recompute path instead.

Reference analog: the in-memory tree's update-in-place (mem.rs:406-443)
mutates base rows; at warehouse scale the economical object to mutate is
the DERIVED table, and the bitemporal base stays append-only.  The write
uses dynamic partition overwrite, so only partitions present in the
delta are swapped (same atomicity contract as ops/incremental.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def apply_agg_delta(
    spark: SparkSession,
    agg_path: str,
    delta: DataFrame,
    keys: list[str],
    measures: list[str],
    part_col: str,
    count_col: str = "n",
) -> int:
    """Merge a signed-contribution ``delta`` into the parquet aggregate at
    ``agg_path`` (hive-partitioned by ``part_col``, one of ``keys``).

    ``delta`` columns: ``keys...``, ``count_col`` (+1 insert / -1 delete /
    0 update), and one signed column per entry of ``measures``.  Only the
    partitions present in the delta are read and rewritten; groups whose
    merged count reaches zero are dropped.  Returns the number of
    repaired partitions.
    """
    parts = [r[0] for r in delta.select(part_col).distinct().collect()]
    if not parts:
        return 0
    cols = keys + [count_col] + measures
    cur = spark.read.parquet(agg_path).where(F.col(part_col).isin(parts))
    merged = (
        cur.select(*cols)
        .unionByName(delta.select(*cols))
        .groupBy(*keys)
        .agg(
            F.sum(count_col).cast("bigint").alias(count_col),
            *[F.sum(m).cast("bigint").alias(m) for m in measures],
        )
        .where(F.col(count_col) > 0)
    )
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(part_col).parquet(agg_path)
    return len(parts)
