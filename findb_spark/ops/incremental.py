"""Incremental aggregate maintenance via dynamic partition overwrite — the
materialized-view pattern at 100 TB: when a batch of late revisions
arrives, recompute ONLY the partitions it touches and atomically swap
them, instead of rebuilding the aggregate table.

The reference's closest analog is the in-memory tree's update-in-place
(mem.rs:433-437); here updates are append-only revisions (the bitemporal
model) and the *derived* table is what gets repaired. With
``partitionOverwriteMode=dynamic``, ``INSERT OVERWRITE`` replaces exactly
the partitions present in the written DataFrame and leaves the rest
untouched — cost proportional to affected months, not table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from findb_spark.ops.finance import monthly_ohlc_bars


def write_monthly_bars(prices: DataFrame, path: str) -> None:
    """Full build: monthly OHLC bars hive-partitioned by month."""
    monthly_ohlc_bars(prices).write.mode("overwrite").partitionBy("month").parquet(path)


def update_monthly_bars(prices_all: DataFrame, new_rows: DataFrame, path: str) -> int:
    """Repair the bars table after ``new_rows`` (late revisions) landed in
    ``prices_all``: recompute bars only for the affected (small) set of
    months and dynamically overwrite those partitions. Returns the number
    of repaired months.

    The month filter binds on the *source* scan (date div 100 folds to a
    date range), so the recompute reads only the touched months' rows."""
    months = [
        r.month
        for r in new_rows.select(
            F.expr("date div 100").cast("int").alias("month")
        ).distinct().collect()
    ]
    if not months:
        return 0
    affected = prices_all.where(F.expr("date div 100").cast("int").isin(months))
    monthly_ohlc_bars(affected).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("month").parquet(path)
    return len(months)
