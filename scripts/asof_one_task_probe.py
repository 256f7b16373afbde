#!/usr/bin/env python
"""Where does a one-task as-of read stop paying off?

Times ``asof_range(...).collect()`` on the single-partition plan
(``coalesce(1)``, no Exchange) against the distributed plan
(``partial_max_by`` + shuffle + range-sampled sort) on generated price
tables of growing size.  ``findb_spark.asof.ONE_TASK_MAX_BYTES`` is the
largest size at which the one-task plan was measured no slower.

Layouts: ``random`` writes rows in random order, so min/max row-group
pruning skips nothing and the one task must decode every row group (the
worst case for one task); ``clustered`` writes through
``layout.write_prices`` (sorted by asset, date), so the scan prunes.

Usage: ``python scripts/asof_one_task_probe.py WORKDIR [rows,...]
[layout,...] [reps]``.  Each (rows, layout) pair prints one JSON line with
the parquet bytes, the planner's size estimate and the median latency of
both plans over ``reps`` alternating runs (the first two are warm-up).
Runs on ``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def main() -> int:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    work = sys.argv[1]
    sizes = sys.argv[2] if len(sys.argv) > 2 else "500000,2000000,3000000,4000000"
    sizes = [int(x) for x in sizes.split(",")]
    layouts = (sys.argv[3] if len(sys.argv) > 3 else "random,clustered").split(",")
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 17

    from pyspark.sql import functions as F

    from findb_spark import asof, get_spark
    from findb_spark.layout import read_prices, write_prices

    spark = get_spark(app_name="asof_one_task_probe", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    n_assets = 300
    query = (7, 20000101, 20091231, 10**9)  # one asset, every date, every revision
    plans = {"one_task": 1 << 62, "distributed": -1}  # ONE_TASK_MAX_BYTES per plan
    bound = asof.ONE_TASK_MAX_BYTES
    try:
        for rows in sizes:
            for layout in layouts:
                path = os.path.join(work, f"{layout}_{rows}")
                if not os.path.exists(path):
                    df = spark.range(rows).select(
                        (F.col("id") % n_assets).alias("asset_id"),
                        (F.lit(20000101) + (F.col("id") / n_assets).cast("int") % 2000)
                        .cast("int")
                        .alias("date"),
                        (F.col("id") * 7 % 1000003).alias("ts"),
                        F.rand(7).alias("value"),
                    )
                    if layout == "clustered":
                        write_prices(df, path, num_partitions=16)
                    else:
                        df.orderBy(F.rand(3)).repartition(16).write.parquet(path)
                table = read_prices(spark, path)
                estimate = table._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                lat = {name: [] for name in plans}
                for rep in range(reps):
                    order = list(plans) if rep % 2 == 0 else list(plans)[::-1]
                    for name in order:
                        asof.ONE_TASK_MAX_BYTES = plans[name]
                        t0 = time.perf_counter()
                        n = len(asof.asof_range(table, *query).collect())
                        if rep >= 2:
                            lat[name].append((time.perf_counter() - t0) * 1e3)
                print(
                    json.dumps(
                        {
                            "rows": rows,
                            "layout": layout,
                            "parquet_bytes": _parquet_bytes(path),
                            "estimate_bytes": int(str(estimate)),
                            "rows_returned": n,
                            **{f"{k}_p50_ms": round(statistics.median(v), 1)
                               for k, v in lat.items()},
                        }
                    ),
                    flush=True,
                )
    finally:
        asof.ONE_TASK_MAX_BYTES = bound
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
