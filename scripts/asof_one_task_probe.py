#!/usr/bin/env python
"""Where does a one-task as-of read stop paying off?

Times ``asof_range(...).collect()`` three ways on generated price tables of
growing size: the single-partition Spark plan (``coalesce(1)``, no
Exchange), the distributed Spark plan (``partial_max_by`` + shuffle +
range-sampled sort), and the driver path (pyarrow read of the pruned row
groups, no Spark job).  The two Spark plans read the table through
``where(lit(True))``, which is not a bare scan, so they stay on Spark.
``findb_spark.asof.ONE_TASK_MAX_BYTES`` gates both small-read paths: the
driver path for bare parquet scans, the one-task plan for every other
input.  It is the largest size at which the one-task plan was measured no
slower than the distributed one; the driver column shows how the driver
path compares at the same sizes.

Layouts: ``random`` writes rows in random order, so min/max row-group
pruning skips nothing and the one task must decode every row group (the
worst case for one task); ``clustered`` writes through
``layout.write_prices`` (sorted by asset, date), so the scan prunes.

Usage: ``python scripts/asof_one_task_probe.py WORKDIR [rows,...]
[layout,...] [reps]``.  Each (rows, layout) pair prints one JSON line with
the parquet bytes, the planner's size estimate and the median latency of
the three paths over ``reps`` runs in rotating order (the first two are
warm-up).
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
    # (bare scan?, ONE_TASK_MAX_BYTES) per path
    plans = {"one_task": (False, 1 << 62), "distributed": (False, -1), "driver": (True, 1 << 62)}
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
                inputs = {True: table, False: table.where(F.lit(True))}
                estimate = table._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                lat = {name: [] for name in plans}
                answers = {}
                for rep in range(reps):
                    names = list(plans)
                    for name in names[rep % 3:] + names[: rep % 3]:
                        bare, asof.ONE_TASK_MAX_BYTES = plans[name]
                        t0 = time.perf_counter()
                        answers[name] = asof.asof_range(inputs[bare], *query).collect()
                        if rep >= 2:
                            lat[name].append((time.perf_counter() - t0) * 1e3)
                if len({repr(a) for a in answers.values()}) != 1:
                    raise SystemExit(f"paths disagree on {path}")
                if asof._driver_scan(table, *query) is None:
                    raise SystemExit(f"the driver path does not apply to {path}")
                n = len(answers["driver"])
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
