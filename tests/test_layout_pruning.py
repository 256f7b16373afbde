"""Pruning tests — the new-engine analog of the reference's golden
``pages_read`` I/O counts (file.rs:699-710): evidence that queries prune,
not scan (SURVEY §2.3 item 7).
"""

from __future__ import annotations

import pytest

from findb_spark.layout import read_prices, scan_metrics, write_prices
from findb_spark.prices import prices_from_lineitem


@pytest.fixture(scope="module")
def clustered(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "prices")
    write_prices(
        prices_from_lineitem(spark, sf_dir), path, num_partitions=8, date_bucket="month"
    )
    return read_prices(spark, path)


def test_partition_pruning_shrinks_files(spark, clustered):
    from findb_spark.asof import asof_filter

    full = scan_metrics(clustered)[0]
    pruned = scan_metrics(asof_filter(clustered, 1, 19960101, 19960131, 10**10))[0]
    assert pruned["numFiles"] < full["numFiles"]
    assert pruned.get("numPartitions", 0) <= 2  # one month (+boundary)


def test_predicate_pushdown_shrinks_rows(spark, clustered):
    full = scan_metrics(clustered)[0]
    filtered = scan_metrics(clustered.where("asset_id = 1"))[0]
    # rows surviving the scan (pushed filters + row-group stats) shrink
    assert filtered["numOutputRows"] < full["numOutputRows"]


def test_asof_query_prunes(spark, clustered):
    """The flagship query's scan must not read the whole table.  A bare
    scan is answered on the driver (see the next test), so the Spark
    plan's scan is pinned on an input that is not one."""
    from pyspark.sql import functions as F

    from findb_spark.asof import asof_range

    q = asof_range(clustered.where(F.lit(True)), 1, 19960101, 19961231, 10**10)
    m = scan_metrics(q)[0]
    full = scan_metrics(clustered)[0]
    assert m["numFiles"] < full["numFiles"]
    assert m["numOutputRows"] < full["numOutputRows"]


def test_driver_asof_prunes_months_and_row_groups(spark, clustered, count_jobs):
    """The driver path reads only the ``date_month`` directories of the
    range, and of those only the row groups whose statistics admit the
    asset; it answers as the Spark plan does, with no job.  ``scan_metrics``
    sees no file scan on this path, so the row groups are counted."""
    import os
    from urllib.parse import urlparse

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from findb_spark.asof import _driver_scan, asof_range

    q = (1, 19960101, 19961231, 10**10)
    row_groups, _, _ = _driver_scan(clustered, *q)
    months = {os.path.basename(os.path.dirname(rg.path)) for rg in row_groups}
    assert months and all(m.startswith("date_month=1996") for m in months)
    per_file = {
        f: pq.ParquetFile(f).num_row_groups
        for f in (urlparse(u).path for u in clustered.inputFiles())
    }
    in_range = sum(n for f, n in per_file.items() if "/date_month=1996" in f)
    assert 0 < len(row_groups) < in_range < sum(per_file.values())
    rows, jobs = count_jobs(asof_range(clustered, *q).collect)
    assert jobs == 0
    assert rows == asof_range(clustered.where(F.lit(True)), *q).collect()
    assert len(rows) > 0


def test_month_partition_pruning_on_date_month(spark, clustered):
    m = scan_metrics(clustered.where("date_month = 199601"))[0]
    assert m.get("numPartitions") == 1


def test_scan_metrics_private_api_pinned(spark):
    """PRIVATE-API PIN: `scan_metrics` (findb_spark/layout.py) drives
    execution through `Dataset._jdf.queryExecution().toRdd().count()` and
    walks `executedPlan()` — non-public JVM surfaces chosen deliberately
    (execute the SAME QueryExecution whose metrics we read, with no
    driver-side collect).  If this test fails after a Spark upgrade, the
    PRIVATE API moved: rework scan_metrics, do not silently drop pruning
    observability."""
    df = spark.range(7).toDF("id")
    try:
        qe = df._jdf.queryExecution()
        n = qe.toRdd().count()
        plan = qe.executedPlan()
        cls = plan.getClass().getSimpleName()
        kids = plan.children().size()
    except Exception as e:  # noqa: BLE001
        pytest.fail(
            "PRIVATE API CHANGED: Dataset._jdf.queryExecution()"
            f".toRdd()/.executedPlan() no longer works on Spark "
            f"{spark.version} — update findb_spark.layout.scan_metrics. "
            f"Underlying error: {e}"
        )
    assert n == 7
    assert isinstance(cls, str) and kids >= 0


def test_bloom_manifest_prunes_and_never_false_negatives(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from findb_spark.manifest import (
        bloom_files_selected,
        bloom_pruned_read,
        build_bloom_manifest,
    )
    from findb_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    path = str(tmp_path / "bloomtab")
    li.repartitionByRange(8, "l_shipdate").write.mode("overwrite").parquet(path)
    m = build_bloom_manifest(spark, path, "l_orderkey").localCheckpoint(eager=True)
    total = m.count()
    assert total >= 8

    # present key: must be found, and with far fewer file opens
    key = li.agg(F.max("l_orderkey")).collect()[0][0]
    want = li.where(F.col("l_orderkey") == key).count()
    got = bloom_pruned_read(spark, m, "l_orderkey", key).count()
    assert got == want and want > 0
    assert bloom_files_selected(m, key) <= total / 2

    # absent key: zero rows regardless of bloom false positives
    absent = key + 10_000_019
    assert bloom_pruned_read(spark, m, "l_orderkey", absent).count() == 0


def test_scan_split_parallelism_scales_with_max_partition_bytes(spark, tmp_path):
    """Scan-task sizing certification: at 100 TB the number of scan tasks
    per file is governed by ``spark.sql.files.maxPartitionBytes`` (with
    ``openCostInBytes`` packing) — one large parquet file must split into
    proportionally more input partitions as the split size shrinks, or a
    1000-executor cluster would serialize behind single-task files.
    Pins the mechanism on the engine's own session config."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "bigfile")
    spark.range(400_000).select(
        "id", F.expr("repeat(uuid(), 2) AS pad")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    n_bytes = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert n_bytes > 4 * 1024 * 1024  # big enough to split meaningfully

    conf = spark.conf
    old_mpb = conf.get("spark.sql.files.maxPartitionBytes")
    old_open = conf.get("spark.sql.files.openCostInBytes", "4194304")
    try:
        conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        n_default = spark.read.parquet(path).rdd.getNumPartitions()
        conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
        conf.set("spark.sql.files.openCostInBytes", "0")
        n_small = spark.read.parquet(path).rdd.getNumPartitions()
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        conf.set("spark.sql.files.openCostInBytes", old_open)

    # shrinking the split size must increase scan parallelism roughly
    # proportionally (exact count depends on openCost packing + row
    # groups; the monotone mechanism is what's certified)
    assert n_small > n_default
    assert n_small >= n_bytes // (2 * 1024 * 1024)
