"""Z-order layout + manifest data skipping: multi-dimensional file pruning.

The lexicographic range layout (cluster_prices) prunes perfectly on the
leading key but not on the trailing one; the Morton-interleaved layout
must prune on EITHER dimension alone. File-level skipping is resolved
through the footer-stats manifest (findb_spark.manifest) — vanilla
Spark's numFiles metric only reflects hive-partition pruning, while
row-group skipping happens invisibly inside the reader. This suite is
the multi-dim extension of the reference's clustering contract
(file.rs:294-296) and its pages_read evidence (file.rs:709).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from findb_spark.layout import (
    write_prices,
    write_zorder,
    yyyymmdd_compact,
    zvalue,
)
from findb_spark.manifest import build_manifest, files_selected, pruned_read
from findb_spark.prices import prices_from_lineitem

N_FILES = 16


@pytest.fixture(scope="module")
def layouts(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("zorder")
    prices = prices_from_lineitem(spark, sf_dir)
    zpath, lpath = str(base / "z"), str(base / "lex")
    write_zorder(prices, zpath, num_partitions=N_FILES)
    write_prices(prices, lpath, num_partitions=N_FILES)
    zman = build_manifest(spark, zpath, ["asset_id", "date"]).cache()
    lman = build_manifest(spark, lpath, ["asset_id", "date"]).cache()
    return zpath, lpath, zman, lman


def test_zvalue_bit_interleave(spark):
    df = spark.range(1).select(zvalue(F.lit(0b101), F.lit(0b011)).alias("z"))
    # a bits {0,2} -> z positions {0,4}; b bits {0,1} -> z positions {1,3}
    assert df.collect()[0].z == (1 << 0) + (1 << 4) + (1 << 1) + (1 << 3)  # 27


def test_compact_date_is_monotone(spark):
    dates = [19960101, 19960131, 19960201, 19971231, 20200229]
    df = spark.createDataFrame([(d,) for d in dates], "date int").select(
        yyyymmdd_compact(F.col("date")).alias("c")
    )
    vals = [r.c for r in df.collect()]
    assert vals == sorted(vals) and len(set(vals)) == len(vals)


def test_manifest_covers_all_files(spark, layouts):
    zpath, _, zman, _ = layouts
    rows = zman.collect()
    assert len(rows) == N_FILES
    assert sum(r.num_rows for r in rows) == spark.read.parquet(zpath).count()
    assert all(r.asset_id_min is not None and r.date_max is not None for r in rows)


def test_zorder_prunes_both_dimensions(spark, layouts):
    _, _, zman, _ = layouts
    # either single-dimension predicate must skip a real fraction of files
    assert files_selected(zman, {"asset_id": (7, 7)}) <= N_FILES // 2
    assert files_selected(zman, {"date": (19960101, 19960331)}) <= N_FILES // 2


def test_lexicographic_layout_cannot_prune_trailing_dim(spark, layouts):
    """Control: the range layout keeps ~every file for a date-only slice,
    which is exactly why write_zorder exists."""
    _, _, zman, lman = layouts
    rng = {"date": (19960101, 19960331)}
    assert files_selected(zman, rng) < files_selected(lman, rng)
    # and the lex layout still wins nothing on its own leading key vs z
    assert files_selected(lman, {"asset_id": (7, 7)}) <= N_FILES // 2


def test_pruned_read_matches_full_scan(spark, layouts):
    zpath, _, zman, _ = layouts
    rng = {"asset_id": (0.0, 40.0), "date": (19960101.0, 19961231.0)}
    pruned = pruned_read(spark, zman, rng)
    full = (
        spark.read.parquet(zpath)
        .where(F.col("asset_id").between(0, 40))
        .where(F.col("date").between(19960101, 19961231))
    )
    assert pruned.count() == full.count()
    a = pruned.agg(F.sum("value")).collect()[0][0]
    b = full.agg(F.sum("value")).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_pruned_read_empty_selection_keeps_schema(spark, layouts):
    zpath, _, zman, _ = layouts
    out = pruned_read(spark, zman, {"asset_id": (10**9, 10**9 + 1)})
    assert out.count() == 0
    assert out.columns == spark.read.parquet(zpath).columns


def test_update_manifest_incremental_equals_rebuild(spark, sf_dir, tmp_path):
    from findb_spark.manifest import build_manifest, update_manifest
    from findb_spark.prices import prices_from_lineitem

    path = str(tmp_path / "inc")
    prices = prices_from_lineitem(spark, sf_dir)
    old_part = prices.where(F.col("date") < 19970101)
    new_part = prices.where(F.col("date") >= 19970101)
    old_part.repartition(4).write.mode("overwrite").parquet(path)
    man0 = build_manifest(spark, path, ["asset_id", "date"]).cache()
    n0 = man0.count()
    new_part.repartition(3).write.mode("append").parquet(path)
    incr = update_manifest(spark, path, man0, ["asset_id", "date"])
    full = build_manifest(spark, path, ["asset_id", "date"])
    a = {tuple(r) for r in incr.collect()}
    b = {tuple(r) for r in full.collect()}
    assert a == b and len(a) > n0
    # no-op refresh returns the same manifest
    again = update_manifest(spark, path, incr, ["asset_id", "date"])
    assert {tuple(r) for r in again.collect()} == a


def test_asof_range_through_manifest_matches_and_prunes(spark, layouts):
    """End-to-end descent analogy: the flagship as-of query resolved
    through the manifest reads fewer files and returns identical rows."""
    from findb_spark.asof import asof_range
    from findb_spark.manifest import files_selected

    zpath, _, zman, _ = layouts
    full_tbl = spark.read.parquet(zpath)
    want = asof_range(full_tbl, 7, 19960101, 19961231, 10**10).collect()
    rng = {"asset_id": (7, 7), "date": (19960101, 19961231)}
    assert files_selected(zman, rng) < N_FILES
    got = asof_range(
        pruned_read(spark, zman, rng), 7, 19960101, 19961231, 10**10
    ).collect()
    assert got == want and len(got) > 0


def test_overlap_cond_null_stats_may_match(spark):
    """Files with absent footer stats (NULL min/max) must be READ, never
    pruned — pruning may only skip files that provably cannot match."""
    from findb_spark.manifest import _overlap_cond

    man = spark.createDataFrame(
        [
            ("f_ok", 1, 0.0, 10.0),
            ("f_null", 1, None, None),
            ("f_out", 1, 100.0, 200.0),
        ],
        "file STRING, num_rows INT, v_min DOUBLE, v_max DOUBLE",
    )
    kept = {r.file for r in man.where(_overlap_cond({"v": (0, 50)})).collect()}
    assert kept == {"f_ok", "f_null"}


def test_pruned_read_base_path_keeps_partition_columns(spark, tmp_path):
    """pruned_read over a hive-partitioned table keeps the partition
    column when base_path is passed."""
    from findb_spark.layout import write_prices
    from findb_spark.manifest import build_manifest, pruned_read
    from findb_spark.prices import golden_prices

    path = str(tmp_path / "hive_prices")
    write_prices(golden_prices(spark), path, date_bucket="month")
    man = build_manifest(spark, path, ["asset_id", "date"])
    out = pruned_read(
        spark, man, {"date": (20200101, 20200331)}, base_path=path
    )
    assert "date_month" in out.columns
    assert out.count() == golden_prices(spark).where("date <= 20200331").count()


def test_manifest_works_under_a_path_that_needs_escaping(spark, sf_dir, tmp_path):
    """``inputFiles()`` percent-encodes its URIs (a space is ``%20``).  The
    manifest decodes them the way the driver as-of scan does, so every
    manifest entry point works on a table under such a directory."""
    from findb_spark.manifest import build_bloom_manifest, update_manifest

    cols = ["asset_id", "date"]
    path = str(tmp_path / "dir with space" / "t")
    prices = prices_from_lineitem(spark, sf_dir)
    prices.where(F.col("date") < 19970101).repartition(2).write.parquet(path)
    man = build_manifest(spark, path, cols).cache()
    assert man.count() == 2
    assert all(os.path.isfile(r.file) for r in man.collect())
    prices.where(F.col("date") >= 19970101).repartition(2).write.mode("append").parquet(path)
    man = update_manifest(spark, path, man, cols)
    assert man.count() == 4
    got = pruned_read(spark, man, {"date": (19960101, 19971231)})
    want = spark.read.parquet(path).where(F.col("date").between(19960101, 19971231))
    assert sorted(got.collect()) == sorted(want.collect()) and want.count() > 0
    assert build_bloom_manifest(spark, path, "asset_id").count() == 4


def test_manifest_build_runs_no_job_once_the_schema_is_known(spark, layouts, count_jobs):
    """The manifest lists files through ``read_parquet``: once its schema
    memo holds the table, building (not running) a manifest runs no
    Spark job.  ``spark.read.parquet(path).inputFiles()`` inferred the
    schema with a job on every listing."""
    from findb_spark.manifest import build_bloom_manifest
    from findb_spark.session import read_parquet

    zpath = layouts[0]
    read_parquet(spark, zpath)
    _, jobs = count_jobs(lambda: build_manifest(spark, zpath, ["asset_id", "date"]))
    assert jobs == 0
    _, jobs = count_jobs(lambda: build_bloom_manifest(spark, zpath, "asset_id"))
    assert jobs == 0
