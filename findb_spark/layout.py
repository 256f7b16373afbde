"""Layout manager — the moral equivalent of the reference's bulk load.

The reference builds a clustered B+tree from key-sorted input in one pass
(``file.rs:296-379``; sortedness is a load-time contract, file.rs:294-296,
enforced by an external ``sort`` in scripts/convert-csv.sh:10). Here the same
property — "a range query touches only the pages covering the range" — comes
from a *layout decision*, not custom storage code:

- ``repartitionByRange(asset_id, date)``: one shuffle, producing files whose
  (asset_id, date) ranges are disjoint. This is the single shuffle of the
  load path, exactly like the reference's single external sort.
- ``sortWithinPartitions(asset_id, date, ts)``: rows inside each file are
  clustered on the full key, so Parquet row-group/page min-max stats are
  tight and the vectorized reader skips row groups the way the B+tree skips
  pages.
- Optional hive-style ``partitionBy`` on a coarse date bucket gives
  partition-level pruning before file stats are even consulted — at 100 TB
  that is the difference between listing 10^2 and 10^6 files.

At 100 TB: ``repartitionByRange`` samples key quantiles, so partition counts
scale with data volume (configure via ``num_partitions``); skewed assets
spread across several range partitions rather than hot-spotting one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from findb_spark.asof import PRICE_COLUMNS
from findb_spark.session import read_parquet


def cluster_prices(prices: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Return the prices DataFrame in clustered (query-optimized) order."""
    cols = [F.col("asset_id"), F.col("date")]
    if num_partitions:
        out = prices.repartitionByRange(num_partitions, *cols)
    else:
        out = prices.repartitionByRange(*cols)
    return out.sortWithinPartitions("asset_id", "date", "ts")


def write_prices(
    prices: DataFrame,
    path: str,
    num_partitions: int | None = None,
    date_bucket: str | None = None,
) -> None:
    """Bulk load: cluster and persist a bitemporal prices table,
    replacing whatever ``path`` held.

    ``date_bucket``: optional coarse hive partition — "month" adds a
    ``date_month`` directory level (yyyymm) for partition pruning on date
    predicates. Left off for small local tests (file-count overhead), on for
    cluster scale.
    """
    out = prices.select(*PRICE_COLUMNS)
    writer_cols = []
    if date_bucket == "month":
        out = out.withColumn("date_month", (F.col("date") / 100).cast("int"))
        writer_cols = ["date_month"]
    out = cluster_prices(out, num_partitions)
    w = out.write.mode("overwrite")
    if writer_cols:
        w = w.partitionBy(*writer_cols)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int = 8,
    key: str = "asset_id",
    sort_cols: tuple[str, ...] = ("asset_id", "date", "ts"),
) -> None:
    """Bucketed layout: pre-shuffle ONCE at write time so every later join
    or aggregation on ``key`` runs with NO exchange (co-located joins).

    At 100 TB this is the difference between shuffling the fact table per
    query and never shuffling it at all: two tables bucketed by the same
    key and count sort-merge-join directly file-to-file. The bucket count
    is a layout contract — pick it for target-scale task sizing (buckets ~=
    cluster cores at the largest join), not per-query."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(*sort_cols)
        .option("path", path)
        .saveAsTable(table_name)
    )


def zvalue(a: Column, b: Column, bits: int = 21) -> Column:
    """Morton (Z-order) interleave of two non-negative integer columns into
    one bigint: bit i of ``a`` lands at position 2i, bit i of ``b`` at
    2i+1. ``bits`` per dimension (default 21 -> 42-bit z-value, safe in a
    signed 64-bit long). Values must fit in ``bits`` bits — callers map
    raw keys through a compacting monotone transform first (see
    :func:`yyyymmdd_compact`).

    The whole thing is a static tree of shiftright/bitwiseAND/shiftleft
    expressions — pure whole-stage-codegen, no UDF, no shuffle."""
    za = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_a = F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1))
        za = za.bitwiseOR(F.shiftleft(bit_a, 2 * i)).bitwiseOR(
            F.shiftleft(bit_b, 2 * i + 1)
        )
    return za


def yyyymmdd_compact(date_col: Column, base_year: int = 1990) -> Column:
    """Monotone compaction of an int yyyymmdd date into a small integer
    (~15 bits for an 80-year span): year*384 + month*32 + day. Order-
    preserving, so range predicates on the original date map to range
    predicates on the compact value."""
    y = (date_col / 10000).cast("int") - base_year
    m = ((date_col / 100) % 100).cast("int")
    d = (date_col % 100).cast("int")
    return (y * 384 + m * 32 + d).cast("bigint")


def scale_to_bits(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Affine map of ``col`` from [lo, hi] onto [0, 2^bits): Z-order only
    balances its dimensions when both occupy the SAME bit width — raw keys
    with unequal significant bits (a 12-bit date span vs an 8-bit asset
    span) would put all the top interleaved bits on one dimension and
    degenerate the curve into a single-key sort."""
    span = max(hi - lo, 0) + 1
    return F.floor(
        (col.cast("double") - F.lit(float(lo))) * F.lit(float(1 << bits) / span)
    ).cast("bigint")


def write_zorder(
    prices: DataFrame,
    path: str,
    num_partitions: int,
    bits: int = 16,
) -> None:
    """Bulk load with **Z-order clustering** on (asset_id, date).

    ``cluster_prices`` (lexicographic range layout) gives perfect pruning
    on the leading key but none on the trailing one: a date-only predicate
    touches every asset's files. Normalizing both key columns to the same
    ``bits``-wide scale and interleaving their bits (Morton order) bounds
    BOTH columns' min/max ranges within every file, so Parquet file/
    row-group stats prune on either dimension alone — the multi-
    dimensional analog of the reference's single-key clustering contract
    (file.rs:294-296).

    At 100 TB this is the layout for tables queried by several independent
    predicates (per-asset scans AND cross-sectional date slices): one
    z-curve layout serves both access paths with ~sqrt(files) read instead
    of all files. Cost: one extra tiny min/max aggregation before the load
    shuffle (the normalization bounds). The z-value itself is a static
    codegen expression, range-partitioned and sorted JVM-side, and dropped
    before writing so the on-disk schema is unchanged. Equi-width scaling
    assumes roughly uniform key densities; under heavy skew substitute
    equi-depth (quantile) boundaries from ``approxQuantile`` — the curve
    math is identical.
    """
    src = prices.select(*PRICE_COLUMNS).withColumn(
        "_dc", yyyymmdd_compact(F.col("date"))
    )
    lo_a, hi_a, lo_d, hi_d = src.agg(
        F.min("asset_id"), F.max("asset_id"), F.min("_dc"), F.max("_dc")
    ).collect()[0]
    if lo_a is None:
        raise ValueError("write_zorder: input has no rows (no z-curve bounds)")
    z = zvalue(
        scale_to_bits(F.col("asset_id"), lo_a, hi_a, bits),
        scale_to_bits(F.col("_dc"), lo_d, hi_d, bits),
        bits=bits,
    )
    out = (
        src.withColumn("_z", z)
        .repartitionByRange(num_partitions, F.col("_z"))
        .sortWithinPartitions("_z", "ts")
        .drop("_z", "_dc")
    )
    out.write.mode("overwrite").parquet(path)


def read_prices(spark: SparkSession, path: str) -> DataFrame:
    """Open a clustered prices table (keeps the ``date_month`` partition
    column when present — findb_spark.asof derives partition predicates
    from it).  The schema comes from ``session._SCHEMA_MEMO``, so reopening
    an unchanged table runs no Spark job."""
    df = read_parquet(spark, path)
    cols = list(PRICE_COLUMNS) + (
        ["date_month"] if "date_month" in df.columns else []
    )
    return df.select(*cols)


def scan_metrics(df: DataFrame) -> list[dict[str, int]]:
    """Pruning observability — the analog of the reference's ``pages_read``
    counter (file.rs:477,504,534). Executes the plan and returns the runtime
    metrics of every file-scan node (numFiles, numPartitions, numOutputRows,
    filesSize...). Tests assert these shrink when predicates bind — the
    cluster-scale equivalent of the reference's golden leaf-page counts
    (file.rs:709)."""
    # fresh Dataset -> fresh physical plan: listing-phase metrics (numFiles,
    # numPartitions) are only populated on a plan's first execution.
    # Execute via a JVM-side count over the SAME QueryExecution's RDD: the
    # full plan runs distributed and its scan metrics populate, but no row
    # ever reaches the driver or crosses to Python (a collect() here would
    # ship the whole relation driver-side — an OOM at the 100 TB scale
    # this helper exists to observe; a noop-sink write would execute a
    # DIFFERENT QueryExecution whose metrics we cannot walk).
    df = df.select(df.columns)
    df._jdf.queryExecution().toRdd().count()
    out: list[dict[str, int]] = []

    def walk(node) -> None:
        cn = node.getClass().getSimpleName()
        if "AdaptiveSparkPlan" in cn:
            walk(node.executedPlan())
            return
        if "QueryStage" in cn:
            walk(node.plan())
            return
        if "FileSourceScan" in cn or "BatchScan" in cn:
            m = node.metrics()
            it = m.iterator()
            vals: dict[str, int] = {}
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            out.append(vals)
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def compact(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Small-file compaction: rewrite a clustered prices table into files
    sized for scan efficiency, preserving the clustering contract.

    Incremental/streaming appends fragment a table into many small files;
    at 100 TB the resulting listing + per-file open overhead dominates scan
    time (and row-group stats lose their pruning power because every file
    covers a sliver of the key space). Compaction = one
    ``repartitionByRange`` sized from the actual byte footprint, then the
    same sortWithinPartitions as the bulk load — the table comes out
    exactly as if it had been bulk-loaded in one pass (reference analog:
    re-running write_from_iterator, file.rs:296-379).

    Returns {files_before, files_after, rows}.
    """
    df = spark.read.parquet(src_path)
    files_before = len(df.inputFiles())
    # actual on-disk footprint -> partition count (>=1)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(src_path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jvm_path).getLength()
    n_parts = max(1, -(-total_bytes // target_file_bytes))
    # preserve the hive month-partition level when the source has one —
    # dropping it would silently disable partition pruning (and the asof
    # partition-predicate derivation) after every compaction
    has_month = "date_month" in df.columns
    cols = list(PRICE_COLUMNS) + (["date_month"] if has_month else [])
    out = cluster_prices(df.select(*cols), int(n_parts))
    w = out.write.mode("overwrite")
    if has_month:
        w = w.partitionBy("date_month")
    w.parquet(dest_path)
    compacted = spark.read.parquet(dest_path)
    return {
        "files_before": files_before,
        "files_after": len(compacted.inputFiles()),
        "rows": compacted.count(),
    }
