"""Table-format-lite data skipping: a per-file column-stats manifest and a
pruned reader.

Vanilla Spark prunes FILES only via hive partition directories; Parquet
min/max footers are consulted per row group inside the reader, invisibly
and after every file is opened. Lakehouse table formats (Delta, Iceberg,
Hudi) fix this with a stats manifest consulted BEFORE the scan. This
module is that mechanism, minimally: footer stats are harvested once per
bulk load (a distributed, footer-only job — no data pages are read) and
queries resolve their file list against the manifest first.

This is the closest Spark analog of the reference's B+tree descent
(file.rs:425-452): the manifest plays the inner nodes (separator keys),
the parquet files play the leaves, and ``pruned_read`` is the seek. It is
also what makes Z-order clustering (layout.write_zorder) *measurable*:
with per-file stats, a predicate on either z-dimension shrinks the actual
file list, not just the row groups silently skipped inside the reader.

Scale notes (100 TB):
- manifest build is one Spark job over file paths; each task reads only
  footers (KBs per file). Rebuilt incrementally per load/compaction in
  real deployments; here, per call.
- file-list resolution collects only the manifest (one row per file —
  the same driver-side planning cost every lakehouse format pays; ~10^5
  rows at 100 TB with healthy 1 GB files).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession, functions as F

from findb_spark.session import local_path, local_relation_df, map_rows, read_parquet


def _table_files(spark: SparkSession, path: str) -> list[str]:
    """The data files of the parquet table at ``path``, as local paths
    where the URI is a ``file:`` one.  Listed through :func:`read_parquet`,
    so once its schema memo holds the table's content the listing runs no
    Spark job."""
    return [local_path(uri) or uri for uri in read_parquet(spark, path).inputFiles()]


def _schema(cols: list[str]) -> str:
    return (
        "file string, num_rows bigint, "
        + ", ".join(f"{c}_min double, {c}_max double" for c in cols)
    )


def _harvest_files(spark: SparkSession, files: list[str], cols: list[str]) -> DataFrame:
    """Distributed footer-only stats harvest for an explicit file list:
    one ``file, num_rows, {c}_min, {c}_max`` row per file, folded over
    its row groups' footer statistics."""
    import pyarrow.parquet as pq

    def footer_stats(f):
        md = pq.read_metadata(f)
        lo: dict[str, float | None] = {c: None for c in cols}
        hi: dict[str, float | None] = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name in lo and col.statistics is not None:
                    st = col.statistics
                    if st.has_min_max:
                        mn, mx = float(st.min), float(st.max)
                        lo[name] = mn if lo[name] is None else min(lo[name], mn)
                        hi[name] = mx if hi[name] is None else max(hi[name], mx)
        return [(f, md.num_rows, *[v for c in cols for v in (lo[c], hi[c])])]

    return _map_files(spark, files, footer_stats, _schema(cols))


def _map_files(spark: SparkSession, files: list[str], rows_of, schema: str) -> DataFrame:
    """:func:`map_rows` ``(rows_of, schema)`` over a ``file`` column
    listing ``files``: the list ships as a LocalRelation, spread over at
    most ``defaultParallelism`` tasks."""
    paths = local_relation_df(spark, [(f,) for f in files], "file string")
    n_tasks = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    return map_rows(paths.repartition(n_tasks), rows_of, schema)


def build_manifest(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """Harvest per-file min/max stats for ``cols`` (numeric) from parquet
    footers. Returns a small DataFrame: ``file, num_rows, {c}_min, {c}_max``.

    Distributed and footer-only: the file paths ship as a LocalRelation
    and a :func:`map_rows` stage reads just each file's parquet metadata
    (pyarrow), so the build touches no data pages.  Building the
    DataFrame runs no Spark job once :func:`read_parquet` has seen the
    table's current content.
    """
    return _harvest_files(spark, _table_files(spark, path), cols)


def _overlap_cond(ranges: Mapping[str, tuple[float, float]]):
    """Stats-overlap predicate over manifest rows. A file with NULL
    min/max for a column (footer stats absent: statistics disabled at
    write, NaN-poisoned double chunks, or a column added after the file
    was written) MAY contain matching rows — treat it as a match; pruning
    may only ever skip files that provably cannot match."""
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        stats_missing = F.col(f"{c}_min").isNull() | F.col(f"{c}_max").isNull()
        cond = cond & (
            stats_missing
            | (
                (F.col(f"{c}_max") >= F.lit(float(lo)))
                & (F.col(f"{c}_min") <= F.lit(float(hi)))
            )
        )
    return cond


def pruned_read(
    spark: SparkSession,
    manifest: DataFrame,
    ranges: Mapping[str, tuple[float, float]],
    base_path: str | None = None,
) -> DataFrame:
    """Read only the files whose stats overlap every ``col: (lo, hi)``
    range (inclusive), then re-apply the exact predicates. The manifest
    filter is the index seek; the residual ``where`` keeps correctness
    independent of stats granularity — identical to how the reference's
    scan re-checks keys after the descent (file.rs:543-556).

    ``base_path``: REQUIRED for hive-partitioned tables (e.g. layout's
    ``date_month=`` directories) — an explicit leaf-file read performs no
    partition discovery, so without the basePath option the partition
    columns would silently vanish from the returned schema."""
    out = _read_selected(spark, manifest, _overlap_cond(ranges), base_path)
    for c, (lo, hi) in ranges.items():
        out = out.where(F.col(c).between(lo, hi))
    return out


def _read_selected(
    spark: SparkSession, manifest: DataFrame, cond, base_path: str | None = None
) -> DataFrame:
    """The files of ``manifest`` whose row satisfies ``cond``; an empty
    selection keeps the table's schema (read from any one file)."""
    r = spark.read if base_path is None else spark.read.option("basePath", base_path)
    files = [row.file for row in manifest.where(cond).select("file").collect()]
    if files:
        return r.parquet(*files)
    any_file = manifest.select("file").limit(1).collect()
    if not any_file:
        raise ValueError("empty manifest")
    return r.parquet(any_file[0].file).limit(0)


def update_manifest(
    spark: SparkSession, path: str, old: DataFrame, cols: list[str]
) -> DataFrame:
    """Incremental manifest refresh: harvest footers ONLY for files not
    already covered (append-only tables — streaming sinks, daily loads).
    Cost is O(new files), not O(table), which is what keeps the manifest
    maintainable under continuous ingest at 100 TB; rewritten/compacted
    tables should rebuild instead (entries for files no longer present
    are dropped by membership)."""
    current = set(_table_files(spark, path))
    known = {r.file for r in old.select("file").collect()}
    new_files = sorted(current - known)
    kept = old.where(F.col("file").isin(list(current & known)))
    if not new_files:
        return kept
    return kept.unionByName(_harvest_files(spark, new_files, cols))


def files_selected(
    manifest: DataFrame, ranges: Mapping[str, tuple[float, float]]
) -> int:
    """How many files a ``pruned_read`` with these ranges would open —
    the engine's ``pages_read`` analog at file granularity (same predicate
    builder as pruned_read, so the count can never disagree with what it
    actually opens)."""
    return manifest.where(_overlap_cond(ranges)).count()


# --- per-file Bloom filters: point-lookup skipping on UNSORTED columns ----
#
# Min/max stats prune range predicates on clustered dimensions; they are
# useless for an equality probe on a column whose values scatter across
# every file (each file's [min, max] spans the domain). Lakehouse formats
# answer this with per-file Bloom filters (Parquet's own column blooms,
# Delta's bloom index); this is that mechanism at manifest granularity:
# k hash-derived bit positions per value, one bitset per file, a probe
# reads only files whose bitset claims the value. False positives cost an
# extra file open (the exact residual filter keeps correctness); false
# negatives are impossible.

BLOOM_BITS = 1 << 20  # 1M bits = 16k int64 words per file (~128 KB)
BLOOM_HASHES = 4


def _bloom_positions(value):
    """The ``BLOOM_HASHES`` bit positions for a value — hashlib-based, so build (executor
    Python) and probe (driver Python) always agree; only internal
    consistency matters, nothing here must match a SQL engine."""
    import hashlib

    return [
        int.from_bytes(
            hashlib.md5(f"{value}:{i}".encode()).digest()[:8], "little"
        )
        % BLOOM_BITS
        for i in range(BLOOM_HASHES)
    ]


def build_bloom_manifest(spark: SparkSession, path: str, col: str) -> DataFrame:
    """Per-file Bloom bitsets over ``col``: one distributed pass that reads
    ONLY that column's pages per file (the price of a value index — still
    no full-row materialization). Returns (file, num_rows, words:
    array<bigint> of BLOOM_BITS/64 words), one row per file."""
    import pyarrow.parquet as pq

    nwords = BLOOM_BITS // 64

    def bitset(f):
        t = pq.read_table(f, columns=[col])
        words = [0] * nwords
        vals = t.column(col).to_pylist()
        for v in set(vals):
            for p in _bloom_positions(v):
                words[p // 64] |= 1 << (p % 64)
        # int64 domain: keep the sign bit arithmetic exact by
        # wrapping to signed 64-bit
        words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
        return [(f, len(vals), words)]

    files = _table_files(spark, path)
    return _map_files(spark, files, bitset, "file string, num_rows bigint, words array<bigint>")


def _bloom_hit_cond(value):
    """Manifest predicate: every one of the value's k bit positions set."""
    cond = F.lit(True)
    for p in _bloom_positions(value):
        word, bit = p // 64, p % 64
        cond = cond & (
            F.expr(f"(element_at(words, {word + 1}) >> {bit}) & 1") == 1
        )
    return cond


def bloom_files_selected(manifest: DataFrame, value) -> int:
    """How many files a bloom probe for ``value`` would open."""
    return manifest.where(_bloom_hit_cond(value)).count()


def bloom_pruned_read(spark: SparkSession, manifest: DataFrame, col: str, value) -> DataFrame:
    """Point-lookup read through the Bloom manifest: open only files whose
    bitset claims ``value``, then re-apply the exact equality (false
    positives are filtered, never returned)."""
    return _read_selected(spark, manifest, _bloom_hit_cond(value)).where(
        F.col(col) == F.lit(value)
    )
