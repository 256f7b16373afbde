"""Minimal versioned-table layer (time travel) over parquet directories.

The reference's bitemporal model gives *row-level* knowledge-time history
(file.rs:508-570); this module adds the complementary *table-level* history
a lakehouse exposes as `VERSION AS OF`: every write lands in a fresh
immutable `v{N}/` subdirectory and a `_versions.json` manifest records the
commit order.  Readers resolve a version (or latest) through the manifest,
so concurrent readers never observe a half-written directory — the manifest
is REWRITTEN ATOMICALLY (tmp file + os.replace) only after the parquet
commit (`_SUCCESS`) exists, the same commit-gating discipline as
streaming/events_stream.py's snapshot reads.

Manifest format: ``{"versions": {"N": data_dir}, "schemas": {"N": schema}}``
where ``schema`` is the committed DataFrame's ``StructType`` as JSON.
`read_version` hands it to ``spark.read.schema`` so resolving a version
runs no parquet footer-inference job.  A version directory is immutable,
so its recorded schema cannot go stale; it is not a cache.  Manifests
written before the field existed (or versions without an entry) still
read, through inference.  Every manifest write goes through
`_write_manifest`, which keeps exactly the schemas of the listed versions.

Scale: the manifest holds one entry per version (tiny JSON); data files are
plain parquet, so all layout machinery (partitioning, Z-order, manifests,
pruning — layout.py) composes with versioned tables unchanged.  Vacuuming
old versions is directory removal.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST = "_versions.json"


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, _MANIFEST)


def _read_manifest(table_dir: str) -> tuple[dict[int, str], dict[int, dict]]:
    """({version: data_dir}, {version: schema JSON}); both empty if none."""
    path = _manifest_path(table_dir)
    if not os.path.exists(path):
        return {}, {}
    with open(path) as f:
        raw = json.load(f)
    return (
        {int(k): v for k, v in raw["versions"].items()},
        {int(k): v for k, v in raw.get("schemas", {}).items()},
    )


def _write_manifest(
    table_dir: str, versions: dict[int, str], schemas: dict[int, dict]
) -> None:
    """Atomically replace the manifest (tmp file + os.replace). Only the
    schemas of listed versions are written."""
    tmp = _manifest_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "versions": {str(k): p for k, p in versions.items()},
                "schemas": {str(k): schemas[k] for k in versions if k in schemas},
            },
            f,
        )
    os.replace(tmp, _manifest_path(table_dir))


def list_versions(table_dir: str) -> dict[int, str]:
    """Committed versions as {version: data_dir}, empty if none."""
    return _read_manifest(table_dir)[0]


def write_version(df: DataFrame, table_dir: str) -> int:
    """Commit ``df`` as the next version of the table; returns the version
    number.  The data directory is immutable once committed."""
    os.makedirs(table_dir, exist_ok=True)
    versions, schemas = _read_manifest(table_dir)
    v = max(versions) + 1 if versions else 1
    data_dir = os.path.join(table_dir, f"v{v}")
    df.write.mode("overwrite").parquet(data_dir)
    if not os.path.exists(os.path.join(data_dir, "_SUCCESS")):
        raise RuntimeError(f"parquet commit missing _SUCCESS: {data_dir}")
    versions[v], schemas[v] = data_dir, df.schema.jsonValue()
    _write_manifest(table_dir, versions, schemas)
    return v


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table as of ``version`` (default: latest committed).  With
    the version's schema in the manifest this runs no Spark job."""
    versions, schemas = _read_manifest(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {table_dir}")
    v = max(versions) if version is None else version
    if v not in versions:
        raise KeyError(f"version {v} not in {sorted(versions)}")
    reader = spark.read
    if v in schemas:
        reader = reader.schema(StructType.fromJson(schemas[v]))
    return reader.parquet(versions[v])


def vacuum(table_dir: str, keep_last: int = 2) -> list[int]:
    """Expire all but the newest ``keep_last`` versions: the manifest is
    atomically rewritten FIRST (so readers stop resolving the expired
    versions before any bytes disappear), then the orphaned ``v{N}``
    directories are removed.  Returns the expired version numbers.

    The order matters for the same reason streaming snapshot reads gate
    on _SUCCESS: a reader holding the old manifest may still be scanning
    an expired directory, so production deployments put a grace period
    between the manifest rewrite and the directory removal (the
    lakehouse-format vacuum contract); at library scope the two steps
    run back-to-back and tests pin the visible semantics — retained
    versions stay readable, expired versions raise KeyError."""
    import shutil

    versions, schemas = _read_manifest(table_dir)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    keep = sorted(versions)[-keep_last:]
    expired = [v for v in sorted(versions) if v not in keep]
    if not expired:
        return []
    _write_manifest(table_dir, {v: versions[v] for v in keep}, schemas)
    for v in expired:
        shutil.rmtree(versions[v], ignore_errors=True)
    return expired


class VersionConflict(RuntimeError):
    """Another writer committed first; rebase on the new head and retry."""


def commit_version(df: DataFrame, table_dir: str, expected_base: int) -> int:
    """Optimistic-concurrency commit — the Delta/Iceberg CAS contract:
    publish ``df`` as version ``expected_base + 1`` ONLY IF no other
    writer got there first; otherwise raise :class:`VersionConflict` so
    the caller re-reads the new head, rebases its change, and retries.

    Atomicity comes from a put-if-absent commit marker: version N+1 is
    claimed by creating ``_commit_v{N+1}`` with O_CREAT|O_EXCL, which the
    filesystem guarantees exactly one writer wins (the same primitive
    Delta Lake uses for its log-entry put-if-absent). The stale-base fast
    path (head already moved) is checked first so losers usually fail
    before writing any data; a loser that wrote data discards its orphan
    directory. The manifest rewrite stays atomic (tmp + os.replace), so
    readers still never observe a half-commit.
    """
    import shutil

    os.makedirs(table_dir, exist_ok=True)
    versions, schemas = _read_manifest(table_dir)
    head = max(versions) if versions else 0
    if head != expected_base:
        raise VersionConflict(
            f"expected base {expected_base}, head is {head}: rebase and retry"
        )
    v = expected_base + 1
    marker = os.path.join(table_dir, f"_commit_v{v}")
    try:
        fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise VersionConflict(
            f"version {v} already claimed by another writer: rebase and retry"
        ) from None
    os.close(fd)
    data_dir = os.path.join(table_dir, f"v{v}")
    try:
        df.write.mode("overwrite").parquet(data_dir)
        if not os.path.exists(os.path.join(data_dir, "_SUCCESS")):
            raise RuntimeError(f"parquet commit missing _SUCCESS: {data_dir}")
    except BaseException:
        shutil.rmtree(data_dir, ignore_errors=True)
        os.unlink(marker)
        raise
    versions[v], schemas[v] = data_dir, df.schema.jsonValue()
    _write_manifest(table_dir, versions, schemas)
    return v


def clone_table(src_table: str, dst_table: str) -> int:
    """Zero-copy shallow clone (Delta SHALLOW CLONE semantics): the clone's
    manifest REFERENCES the source's immutable version directories — no
    data bytes are copied, so cloning a petabyte table is one JSON write.
    After the clone, commits to either table diverge independently (each
    table's new versions land under its own directory; the shared history
    stays shared).

    Caveat (same as the lakehouse formats'): vacuuming the SOURCE can
    remove directories the clone still references — production deployments
    either track cross-table references or deep-copy on vacuum. At library
    scope the contract is documented and tests pin the visible semantics.
    """
    versions, schemas = _read_manifest(src_table)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {src_table}")
    if list_versions(dst_table):
        raise FileExistsError(f"clone target {dst_table} already has versions")
    os.makedirs(dst_table, exist_ok=True)
    _write_manifest(
        dst_table, {k: os.path.abspath(p) for k, p in versions.items()}, schemas
    )
    return max(versions)


def read_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    compare: list[str],
) -> DataFrame:
    """Change data feed between two committed versions (Delta CDF analog):
    one row per key that differs, ``change in {'insert','delete','update'}``
    with old_/new_ value columns — computed as the snapshot diff of the two
    immutable version directories, so the feed needs no write-side logging
    at all.  Cost: one full-outer join of the two versions pruned to
    keys+compared columns; at 100 TB emit the feed per adjacent version
    pair (small diffs) rather than across distant versions."""
    from findb_spark.ops.diff import snapshot_diff

    return snapshot_diff(
        read_version(spark, table_dir, v_from),
        read_version(spark, table_dir, v_to),
        keys=keys,
        compare=compare,
    )
