"""Versioned tables (time travel) over parquet directories, committed
through one put-if-absent log.

The reference's bitemporal model gives *row-level* knowledge-time history
(file.rs:508-570); this module adds the complementary *table-level* history
a lakehouse exposes as `VERSION AS OF`.  Layout:

- ``table_dir/_log/{N}.json`` is version N's entry,
  ``{"data": data_dir, "schema": StructType JSON}``;
- ``table_dir/v{N}-{8 hex}/`` holds the version's parquet files.

Commit (the Delta Lake log protocol): a writer first writes its data to a
fresh directory of its own, then publishes the entry by hard-linking a
fully written temporary file to ``_log/{N}.json``.  ``link`` fails when
the name exists, so exactly one writer gets each version and an entry
appears whole or not at all: the entry IS the commit.  A loser removes
its data directory and raises :class:`VersionConflict`.  A writer killed
before the link leaves only an unreferenced data directory, which
:func:`vacuum` removes; one killed after it has committed.  Nothing is
ever rewritten in place, so no reader sees a half commit, and no name is
ever freed: :func:`vacuum` replaces an expired entry with the tombstone
``{"expired": true}``, so no version number is committed twice, not even
by a writer that passed its stale-base check before the version expired.
The commit relies on POSIX ``link`` semantics, so the table must live on
a local or mounted file system, not on an object store.

Readers list ``_log/`` and parse only the entry they resolve.  Every
entry carries its version's schema (a clone copies entries as they are),
and it goes to ``spark.read.schema``, so resolving a version runs no
Spark job.

Scale: one tiny entry per version; data files are plain parquet, so all
layout machinery (partitioning, Z-order, manifests, pruning — layout.py)
composes with versioned tables unchanged.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOG = "_log"
_DATA_DIR = re.compile(r"v(\d+)-[0-9a-f]{8}")
_EXPIRED = {"expired": True}


class VersionConflict(RuntimeError):
    """Another writer committed first; rebase on the new head and retry."""


def _entry_path(table_dir: str, v: int) -> str:
    return os.path.join(table_dir, _LOG, f"{v}.json")


def _taken(table_dir: str) -> list[int]:
    """Every version number ever committed, expired ones included."""
    try:
        names = os.listdir(os.path.join(table_dir, _LOG))
    except FileNotFoundError:
        return []
    return sorted(int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit())


def _read(table_dir: str, v: int) -> dict | None:
    """Version ``v``'s entry; None if it was never committed or has expired."""
    try:
        with open(_entry_path(table_dir, v)) as f:
            entry = json.load(f)
    except FileNotFoundError:
        return None
    return None if entry.get("expired") else entry


def _live(table_dir: str) -> dict[int, dict]:
    """{version: entry} of the committed versions that have not expired."""
    entries = {v: _read(table_dir, v) for v in _taken(table_dir)}
    return {v: e for v, e in entries.items() if e is not None}


def _entry(table_dir: str, v: int) -> dict:
    entry = _read(table_dir, v)
    if entry is None:
        live = sorted(_live(table_dir))
        if not live:
            raise FileNotFoundError(f"no committed versions under {table_dir}")
        raise KeyError(f"version {v} not in {live}")
    return entry


def _staged(path: str, entry: dict) -> str:
    """Write ``entry`` to a fresh temporary file beside ``path``."""
    tmp = os.path.join(os.path.dirname(path), f".{os.urandom(8).hex()}.tmp")
    with open(tmp, "w") as f:
        json.dump(entry, f)
    return tmp


def _put_if_absent(path: str, entry: dict) -> bool:
    """Create ``path`` holding ``entry`` unless it exists; True if created."""
    tmp = _staged(path, entry)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def head_version(table_dir: str) -> int:
    """The newest committed version, 0 for a table with none."""
    return max(_taken(table_dir), default=0)


def list_versions(table_dir: str) -> dict[int, str]:
    """Committed versions as {version: data_dir}, empty if none."""
    return {v: e["data"] for v, e in _live(table_dir).items()}


def commit_version(df: DataFrame, table_dir: str, expected_base: int) -> int:
    """Optimistic-concurrency commit — the Delta/Iceberg CAS contract:
    publish ``df`` as version ``expected_base + 1`` ONLY IF no other
    writer got there first; otherwise raise :class:`VersionConflict` so
    the caller re-reads the new head, rebases its change, and retries.

    The stale-base check runs first, so losers usually fail before
    writing any data.  The data goes to a fresh directory, then the log
    entry is put-if-absent (module docstring); a writer that loses the
    put, or whose write fails, removes its own directory.  A write that
    fails after another writer took the version is a lost race: vacuum
    may have removed the directory under it."""
    os.makedirs(os.path.join(table_dir, _LOG), exist_ok=True)
    head = head_version(table_dir)
    if head != expected_base:
        raise VersionConflict(
            f"expected base {expected_base}, head is {head}: rebase and retry"
        )
    v = expected_base + 1
    path = _entry_path(table_dir, v)
    data_dir = os.path.join(table_dir, f"v{v}-{os.urandom(4).hex()}")
    committed = False
    try:
        df.write.parquet(data_dir)
        if not os.path.exists(os.path.join(data_dir, "_SUCCESS")):
            raise RuntimeError(f"parquet commit missing _SUCCESS: {data_dir}")
        committed = _put_if_absent(path, {"data": data_dir, "schema": df.schema.jsonValue()})
    except Exception:
        if not os.path.exists(path):
            raise
    finally:
        if not committed:
            shutil.rmtree(data_dir, ignore_errors=True)
    if not committed:
        raise VersionConflict(
            f"version {v} committed by another writer: rebase and retry"
        )
    return v


def write_version(df: DataFrame, table_dir: str) -> int:
    """Commit ``df`` as the next version of the table; returns the version
    number.  A writer that commits that version first makes this raise
    :class:`VersionConflict`; a committed version is never replaced."""
    return commit_version(df, table_dir, head_version(table_dir))


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table as of ``version`` (default: latest committed).  The
    entry's recorded schema means this runs no Spark job."""
    if version is None:
        version = head_version(table_dir)
        if not version:
            raise FileNotFoundError(f"no committed versions under {table_dir}")
    entry = _entry(table_dir, version)
    return spark.read.schema(StructType.fromJson(entry["schema"])).parquet(entry["data"])


def vacuum(table_dir: str, keep_last: int = 2) -> list[int]:
    """Expire all but the newest ``keep_last`` versions: each expired
    entry is replaced by a tombstone FIRST (so readers stop resolving it
    before any bytes disappear, and its number stays taken: a writer whose
    base went stale mid-write still loses the put), then its directory is
    removed.  Also removes the ``v{N}-*`` directories with N at or below
    the head that no entry references: they belong to writers that lost
    or died, and can never commit.  A directory above the head may belong
    to a writer still in flight, so it stays.  Returns the expired version
    numbers.

    A reader that resolved an expired version may still be scanning it,
    so production deployments put a grace period between the tombstone
    and the directory removal (the lakehouse-format vacuum contract); at
    library scope the two steps run back-to-back and tests pin the
    visible semantics — retained versions stay readable, expired versions
    raise KeyError."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    live = _live(table_dir)
    if not live:
        return []
    versions = sorted(live)
    expired, kept = versions[:-keep_last], versions[-keep_last:]
    for v in expired:
        path = _entry_path(table_dir, v)
        os.replace(_staged(path, _EXPIRED), path)
    keep = {os.path.realpath(live[v]["data"]) for v in kept}
    dead = [live[v]["data"] for v in expired]
    for name in os.listdir(table_dir):
        m = _DATA_DIR.fullmatch(name)
        if m and int(m.group(1)) <= kept[-1]:
            dead.append(os.path.join(table_dir, name))
    for d in dead:
        if os.path.realpath(d) not in keep:
            shutil.rmtree(d, ignore_errors=True)
    return expired


def clone_table(src_table: str, dst_table: str) -> int:
    """Zero-copy shallow clone (Delta SHALLOW CLONE semantics): the clone's
    entries REFERENCE the source's immutable version directories — no
    data bytes are copied, so cloning a petabyte table writes one small
    entry per version.  Expired versions are cloned as tombstones, so the
    clone's numbers are taken exactly as the source's are.  After the
    clone, commits to either table diverge independently (each table's new
    versions land under its own directory; the shared history stays
    shared).

    Caveat (same as the lakehouse formats'): vacuuming the SOURCE can
    remove directories the clone still references — production deployments
    either track cross-table references or deep-copy on vacuum. At library
    scope the contract is documented and tests pin the visible semantics.
    """
    live = _live(src_table)
    if not live:
        raise FileNotFoundError(f"no committed versions under {src_table}")
    if _taken(dst_table):
        raise FileExistsError(f"clone target {dst_table} already has versions")
    os.makedirs(os.path.join(dst_table, _LOG), exist_ok=True)
    for v in range(1, max(live) + 1):
        entry = _EXPIRED
        if v in live:
            entry = {**live[v], "data": os.path.abspath(live[v]["data"])}
        if not _put_if_absent(_entry_path(dst_table, v), entry):
            raise FileExistsError(f"clone target {dst_table} already has versions")
    return max(live)


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
