"""MERGE INTO (upsert/delete) over immutable snapshots.

The reference mutates its mem-tree in place (insert with node splits at
mem.rs:406-437, delete with merges at mem.rs:439-454). Spark DataFrames are
immutable, so the engine's mutation surface is *snapshot algebra*: MERGE
takes the current target snapshot plus a source of changes and returns the
next snapshot — the same contract as Delta Lake's MERGE INTO / ANSI SQL:2003
MERGE, minus transactional file rewrite (a table-format concern, not a
query-engine one; swap the sink for Delta/Iceberg and this operator IS their
merge kernel).

Semantics (per standard MERGE):

- matched + delete-condition          -> row dropped
- matched (otherwise)                 -> updated columns from the source row
- source row with no target match     -> inserted (optional)
- target row with no source match     -> carried through unchanged

Scale design: one full-outer sort-merge join on the merge keys — a single
shuffle of each side, the minimal shape for an upsert of arbitrary overlap
(Delta's MERGE plans the same join). No broadcast by default: at 100 TB the
target is never broadcastable, and a small source side broadcasts
automatically once AQE sees its size (full-outer prevents broadcast, but
AQE converts the *matched* work to a cheap plan when either side is tiny).
Rows never visit the driver; presence flags (not key null-checks) decide
matched-ness so null merge keys stay correct.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

_T_FLAG = "__merge_t_present"
_S_FLAG = "__merge_s_present"


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    update: Mapping[str, Column] | None = None,
    delete: Column | None = None,
    insert: bool = True,
) -> DataFrame:
    """Return the next snapshot of ``target`` after merging ``source``.

    ``on``      — merge key column names (present in both inputs).
    ``update``  — matched rows: {target_col: expression}; expressions may
                  reference both sides via the ``t``/``s`` aliases
                  (``F.col("s.x")``). Unlisted columns keep target values.
    ``delete``  — matched rows satisfying this predicate (``t``/``s``
                  refs allowed) are dropped instead of updated.
    ``insert``  — whether unmatched source rows become new target rows
                  (schema: target columns taken from the source row).

    A NULL ``delete`` predicate result keeps the row (ANSI MERGE treats an
    unknown condition as not satisfied — dropping on NULL would be silent
    data loss). Like the raw join it wraps (and unlike Delta, which
    raises), a source with DUPLICATE merge keys fans matched target rows
    out into one row per source match — deduplicate the source first
    (e.g. latest-per-key) if that is not intended.
    """
    if not on:
        raise ValueError("merge_into needs at least one merge key: on is empty")
    out_cols = target.columns
    missing = [c for c in out_cols if c not in source.columns]
    if insert and missing:
        raise ValueError(f"insert requires source to carry target columns: {missing}")

    t = target.withColumn(_T_FLAG, F.lit(True)).alias("t")
    s = source.withColumn(_S_FLAG, F.lit(True)).alias("s")
    cond = None
    for k in on:
        eq = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = eq if cond is None else (cond & eq)
    j = t.join(s, cond, "full_outer")

    matched = F.col(f"t.{_T_FLAG}").isNotNull() & F.col(f"s.{_S_FLAG}").isNotNull()
    t_only = F.col(f"s.{_S_FLAG}").isNull()

    # NULL delete-condition => not deleted (coalesce, NOT raw negation:
    # matched & ~NULL is NULL and where() would silently drop the row)
    not_deleted = (
        F.lit(True) if delete is None else ~F.coalesce(delete, F.lit(False))
    )
    keep = matched & not_deleted
    keep = keep | t_only | (F.lit(insert) & F.col(f"t.{_T_FLAG}").isNull())

    update = update or {}

    def _insert_value(c: str) -> Column:
        # only reachable when insert=True (the keep filter excludes
        # source-only rows otherwise); with insert=False the source may be
        # keys-only, so referencing s.<c> would fail analysis
        return F.col(f"s.{c}") if insert else F.col(f"t.{c}")

    projected = [
        F.when(
            matched, update[c] if c in update else F.col(f"t.{c}")
        )
        .when(t_only, F.col(f"t.{c}"))
        .otherwise(_insert_value(c))
        .alias(c)
        for c in out_cols
    ]
    return j.where(keep).select(*projected)
