"""Snapshot diff — a CDC-style changelog between two versions of a keyed
table.

The reference engine's bitemporal model (``file.rs:37-43``: the ``ts``
knowledge axis) means "what changed between knowledge-time T1 and T2" is a
first-class question: diff the as-of snapshots at the two timestamps. The
same operator also serves the lakehouse CDC shape (diff a table against
its previous version to feed an incremental consumer) — the complement of
:mod:`findb_spark.ops.merge`'s MERGE INTO (merge applies a changelog;
diff derives one).

Plan shape / 100 TB posture: one full-outer **sort-merge join on the key**
— the single unavoidable shuffle; both sides are value-projected before
the join so only compared columns move. Change classification is pure
projection on the joined row (null-key side => insert/delete, both
present => compare). No window, no collect, no skew term beyond the join
key's own distribution (keys are unique per side, so AQE's skew splitting
has nothing to amplify).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare: list[str],
) -> DataFrame:
    """Changelog turning ``old`` into ``new``: one row per key whose value
    changed, with ``change ∈ {'insert','delete','update'}``.

    Output columns: keys..., change, old_<c>/new_<c> for each compared
    column. Unchanged keys (all compared columns equal, null-safe) are
    dropped — at 100 TB the changelog is usually orders of magnitude
    smaller than either snapshot, so filtering before any downstream
    shuffle is the point of the operator.
    """
    if not keys:
        raise ValueError("snapshot_diff needs at least one key: keys is empty")
    # presence flags come from sentinel columns on each join side, not
    # value nullability: a present row with all-null compared values is
    # still present.
    o = old.select(
        *keys,
        *[F.col(c).alias(f"old_{c}") for c in compare],
        F.lit(1).alias("_old_present"),
    )
    n = new.select(
        *keys,
        *[F.col(c).alias(f"new_{c}") for c in compare],
        F.lit(1).alias("_new_present"),
    )
    # full-outer on the key; key columns coalesce across sides
    j = o.join(n, on=keys, how="full_outer")
    same = F.lit(True)
    for c in compare:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("_old_present").isNull(), F.lit("insert"))
        .when(F.col("_new_present").isNull(), F.lit("delete"))
        .when(~same, F.lit("update"))
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(
            *keys,
            "change",
            *[F.col(f"old_{c}") for c in compare],
            *[F.col(f"new_{c}") for c in compare],
        )
    )
