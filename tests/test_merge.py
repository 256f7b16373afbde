"""MERGE INTO snapshot algebra (ops/merge.py) — action coverage + edges.

The reference's mutation surface is in-place mem-tree insert/delete
(mem.rs:406-454); merge_into is the immutable-snapshot equivalent, so the
tests pin standard MERGE semantics: update, delete, insert, carry-through,
null merge keys, and insert=False."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from findb_spark.ops.merge import merge_into


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (None, "nullkey", 99.0)],
        "k int, tag string, v double",
    )


def _source(spark):
    # k=1 -> update; k=2 -> delete (tombstone tag); k=4 -> insert;
    # k=None -> never matches (null != null), inserted
    return spark.createDataFrame(
        [(1, "a2", 11.0), (2, "DEL", 0.0), (4, "d", 40.0), (None, "n2", 98.0)],
        "k int, tag string, v double",
    )


def _merged(spark, **kw):
    return merge_into(
        _target(spark),
        _source(spark),
        on=["k"],
        update={"tag": F.col("s.tag"), "v": F.col("s.v")},
        delete=F.col("s.tag") == "DEL",
        **kw,
    )


def test_merge_all_actions(spark):
    got = {(r.k, r.tag, r.v) for r in _merged(spark).collect()}
    assert got == {
        (1, "a2", 11.0),       # matched -> updated
        (3, "c", 30.0),        # target-only -> carried
        (None, "nullkey", 99.0),  # null target key -> never matched, carried
        (4, "d", 40.0),        # source-only -> inserted
        (None, "n2", 98.0),    # null source key -> never matched, inserted
    }  # k=2 deleted


def test_merge_without_insert(spark):
    got = {(r.k, r.tag, r.v) for r in _merged(spark, insert=False).collect()}
    assert got == {(1, "a2", 11.0), (3, "c", 30.0), (None, "nullkey", 99.0)}


def test_merge_partial_update_keeps_other_columns(spark):
    out = merge_into(
        _target(spark),
        _source(spark),
        on=["k"],
        update={"v": F.col("s.v") + 1},
        insert=False,
    )
    got = {(r.k, r.tag, r.v) for r in out.collect()}
    # tag keeps the TARGET value; only v comes from the source expression
    assert (1, "a", 12.0) in got and (2, "b", 1.0) in got


def test_merge_insert_requires_full_schema(spark):
    import pytest

    with pytest.raises(ValueError):
        merge_into(
            _target(spark),
            _source(spark).drop("v"),
            on=["k"],
        )


def test_merge_property_random_cases(spark):
    """Randomized MERGE cases vs a dict model (one Spark session, many
    cases in one test to amortize session cost — hypothesis-style sweep
    with an explicit seeded generator)."""
    import random

    rng = random.Random(42)
    for case in range(25):
        keys = range(8)
        tgt_rows = [
            (k, f"t{k}", float(rng.randrange(100)))
            for k in keys
            if rng.random() < 0.7
        ]
        src_rows = [
            (k, "DEL" if rng.random() < 0.25 else f"s{k}", float(rng.randrange(100)))
            for k in keys
            if rng.random() < 0.7
        ]
        insert = rng.random() < 0.5

        model = {k: (tag, v) for k, tag, v in tgt_rows}
        for k, tag, v in src_rows:
            if k in model:
                if tag == "DEL":
                    del model[k]
                else:
                    model[k] = (tag, v)
            elif insert and tag != "DEL":
                model[k] = (tag, v)
            elif insert and tag == "DEL":
                # unmatched tombstone still inserts (delete only applies to
                # matched rows, per MERGE semantics)
                model[k] = (tag, v)

        tgt = spark.createDataFrame(
            tgt_rows or [(99, "pad", 0.0)], "k int, tag string, v double"
        )
        if not tgt_rows:
            tgt = tgt.where(F.col("k") < 0)
        src = spark.createDataFrame(
            src_rows or [(99, "pad", 0.0)], "k int, tag string, v double"
        )
        if not src_rows:
            src = src.where(F.col("k") < 0)
        out = merge_into(
            tgt,
            src,
            on=["k"],
            update={"tag": F.col("s.tag"), "v": F.col("s.v")},
            delete=F.col("s.tag") == "DEL",
            insert=insert,
        )
        got = {r.k: (r.tag, r.v) for r in out.collect()}
        assert got == model, (case, tgt_rows, src_rows, insert)


def test_merge_null_delete_condition_keeps_row(spark):
    """ANSI MERGE: an unknown (NULL) delete condition is NOT satisfied —
    the matched row must be updated/kept, not silently dropped."""
    from pyspark.sql import functions as F

    from findb_spark.ops.merge import merge_into

    t = spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
    s = spark.createDataFrame([(1, "A", None), (2, "B", "D")], "k BIGINT, v STRING, op STRING")
    out = {
        r.k: r.v
        for r in merge_into(
            t,
            s.select("k", "v", "op"),
            on=["k"],
            update={"v": F.col("s.v")},
            delete=F.col("s.op") == "D",
            insert=False,
        ).collect()
    }
    assert out == {1: "A"}  # k=2 deleted; k=1's NULL condition kept+updated


def test_merge_delete_only_with_keys_only_source(spark):
    """insert=False must not require the source to carry target columns."""
    from pyspark.sql import functions as F

    from findb_spark.ops.merge import merge_into

    t = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING")
    s = spark.createDataFrame([(2,)], "k BIGINT")
    out = {
        r.k: r.v
        for r in merge_into(t, s, on=["k"], delete=F.lit(True), insert=False).collect()
    }
    assert out == {1: "a", 3: "c"}


def _merge_no_keys(t, s):
    return merge_into(t, s, on=[])


def _diff_no_keys(t, s):
    from findb_spark.ops.diff import snapshot_diff

    return snapshot_diff(t, s, keys=[], compare=["v"])


@pytest.mark.parametrize(
    "op, names",
    [(_merge_no_keys, "on"), (_diff_no_keys, "keys")],
    ids=["merge_into", "snapshot_diff"],
)
def test_empty_key_list_is_rejected(spark, op, names):
    """An empty key list must raise, naming it: a join on no key is a
    cartesian product (merge_into returned every target row once per source
    row) or a bare IndexError from PySpark (snapshot_diff)."""
    t = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING")
    s = spark.createDataFrame([(1, "A"), (4, "d")], "k BIGINT, v STRING")
    with pytest.raises(ValueError, match=f"{names} is empty"):
        op(t, s)
