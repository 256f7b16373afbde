"""Mutation pins for the self-certifying sketch queries (round-10 verdict
item 1).

events_approx_distinct / events_hll_rollup emit (exact distinct + an
in-plan boolean asserting the sketch estimate lands within its theoretical
bound).  The DuckDB oracle hardcodes TRUE for the verdict, so the gate
verifies the boolean is true but — before these tests — nothing verified
the bound expression CAN read false: a tautological bound (one flipped
comparison) would have certified forever, the same vacuous-certification
class round 8 eradicated for empty results.

The pin: swap each query's estimator seam (events_queries.
_approx_distinct_estimate / _hll_union_estimate) for a corrupted one that
returns exact * 2, re-run the REAL registered query end-to-end, and assert
every verdict row flips to false.  A neutered bound keeps reading true
under the corruption and fails here."""

from __future__ import annotations



from pyspark.sql import functions as F

from tests.conftest import SF_DIR, cache_entry

import findb_spark.queries.events_queries as eq


def test_approx_distinct_bound_flips_on_corrupt_estimate(spark, monkeypatch):
    healthy = eq.events_approx_distinct(spark, SF_DIR).collect()
    assert healthy, "query returned no groups — fixture problem"
    assert all(r.sketch_within_3rsd for r in healthy), (
        "healthy HLL++ estimate outside the 3x-rsd bound — either the "
        "sketch path broke or the bound needs the documented recalibration"
    )
    # corrupt the estimate: exactly 2x the exact distinct, 100% rel err —
    # far outside any sane bound, still a valid aggregate expression
    monkeypatch.setattr(
        eq, "_approx_distinct_estimate", lambda col: F.count_distinct(col) * 2
    )
    corrupted = eq.events_approx_distinct(spark, SF_DIR).collect()
    assert corrupted and all(not r.sketch_within_3rsd for r in corrupted), (
        "verdict stayed true under a 100%-off estimate — the 3x-rsd bound "
        "expression is tautological (vacuous certification)"
    )


def test_hll_rollup_bound_flips_on_corrupt_estimate(spark, monkeypatch):
    healthy = eq.events_hll_rollup(spark, SF_DIR).collect()
    assert healthy, "query returned no (week, type) groups — fixture problem"
    assert all(r.sketch_within_3sigma for r in healthy), (
        "healthy merged-sketch estimate outside the 3-sigma bound — either "
        "the union path broke or the bound needs the documented recalibration"
    )
    monkeypatch.setattr(
        eq,
        "_hll_union_estimate",
        lambda c: F.hll_sketch_estimate(F.hll_union_agg(c)) * 2,
    )
    corrupted = eq.events_hll_rollup(spark, SF_DIR).collect()
    assert corrupted and all(not r.sketch_within_3sigma for r in corrupted), (
        "verdict stayed true under a 2x-off merged estimate — the 3-sigma "
        "bound expression is tautological (vacuous certification)"
    )


def test_hll_rollup_memoizes_one_cached_relation(spark):
    """Round-11 verdict item 5: repeated invocations in a long-lived
    session must reuse ONE persisted distinct relation, not accumulate a
    fresh persist per call — and the storage level is pinned to the
    repo's MEMORY_AND_DISK convention."""
    eq.events_hll_rollup(spark, SF_DIR)
    du1 = eq._hll_distinct_users(spark, SF_DIR)
    eq.events_hll_rollup(spark, SF_DIR)
    du2 = eq._hll_distinct_users(spark, SF_DIR)
    assert cache_entry(spark, du1) is not None
    assert cache_entry(spark, du2) == cache_entry(spark, du1), (
        "a repeat call persisted a second relation"
    )
    sl = du1.storageLevel
    assert sl.useMemory and sl.useDisk, f"storage level {sl} not MEMORY_AND_DISK"


def test_release_caches_drops_hll_memo(spark):
    """findb_spark.session.release_caches drops the persisted relation,
    and the next call persists it afresh rather than handing out an
    uncached plan (which would silently break the one-scan contract)."""
    from findb_spark.session import release_caches

    du = eq._hll_distinct_users(spark, SF_DIR)
    assert cache_entry(spark, du) is not None
    release_caches(spark)
    assert cache_entry(spark, du) is None
    du = eq._hll_distinct_users(spark, SF_DIR)
    assert du.storageLevel.useMemory and du.storageLevel.useDisk


def test_hll_rollup_certifies_from_one_events_scan(spark):
    """Round-10 verdict item 6: the self-cert's exact branch must not
    double the input cost.  Both branches read the persisted distinct
    (user, day, type) relation, so events is scanned ONCE.
    Counted STRUCTURALLY on the cache-substituted logical plan
    (queryExecution().withCachedData().collectLeaves() — InMemoryRelation
    nodes are leaves there, so the cached relation's internal scan is not
    double-counted, and the count is materialization- and AQE-independent):
    dropping the persist turns both leaves into parquet Relations; adding
    a raw-events branch adds a Relation leaf — both fail here."""
    df = eq.events_hll_rollup(spark, SF_DIR)
    jleaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    names = [jleaves.apply(i).nodeName() for i in range(jleaves.size())]
    assert names == ["InMemoryRelation", "InMemoryRelation"], (
        f"leaves {names}: expected exactly 2 cache consumers and no "
        "standalone parquet relation — a branch is scanning events "
        "directly instead of the shared distinct relation"
    )
