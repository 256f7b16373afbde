"""Every registered query with an oracle must hash-match DuckDB at sf0.001
— the in-suite replica of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from findb_spark.oracle import compare_query, duck_connection, lint_oracle_types
from findb_spark.registry import all_specs


def _specs():
    return sorted(all_specs().values(), key=lambda s: s.name)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


def test_no_hugeint_oracle_columns(con):
    """DuckDB types SUM(<integer>) as HUGEINT; the driver canonicalizer
    renders int128 differently from Spark's BIGINT, so such oracles
    hash-FAIL at the driver while passing locally (red rows in rounds 1
    and 2).  Lint every oracle's DESCRIBE output so the class stays dead."""
    sqls = {s.name: s.sql for s in _specs() if s.sql is not None}
    problems = lint_oracle_types(con, sqls)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("spec", _specs(), ids=lambda s: s.name)
def test_oracle_parity(spark, con, sf_dir, spec):
    if spec.sql is None:
        # rows-only check (non-SQL-expressible op)
        spec.fn(spark, sf_dir).count()
        return
    problems = compare_query(spark, con, spec.fn, spec.sql, sf_dir, name=spec.name)
    assert not problems, f"{spec.name}: {problems}"


def test_driver_prefix_order_is_frozen():
    """The external driver checks a bounded prefix of ``queries()``.
    all_specs() skips unregistered ``_CHECK_FIRST`` names, so a rename
    would shift that prefix silently; pin the prefix and its names."""
    import __spark_entry__
    from findb_spark.registry import _CHECK_FIRST, _SPECS

    assert set(_CHECK_FIRST) <= set(_SPECS), set(_CHECK_FIRST) - set(_SPECS)
    assert list(__spark_entry__.queries())[: len(_CHECK_FIRST)] == list(_CHECK_FIRST)


def test_empty_result_fails_gate_unless_flagged(spark):
    """Round-8 found 8 queries whose driver rows certified EMPTY results
    (one predicate structurally dead for 8 rounds).  The gate must fail
    an empty-vs-empty match at the gate SF unless the query is flagged
    with the smallest SF at which rows are expected."""
    import duckdb

    from findb_spark import oracle

    con = duckdb.connect()
    fn = lambda sp, _d: sp.range(1).where("id < 0").selectExpr("id AS x")  # noqa: E731
    sql = "SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0"
    # unflagged: empty-vs-empty is a problem at any parseable SF
    probs = compare_query(spark, con, fn, sql, "/any/sf0.01", name="q_test")
    assert probs and "EMPTY" in probs[0]
    # flagged empty below sf0.01: passes at sf0.001, fails at sf0.01
    oracle.EMPTY_OK_BELOW_SF["q_test"] = 0.01
    try:
        assert compare_query(spark, con, fn, sql, "/any/sf0.001", name="q_test") == []
        probs = compare_query(spark, con, fn, sql, "/any/sf0.01", name="q_test")
        assert probs and "EMPTY" in probs[0]
    finally:
        del oracle.EMPTY_OK_BELOW_SF["q_test"]
    # synthetic fixture dirs (no sfN.NN suffix) skip the check
    assert compare_query(spark, con, fn, sql, "/tmp/fixture", name="q_test") == []
    con.close()


def test_empty_ok_flags_name_registered_queries():
    """A stale EMPTY_OK_BELOW_SF entry (query renamed/removed) would
    silently re-open the vacuous-certification hole for a name that can
    never be checked — every flag must point at a live registered query."""
    from findb_spark.oracle import EMPTY_OK_BELOW_SF
    from findb_spark.registry import all_specs

    registered = set(all_specs())
    stale = sorted(set(EMPTY_OK_BELOW_SF) - registered)
    assert not stale, f"EMPTY_OK_BELOW_SF names unregistered queries: {stale}"


def test_sf_of_parses_testdata_dirs():
    from findb_spark.oracle import _sf_of

    assert _sf_of("/root/testdata/sf0.01") == 0.01
    assert _sf_of("/root/testdata/sf0.001/") == 0.001
    assert _sf_of("/root/testdata/sf1") == 1.0
    assert _sf_of("/tmp/scratch") is None


def test_tolerant_compare_no_rounding_boundary_flake():
    """The SIX_DP fallback used to canonicalize via round(v, 6), whose
    banker's rounding maps two values 1 ulp apart on either side of an
    x.xxxxxx5 boundary to DIFFERENT 6dp values — flaking on exactly the
    drift the relaxed gate exists to tolerate.  The pairwise tolerant
    compare must accept such pairs and still reject real divergence."""
    from findb_spark.oracle import compare_rows_tolerant

    cols = ["asset_id", "ts", "ema"]
    boundary = 2.0000005  # sits on a 6dp half; round() would split ulps
    up = boundary + 5e-16
    down = boundary - 5e-16
    assert round(up, 6) != round(down, 6)  # the old canonicalizer split
    s_rows = [[1, 10, up], [1, 20, 3.5]]
    o_rows = [[1, 10, down], [1, 20, 3.5]]
    assert compare_rows_tolerant(cols, s_rows, o_rows) == []
    # real divergence (> 1e-6) must still be caught
    bad = [[1, 10, up + 1e-5], [1, 20, 3.5]]
    assert compare_rows_tolerant(cols, bad, o_rows) != []
    # non-float mismatches are exact
    key = [[2, 10, up], [1, 20, 3.5]]
    assert compare_rows_tolerant(cols, key, o_rows) != []


def test_minhash_pairs_relation_is_persisted(spark):
    """The verified pair set is the dedup suite's shared build artifact:
    minhash_lsh_pairs must mark it for caching so Spark's cache manager
    (which matches canonicalized plans across calls) serves clustering /
    triangles / neighbor stats from one materialization."""
    from pyspark.storagelevel import StorageLevel

    from findb_spark.ops.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, "a", "the quick brown fox jumps over the dog"),
         (2, "a", "the quick brown fox jumps over the cat")],
        "doc_id bigint, source string, text string",
    )
    pairs = minhash_lsh_pairs(docs)
    assert pairs.storageLevel != StorageLevel.NONE


def test_tolerant_compare_respects_each_sides_column_order():
    """The engines only guarantee the same column NAME SET, not the same
    SELECT-list order: oracle rows must be read at ORACLE positions.
    (First version of the tolerant path indexed both sides with Spark
    positions — latent cross-column comparison.)"""
    from findb_spark.oracle import compare_rows_tolerant

    s_cols = ["asset_id", "ema", "value"]
    o_cols = ["asset_id", "value", "ema"]
    s_rows = [[1, 2.5, 9.0]]
    o_rows = [[1, 9.0, 2.5]]
    assert compare_rows_tolerant(s_cols, s_rows, o_rows, o_cols=o_cols) == []
    # and a genuine mismatch under reordering is still caught
    o_bad = [[1, 9.0, 2.6]]
    assert compare_rows_tolerant(s_cols, s_rows, o_bad, o_cols=o_cols) != []
    # int-vs-float numeric affinity is not a drift
    assert compare_rows_tolerant(["a", "b"], [[1, 2.0]], [[1, 2]]) == []


def test_tolerant_compare_key_alignment_is_type_blind():
    """A key column that types BIGINT on one engine and DOUBLE on the
    other must still align rows: key participation is decided JOINTLY
    (integral on both sides) and rendered via str(int(v)), never by a
    per-value isinstance(float) test that would sort the two sides
    differently."""
    from findb_spark.oracle import compare_rows_tolerant

    cols = ["k", "x"]
    s_rows = [[1, 1.5], [2, 2.5]]          # int keys
    o_rows = [[2.0, 2.5], [1.0, 1.5]]      # same keys as doubles, shuffled
    assert compare_rows_tolerant(cols, s_rows, o_rows) == []
    # and a genuine per-key mismatch is still caught
    o_bad = [[2.0, 1.5], [1.0, 2.5]]
    assert compare_rows_tolerant(cols, s_rows, o_bad) != []
    # a non-integral (payload) column stays OUT of the key on both sides
    assert compare_rows_tolerant(cols, [[1, 0.1], [2, 0.2]],
                                 [[2, 0.2], [1, 0.1]]) == []


def test_empty_ok_below_sf_entries_are_honest():
    """Round-9 verdict item 5: nothing pinned that an EMPTY_OK_BELOW_SF
    entry lists the TRUE smallest non-empty SF — a stale entry would
    quietly re-weaken the gate for that query.  For every whitelisted
    query, run its ORACLE (driver-certified equal to the Spark side) at
    each locally available SF and assert: empty strictly below the listed
    SF, non-empty at and above it.  DuckDB-only, so the pin costs no
    Spark time."""
    import os
    import re

    from findb_spark.oracle import EMPTY_OK_BELOW_SF, duck_connection

    specs = all_specs()
    # strict sfN[.N] names only: a non-conforming sibling (sf0.1_backup,
    # sf_scratch) must be skipped, not crash the parse (round-10 advisor)
    local_sfs = [
        (float(d[2:]), os.path.join("/root/testdata", d))
        for d in sorted(os.listdir("/root/testdata"))
        if re.fullmatch(r"sf\d+(\.\d+)?", d)
    ]
    assert local_sfs, "no local testdata scale factors found"
    for name, listed_sf in EMPTY_OK_BELOW_SF.items():
        assert name in specs and specs[name].sql is not None, (
            f"{name}: whitelisted but not a registered oracle-backed query"
        )
        assert any(sf >= listed_sf for sf, _ in local_sfs), (
            f"{name}: listed SF {listed_sf} not locally checkable"
        )
        for sf, sf_dir in local_sfs:
            con = duck_connection(sf_dir)
            try:
                nrows = len(con.execute(specs[name].sql).fetchall())
            finally:
                con.close()
            if sf < listed_sf:
                assert nrows == 0, (
                    f"{name}: {nrows} rows at sf{sf} < listed {listed_sf} — "
                    "stale whitelist entry (lower the listed SF)"
                )
            else:
                assert nrows > 0, (
                    f"{name}: EMPTY at sf{sf} >= listed {listed_sf} — "
                    "the whitelist no longer reflects reality"
                )
