"""Property-based as-of semantics tests (SURVEY §5.2): Hypothesis-generated
revision histories checked against a 10-line pandas reference model —
mirrors the reference's exhaustive-invariant style (mem.rs:718-726)."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from findb_spark.asof import asof_range

ROWS = st.lists(
    st.tuples(
        st.integers(0, 2),  # asset_id
        st.sampled_from([20200101, 20200102, 20200215, 20200301]),  # date
        st.integers(0, 30),  # ts
        st.integers(1, 1000),  # value (int-valued doubles: no float ambiguity)
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda r: (r[0], r[1], r[2]),
)

QUERY = st.tuples(
    st.integers(0, 2),
    st.sampled_from([20200101, 20200102, 20200215, 20200301]),
    st.sampled_from([20200102, 20200215, 20200301]),
    st.integers(0, 30),
)


def pandas_asof(rows, asset, start, end, asof_ts):
    df = pd.DataFrame(rows, columns=["asset_id", "date", "ts", "value"])
    f = df[(df.asset_id == asset) & df.date.between(start, end) & (df.ts <= asof_ts)]
    if f.empty:
        return []
    pick = f.sort_values(["date", "ts", "value"]).groupby("date").last()
    return [(int(d), float(r.value)) for d, r in pick.sort_index(ascending=False).iterrows()]


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
@given(rows=ROWS, query=QUERY)
def test_asof_matches_pandas_model(spark, tmp_path, rows, query):
    """Both paths of `asof_range` against the model: the driver path over
    the rows written as parquet (small row groups, so statistics prune),
    and the Spark plan over the same rows as an RDD-backed relation."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from findb_spark.asof import _driver_scan

    asset, start, end, asof_ts = query
    schema = "asset_id BIGINT, date INT, ts BIGINT, value DOUBLE"
    want = pandas_asof(rows, asset, start, end, asof_ts)
    path = str(tmp_path / uuid.uuid4().hex)
    table = pa.table(
        [pa.array(c, t) for c, t in zip(zip(*rows), (pa.int64(), pa.int32(), pa.int64(), pa.float64()))],
        names=["asset_id", "date", "ts", "value"],
    )
    pq.write_table(table, path + ".parquet", row_group_size=4)
    on_disk = spark.read.schema(schema).parquet(path + ".parquet")
    assert _driver_scan(on_disk, asset, start, end, asof_ts) is not None
    prices = spark.createDataFrame([(a, d, t, float(v)) for a, d, t, v in rows], schema=schema)
    for df in (on_disk, prices):
        got = [(r.date, r.value) for r in asof_range(df, asset, start, end, asof_ts).collect()]
        assert got == want


RIGHT_ROWS = st.lists(
    st.tuples(
        st.integers(0, 2),  # key
        st.integers(0, 50),  # ts
        st.integers(1, 1000),  # value
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda r: (r[0], r[1]),
)

PROBES = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 55)),  # key, qts
    min_size=1,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),
)


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
@given(rows=RIGHT_ROWS, probes=PROBES)
def test_asof_join_matches_pandas_merge_asof(spark, rows, probes):
    """Generic as-of join vs pandas.merge_asof (backward, exact matches
    allowed) — an independent reference implementation of the same
    semantics."""
    from findb_spark.asof import asof_join

    right = spark.createDataFrame(
        [(k, t, float(v)) for k, t, v in rows],
        schema="asset_id BIGINT, ts BIGINT, value DOUBLE",
    )
    left = spark.createDataFrame(probes, schema="asset_id BIGINT, qts BIGINT")
    got = {
        (r.asset_id, r.qts): (r.matched_ts, r.matched_value)
        for r in asof_join(left, right).collect()
    }

    rdf = pd.DataFrame(rows, columns=["asset_id", "ts", "value"]).sort_values("ts")
    ldf = pd.DataFrame(probes, columns=["asset_id", "qts"]).sort_values("qts")
    m = pd.merge_asof(
        ldf, rdf, left_on="qts", right_on="ts", by="asset_id", direction="backward"
    )
    want = {
        (int(r.asset_id), int(r.qts)): (
            None if pd.isna(r.ts) else int(r.ts),
            None if pd.isna(r.value) else float(r.value),
        )
        for r in m.itertuples()
    }
    assert got == want


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
@given(rows=RIGHT_ROWS, probes=PROBES)
def test_asof_join_forward_matches_pandas(spark, rows, probes):
    from findb_spark.asof import asof_join

    right = spark.createDataFrame(
        [(k, t, float(v)) for k, t, v in rows],
        schema="asset_id BIGINT, ts BIGINT, value DOUBLE",
    )
    left = spark.createDataFrame(probes, schema="asset_id BIGINT, qts BIGINT")
    got = {
        (r.asset_id, r.qts): (r.matched_ts, r.matched_value)
        for r in asof_join(left, right, direction="forward").collect()
    }
    rdf = pd.DataFrame(rows, columns=["asset_id", "ts", "value"]).sort_values("ts")
    ldf = pd.DataFrame(probes, columns=["asset_id", "qts"]).sort_values("qts")
    m = pd.merge_asof(
        ldf, rdf, left_on="qts", right_on="ts", by="asset_id", direction="forward"
    )
    want = {
        (int(r.asset_id), int(r.qts)): (
            None if pd.isna(r.ts) else int(r.ts),
            None if pd.isna(r.value) else float(r.value),
        )
        for r in m.itertuples()
    }
    assert got == want


def nearest_model(rows, probes, tol=None):
    """``{(asset_id, qts): (matched_ts, matched_value, matched_direction)}``
    of a nearest as-of join, built from two merge_asof passes with the
    engine's tie rule spelled out (backward wins exact-distance ties) —
    independent of pandas' own nearest tie convention.  A match farther
    than ``tol`` from the probe time is discarded."""
    rdf = pd.DataFrame(rows, columns=["asset_id", "ts", "value"]).sort_values("ts")
    ldf = pd.DataFrame(probes, columns=["asset_id", "qts"]).sort_values("qts")
    back = pd.merge_asof(
        ldf, rdf, left_on="qts", right_on="ts", by="asset_id", direction="backward"
    )
    fwd = pd.merge_asof(
        ldf, rdf, left_on="qts", right_on="ts", by="asset_id", direction="forward"
    )
    want = {}
    for b, f in zip(back.itertuples(), fwd.itertuples()):
        key = (int(b.asset_id), int(b.qts))
        bt = None if pd.isna(b.ts) else int(b.ts)
        ft = None if pd.isna(f.ts) else int(f.ts)
        if bt is None and ft is None:
            want[key] = (None, None, None)
        elif bt is not None and (ft is None or (b.qts - bt) <= (ft - b.qts)):
            want[key] = (bt, float(b.value), "backward")
        else:
            want[key] = (ft, float(f.value), "forward")
        if tol is not None and want[key][0] is not None and abs(b.qts - want[key][0]) > tol:
            want[key] = (None, None, None)
    return want


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
@given(rows=RIGHT_ROWS, probes=PROBES, tol=st.integers(0, 10))
def test_asof_join_tolerance_matches_pandas(spark, rows, probes, tol):
    """tolerance=t must equal pandas merge_asof(tolerance=t): matches
    farther than t from the probe time are discarded (nulls).  The
    nearest direction is checked against the two-pass model with the
    same discard rule."""
    from findb_spark.asof import asof_join

    right = spark.createDataFrame(
        [(k, t, float(v)) for k, t, v in rows],
        schema="asset_id BIGINT, ts BIGINT, value DOUBLE",
    )
    left = spark.createDataFrame(probes, schema="asset_id BIGINT, qts BIGINT")
    got = {
        (r.asset_id, r.qts): (r.matched_ts, r.matched_value)
        for r in asof_join(left, right, tolerance=tol).collect()
    }
    rdf = pd.DataFrame(rows, columns=["asset_id", "ts", "value"]).sort_values("ts")
    ldf = pd.DataFrame(probes, columns=["asset_id", "qts"]).sort_values("qts")
    m = pd.merge_asof(
        ldf, rdf, left_on="qts", right_on="ts", by="asset_id",
        direction="backward", tolerance=tol,
    )
    want = {
        (int(r.asset_id), int(r.qts)): (
            None if pd.isna(r.ts) else int(r.ts),
            None if pd.isna(r.value) else float(r.value),
        )
        for r in m.itertuples()
    }
    assert got == want
    got = {
        (r.asset_id, r.qts): (r.matched_ts, r.matched_value, r.matched_direction)
        for r in asof_join(left, right, direction="nearest", tolerance=tol).collect()
    }
    assert got == nearest_model(rows, probes, tol)


def test_asof_join_null_values_not_torn(spark):
    """All matched_* columns must come from the SAME right row even when a
    value column holds NULLs (no per-column last-non-null stitching)."""
    from findb_spark.asof import asof_join

    right = spark.createDataFrame(
        [(1, 100, 7.0), (1, 200, None)], "asset_id BIGINT, ts BIGINT, value DOUBLE"
    )
    left = spark.createDataFrame([(1, 250)], "asset_id BIGINT, qts BIGINT")
    r = asof_join(left, right).collect()[0]
    assert (r.matched_ts, r.matched_value) == (200, None)
    # with a tolerance that only the newest row satisfies, the stale
    # non-null value must NOT slip through attached to the newest ts
    r2 = asof_join(left, right, tolerance=60).collect()[0]
    assert (r2.matched_ts, r2.matched_value) == (200, None)



def test_asof_join_null_times_never_match(spark):
    """NULL times are no positions: a right row with a NULL time never
    matches, not even as the backward match of a probe before the key's
    first timed row, and a NULL-time probe gets all-NULL matched columns
    in every direction."""
    from findb_spark.asof import asof_join

    right = spark.createDataFrame(
        [(1, None, 9.0), (1, 10, 1.0), (1, 20, 2.0)],
        "asset_id BIGINT, ts BIGINT, value DOUBLE",
    )
    left = spark.createDataFrame(
        [(1, 5), (1, None), (1, 15)], "asset_id BIGINT, qts BIGINT"
    )

    def run(direction):
        return {
            r.qts: tuple(r[c] for c in r.__fields__ if c.startswith("matched_"))
            for r in asof_join(left, right, direction=direction).collect()
        }

    assert run("backward") == {5: (None, None), None: (None, None), 15: (10, 1.0)}
    assert run("forward") == {5: (10, 1.0), None: (None, None), 15: (20, 2.0)}
    assert run("nearest") == {
        5: (10, 1.0, "forward"),
        None: (None, None, None),
        15: (10, 1.0, "backward"),
    }

# --- sessionization property (the gap-boundary class, pinned broadly) ---

EVENTS = st.lists(
    st.tuples(
        st.integers(0, 2),  # user_id
        # micros offsets chosen so exact-gap (1800s) spacings ARE generated
        st.sampled_from(
            [0, 1, 500_000, 1_799_999_999, 1_800_000_000, 1_800_000_001,
             3_600_000_000, 3_600_000_001, 5_400_000_000, 7_200_000_000]
        ),
    ),
    min_size=1,
    max_size=20,
)


def python_sessionize(events, gap_us=1_800_000_000):
    """Pure-Python reference: per user, sort by (tus, event_id); a new
    session starts when the gap STRICTLY exceeds gap_us (Spark's
    session_window merges touching [ts, ts+gap) windows)."""
    by_user: dict[int, list[tuple[int, int]]] = {}
    for eid, (uid, tus) in enumerate(events):
        by_user.setdefault(uid, []).append((tus, eid))
    out = set()
    for uid, rows in by_user.items():
        rows.sort()
        sessions: list[list[int]] = []
        prev = None
        for tus, _eid in rows:
            if prev is None or tus - prev > gap_us:
                sessions.append([])
            sessions[-1].append(tus)
            prev = tus
        for s in sessions:
            out.add((uid, min(s), max(s), len(s)))
    return out


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(EVENTS)
def test_sessionize_matches_python_reference(spark, events):
    from pyspark.sql import functions as F

    from findb_spark.ops.events import sessionize

    base = 1_700_000_000_000_000
    rows = [
        (eid, uid, "view", base + tus, 1.0, "{}")
        for eid, (uid, tus) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT, event_type STRING, "
        "tus BIGINT, value DOUBLE, props STRING"
    ).select(
        "event_id", "user_id", "event_type",
        F.timestamp_micros("tus").alias("ts"), "value", "props",
    )
    got = {
        (r.user_id, r.session_start_us - base, r.session_end_us - base, r.n_events)
        for r in sessionize(df).collect()
    }
    assert got == python_sessionize(events)


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
@given(rows=RIGHT_ROWS, probes=PROBES)
def test_asof_join_nearest_matches_pandas(spark, rows, probes):
    """Nearest-direction as-of join vs an independent pandas model built
    from two merge_asof passes with the engine's tie rule spelled out
    (backward wins exact-distance ties) — independent of pandas' own
    nearest tie convention."""
    from findb_spark.asof import asof_join

    right = spark.createDataFrame(
        [(k, t, float(v)) for k, t, v in rows],
        schema="asset_id BIGINT, ts BIGINT, value DOUBLE",
    )
    left = spark.createDataFrame(probes, schema="asset_id BIGINT, qts BIGINT")
    got = {
        (r.asset_id, r.qts): (r.matched_ts, r.matched_value, r.matched_direction)
        for r in asof_join(left, right, direction="nearest").collect()
    }
    assert got == nearest_model(rows, probes)


def test_asof_join_nearest_duplicate_and_null_probes(spark):
    """Duplicate left rows must each yield exactly ONE output row, and a
    NULL in a non-key left column must not drop its probe.  Both were
    failure modes of rejected designs (an all-left-columns rejoin
    cross-products duplicate probes and is not null-safe) — the shipped
    one-pass union+window formulation carries every left column through
    the window, so there is no rejoin to get wrong; this test pins the
    behavior regardless of implementation."""
    from findb_spark.asof import asof_join

    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0)],
        schema="asset_id BIGINT, ts BIGINT, value DOUBLE",
    )
    left = spark.createDataFrame(
        [(1, 12, "x"), (1, 12, "x"), (1, 19, None)],
        schema="asset_id BIGINT, qts BIGINT, tag STRING",
    )
    out = asof_join(left, right, direction="nearest").collect()
    assert len(out) == 3
    dups = [r for r in out if r.qts == 12]
    assert len(dups) == 2
    for r in dups:
        assert (r.matched_ts, r.matched_value, r.matched_direction) == (
            10,
            1.0,
            "backward",
        )
    (null_tag,) = [r for r in out if r.qts == 19]
    assert null_tag.tag is None
    assert (null_tag.matched_ts, null_tag.matched_value) == (20, 2.0)
    assert null_tag.matched_direction == "forward"


def test_asof_join_nearest_duplicate_right_rows_tie_to_max_both_sides(spark):
    """Duplicate right rows sharing (on, right_time) must resolve to the
    MAX value-struct in BOTH directions — the same rule asof_join applies
    (last() over an ascending sort).  Before round 7 the forward frame
    ordered _vs ascending, so first() silently picked the MIN — a
    semantics drift between 'nearest' and direction='forward'."""
    from findb_spark.asof import asof_join

    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 10, 5.0), (1, 30, 2.0), (1, 30, 7.0)],
        schema="asset_id BIGINT, ts BIGINT, value DOUBLE",
    )
    left = spark.createDataFrame(
        [(1, 12), (1, 29)], schema="asset_id BIGINT, qts BIGINT"
    )
    got = {
        r.qts: (r.matched_ts, r.matched_value, r.matched_direction)
        for r in asof_join(left, right, direction="nearest").collect()
    }
    # backward match at ts=10: max struct -> value 5.0
    assert got[12] == (10, 5.0, "backward")
    # forward match at ts=30: max struct -> value 7.0 (was 2.0 pre-fix)
    assert got[29] == (30, 7.0, "forward")
