"""Hand-built fixtures for the round-4 analytics queries: attribution,
retention cohorts, MAD anomaly flags, market basket.  The registered
queries run against the driver tables under the DuckDB oracle gate; these
tests pin the SEMANTICS on streams small enough to verify by hand."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

TS0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, TS0 + dt.timedelta(hours=h), u, t, float(v), "{}")
            for i, (h, u, t, v) in enumerate(rows)
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )


def _attribution(spark, ev):
    """Run the registered events_attribution logic against an in-memory
    events table by monkey-loading it through a temp view-compatible
    path: the query fn only needs load_table(...,'events')."""
    import findb_spark.queries.events_queries as eq

    orig = eq.load_table
    try:
        eq.load_table = lambda s, d, n: ev
        return eq.events_attribution(spark, "unused")
    finally:
        eq.load_table = orig


def test_attribution_models_tiny_stream(spark):
    # user 1: click(h0) -> view(h1) -> purchase(h2, $10); view(h200) with NO
    # later purchase (orphan touch, credited nowhere)
    # user 2: view(h0) -> purchase(h1, $6) -> click(h2) -> purchase(h3, $9)
    ev = _ev(
        spark,
        [
            (0, 1, "click", 0),
            (1, 1, "view", 0),
            (2, 1, "purchase", 10.0),
            (200, 1, "view", 0),
            (0, 2, "view", 0),
            (1, 2, "purchase", 6.0),
            (2, 2, "click", 0),
            (3, 2, "purchase", 9.0),
        ],
    )
    got = {
        r.channel: (r.n_touches, r.first_touch_rev, r.last_touch_rev, r.linear_rev)
        for r in _attribution(spark, ev).collect()
    }
    # user 1 purchase $10: first=click, last=view, linear 5/5
    # user 2 purchase $6: only the h0 view -> all models $6
    # user 2 purchase $9: only the h2 click -> all models $9
    assert got["click"] == (2, 19.0, 9.0, 14.0)
    assert got["view"] == (2, 6.0, 16.0, 11.0)


def test_attribution_lookback_edge_is_exclusive(spark):
    # touch exactly 168h before the purchase is OUTSIDE the window
    # (ts + 168h > p_ts is false at equality); 167h59m is inside
    ev = _ev(
        spark,
        [
            (0, 1, "click", 0),
            (168, 1, "purchase", 5.0),
            (0, 2, "click", 0),
            (167, 2, "purchase", 7.0),
        ],
    )
    got = {r.channel: r.linear_rev for r in _attribution(spark, ev).collect()}
    assert got.get("click") == 7.0


def test_retention_cohort_matrix_tiny(spark):
    import findb_spark.queries.events_queries as eq

    # users 1,2 first seen day 0 (user 2 returns day 1); user 3 first seen day 1
    ev = _ev(
        spark,
        [
            (0, 1, "view", 0),
            (1, 2, "view", 0),
            (25, 2, "view", 0),
            (30, 3, "view", 0),
        ],
    )
    orig = eq.load_table
    try:
        eq.load_table = lambda s, d, n: ev
        rows = eq.events_retention_cohorts(spark, "unused").collect()
    finally:
        eq.load_table = orig
    got = {(r.cohort_day, r.day_n): (r.n_active, r.n_cohort, r.retention_ppm) for r in rows}
    assert got[("2024-01-01", 0)] == (2, 2, 1000000)
    assert got[("2024-01-01", 1)] == (1, 2, 500000)
    assert got[("2024-01-02", 0)] == (1, 1, 1000000)
    assert len(got) == 3


def test_anomaly_mad_flags_spike_not_threshold_drag(spark):
    import findb_spark.queries.events_queries as eq

    # 9 quiet hours of 2 events + one 30-event spike: median stays 2,
    # MAD stays 0... adev>3*0 flags every deviation, so use counts 1..3
    # noise and a big spike: median ~2, mad ~1 -> only the spike flagged
    rows = []
    counts = [1, 2, 3, 2, 1, 2, 3, 2, 1, 30]
    for h, c in enumerate(counts):
        for k in range(c):
            rows.append((h, 1, "view", 0))
    ev = _ev(spark, rows)
    orig = eq.load_table
    try:
        eq.load_table = lambda s, d, n: ev
        r = eq.events_anomaly_mad(spark, "unused").collect()[0]
    finally:
        eq.load_table = orig
    assert r.n_hours == 10
    assert r.median_cnt_x2 == 4
    assert r.n_anomalies == 1
    assert r.max_abs_dev_x2 == 56


def test_market_basket_support_confidence_lift(spark):
    import findb_spark.queries.relational as rel

    # 4 orders: {A,B} x3, {A,C} x1 -> pair (A,B) support 3;
    # (A,C) support 1 -> pruned by min-support 2
    rows = []
    baskets = [(1, ["A", "B"]), (2, ["A", "B"]), (3, ["A", "B"]), (4, ["A", "C"])]
    part_ids = {"A": 101, "B": 102, "C": 103}
    ln = 0
    for ok, parts in baskets:
        for p in parts:
            ln += 1
            rows.append((ok, part_ids[p], 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", TS0))
    li = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    orig = rel.load_table
    try:
        rel.load_table = lambda s, d, n: li
        got = rel.orders_market_basket(spark, "unused").collect()
    finally:
        rel.load_table = orig
    assert len(got) == 1
    r = got[0]
    assert (r.p1, r.p2, r.support) == (101, 102, 3)
    # confidence = 3/4 (A appears in 4 orders); lift = 3*4/(4*3) = 1.0
    assert r.confidence_ppm == 750000
    assert r.lift_x10k == 10000


def test_hll_exact_registers_estimator_sanity(spark):
    """The register-exact HLL must behave like an m=64 HLL once the
    standard small-range (linear counting) correction is applied — the
    query deliberately ships the RAW estimate (ln is not bit-stable
    cross-engine) plus n_buckets_hit, so the consumer-side correction is
    applied here exactly as Flajolet 2007 prescribes: for est <= 2.5m
    with empty buckets, est = m * ln(m / V)."""
    import math

    from findb_spark.registry import all_specs

    rows = (
        all_specs()["events_hll_exact_registers"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    m = 64
    for r in rows:
        assert 0 < r.n_buckets_hit <= m
        est = r.hll_estimate
        v = m - r.n_buckets_hit
        if est <= 2.5 * m and v > 0:
            est = m * math.log(m / v)
        assert abs(est - r.exact_users) / r.exact_users < 0.4, (r, est)


# ---- round-5 session-3 corpus LM additions -------------------------------


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


def _run_corpus(spark, fn_name, docs):
    import findb_spark.queries.corpus_queries as cq

    orig = cq.load_table
    try:
        cq.load_table = lambda s, d, n: docs
        return getattr(cq, fn_name)(spark, "unused")
    finally:
        cq.load_table = orig


def test_kneser_ney_hand_example(spark):
    """Corpus 'x y x z': P_KN(y|x) = max(1-.75,0)/2 + .75*(2/2)*(1/3) = .375,
    P_KN(x|y) = .25 + .75*(1/3) = .5 (interpolated KN, D=0.75)."""
    out = _run_corpus(spark, "text_kneser_ney_bigram", _docs(spark, ["x y x z"]))
    got = {(r.w1, r.w2): (r.c12, r.p_kn_p8, r.p_mle_p8) for r in out.collect()}
    assert got[("x", "y")] == (1, 37500000, 50000000)
    assert got[("y", "x")] == (1, 50000000, 100000000)
    assert got[("x", "z")] == (1, 37500000, 50000000)


def test_rake_hand_example(spark):
    """'the fast join a fast join the sort' -> phrases {fast join}x2,
    {sort}: score(fast)=deg/freq+1=2, score(join)=2, phrase 'fast join'=4;
    score(sort)=1."""
    out = _run_corpus(
        spark, "text_rake_keywords", _docs(spark, ["the fast join a fast join the sort"])
    )
    got = {r.phrase: (r.score, r.occurrences) for r in out.collect()}
    assert got["fast join"] == (4.0, 2)
    assert got["sort"] == (1.0, 1)


def test_rake_phrases_never_contain_stopwords(spark, sf_dir):
    import findb_spark.queries.corpus_queries as cq

    out = cq.text_rake_keywords(spark, sf_dir).collect()
    assert out, "expected phrases on the real corpus"
    for r in out:
        assert "the" not in r.phrase.split()
        assert "a" not in r.phrase.split()


# ---- rank statistics (Kendall / Spearman / Theil-Sen) --------------------


def _patch_daily(monkeypatch, spark, rows):
    """rows: (asset_id, yyyymmdd, value). Replaces the shared daily series."""
    import findb_spark.queries.timeseries as tsm

    df = spark.createDataFrame(rows, "asset_id bigint, date int, value double")
    monkeypatch.setattr(tsm, "_daily", lambda s, d: df)


def _tau_b(xs, ys):
    c = d = tx = ty = n0 = 0
    n = len(xs)
    for i in range(n):
        for j in range(i + 1, n):
            dx, dy = xs[j] - xs[i], ys[j] - ys[i]
            n0 += 1
            if dx * dy > 0:
                c += 1
            elif dx * dy < 0:
                d += 1
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
    return (c - d) / (((n0 - tx) ** 0.5) * ((n0 - ty) ** 0.5))


def _spearman(xs, ys):
    def avg_ranks(v):
        s = sorted(range(len(v)), key=lambda i: v[i])
        r = [0.0] * len(v)
        i = 0
        while i < len(v):
            j = i
            while j + 1 < len(v) and v[s[j + 1]] == v[s[i]]:
                j += 1
            for k in range(i, j + 1):
                r[s[k]] = (i + j) / 2 + 1
            i = j + 1
        return r

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = (
        sum((a - mx) ** 2 for a in rx) ** 0.5 * sum((b - my) ** 2 for b in ry) ** 0.5
    )
    return num / den


def test_rank_stats_match_python_model(monkeypatch, spark):
    import findb_spark.queries.stats_queries as sq

    # two assets, 8 months (one row per month), deliberate ties in both
    months = [20240105, 20240210, 20240311, 20240405, 20240510,
              20240610, 20240712, 20240808]
    xs = [10.0, 12.0, 12.0, 11.0, 15.0, 14.0, 18.0, 17.0]
    ys = [30.0, 29.0, 31.0, 31.0, 33.0, 36.0, 35.0, 40.0]
    rows = [(1, d, x) for d, x in zip(months, xs)] + [
        (2, d, y) for d, y in zip(months, ys)
    ]
    _patch_daily(monkeypatch, spark, rows)

    got_tau = sq.stats_kendall_tau(spark, "unused").collect()
    assert len(got_tau) == 1
    assert got_tau[0].tau_b_p8 == math.floor(_tau_b(xs, ys) * 1e8 + 0.5)

    got_rho = sq.stats_spearman(spark, "unused").collect()
    assert len(got_rho) == 1
    assert got_rho[0].rho_p8 == math.floor(_spearman(xs, ys) * 1e8 + 0.5)

    # Theil-Sen per asset: median pairwise slope in cents/month-index
    def ts_slope(v):
        sl = sorted(
            (v[j] - v[i]) * 100 / (j - i)
            for i in range(len(v))
            for j in range(i + 1, len(v))
        )
        n = len(sl)
        mid = (
            sl[(n - 1) // 2] if n % 2 else (sl[n // 2 - 1] + sl[n // 2]) / 2
        )
        return math.floor(mid * 1e6 + 0.5)

    got_ts = {r.asset_id: r for r in sq.stats_theil_sen(spark, "unused").collect()}
    assert got_ts[1].ts_slope_cents_ppm == ts_slope(xs)
    assert got_ts[2].ts_slope_cents_ppm == ts_slope(ys)
    assert got_ts[1].n_pairs == 28


def test_rank_stats_degenerate_series_yield_null(monkeypatch, spark):
    """An all-constant series degenerates both rank correlations (tau-b's
    tie correction empties the denominator, Spearman's rank variance is
    zero).  Both must emit NULL — not NaN/Inf, which DuckDB rejects at
    the BIGINT cast while Spark silently wraps (the cross-engine trap the
    guards exist for)."""
    import findb_spark.queries.stats_queries as sq

    months = [20240105, 20240210, 20240311, 20240405]
    xs = [10.0, 10.0, 10.0, 10.0]  # constant -> degenerate
    ys = [30.0, 29.0, 31.0, 33.0]
    rows = [(1, d, x) for d, x in zip(months, xs)] + [
        (2, d, y) for d, y in zip(months, ys)
    ]
    _patch_daily(monkeypatch, spark, rows)

    got_tau = sq.stats_kendall_tau(spark, "unused").collect()
    assert len(got_tau) == 1 and got_tau[0].tau_b_p8 is None

    got_rho = sq.stats_spearman(spark, "unused").collect()
    assert len(got_rho) == 1 and got_rho[0].rho_p8 is None


def test_markov_stationary_fixed_point_of_known_chain(spark):
    """Two-state chain a->b always, b->a always: stationary = (.5, .5).
    Three-state with self-loops verified against the float fixed point."""
    import datetime as dt

    import findb_spark.queries.events_queries as eq

    # user 1 alternates a,b,a,b,... -> P(a->b)=P(b->a)=1
    rows = []
    for i in range(21):
        rows.append((i, TS0 + dt.timedelta(minutes=i), 1,
                     "a" if i % 2 == 0 else "b", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    orig = eq.load_table
    try:
        eq.load_table = lambda s, d, n: ev
        got = {r.event_type: r.pi_share_p8 for r in
               eq.events_markov_stationary(spark, "unused").collect()}
    finally:
        eq.load_table = orig
    assert got == {"a": 50000000, "b": 50000000}


def test_abc_xyz_classification_hand_grid(spark):
    """Three parts: one dominant-revenue steady seller (A/X), one mid
    erratic (B or C / Y or Z), one tail (C). Pin the exact grid."""
    import datetime as dt

    import findb_spark.queries.stats_queries as sq

    rows = []
    # part 1: 70 revenue units over 3 months, steady qty 10/10/10 -> A, X
    for m, (q, p) in enumerate([(10, 2400.0), (10, 2300.0), (10, 2300.0)]):
        rows.append((1, q, p, dt.datetime(2024, 1 + m, 15)))
    # part 2: erratic demand 1/10 -> CV = sqrt(2*101-121)/11 = 0.82 -> Y
    for m, (q, p) in enumerate([(1, 1500.0), (10, 500.0)]):
        rows.append((2, q, p, dt.datetime(2024, 1 + m, 15)))
    # part 3: tiny tail revenue, single month -> C, X (CV=0)
    rows.append((3, 5, 100.0, dt.datetime(2024, 2, 15)))
    li = spark.createDataFrame(
        [(i, p, 1, 1, float(q), price, 0.0, 0.0, "N", "O", d)
         for i, (p, q, price, d) in enumerate(rows)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    orig = sq.load_table
    try:
        sq.load_table = lambda s, d, n: li
        got = {
            (r.abc_class, r.xyz_class): (r.n_parts, r.rev_cents)
            for r in sq.orders_abc_xyz(spark, "unused").collect()
        }
    finally:
        sq.load_table = orig
    # totals: p1=7000_00, p2=2000_00, p3=100_00 cents; total=9100_00
    # cumshare p1 = 7000/9100 = .769 > .7 -> B?  cum*10 <= tot*7 ->
    # 70000*10 <= 91000*7=637000 -> 700000 > 637000 -> B. p2 cum 9000/9100
    # -> 90000*10=900000 <= 91000*9=819000? no -> C. p3 -> C.
    assert got == {("B", "X"): (1, 700000), ("C", "Y"): (1, 200000),
                   ("C", "X"): (1, 10000)}


def test_session_paths_buffer_is_conditional_expression_pin(spark):
    """Round-13 verdict item 5, structural pin: events_session_paths must
    collect CONDITIONALLY (collect_list over `CASE WHEN rn <= 3`), never
    collect-then-filter — the old form gathered EVERY event of a session
    into one aggregation buffer before slicing to 3, an executor OOM for
    a degenerate gap-free bot stream (1e8 events, one session).  The
    conditional holds <= 3 structs per key at every aggregation stage."""
    import findb_spark.queries.events_queries as eq

    plan = (
        eq.events_session_paths(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    import re

    assert re.search(
        r"collect_list\(CASE WHEN \(rn#\d+ <= 3\) THEN", plan
    ), "conditional collect missing — buffer is unbounded again"


def test_session_paths_gap_free_bot_stream(spark):
    """Synthetic gap-free bot stream (one user, 50k events, 1 s apart —
    every gap far under the 30 min rule, so ONE session): the bounded
    buffer must produce exactly the first-3 path with one session and
    whole-session conversion (the purchase sits at position 40000, far
    past the path slice, and must still count)."""
    import findb_spark.queries.events_queries as eq

    n = 50_000
    base = 1_577_836_800  # 2020-01-01T00:00:00Z
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(base) + F.col("id")).alias("ts"),
        F.lit(7).cast("long").alias("user_id"),
        F.when(F.col("id") == 40_000, "purchase")
        .otherwise(
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("add")),
                (F.col("id") % 3 + 1).cast("int"),
            )
        )
        .alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    orig = eq.load_table
    try:
        eq.load_table = lambda s, d, t: ev
        got = eq.events_session_paths(spark, "unused").collect()
    finally:
        eq.load_table = orig
    assert len(got) == 1
    r = got[0]
    assert r.path == "view>click>add"  # ids 0,1,2 -> elements 1,2,3
    assert r.n_sessions == 1 and r.n_converted == 1
    assert r.conv_rate_ppm == 1_000_000


def test_release_caches_clears_all_registered_memos(spark):
    """Round-13 verdict item 7: release_caches must drop EVERY relation
    an operator persisted, whichever module persisted it, so a new
    persist site gets the between-sweeps release for free."""
    import findb_spark.queries.events_analytics as ea
    import findb_spark.queries.events_queries as eq
    from findb_spark.queries.timeseries import _daily
    from findb_spark.session import release_caches
    from tests.conftest import SF_DIR, cache_entry

    rels = [
        ea._active_days(spark, SF_DIR),
        eq._hll_distinct_users(spark, SF_DIR),
        _daily(spark, SF_DIR),
    ]
    assert all(cache_entry(spark, r) is not None for r in rels)
    release_caches(spark)
    assert all(cache_entry(spark, r) is None for r in rels)


def test_memo_eviction_is_bounded(spark, tmp_path):
    """The shared memo honors its capacity: filling past it evicts the
    oldest entry, and a hit returns the stored value without a rebuild."""
    from findb_spark.session import Memo

    src = tmp_path / "src.parquet"
    src.write_bytes(b"")
    memo = Memo(capacity=2)
    built = []

    def build(i):
        built.append(i)
        return i

    for i in range(3):
        assert memo.get_or_build(spark, str(src), lambda i=i: build(i), i) == i
    assert len(memo) == 2
    assert memo.key(spark, str(src), 0) not in memo
    assert memo.get_or_build(spark, str(src), lambda: build(-1), 2) == 2
    assert built == [0, 1, 2]
