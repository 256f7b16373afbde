"""Seeded input generator for the benchmark.

Everything here runs without the engine: numpy draws the rows, pyarrow
writes the parquet the engine is handed, and DuckDB computes the expected
answers from the same files.  The same seed always gives byte-identical
inputs.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRICE_SCHEMA = pa.schema(
    [
        ("asset_id", pa.int64()),
        ("date", pa.int32()),
        ("ts", pa.int64()),
        ("value", pa.float64()),
    ]
)
#: bytes of one logical price row: int64 + int32 + int64 + float64
PRICE_ROW_BYTES = 28

FIRST_DAY = _dt.date(2015, 1, 1)
_EPOCH = _dt.date(1970, 1, 1)
_DAY_S = 86_400


def business_days(n: int) -> np.ndarray:
    """The first ``n`` weekdays from FIRST_DAY as days since the epoch."""
    start = (FIRST_DAY - _EPOCH).days
    days = np.arange(start, start + n * 2, dtype=np.int64)
    # 1970-01-01 was a Thursday: weekday index 0 = Monday
    weekday = (days + 3) % 7
    return days[weekday < 5][:n]


def yyyymmdd(epoch_days: np.ndarray) -> np.ndarray:
    d = epoch_days.astype("datetime64[D]")
    y = d.astype("datetime64[Y]").astype(np.int64) + 1970
    m = d.astype("datetime64[M]").astype(np.int64) % 12 + 1
    dd = (d - d.astype("datetime64[M]")).astype(np.int64) + 1
    return (y * 10_000 + m * 100 + dd).astype(np.int32)


def epoch_of_yyyymmdd(date: int) -> int:
    d = _dt.date(date // 10_000, date // 100 % 100, date % 100)
    return (d - _EPOCH).days * _DAY_S


def gen_prices(
    rng: np.random.Generator, n_assets: int, n_days: int, mean_revisions: float
) -> pa.Table:
    """A revision-heavy bitemporal prices table.

    Every (asset, business day) is first published the evening of its date
    and then revised ``Poisson(mean_revisions)`` more times, hours to days
    later.  ``ts`` is strictly increasing per asset, so "latest revision at
    or before t" has exactly one answer for both the range query and the
    as-of join.  Values are whole cents, so sums over them are exact in
    every engine."""
    days = business_days(n_days)
    n_keys = n_assets * n_days
    asset = np.repeat(np.arange(n_assets, dtype=np.int64), n_days)
    day = np.tile(days, n_assets)
    revs = 1 + rng.poisson(mean_revisions, n_keys)
    n = int(revs.sum())
    key = np.repeat(np.arange(n_keys), revs)
    first = np.repeat(np.cumsum(revs) - revs, revs)
    rev_no = np.arange(n) - first
    # first print 17:00-19:00 UTC; each revision 1 h to 3 days after the last
    gap = rng.integers(3_600, 3 * _DAY_S, n)
    gap[rev_no == 0] = 17 * 3_600 + rng.integers(0, 7_200, int((rev_no == 0).sum()))
    run = np.cumsum(gap)
    ts = day[key] * _DAY_S + run - run[first] + gap[first]
    ts = _strictly_increasing_per_asset(asset[key], ts)
    base = 1_000 + rng.integers(0, 90_000, n_assets)
    walk = rng.integers(-150, 151, n_keys)
    cents = np.repeat(base, n_days) + np.cumsum(walk.reshape(n_assets, n_days), axis=1).ravel()
    cents = np.abs(cents) + 100
    value_cents = cents[key] + rng.integers(-40, 41, n) * (rev_no > 0)
    return pa.table(
        {
            "asset_id": asset[key],
            "date": yyyymmdd(day[key]),
            "ts": ts,
            "value": value_cents / 100.0,
        },
        schema=PRICE_SCHEMA,
    )


def _strictly_increasing_per_asset(asset: np.ndarray, ts: np.ndarray) -> np.ndarray:
    """Nudge colliding timestamps of one asset apart by whole seconds,
    keeping every revision's order."""
    order = np.lexsort((np.arange(len(ts)), ts, asset))
    s_asset, s_ts = asset[order], ts[order]
    i = np.arange(len(ts), dtype=np.int64)
    big = np.int64(1) << 40
    u = s_ts - i + s_asset * big
    fixed = np.maximum.accumulate(u) - s_asset * big + i
    out = np.empty_like(ts)
    out[order] = fixed
    return out


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_TS_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_TS_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_US_PER_DAY = 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return _TS_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def gen_suite_tables(rng: np.random.Generator, scale: int) -> dict[str, pa.Table]:
    """The ten tables the registry specs read (TPC-H-like star schema plus
    events, documents and embeddings), with the column names and types of
    the project's test data.  ``scale`` is the number of orders / 1,000
    (``scale=1`` gives 1,000 orders, ~4,000 line items)."""
    n_cust, n_part, n_supp = 100 * scale, 150 * scale, 10 * scale
    n_ord, n_ev, n_doc, n_vec = 1_000 * scale, 800 * scale, 400 * scale, 400 * scale
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(["cold", "small", "large", "red", "shiny", "old"])
    noun = np.array(["widget", "bolt", "gear", "valve", "panel"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 6, n_part)], noun[rng.integers(0, 5, n_part)])],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + np.arange(n_part) % 200 / 10.0,
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1_000, 500_000, n_ord),
            "o_orderdate": _days(rng, n_ord, 2_400),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table(
        {
            "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, 2_500),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _TS_2024 + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 15 * scale, n_ev),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.01, 330, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i % 5 == 4:
            # every fifth document near-duplicates an earlier original, so
            # the dedup operators' pair counts vary little between seeds
            toks = texts[5 * int(rng.integers(0, i // 5 + 1)) + int(rng.integers(0, 4))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = words[rng.integers(0, len(words))]
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        texts.append(" ".join(toks))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[labels] * 0.15 + rng.normal(0, 1, (n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


# --- per-op inputs ---------------------------------------------------------
#: seed-stream tags, so each kind of draw has its own reproducible stream
TAG_TABLE, TAG_POINT, TAG_BATCH, TAG_PROBES, TAG_REVISE, TAG_SUITE = range(6)


class PriceUniverse:
    """The key space of a generated prices table, for drawing queries."""

    def __init__(self, seed: int, n_assets: int, n_days: int, ts_max: int) -> None:
        self.n_assets, self.n_days, self.ts_max = n_assets, n_days, ts_max
        self.days = business_days(n_days)
        self.dates = yyyymmdd(self.days)
        # Zipf(1.1) popularity over a seeded ranking of the assets
        rank = np.random.default_rng([seed, TAG_POINT]).permutation(n_assets)
        w = 1.0 / (rank + 1.0) ** 1.1
        self.zipf = w / w.sum()

    def window(self, rng: np.random.Generator, lo: int, hi: int) -> tuple[int, int]:
        """A window of ``lo..hi`` business days, as (start, end) yyyymmdd."""
        hi = min(hi, self.n_days)
        length = int(rng.integers(min(lo, hi), hi + 1))
        s = int(rng.integers(0, self.n_days - length + 1))
        return int(self.dates[s]), int(self.dates[s + length - 1])

    def asof_after(self, rng: np.random.Generator, start: int) -> int:
        """A knowledge time between the window's first print and the end of
        the table's knowledge-time span."""
        return int(rng.integers(epoch_of_yyyymmdd(start) + 17 * 3_600, self.ts_max + 1))


def point_query(seed: int, i: int, u: PriceUniverse) -> tuple[int, int, int, int]:
    """(asset, start, end, asof_ts) of point query ``i``: Zipf-skewed asset,
    a 1-month to 2-year window."""
    rng = np.random.default_rng([seed, TAG_POINT, i])
    asset = int(rng.choice(u.n_assets, p=u.zipf))
    start, end = u.window(rng, 21, 500)
    return asset, start, end, u.asof_after(rng, start)


def batch_queries(seed: int, i: int, u: PriceUniverse, n: int) -> pa.Table:
    """Backtest batch ``i``: ``n`` multi-year as-of queries."""
    rng = np.random.default_rng([seed, TAG_BATCH, i])
    rows = []
    for q in range(n):
        start, end = u.window(rng, 250, 750)
        rows.append((q, int(rng.integers(0, u.n_assets)), start, end, u.asof_after(rng, start)))
    qid, asset, start, end, asof = map(list, zip(*rows))
    return pa.table(
        {
            "query_id": pa.array(qid, pa.int64()),
            "asset_id": pa.array(asset, pa.int64()),
            "start_date": pa.array(start, pa.int32()),
            "end_date": pa.array(end, pa.int32()),
            "asof_ts": pa.array(asof, pa.int64()),
        }
    )


def probes(seed: int, i: int, u: PriceUniverse, n: int, ts_min: int) -> pa.Table:
    """Trades-to-quotes batch ``i``: ``n`` (asset, trade time) probes."""
    rng = np.random.default_rng([seed, TAG_PROBES, i])
    return pa.table(
        {
            "probe_id": np.arange(n, dtype=np.int64),
            "asset_id": rng.integers(0, u.n_assets, n),
            "qts": rng.integers(ts_min, u.ts_max + 1, n),
        }
    )


#: revision commits are a day apart in knowledge time; a commit's rows land
#: within its first hour
REVISION_STEP_S = 86_400
REVISION_SPREAD_S = 3_600


def revisions(seed: int, k: int, u: PriceUniverse, n: int, t0: int) -> pa.Table:
    """Commit ``k``'s revisions: ``n`` distinct existing (asset, date) keys,
    each re-published with a new value at knowledge time
    ``t0 + k * REVISION_STEP_S`` plus up to an hour."""
    rng = np.random.default_rng([seed, TAG_REVISE, k])
    keys = rng.choice(u.n_assets * u.n_days, n, replace=False)
    return pa.table(
        {
            "asset_id": (keys // u.n_days).astype(np.int64),
            "date": u.dates[keys % u.n_days],
            "ts": t0 + k * REVISION_STEP_S + rng.integers(0, REVISION_SPREAD_S, n),
            "value": (1_000 + rng.integers(0, 90_000, n)) / 100.0,
        },
        schema=PRICE_SCHEMA,
    )


def revision_reads(
    seed: int, k: int, u: PriceUniverse, revs: pa.Table, n_after: int, t0: int
) -> list[tuple[int, int, int, int]]:
    """Reads that follow commit ``k``: ``n_after`` reads around revised keys
    at a knowledge time after the commit, then one read of a revised key
    just before it."""
    rng = np.random.default_rng([seed, TAG_REVISE, k, 1])
    commit_ts = t0 + k * REVISION_STEP_S
    day_of = {int(d): j for j, d in enumerate(u.dates)}
    out = []
    for r, pick in enumerate(rng.choice(revs.num_rows, n_after + 1, replace=False)):
        asset = int(revs["asset_id"][int(pick)].as_py())
        j = day_of[int(revs["date"][int(pick)].as_py())]
        start = int(u.dates[max(0, j - 20)])
        end = int(u.dates[min(u.n_days - 1, j + 20)])
        if r < n_after:
            asof = commit_ts + REVISION_SPREAD_S + int(rng.integers(0, REVISION_STEP_S - REVISION_SPREAD_S))
        else:
            asof = commit_ts - 1
        out.append((asset, start, end, asof))
    return out


# --- expected answers (DuckDB) --------------------------------------------


def _duck():
    import duckdb

    return duckdb.connect()


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def expected_ranges(
    price_paths: list[str], queries: list[tuple[int, int, int, int]]
) -> list[list[tuple]]:
    """For each (asset, start, end, asof_ts): the as-of answer rows
    (asset_id, date, ts, value), latest revision per date, newest date
    first."""
    if not queries:
        return []
    con = _duck()
    q = pa.table(
        {
            "qid": list(range(len(queries))),
            "asset": [x[0] for x in queries],
            "lo": [x[1] for x in queries],
            "hi": [x[2] for x in queries],
            "asof": [x[3] for x in queries],
        }
    )
    con.register("q", q)
    rows = con.execute(
        f"""
        SELECT q.qid, p.asset_id, p.date, max(p.ts), arg_max(p.value, p.ts)
        FROM q JOIN read_parquet({_sql_list(price_paths)}) p
          ON p.asset_id = q.asset AND p.date BETWEEN q.lo AND q.hi AND p.ts <= q.asof
        GROUP BY ALL ORDER BY q.qid, p.date DESC
        """
    ).fetchall()
    con.close()
    out: list[list[tuple]] = [[] for _ in queries]
    for qid, *row in rows:
        out[qid].append(tuple(row))
    return out


def expected_batch_checksum(price_path: str, query_path: str) -> tuple[int, ...]:
    """Order-insensitive checksum of an ``asof_batch`` answer: rows, sum of
    ts, sum of cents and a mixed key term, the same sums the benchmark
    observes on the engine's answer."""
    con = _duck()
    row = con.execute(
        f"""
        WITH r AS (
          SELECT q.query_id, p.date, max(p.ts) AS ts, arg_max(p.value, p.ts) AS value
          FROM read_parquet('{query_path}') q JOIN read_parquet('{price_path}') p
            ON p.asset_id = q.asset_id AND p.date BETWEEN q.start_date AND q.end_date
           AND p.ts <= q.asof_ts
          GROUP BY ALL)
        SELECT count(*), sum(ts), sum(CAST(round(value * 100) AS BIGINT)),
               sum((query_id * 1000003 + date * 31 + ts) % 1000000007)
        FROM r
        """
    ).fetchone()
    con.close()
    return tuple(int(x or 0) for x in row)


def expected_join_checksum(price_path: str, probe_path: str) -> tuple[int, ...]:
    """Order-insensitive checksum of a backward ``asof_join`` answer."""
    con = _duck()
    row = con.execute(
        f"""
        SELECT count(*), sum(coalesce(r.ts, 0)),
               sum(CAST(round(coalesce(r.value, 0) * 100) AS BIGINT)),
               sum((p.probe_id * 1000003 + coalesce(r.ts, 0)) % 1000000007)
        FROM read_parquet('{probe_path}') p ASOF LEFT JOIN read_parquet('{price_path}') r
          ON p.asset_id = r.asset_id AND p.qts >= r.ts
        """
    ).fetchone()
    con.close()
    return tuple(int(x or 0) for x in row)
