"""Bitemporal as-of query operators — the reference's entire query surface.

Semantics (reference ``src/btree/file.rs:37-43`` + ``file.rs:508-570``): for
one asset and effective dates in ``[start_date, end_date]``, return at most
one row per date — the row with the largest ``ts <= asof_ts`` — in descending
date order. ``date`` is the effective/observation axis, ``ts`` the
knowledge/transaction axis; rows sharing ``(asset_id, date)`` are revisions.
Golden semantics pinned by the reference tests at ``file.rs:621-696``.

Spark-first design notes (100 TB posture):

- The single-query path (`asof_range`) is filter + ``max_by`` aggregation.
  The filters (asset equi + date range + ts bound) are plain column
  predicates, so Catalyst pushes them into the Parquet scan: on a layout
  produced by :mod:`findb_spark.layout` the scan prunes to the handful of
  files/row-groups covering that asset's date range — the moral equivalent of
  the reference's B+tree descent (file.rs:425-452) at cluster scale.
- A point read is small, so its cost is per-query driver work, not executor
  work: each Exchange is a scheduled stage and a global ``orderBy`` adds a
  range-sampling job. When the planner's size estimate of the filtered scan
  (the partition-pruned files; without CBO a Filter does not shrink it) is
  at most ``ONE_TASK_MAX_BYTES``, the filter is ``coalesce(1)``-ed.
  ``SinglePartition`` satisfies both the aggregate's and the sort's required
  distribution, so the plan has no Exchange and runs as one job of one task
  (the reference's short leaf walk, file.rs:508-570). The bound is measured,
  not borrowed: it is the largest scan one task reads no slower than the
  distributed plan even when row-group pruning does not help (see the
  constant). Larger or unknown-size inputs (RDD-backed relations report
  ``spark.sql.defaultSizeInBytes``) keep the distributed plan below. Both
  are the same lazy builder; only the input partitioning differs.
- ``max_by(struct(ts, value), ts)`` gives a *partial-aggregatable* plan: the
  per-(asset,date) "latest revision" combines map-side, so the shuffle moves
  at most one row per (asset, date) per map partition, not every revision.
  A window/``row_number`` formulation would instead shuffle every revision.
- The batched path (`asof_batch`) joins a (small) query table against the
  prices table. The query side is explicitly broadcast: N queries x full
  scan-once of the pruned price range, no shuffle of the big side at all for
  the join itself; the only exchange is the final per-(query_id, asset,
  date) aggregation, which is again map-side combined.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

#: canonical column order of a bitemporal prices table (FIXTURES.md §A1)
PRICE_COLUMNS = ("asset_id", "date", "ts", "value")


def _latest_revision(grouped_keys: list[str], df: DataFrame) -> DataFrame:
    """Per group, pick (ts, value) of the max-ts row via map-side-combinable
    ``max_by``. Ties on ts (not possible in well-formed data — (asset_id,
    date, ts) is unique, FIXTURES.md §A1) break by max value for determinism.
    """
    return df.groupBy(*grouped_keys).agg(
        F.max_by(F.struct(F.col("ts"), F.col("value")), F.struct(F.col("ts"), F.col("value"))).alias("_r")
    ).select(*grouped_keys, F.col("_r.ts").alias("ts"), F.col("_r.value").alias("value"))


#: Largest planner size estimate (bytes) of a filtered scan that
#: `asof_range` reads on one task. Measured with
#: ``scripts/asof_one_task_probe.py`` on a 4-vCPU host (``local[4]``, 16-file
#: tables with rows in random order, so row-group pruning skips nothing: the
#: worst case for one task), p50 of one task vs the distributed plan: 23.4 MB
#: 277 vs 295 ms and 238 vs 249 ms (two runs), 27.2 MB 241 vs 251 ms, 31.1 MB
#: 290 vs 268 ms and 250 vs 232 ms, 46.5 MB 327 vs 261 ms, 62.0 MB 456 vs
#: 347 ms. Clustered tables (`findb_spark.layout.write_prices`) prune row
#: groups and stay faster on one task at 54.5 MB (189 vs 304 ms).
ONE_TASK_MAX_BYTES = 24 * 1024 * 1024


def _fits_one_task(df: DataFrame) -> bool:
    """True when the planner's size estimate of ``df`` is at most
    ``ONE_TASK_MAX_BYTES``. Estimating runs the optimizer only: no Spark
    job."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return size <= ONE_TASK_MAX_BYTES


def asof_filter(
    prices: DataFrame,
    asset_id: int | Column,
    start_date: int | Column,
    end_date: int | Column,
    asof_ts: int | Column,
) -> DataFrame:
    """The pushdown-able predicate of the as-of query (file.rs:543-556).

    When the table carries a hive ``date_month`` partition column (see
    findb_spark.layout.write_prices), the date range is also expressed as a
    partition predicate so Catalyst prunes whole directories before file
    stats are consulted — at 100 TB this is the B+tree-descent analog: the
    scan touches only the months covering the range."""
    cond = (
        (F.col("asset_id") == asset_id)
        & F.col("date").between(start_date, end_date)
        & (F.col("ts") <= asof_ts)
    )
    if "date_month" in prices.columns and isinstance(start_date, int) and isinstance(end_date, int):
        cond = cond & F.col("date_month").between(start_date // 100, end_date // 100)
    return prices.where(cond)


def asof_range(
    prices: DataFrame,
    asset_id: int,
    start_date: int,
    end_date: int,
    asof_ts: int,
) -> DataFrame:
    """The flagship operator: bitemporal as-of range query (file.rs:425-570).

    Returns columns (asset_id, date, ts, value), descending date order,
    at most one row per date. A filtered scan small enough for one task is
    planned on a single partition: one Spark job, no Exchange (module notes).
    """
    filtered = asof_filter(prices, asset_id, start_date, end_date, asof_ts)
    if _fits_one_task(filtered):
        filtered = filtered.coalesce(1)
    return (
        _latest_revision(["asset_id", "date"], filtered)
        .orderBy(F.desc("date"))
    )


def asof_point(prices: DataFrame, asset_id: int, date: int, asof_ts: int) -> DataFrame:
    """Degenerate single-date as-of query (golden tests file.rs:649-672)."""
    return asof_range(prices, asset_id, date, date, asof_ts)


def asof_batch(prices: DataFrame, queries: DataFrame, prune_bounds: bool = True) -> DataFrame:
    """Batched as-of evaluation — the reference's stubbed ``bulk_query``
    (file.rs:466-468; ``Query.id`` tagging at file.rs:561-565).

    ``queries`` schema: (query_id, asset_id, start_date, end_date, asof_ts).
    Result: (query_id, asset_id, date, ts, value), <=1 row per
    (query_id, date).

    Scale: the query table is the bounded side (thousands of rows, not TB) —
    broadcast it so the price table never shuffles for the join. Catalyst
    additionally derives a pushable range on the big side from the join
    predicate only when the bounds are literals, so callers with a *static*
    query list should prefer `asof_range` per query or pre-filter; for the
    general dynamic case the scan is bounded by the layout's partition
    pruning on ``asset_id`` via DPP when the query side is small.

    ``prune_bounds``: the query table is bounded by contract (it is
    broadcast), so one tiny driver-side aggregate over it yields *literal*
    global bounds — min(start_date), max(end_date), max(asof_ts) — that
    Catalyst can push into the price scan as static predicates. At 100 TB
    this converts the full-table pass into a range scan of the covered
    dates before the join even runs; the per-query bounds still apply in
    the join condition.
    """
    if prune_bounds:
        lo, hi, ts_hi = queries.agg(
            F.min("start_date"), F.max("end_date"), F.max("asof_ts")
        ).first()
        if lo is not None:
            prices = prices.where(
                F.col("date").between(F.lit(lo), F.lit(hi)) & (F.col("ts") <= F.lit(ts_hi))
            )
    q = F.broadcast(queries)
    joined = prices.join(
        q,
        on=(
            (prices["asset_id"] == q["asset_id"])
            & (prices["date"] >= q["start_date"])
            & (prices["date"] <= q["end_date"])
            & (prices["ts"] <= q["asof_ts"])
        ),
        how="inner",
    ).select(
        q["query_id"],
        prices["asset_id"],
        prices["date"],
        prices["ts"],
        prices["value"],
    )
    return (
        _latest_revision(["query_id", "asset_id", "date"], joined)
        .orderBy("query_id", F.desc("date"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "asset_id",
    left_time: str = "qts",
    right_time: str = "ts",
    value_cols: tuple[str, ...] = ("ts", "value"),
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """Generic as-of join: for every left row, attach the right row with the
    largest ``right_time <= left_time`` for the same key — the
    trades-to-quotes join every tick store needs (generalizes the
    reference's one-asset query shape, file.rs:37-43, to arbitrary probe
    tables). ``direction='forward'`` instead attaches the *smallest*
    ``right_time >= left_time`` (next-known-value semantics); both
    directions include exact-time matches.

    Implemented with the union+last_value trick, NOT a range join: tag both
    inputs, union them, and per key take the running last known value in
    time order. One shuffle on the key, O(n log n) within partitions, no
    range-predicate row explosion — this is the formulation that survives
    100 TB (a naive ``left.join(right, right.ts <= left.ts)`` is O(n*m)
    before aggregation).

    Left must carry ``left_time`` plus any payload columns; output = left
    columns + ``matched_<c>`` for each requested right value column (NULL
    when nothing is known yet — same semantics as the reference iterator
    yielding nothing before the first revision, file.rs:543-556).

    ``tolerance`` (pandas ``merge_asof(tolerance=...)`` semantics): a match
    farther than ``tolerance`` time units from ``left_time`` is discarded
    (all matched columns null). Requires ``right_time`` in ``value_cols``
    so the matched time is available; applied as a pure post-projection —
    the plan (one shuffle, running scan) is unchanged, so staleness
    filtering is free at any scale.
    """
    if tolerance is not None and right_time not in value_cols:
        raise ValueError("tolerance requires right_time in value_cols")
    l_cols = [c for c in left.columns]
    # ALL requested right columns travel in ONE struct: a single
    # last(ignorenulls) then selects one whole right row. Independent
    # per-column lasts would stitch a "torn row" whenever a value column
    # contains NULLs (each column's last non-null can come from a
    # DIFFERENT revision — e.g. matched_ts from the newest row with
    # matched_value from an older one, which would also let a stale value
    # slip past the tolerance check).
    r_types = dict(right.dtypes)
    vs_type = "struct<" + ",".join(f"{c}:{r_types[c]}" for c in value_cols) + ">"
    tagged_r = right.select(
        F.col(on),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_q"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_vs"),
        *[F.lit(None).alias(f"_l_{c}") for c in l_cols if c != on],
    )
    tagged_l = left.select(
        F.col(on),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_q"),
        F.lit(None).cast(vs_type).alias("_vs"),
        *[F.col(c).alias(f"_l_{c}") for c in l_cols if c != on],
    )
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    unioned = tagged_r.unionByName(tagged_l)
    # data rows sort before probe rows at equal time => ties are inclusive
    # (right_time == left_time matches), matching `ts <= asof` semantics.
    # forward direction = the same running last-known-value scan over a
    # time-descending order (next value >= t is the last one seen walking
    # backward from +inf).
    t_order = F.col("_t") if direction == "backward" else F.col("_t").desc()
    w = (
        Window.partitionBy(on)
        .orderBy(t_order, "_is_q", F.col("_vs").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.select(
        on,
        "_t",
        "_is_q",
        *[F.col(f"_l_{c}") for c in l_cols if c != on],
        *[
            F.last(F.col("_vs"), ignorenulls=True).over(w)[c].alias(f"matched_{c}")
            for c in value_cols
        ],
    )
    out = matched.where(F.col("_is_q") == 1).select(
        on,
        *[F.col(f"_l_{c}").alias(c) for c in l_cols if c != on],
        *[F.col(f"matched_{c}") for c in value_cols],
    )
    if tolerance is not None:
        mt = F.col(f"matched_{right_time}")
        lt = F.col(left_time)
        stale = (
            (lt - mt) > tolerance if direction == "backward" else (mt - lt) > tolerance
        )
        out = out.select(
            on,
            *[c for c in l_cols if c != on],
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(f"matched_{c}")).alias(f"matched_{c}")
                for c in value_cols
            ],
        )
    return out


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str = "asset_id",
    left_time: str = "qts",
    right_time: str = "ts",
    value_cols: tuple[str, ...] = ("ts", "value"),
) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof(direction=
    'nearest')``): for every left row, the right row minimizing
    ``|right_time - left_time|``; exact ties prefer the backward
    (earlier) match.  Completes the family: :func:`asof_join` covers
    backward/forward/tolerance, this covers 'closest print either side'
    — the mark-to-nearest-quote shape.

    Implemented as ONE union+window pass — not as two directional joins
    stitched back together.  Both inputs are tagged and unioned (the same
    machinery as :func:`asof_join`); over a single per-key time sort, the
    backward match is ``last(value_struct, ignorenulls)`` over the
    preceding frame and the forward match is ``first(value_struct,
    ignorenulls)`` over the following frame.  One shuffle, one sort, two
    frame scans, fully lazy — no self-join (a rejoin keyed on the left
    row cross-products duplicate probes and drops NULL-bearing rows; a
    synthetic-row-id rejoin forces an eager checkpoint of the whole probe
    table, which at 100 TB is a materialization this formulation never
    pays).

    Equal-time right rows sort before the probe, so the forward frame
    (which starts AT the probe) does not see them — harmless: an
    equal-time row is a distance-0 backward match, which wins every tie
    by the stated rule.  Duplicate right rows sharing (on, right_time)
    resolve to the MAX value-struct in both directions — the same rule
    :func:`asof_join` applies, so 'nearest' never silently disagrees
    with its directional siblings.  ``right_time`` must be in
    ``value_cols`` (the distances need the matched times)."""
    if right_time not in value_cols:
        raise ValueError("nearest requires right_time in value_cols")
    l_cols = [c for c in left.columns]
    r_types = dict(right.dtypes)
    vs_type = "struct<" + ",".join(f"{c}:{r_types[c]}" for c in value_cols) + ">"
    tagged_r = right.select(
        F.col(on),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_q"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_vs"),
        *[F.lit(None).alias(f"_l_{c}") for c in l_cols if c != on],
    )
    tagged_l = left.select(
        F.col(on),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_q"),
        F.lit(None).cast(vs_type).alias("_vs"),
        *[F.col(c).alias(f"_l_{c}") for c in l_cols if c != on],
    )
    unioned = tagged_r.unionByName(tagged_l)
    # Duplicate right rows sharing (on, right_time) tie-break to the MAX
    # value-struct in BOTH directions (matching asof_join's rule): the
    # backward frame orders _vs ASC and takes last(); the forward frame
    # orders _vs DESC and takes first().  The two orderings share the one
    # hash exchange on `on` — Catalyst plans a second in-partition sort,
    # never a second shuffle.
    wb = (
        Window.partitionBy(on)
        .orderBy(F.col("_t"), F.col("_is_q"), F.col("_vs").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(on)
        .orderBy(F.col("_t"), F.col("_is_q"), F.col("_vs").desc_nulls_last())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    j = (
        unioned.select(
            on,
            "_t",
            "_is_q",
            *[F.col(f"_l_{c}") for c in l_cols if c != on],
            F.last(F.col("_vs"), ignorenulls=True).over(wb).alias("_b"),
            F.first(F.col("_vs"), ignorenulls=True).over(wf).alias("_f"),
        )
        .where(F.col("_is_q") == 1)
        .select(
            on,
            *[F.col(f"_l_{c}").alias(c) for c in l_cols if c != on],
            *[F.col("_b")[c].alias(f"_b_{c}") for c in value_cols],
            *[F.col("_f")[c].alias(f"_f_{c}") for c in value_cols],
        )
    )
    bt, ft = F.col(f"_b_{right_time}"), F.col(f"_f_{right_time}")
    lt = F.col(left_time)
    use_back = F.when(bt.isNull(), F.lit(False)).otherwise(
        ft.isNull() | ((lt - bt) <= (ft - lt))
    )
    return j.select(
        *l_cols,
        *[
            F.when(use_back, F.col(f"_b_{c}"))
            .otherwise(F.col(f"_f_{c}"))
            .alias(f"matched_{c}")
            for c in value_cols
        ],
        F.when(bt.isNull() & ft.isNull(), F.lit(None).cast("string"))
        .when(use_back, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("matched_direction"),
    )


def point_lookup(df: DataFrame, key_col: str, key: int) -> DataFrame:
    """Exact-key lookup (reference mem.rs:387-393). On clustered Parquet this
    prunes to one file / row group via min-max stats."""
    return df.where(F.col(key_col) == F.lit(key))


def range_scan(df: DataFrame, key_col: str, from_key: int, to_key: int) -> DataFrame:
    """Inclusive ascending range scan (reference mem.rs:395-404)."""
    return df.where(F.col(key_col).between(from_key, to_key)).orderBy(key_col)


def add_revisions(prices: DataFrame, revisions: DataFrame) -> DataFrame:
    """Revision-aware append (reference insert/update semantics, mem.rs:406-437,
    re-expressed bitemporally): appending a later-ts row for an existing
    (asset_id, date) *revises* the fact without destroying history; as-of
    queries with an earlier asof_ts still see the old value. Pure union —
    immutability is the feature, not a limitation."""
    return prices.select(*PRICE_COLUMNS).unionByName(revisions.select(*PRICE_COLUMNS))
