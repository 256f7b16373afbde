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
  work: planning, and each scheduled job and stage.  When the input is a
  *bare parquet scan* (the analyzed plan is a parquet ``LogicalRelation``,
  optionally under a ``Project`` of plain attribute references: what
  ``versioning.read_version`` and ``layout.read_prices`` return), the
  driver answers the query itself and builds no Spark plan at all.  It
  lists the relation's files, drops ``date_month=`` directories outside
  the range, and, when the remaining files' bytes (the planner's
  ``sizeInBytes`` of a file relation) are at most ``ONE_TASK_MAX_BYTES``,
  reads them with ``pyarrow.dataset`` under the same asset/date/ts
  predicates, skipping row groups by their min/max statistics (the
  reference's 1-3 leaf pages, file.rs:508-570).  It keeps the max-``(ts,
  value)`` row per date, the tie rule of :func:`_latest_revision`, and
  returns the rows, date descending, as a ``LocalRelation`` whose
  ``collect`` runs no Spark job.  The answer is computed when
  ``asof_range`` is called.  That is sound because a version directory
  (``v{N}-{hex}/``) is never rewritten, and a table rewritten in place
  after the call is also one the Spark plan could not read any more: its
  listed files are gone.  Every other input keeps the Spark plan below:
  RDD, local and Python-data-source relations, renaming or derived
  projections, files that are not local, column types other than integral
  keys and a floating ``value``, query bounds outside a column's type,
  files that lack a column, more bytes than the bound, and any candidate
  row whose ``value`` is NULL or NaN (pyarrow and Spark order those
  differently, and ``session.local_relation_df`` cannot carry NaN).
- On the Spark plan, each Exchange is a scheduled stage and a global
  ``orderBy`` adds a range-sampling job.  When the planner's size estimate
  of the filtered scan (the partition-pruned files; without CBO a Filter
  does not shrink it) is at most ``ONE_TASK_MAX_BYTES``, the filter is
  ``coalesce(1)``-ed.  ``SinglePartition`` satisfies both the aggregate's
  and the sort's required distribution, so the plan has no Exchange and
  runs as one job of one task.  The bound is measured, not borrowed: it is
  the largest scan one task reads no slower than the distributed plan even
  when row-group pruning does not help (see the constant).  Larger or
  unknown-size inputs (RDD-backed relations report
  ``spark.sql.defaultSizeInBytes``) keep the distributed plan below.  Both
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
- The as-of join (`asof_join`) has one core for every direction: the
  tagged union of probes and right rows, shuffled once on the key, and a
  running ``last(_vs, ignorenulls)`` scan from the first row of the key to
  the current one (`_running_match`).  Backward scans ascending time,
  forward scans descending time, nearest runs both scans over the one
  exchange and picks by projection.  No frame runs from the current row
  to UNBOUNDED FOLLOWING: Spark evaluates such a frame again for every
  row, so it is quadratic within one key.  With one key, n right rows and
  n probes (``local[4]``, noop sink), the old following-frame nearest
  join took 1.11 / 3.24 / 12.54 / 61.9 s at n = 2.5k / 5k / 10k / 20k;
  the two running scans took 0.14 / 0.15 / 0.13 / 0.14 s.
"""

from __future__ import annotations

import os
import re

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from findb_spark.session import local_path, local_relation_df

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


#: Largest scan (bytes) that `asof_range` answers without distributing it.
#: It gates both small-read paths: the driver path on the bytes of a bare
#: parquet scan's pruned files, and, for every other input, the one-task
#: Spark plan on the planner's size estimate of the filtered scan.  It was
#: measured for the second, with ``scripts/asof_one_task_probe.py`` on a
#: 4-vCPU host (``local[4]``, 16-file tables with rows in random order, so
#: row-group pruning skips nothing: the worst case for one task), p50 of one
#: task vs the distributed plan: 23.4 MB 277 vs 295 ms and 238 vs 249 ms (two
#: runs), 27.2 MB 241 vs 251 ms, 31.1 MB 290 vs 268 ms and 250 vs 232 ms,
#: 46.5 MB 327 vs 261 ms, 62.0 MB 456 vs 347 ms.  Clustered tables
#: (`findb_spark.layout.write_prices`) prune row groups and stay faster on
#: one task at 54.5 MB (189 vs 304 ms).  The probe times the driver path as
#: a third column.
ONE_TASK_MAX_BYTES = 24 * 1024 * 1024


def _fits_one_task(df: DataFrame) -> bool:
    """True when the planner's size estimate of ``df`` is at most
    ``ONE_TASK_MAX_BYTES``. Estimating runs the optimizer only: no Spark
    job."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return size <= ONE_TASK_MAX_BYTES


#: the column each `asof_range` bound is compared with
_BOUND_COLUMNS = ("asset_id", "date", "date", "ts")

#: hive partition directory of `layout.write_prices(date_bucket="month")`
_DATE_MONTH_DIR = re.compile(r"/date_month=([^/]*)/")


def _bare_parquet_relation(prices: DataFrame):
    """The ``HadoopFsRelation`` under ``prices`` when its analyzed plan is a
    parquet ``LogicalRelation``, optionally under a ``Project`` of plain
    attribute references (no alias, so no renaming and no derived column);
    else None.  Reading the analyzed plan runs neither optimizer nor job."""
    plan = prices._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "Project":
        items = plan.projectList()
        if any(
            items.apply(i).getClass().getSimpleName() != "AttributeReference"
            for i in range(items.size())
        ):
            return None
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation" or plan.isStreaming():
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        return None
    return rel


def _driver_scan(prices: DataFrame, asset_id, start_date, end_date, asof_ts):
    """The parquet row groups the driver path of `asof_range` reads, as
    pyarrow fragments, with the row filter and the arrow schema of
    `PRICE_COLUMNS`; None when the driver path does not apply (module
    notes).  Row groups whose min/max statistics exclude the filter are
    already dropped, so ``len`` of the fragments is the row groups read."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_type

    bounds = (asset_id, start_date, end_date, asof_ts)
    if not all(isinstance(v, int) and not isinstance(v, bool) for v in bounds):
        return None
    fields = {f.name: f.dataType for f in prices.schema.fields}
    if not all(isinstance(fields.get(c), T.IntegralType) for c in PRICE_COLUMNS[:3]):
        return None
    if not isinstance(fields.get("value"), T.DoubleType | T.FloatType):
        return None
    arrow = {c: to_arrow_type(fields[c]) for c in PRICE_COLUMNS}
    for c, v in zip(_BOUND_COLUMNS, bounds):
        info = np.iinfo(arrow[c].to_pandas_dtype())
        if not info.min <= v <= info.max:
            return None
    rel = _bare_parquet_relation(prices)
    if rel is None:
        return None
    # asof_filter's partition predicate, on the directory names
    by_month = "date_month" in fields
    if by_month and "date_month" not in rel.partitionSchema().fieldNames():
        return None
    paths = []
    for uri in rel.inputFiles():
        path = local_path(uri)
        if path is None:
            return None
        if by_month:
            month = _DATE_MONTH_DIR.search(path).group(1)
            if not (month.isdigit() and start_date // 100 <= int(month) <= end_date // 100):
                continue
        paths.append(path)
    if sum(os.path.getsize(p) for p in paths) > ONE_TASK_MAX_BYTES:
        return None
    asset, start, end, ts = (pa.scalar(v, arrow[c]) for c, v in zip(_BOUND_COLUMNS, bounds))
    row_filter = (
        (ds.field("asset_id") == asset)
        & (ds.field("date") >= start)
        & (ds.field("date") <= end)
        & (ds.field("ts") <= ts)
    )
    arrow_schema = pa.schema(list(arrow.items()))
    row_groups = []
    for frag in ds.dataset(paths, schema=arrow_schema, format="parquet").get_fragments():
        if not set(PRICE_COLUMNS) <= set(frag.physical_schema.names):
            return None
        row_groups.extend(frag.split_by_row_group(row_filter))
    return row_groups, row_filter, arrow_schema


def _driver_asof_range(prices: DataFrame, asset_id, start_date, end_date, asof_ts):
    """`asof_range` answered on the driver as a ``LocalRelation``, or None
    when the driver path does not apply (module notes)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    scan = _driver_scan(prices, asset_id, start_date, end_date, asof_ts)
    if scan is None:
        return None
    row_groups, row_filter, arrow_schema = scan
    table = ds.FileSystemDataset(row_groups, arrow_schema, ds.ParquetFileFormat()).to_table(
        filter=row_filter
    )
    value = table["value"]
    if value.null_count or pc.any(pc.is_nan(value)).as_py():
        return None
    table = table.sort_by([(c, "descending") for c in ("date", "ts", "value")])
    dates = table["date"].to_numpy()
    first = np.ones(len(dates), dtype=bool)
    first[1:] = dates[1:] != dates[:-1]
    table = table.filter(first)
    fields = {f.name: f for f in prices.schema.fields}
    # max_by's result is nullable whatever its input: so are ts and value
    schema = T.StructType(
        [fields["asset_id"], fields["date"]]
        + [T.StructField(c, fields[c].dataType, True) for c in ("ts", "value")]
    )
    rows = list(zip(*(table[c].to_pylist() for c in PRICE_COLUMNS)))
    return local_relation_df(prices.sparkSession, rows, schema)


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
    at most one row per date.  A small bare parquet scan is answered on the
    driver, as a relation whose ``collect`` runs no Spark job; any other
    filtered scan small enough for one task is planned on a single
    partition: one Spark job, no Exchange (module notes).
    """
    answer = _driver_asof_range(prices, asset_id, start_date, end_date, asof_ts)
    if answer is not None:
        return answer
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


def _tag_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: tuple[str, ...],
) -> DataFrame:
    """The input of every as-of join window: right rows (``_is_q`` 0) and
    left probe rows (``_is_q`` 1) unioned on ``on`` and one time column
    ``_t``.  Right rows carry their values in the struct ``_vs``; left rows
    carry their payload columns as ``_l_<c>``.  Right rows with a NULL
    ``right_time`` are dropped: an unknown time is no position, so such a
    row never matches (pandas ``merge_asof`` rejects NULL keys).

    ALL requested right columns travel in ONE struct: a single
    last(ignorenulls) then selects one whole right row. Independent
    per-column lasts would stitch a "torn row" whenever a value column
    contains NULLs (each column's last non-null can come from a
    DIFFERENT revision — e.g. matched_ts from the newest row with
    matched_value from an older one, which would also let a stale value
    slip past the tolerance check)."""
    l_cols = [c for c in left.columns if c != on]
    r_types = dict(right.dtypes)
    vs_type = "struct<" + ",".join(f"{c}:{r_types[c]}" for c in value_cols) + ">"
    tagged_r = right.where(F.col(right_time).isNotNull()).select(
        F.col(on),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_q"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_vs"),
        *[F.lit(None).alias(f"_l_{c}") for c in l_cols],
    )
    tagged_l = left.select(
        F.col(on),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_q"),
        F.lit(None).cast(vs_type).alias("_vs"),
        *[F.col(c).alias(f"_l_{c}") for c in l_cols],
    )
    return tagged_r.unionByName(tagged_l)


def _running_match(on: str, t_order: Column) -> Column:
    """The as-of match of every row of `_tag_union`'s output in one
    direction: per key, in ``t_order``, the running
    ``last(_vs, ignorenulls)`` — the last right row seen.  ``_t`` gives the
    backward match (largest ``right_time <= t``); ``_t`` descending gives
    the forward one (smallest ``right_time >= t``, the last right row seen
    walking back from +inf).  Right rows sort before probes at equal time,
    so both directions include exact-time matches, and duplicate right
    rows sharing (on, right_time) resolve to the max value struct in
    both."""
    w = (
        Window.partitionBy(on)
        .orderBy(t_order, "_is_q", F.col("_vs").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return F.last(F.col("_vs"), ignorenulls=True).over(w)


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
    tables).  ``direction='forward'`` instead attaches the *smallest*
    ``right_time >= left_time`` (next-known-value semantics); both
    directions include exact-time matches.  ``direction='nearest'``
    (pandas ``merge_asof(direction='nearest')``) attaches whichever of the
    two is closer to ``left_time``, the backward one on an exact-distance
    tie — the mark-to-nearest-quote shape — and adds ``matched_direction``
    ('backward', 'forward', or NULL when neither exists).

    Implemented with the union+last_value trick, NOT a range join: tag both
    inputs, union them, and per key take the running last known value in
    time order (`_running_match`; nearest runs both directions' scans and
    picks by projection).  One shuffle, O(n log n) within partitions, no
    range-predicate row explosion — this is the formulation that survives
    100 TB (a naive ``left.join(right, right.ts <= left.ts)`` is O(n*m)
    before aggregation).

    Left must carry ``left_time`` plus any payload columns; output = ``on``,
    the other left columns, then ``matched_<c>`` for each requested right
    value column (NULL when nothing is known yet — same semantics as the
    reference iterator yielding nothing before the first revision,
    file.rs:543-556).

    ``tolerance`` (pandas ``merge_asof(tolerance=...)`` semantics): a match
    with ``|left_time - matched right_time| > tolerance`` is discarded (all
    matched columns null), in every direction.  Applied as a pure
    post-projection — the plan (one shuffle, running scans) is unchanged,
    so staleness filtering is free at any scale.  Nearest and tolerance
    need ``right_time`` in ``value_cols``: the matched time must be known,
    and a negative tolerance raises ``ValueError``, as in pandas.

    NULL times are no positions: a right row with a NULL ``right_time``
    never matches, and a left row with a NULL ``left_time`` gets all-NULL
    ``matched_*`` columns in every direction.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    if (direction == "nearest" or tolerance is not None) and right_time not in value_cols:
        raise ValueError("nearest and tolerance require right_time in value_cols")
    if tolerance is not None and tolerance < 0:
        raise ValueError(f"tolerance must be >= 0, got {tolerance}")
    l_cols = [c for c in left.columns if c != on]
    unioned = _tag_union(left, right, on, left_time, right_time, value_cols)
    scans = {"backward": F.col("_t"), "forward": F.col("_t").desc()}
    if direction != "nearest":
        scans = {direction: scans[direction]}
    probes = unioned.select(
        on,
        "_is_q",
        *[F.col(f"_l_{c}").alias(c) for c in l_cols],
        *[_running_match(on, t).alias(f"_{d}") for d, t in scans.items()],
    ).where(F.col("_is_q") == 1)
    lt = F.col(left_time)
    if direction == "nearest":
        back, fwd = F.col("_backward"), F.col("_forward")
        bt, ft = back[right_time], fwd[right_time]
        use_back = F.when(bt.isNull(), F.lit(False)).otherwise(
            ft.isNull() | ((lt - bt) <= (ft - lt))
        )
        match = F.when(use_back, back).otherwise(fwd)
        matched = {c: match[c] for c in value_cols}
        matched["direction"] = (
            F.when(bt.isNull() & ft.isNull(), F.lit(None).cast("string"))
            .when(use_back, F.lit("backward"))
            .otherwise(F.lit("forward"))
        )
    else:
        match = F.col(f"_{direction}")
        matched = {c: match[c] for c in value_cols}
    # a NULL-time probe still sees right rows in the forward scan, where
    # NULLs sort last
    unmatched = lt.isNull()
    if tolerance is not None:
        unmatched = unmatched | (F.abs(lt - match[right_time]) > tolerance)
    matched = {c: F.when(unmatched, F.lit(None)).otherwise(m) for c, m in matched.items()}
    return probes.select(
        on,
        *l_cols,
        *[m.alias(f"matched_{c}") for c, m in matched.items()],
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
