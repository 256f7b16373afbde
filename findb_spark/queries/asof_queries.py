"""Bitemporal as-of query specs — the reference's query surface (SURVEY §2.1
O5-O9) evaluated over the lineitem-derived prices table at driver scale.

Oracle formulation: window ``ROW_NUMBER() ORDER BY ts DESC, value DESC``
matches Spark's ``max_by(struct(ts, value))`` tie-breaking exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from findb_spark.asof import asof_batch, asof_point, asof_range, point_lookup, range_scan
from findb_spark.prices import PRICES_ORACLE_CTE, prices_from_lineitem
from findb_spark.registry import register

# epoch('2000-01-01') — an asof instant inside the lineitem shipdate range
ASOF_2000 = 946684800

_ASOF_RANGE_SQL = f"""
WITH {PRICES_ORACLE_CTE},
f AS (
  SELECT asset_id, date, ts, value,
         ROW_NUMBER() OVER (PARTITION BY asset_id, date
                            ORDER BY ts DESC, value DESC) AS rn
  FROM prices_v
  WHERE asset_id = {{asset}} AND date BETWEEN {{start}} AND {{end}}
    AND ts <= {{asof}}
)
SELECT asset_id, date, ts, value FROM f WHERE rn = 1
"""


@register(
    "asof_range",
    _ASOF_RANGE_SQL.format(asset=1, start=19950101, end=20001231, asof=ASOF_2000),
    category="asof",
    description="Flagship bitemporal as-of range query (reference file.rs:425-570)",
)
def q_asof_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # date bounds pushed to the l_shipdate parquet scan (see prices_from_lineitem)
    prices = prices_from_lineitem(spark, sf_dir, 19950101, 20001231)
    return asof_range(prices, 1, 19950101, 20001231, ASOF_2000)


@register(
    "asof_point",
    _ASOF_RANGE_SQL.format(asset=3, start=19950101, end=19991231, asof=ASOF_2000),
    category="asof",
    description="Single-date degenerate as-of query (file.rs:649-672)",
)
def q_asof_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a range formulated as point queries per date: use range form for
    # deterministic multi-date coverage at every sf
    prices = prices_from_lineitem(spark, sf_dir)
    return asof_range(prices, 3, 19950101, 19991231, ASOF_2000)


@register(
    "asof_batch",
    f"""
WITH {PRICES_ORACLE_CTE},
q AS (
  SELECT i AS query_id, i + 1 AS asset_id,
         19950101 AS start_date, 19981231 AS end_date,
         {ASOF_2000} + i AS asof_ts
  FROM generate_series(0, 19) t(i)
),
j AS (
  SELECT q.query_id, p.asset_id, p.date, p.ts, p.value,
         ROW_NUMBER() OVER (PARTITION BY q.query_id, p.asset_id, p.date
                            ORDER BY p.ts DESC, p.value DESC) AS rn
  FROM prices_v p JOIN q ON p.asset_id = q.asset_id
   AND p.date BETWEEN q.start_date AND q.end_date AND p.ts <= q.asof_ts
)
SELECT query_id, asset_id, date, ts, value FROM j WHERE rn = 1
""",
    category="asof",
    description="Batched as-of evaluation — reference's stubbed bulk_query (file.rs:466-468)",
)
def q_asof_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batch bounds are known literals here: push them to the l_shipdate scan
    # and apply the ts ceiling inline — prune_bounds=False (round 13) skips
    # asof_batch's eager driver-side bounds aggregate, whose only purpose
    # is deriving exactly these literals when the query list is dynamic
    # (one whole Spark job per bench iteration for a statically-known
    # 20-row batch; result-identical, re-verified vs the oracle)
    prices = prices_from_lineitem(spark, sf_dir, 19950101, 19981231).where(
        F.col("ts") <= F.lit(ASOF_2000 + 19)
    )
    # the 20-row static batch as a true LocalRelation (round 14, guide
    # §1.2): spark.range(20) split the broadcast build into
    # defaultParallelism tasks (32 tasks for 20 literal rows, one whole
    # Spark job per evaluation) — as a LocalRelation the broadcast builds
    # driver-side with zero tasks.  Values are plain int64 literals,
    # bit-identical by construction.
    from findb_spark.session import local_relation_df

    queries = local_relation_df(
        spark,
        [
            (i, i + 1, 19950101, 19981231, ASOF_2000 + i)
            for i in range(20)
        ],
        "query_id bigint, asset_id bigint, start_date int, end_date int,"
        " asof_ts bigint",
    )
    return asof_batch(prices, queries, prune_bounds=False)


@register(
    "asof_snapshot_all_assets",
    f"""
WITH {PRICES_ORACLE_CTE},
f AS (
  SELECT asset_id, date, ts, value,
         ROW_NUMBER() OVER (PARTITION BY asset_id, date
                            ORDER BY ts DESC, value DESC) AS rn
  FROM prices_v
  WHERE date BETWEEN 19960101 AND 19961231 AND ts <= {ASOF_2000}
)
SELECT asset_id, date, ts, value FROM f WHERE rn = 1
""",
    category="asof",
    description="Cross-sectional as-of snapshot: latest revision per (asset, date) for all assets in a window",
)
def q_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.asof import _latest_revision

    prices = prices_from_lineitem(spark, sf_dir, 19960101, 19961231)
    filtered = prices.where(
        F.col("date").between(19960101, 19961231) & (F.col("ts") <= ASOF_2000)
    )
    # the load-bearing tie-break semantics live in ONE place (asof.py)
    return _latest_revision(["asset_id", "date"], filtered)


@register(
    "point_lookup",
    f"WITH {PRICES_ORACLE_CTE} SELECT asset_id, date, ts, value FROM prices_v WHERE asset_id = 7",
    category="asof",
    description="Exact-key lookup (reference mem.rs:387-393); prunes to one file on clustered layout",
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return point_lookup(prices_from_lineitem(spark, sf_dir), "asset_id", 7)


@register(
    "range_scan",
    f"WITH {PRICES_ORACLE_CTE} SELECT asset_id, date, ts, value FROM prices_v WHERE asset_id BETWEEN 10 AND 20",
    category="asof",
    description="Inclusive ascending key-range scan (reference mem.rs:395-404)",
)
def q_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return range_scan(prices_from_lineitem(spark, sf_dir), "asset_id", 10, 20)


@register(
    "asof_join_shifted",
    f"""
WITH {PRICES_ORACLE_CTE},
rdedup AS (
  SELECT asset_id, ts, MAX(value) AS value FROM prices_v GROUP BY asset_id, ts
),
probes AS (SELECT asset_id, ts AS probe_ts, ts + 3600 AS qts FROM rdedup),
j AS (
  SELECT p.asset_id, p.probe_ts, p.qts, r.ts AS matched_ts, r.value AS matched_value
  FROM probes p ASOF LEFT JOIN rdedup r
    ON p.asset_id = r.asset_id AND r.ts <= p.qts
)
SELECT asset_id, probe_ts, qts, matched_ts, matched_value FROM j
""",
    category="asof",
    description=(
        "Generic as-of (trades-to-quotes) join via the union+last_value trick "
        "— one shuffle, no range-join explosion (findb_spark.asof.asof_join)"
    ),
)
def q_asof_join_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-13 rewrite (guide §2.4 — remove shuffles outright): the probe
    side IS the value side here (every probe is a value row shifted
    +3600 s), so the generic union+last_value :func:`findb_spark.asof.
    asof_join` evaluated the whole ``rdedup`` subtree TWICE (two lineitem
    scans + two (asset_id, ts) aggregates) and paid a union exchange +
    window sort on 2x the rows — 6 Exchanges and 2 scans in its physical
    plan.  A range-frame window over the single deduped relation
    computes the identical ASOF-backward match: with
    unique ts per (asset_id, ts) group, the last row of the frame
    ``[unbounded preceding, ts + 3600 following]`` ordered by ts is
    exactly the row with the largest ts' <= ts + 3600 — DuckDB's
    ``ASOF LEFT JOIN ... ON r.ts <= p.qts`` (the frame always contains
    the current row, so the left join always matches, never NULL).

    The leading ``repartition("asset_id")`` makes ONE exchange serve both
    the (asset_id, ts) aggregate (hash(asset_id) satisfies the clustered
    distribution on (asset_id, ts)) and the window's partitionBy —
    1 Exchange, 1 scan total.  The traded-away map-side partial
    aggregation is worthless here: (asset_id, ts) keys are ~unique by
    construction (ts embeds the line number), so the partial aggregate
    removed no rows.  Oracle SQL unchanged — bit-exact at
    sf0.001/0.01/0.1 re-verified after the rewrite."""
    prices = prices_from_lineitem(spark, sf_dir)
    rdedup = (
        prices.repartition("asset_id")
        .groupBy("asset_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    w = (
        Window.partitionBy("asset_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, 3600)
    )
    return rdedup.select(
        "asset_id",
        F.col("ts").alias("probe_ts"),
        (F.col("ts") + 3600).alias("qts"),
        F.last("ts").over(w).alias("matched_ts"),
        F.last("value").over(w).alias("matched_value"),
    )


@register(
    "asof_join_forward",
    f"""
WITH {PRICES_ORACLE_CTE},
rdedup AS (
  SELECT asset_id, ts, MAX(value) AS value FROM prices_v GROUP BY asset_id, ts
),
probes AS (SELECT asset_id, ts AS probe_ts, ts - 3600 AS qts FROM rdedup),
j AS (
  SELECT p.asset_id, p.probe_ts, p.qts, r.ts AS matched_ts, r.value AS matched_value
  FROM probes p ASOF LEFT JOIN rdedup r
    ON p.asset_id = r.asset_id AND r.ts >= p.qts
)
SELECT asset_id, probe_ts, qts, matched_ts, matched_value FROM j
""",
    category="asof",
    description=(
        "Forward as-of join (next-known-value >= t): the same union+running-"
        "scan formulation walked in descending time order — one shuffle, no "
        "range explosion (oracle: DuckDB native ASOF with >=)"
    ),
)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.asof import asof_join

    prices = prices_from_lineitem(spark, sf_dir)
    rdedup = prices.groupBy("asset_id", "ts").agg(F.max("value").alias("value"))
    probes = rdedup.select(
        "asset_id", F.col("ts").alias("probe_ts"), (F.col("ts") - 3600).alias("qts")
    )
    return asof_join(
        probes, rdedup, on="asset_id", left_time="qts", right_time="ts",
        direction="forward",
    )


@register(
    "asof_join_tolerance",
    f"""
WITH {PRICES_ORACLE_CTE},
rdedup AS (
  SELECT asset_id, ts, MAX(value) AS value FROM prices_v GROUP BY asset_id, ts
),
probes AS (SELECT asset_id, ts AS probe_ts, ts + 90000 AS qts FROM rdedup),
j AS (
  SELECT p.asset_id, p.probe_ts, p.qts, r.ts AS matched_ts, r.value AS matched_value
  FROM probes p ASOF LEFT JOIN rdedup r
    ON p.asset_id = r.asset_id AND r.ts <= p.qts
)
SELECT asset_id, probe_ts, qts,
       CASE WHEN qts - matched_ts > 3600 THEN NULL ELSE matched_ts END AS matched_ts,
       CASE WHEN qts - matched_ts > 3600 THEN NULL ELSE matched_value END AS matched_value
FROM j
""",
    category="asof",
    description=(
        "As-of join with a staleness tolerance (pandas merge_asof "
        "tolerance semantics): matches older than the window are nulled in "
        "a pure post-projection — same one-shuffle running-scan plan"
    ),
)
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.asof import asof_join

    prices = prices_from_lineitem(spark, sf_dir)
    rdedup = prices.groupBy("asset_id", "ts").agg(F.max("value").alias("value"))
    probes = rdedup.select(
        "asset_id", F.col("ts").alias("probe_ts"), (F.col("ts") + 90000).alias("qts")
    )
    return asof_join(
        probes, rdedup, on="asset_id", left_time="qts", right_time="ts",
        tolerance=3600,
    )


@register(
    "revision_stats",
    f"""
WITH {PRICES_ORACLE_CTE}
SELECT asset_id,
       COUNT(*) AS n_revisions,
       COUNT(DISTINCT date) AS n_dates,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM prices_v GROUP BY asset_id
""",
    category="asof",
    description="Revision-history profile per asset (bitemporal storage observability)",
)
def q_revision_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        prices_from_lineitem(spark, sf_dir)
        .groupBy("asset_id")
        .agg(
            F.count("*").alias("n_revisions"),
            F.countDistinct("date").alias("n_dates"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


@register(
    "scd2_price_intervals",
    f"""
WITH {PRICES_ORACLE_CTE},
rdedup AS (
  SELECT asset_id, date, ts, MAX(value) AS value
  FROM prices_v GROUP BY asset_id, date, ts
)
SELECT asset_id, date, value,
       ts AS valid_from_ts,
       LEAD(ts) OVER (PARTITION BY asset_id, date ORDER BY ts) AS valid_to_ts,
       CASE WHEN LEAD(ts) OVER (PARTITION BY asset_id, date ORDER BY ts)
                 IS NULL THEN 1 ELSE 0 END AS is_current
FROM rdedup
""",
    category="asof",
    description=(
        "SCD2 system-time materialization: the bitemporal revision history "
        "as [valid_from_ts, valid_to_ts) intervals + is_current flag (one "
        "window pass) — the warehouse view of the reference's revision "
        "semantics (mem.rs:406-437); an as-of query is then a plain "
        "BETWEEN filter on the intervals"
    ),
)
def q_scd2_price_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_lineitem(spark, sf_dir)
    rdedup = prices.groupBy("asset_id", "date", "ts").agg(
        F.max("value").alias("value")
    )
    w = Window.partitionBy("asset_id", "date").orderBy("ts")
    nxt = F.lead("ts").over(w)
    return rdedup.select(
        "asset_id",
        "date",
        "value",
        F.col("ts").alias("valid_from_ts"),
        nxt.alias("valid_to_ts"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )



@register(
    "pit_feature_join",
    f"""
WITH {PRICES_ORACLE_CTE},
daily AS (
  SELECT asset_id, date, value FROM (
    SELECT asset_id, date, value,
           ROW_NUMBER() OVER (PARTITION BY asset_id, date
                              ORDER BY ts DESC, value DESC) AS rn
    FROM prices_v WHERE ts <= {ASOF_2000} AND asset_id <= 50)
  WHERE rn = 1
),
iv AS (
  SELECT asset_id, value,
         CAST(strptime(CAST(date AS VARCHAR), '%Y%m%d') AS DATE) AS d0,
         LEAD(date) OVER (PARTITION BY asset_id ORDER BY date) AS nd
  FROM daily
),
iv2 AS (
  SELECT asset_id, value, d0,
         CASE WHEN nd IS NULL THEN d0 + 1
              ELSE CAST(strptime(CAST(nd AS VARCHAR), '%Y%m%d') AS DATE)
         END AS d1
  FROM iv
),
probe AS (
  SELECT l_partkey AS asset_id,
         CAST(l_shipdate AS DATE) AS d,
         l_returnflag AS flag,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem WHERE l_partkey <= 50
)
SELECT p.flag,
       CAST(COUNT(*) AS BIGINT) AS n_joined,
       CAST(SUM(CAST(FLOOR(iv2.value * p.qty * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100 AS sum_feature_qty
FROM probe p JOIN iv2
  ON p.asset_id = iv2.asset_id AND p.d >= iv2.d0 AND p.d < iv2.d1
GROUP BY p.flag
""",
    category="asof",
    description=(
        "Point-in-time feature-store join (the ML-training enrichment "
        "that prevents temporal leakage): every lineitem row gets the "
        "feature value whose validity interval [observed_date, "
        "next_observed_date) contains its ship date — per-asset SCD2 "
        "intervals probed via a KEYED day-binned interval equi-join "
        "(ops/interval.py by=[asset_id]), never a raw range join"
    ),
)
def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval twin of the as-of family: asof_join answers 'latest
    value <= t' with union+last_value per probe; this materializes
    validity INTERVALS once (the feature-store snapshot layout) and
    probes them with an (asset, day-bin) equi-join + exact containment
    filter — the right shape when one snapshot serves many training
    runs.  Both sides shuffle once on (asset, bin); a hot calendar bin
    cannot fan out across assets because the key is in the join."""
    from pyspark.sql import Window

    from findb_spark.ops.finance import daily_series
    from findb_spark.ops.interval import interval_join
    from findb_spark.session import load_table

    daily = daily_series(
        prices_from_lineitem(spark, sf_dir), ASOF_2000, max_asset=50
    )
    wd = Window.partitionBy("asset_id").orderBy("date")
    iv = daily.select(
        "asset_id",
        "value",
        F.to_date(F.col("date").cast("string"), "yyyyMMdd").alias("d0"),
        F.lead("date").over(wd).alias("nd"),
    ).select(
        "asset_id",
        "value",
        "d0",
        F.when(F.col("nd").isNull(), F.date_add(F.col("d0"), 1))
        .otherwise(F.to_date(F.col("nd").cast("string"), "yyyyMMdd"))
        .alias("d1"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    probe = li.where(F.col("l_partkey") <= 50).select(
        F.col("l_partkey").alias("asset_id"),
        F.col("l_shipdate").cast("date").alias("d"),
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint").alias("qty"),
    )
    j = interval_join(probe, iv, "d", "d0", "d1", by=["asset_id"])
    return j.groupBy("flag").agg(
        F.count("*").cast("bigint").alias("n_joined"),
        (
            F.sum(
                F.floor(F.col("value") * F.col("qty") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).cast("double")
            / 100
        ).alias("sum_feature_qty"),
    )
