"""Window-function query specs over the bitemporal daily series (SURVEY §2.2
'Window functions' row): moving average, lag returns, cumulative sums,
cross-sectional ranking — the finance analytics layer of the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from findb_spark.ops.finance import (
    cross_sectional_rank,
    cumulative_sum,
    daily_series,
    moving_average,
    pct_returns,
)
from findb_spark.prices import PRICES_ORACLE_CTE, prices_from_lineitem
from findb_spark.queries.asof_queries import ASOF_2000
from findb_spark.registry import register

# Shared oracle CTE: the deduped daily series for assets 1..50 as of 2000-01-01
_DAILY_CTE = f"""
{PRICES_ORACLE_CTE},
daily AS (
  SELECT asset_id, date, value FROM (
    SELECT asset_id, date, value,
           ROW_NUMBER() OVER (PARTITION BY asset_id, date
                              ORDER BY ts DESC, value DESC) AS rn
    FROM prices_v WHERE ts <= {ASOF_2000} AND asset_id <= 50)
  WHERE rn = 1
)
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared PIT daily series every ts_* analytics query consumes.

    ``end_date=19991231`` is the pushdown twin of ``daily_series``'s
    ``ts <= ASOF_2000`` filter: ts = epoch(l_shipdate) + l_linenumber
    with l_linenumber >= 1, so ts <= epoch(2000-01-01) EXACTLY implies
    l_shipdate < 2000-01-01 — a source-column bound that lands in the
    parquet scan's PushedFilters, where the derived-ts predicate cannot.
    The driver data spans 1995–2001, so the bound skips the ~2/7 of the
    table after the as-of point for all ~29 consumers of this relation
    (at 100 TB: the difference between scanning the as-of range and the
    whole history).  Implied, not additional — every consumer's output
    is bit-identical (whole-registry oracle sweep re-verified).

    PERSISTED (the ``hashed_shingle_arrays`` suite-shared-relation
    convention, round-8): all ~29 ts_* consumers build the identical
    scan→derive→window-dedup plan prefix, and Spark's CacheManager
    substitutes cached relations by CANONICALIZED plan equality across
    separate calls — whichever query runs first materializes the daily
    series once (bounded: <= 50 assets x calendar days at any SF) and
    every later consumer reads the cached rows instead of re-running
    the full scan + window."""
    from pyspark.storagelevel import StorageLevel

    return daily_series(
        prices_from_lineitem(spark, sf_dir, end_date=19991231),
        ASOF_2000,
        max_asset=50,
    ).persist(StorageLevel.MEMORY_AND_DISK)


@register(
    "ts_moving_avg",
    f"""
WITH {_DAILY_CTE}
SELECT asset_id, date, value,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
            OVER (PARTITION BY asset_id ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
       / COUNT(*) OVER (PARTITION BY asset_id ORDER BY date
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sma_5
FROM daily
""",
    category="timeseries",
    description="5-day trailing moving average per asset (windowed fixed-point sum)",
)
def ts_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return moving_average(_daily(spark, sf_dir), 5)


@register(
    "ts_lag_returns",
    f"""
WITH {_DAILY_CTE}
SELECT asset_id, date, value,
       value / LAG(value) OVER (PARTITION BY asset_id ORDER BY date) - 1 AS ret
FROM daily
""",
    category="timeseries",
    description="Day-over-day returns via LAG (point-in-time correct: built on the as-of snapshot)",
)
def ts_lag_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pct_returns(_daily(spark, sf_dir))


@register(
    "ts_cumulative",
    f"""
WITH {_DAILY_CTE}
SELECT asset_id, date, value,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
            OVER (PARTITION BY asset_id ORDER BY date
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100 AS cum_value
FROM daily
""",
    category="timeseries",
    description="Running cumulative total per asset (exact fixed-point accumulation)",
)
def ts_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cumulative_sum(_daily(spark, sf_dir))


@register(
    "ts_range_frame",
    f"""
WITH {_DAILY_CTE}
SELECT asset_id, date, value,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
            OVER (PARTITION BY asset_id ORDER BY date
                  RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
         AS trailing_year_sum
FROM daily
""",
    category="timeseries",
    description="RANGE-frame window: trailing calendar-window sum keyed on the date value, not row count",
)
def ts_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window, functions as F

    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("asset_id")
        .orderBy("date")
        .rangeBetween(-10000, 0)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5))
    return daily.select(
        "asset_id",
        "date",
        "value",
        (F.sum(cents).over(w).cast("double") / 100).alias("trailing_year_sum"),
    )


@register(
    "ts_first_last",
    f"""
WITH {_DAILY_CTE}
SELECT asset_id, date, value,
       FIRST_VALUE(value) OVER w AS first_val,
       LAST_VALUE(value) OVER w AS last_val,
       NTH_VALUE(value, 2) OVER w AS second_val
FROM daily
WINDOW w AS (PARTITION BY asset_id ORDER BY date
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    category="timeseries",
    description="Analytic first/last/nth value over full-partition frames",
)
def ts_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window, functions as F

    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("asset_id")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return daily.select(
        "asset_id",
        "date",
        "value",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


@register(
    "ts_ntile_pct_rank",
    f"""
WITH {_DAILY_CTE}
SELECT asset_id, date, value,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank
FROM daily
WINDOW w AS (PARTITION BY asset_id ORDER BY value, date)
""",
    category="timeseries",
    description="Distribution ranking: NTILE quartiles + PERCENT_RANK per asset",
)
def ts_ntile_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window, functions as F

    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("asset_id").orderBy("value", "date")
    return daily.select(
        "asset_id",
        "date",
        "value",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


@register(
    "ts_resample_ffill",
    f"""
WITH {_DAILY_CTE},
obs AS (
  SELECT asset_id, strptime(CAST(date AS VARCHAR), '%Y%m%d')::DATE AS d, value
  FROM daily
),
b AS (SELECT asset_id, MIN(d) AS d0, MAX(d) AS d1 FROM obs GROUP BY asset_id),
cal AS (
  SELECT asset_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM b
),
j AS (
  SELECT cal.asset_id, cal.d, obs.value
  FROM cal LEFT JOIN obs ON cal.asset_id = obs.asset_id AND cal.d = obs.d
)
SELECT asset_id,
       CAST(strftime(d, '%Y%m%d') AS INT) AS date,
       LAST_VALUE(value IGNORE NULLS)
         OVER (PARTITION BY asset_id ORDER BY d ROWS UNBOUNDED PRECEDING) AS value,
       CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS is_observed
FROM j
""",
    category="timeseries",
    description="Calendar resample + forward fill: dense per-asset daily axis (sequence/explode), last observation carried forward",
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.finance import resample_ffill

    return resample_ffill(_daily(spark, sf_dir))


@register(
    "ts_vwap",
    """
SELECT l_partkey AS asset_id,
       CAST(strftime(l_shipdate, '%Y%m') AS INT) AS month,
       CAST(SUM(CAST(FLOOR(l_extendedprice * l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         / CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS vwap,
       CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_qty,
       COUNT(*) AS n_trades
FROM lineitem GROUP BY 1, 2
""",
    category="timeseries",
    description="Volume-weighted average price per (asset, month) — exact fixed-point sums, single divide",
)
def ts_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from findb_spark.ops.finance import vwap
    from findb_spark.session import load_table

    from findb_spark.functions.dates import yyyymmdd_int

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("asset_id"),
        yyyymmdd_int("l_shipdate").alias("date"),
        F.col("l_extendedprice").alias("value"),
        F.col("l_quantity").alias("qty"),
    )
    return vwap(li, "qty")


@register(
    "stats_corr",
    """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS sx,
         SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS sy,
         SUM(CAST(FLOOR(l_quantity) AS BIGINT) * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS sxy,
         SUM(CAST(FLOOR(l_quantity) AS BIGINT) * CAST(FLOOR(l_quantity) AS BIGINT)) AS sxx,
         SUM(CAST(FLOOR(l_extendedprice) AS BIGINT) * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS syy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS corr_qty_price,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS covar_qty_price
FROM s
""",
    category="timeseries",
    description="Deterministic Pearson correlation / sample covariance from exact integer moment sums (floored units)",
)
def stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from findb_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity")).cast("bigint")
    y = F.floor(F.col("l_extendedprice")).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = nd * sxyd - sxd * syd
    return s.select(
        "l_returnflag",
        "n",
        (num / (F.sqrt(nd * sxxd - sxd * sxd) * F.sqrt(nd * syyd - syd * syd))).alias(
            "corr_qty_price"
        ),
        (num / (nd * (nd - F.lit(1.0)))).alias("covar_qty_price"),
    )


@register(
    "ts_linreg_slope",
    f"""
WITH {_DAILY_CTE},
m AS (
  SELECT asset_id,
         COUNT(*) AS n,
         SUM(CAST(date_diff('day', DATE '1970-01-01',
                            strptime(CAST(date AS VARCHAR), '%Y%m%d')::DATE) AS BIGINT)) AS sx,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS sy,
         SUM(CAST(date_diff('day', DATE '1970-01-01',
                            strptime(CAST(date AS VARCHAR), '%Y%m%d')::DATE) AS BIGINT)
             * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS sxy,
         SUM(CAST(date_diff('day', DATE '1970-01-01',
                            strptime(CAST(date AS VARCHAR), '%Y%m%d')::DATE) AS BIGINT)
             * CAST(date_diff('day', DATE '1970-01-01',
                              strptime(CAST(date AS VARCHAR), '%Y%m%d')::DATE) AS BIGINT)) AS sxx
  FROM daily GROUP BY asset_id
)
SELECT asset_id, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / 100 AS slope_per_day
FROM m WHERE n > 1
""",
    category="timeseries",
    description="Per-asset OLS trend slope (value vs calendar day) from exact integer moment sums — deterministic regression without ML libs",
)
def ts_linreg_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    daily = _daily(spark, sf_dir)
    x = F.unix_date(F.to_date(F.col("date").cast("string"), "yyyyMMdd")).cast("bigint")
    y = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    m = daily.groupBy("asset_id").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return m.where(F.col("n") > 1).select(
        "asset_id",
        "n",
        ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) / 100).alias("slope_per_day"),
    )


@register(
    "ts_cross_rank",
    f"""
WITH {_DAILY_CTE}
SELECT asset_id, date, value,
       ROW_NUMBER() OVER (PARTITION BY date ORDER BY value DESC, asset_id) AS value_rank
FROM daily
""",
    category="timeseries",
    description="Cross-sectional per-date ranking of assets by value",
)
def ts_cross_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cross_sectional_rank(_daily(spark, sf_dir))


@register(
    "ts_ohlc_bars",
    f"""
WITH {PRICES_ORACLE_CTE},
b AS (
  SELECT asset_id, CAST(date // 100 AS INT) AS month, value,
         FIRST_VALUE(value) OVER (PARTITION BY asset_id, date // 100
                                  ORDER BY date, ts, value) AS open,
         FIRST_VALUE(value) OVER (PARTITION BY asset_id, date // 100
                                  ORDER BY date DESC, ts DESC, value DESC) AS close
  FROM prices_v
)
SELECT asset_id, month, MIN(open) AS open, MAX(value) AS high,
       MIN(value) AS low, MIN(close) AS close, COUNT(*) AS n_rev
FROM b GROUP BY asset_id, month
""",
    category="timeseries",
    description=(
        "Monthly OHLC bars over the raw revision stream (window-tagged "
        "open/close + grouped extremes, one shuffle; deterministic "
        "tiebreaks, no sums -> exact cross-engine)"
    ),
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.finance import monthly_ohlc_bars

    return monthly_ohlc_bars(prices_from_lineitem(spark, sf_dir))


@register(
    "ts_drawdown",
    f"""
WITH {_DAILY_CTE}
SELECT asset_id, date, value,
       MAX(value) OVER (PARTITION BY asset_id ORDER BY date
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max,
       value / MAX(value) OVER (PARTITION BY asset_id ORDER BY date
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - 1.0 AS drawdown
FROM daily
""",
    category="timeseries",
    description="Running-peak drawdown per asset (order-independent max window, one shuffle)",
)
def ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.finance import drawdown

    return drawdown(_daily(spark, sf_dir))


def _ewma_sql(alpha: float = 0.2, n_terms: int = 10) -> str:
    weights = [alpha * (1.0 - alpha) ** k for k in range(n_terms)]
    norm = sum(weights)
    terms = " + ".join(
        f"LAG(value, {k}) OVER w * {w!r}" for k, w in enumerate(weights)
    )
    return f"""
WITH {_DAILY_CTE},
e AS (
  SELECT asset_id, date, value,
         ({terms}) / {norm!r} AS ewma,
         ROW_NUMBER() OVER w AS rn
  FROM daily
  WINDOW w AS (PARTITION BY asset_id ORDER BY date)
)
SELECT asset_id, date, value, ewma FROM e WHERE rn >= {n_terms}
"""


@register(
    "ts_ewma",
    _ewma_sql(),
    category="timeseries",
    description=(
        "10-term truncated EWMA as a fixed lag-expression window (no "
        "recursion/UDF; weight literals identical in both engines)"
    ),
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.finance import ewma

    return ewma(_daily(spark, sf_dir), alpha=0.2, n_terms=10)


@register(
    "corr_matrix_assets",
    f"""
WITH {_DAILY_CTE},
d AS (
  SELECT asset_id, date // 100 AS month,
         ARG_MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), date) AS v
  FROM daily WHERE asset_id <= 10
  GROUP BY 1, 2
),
p AS (
  SELECT a.asset_id AS a1, b.asset_id AS a2,
         COUNT(*) AS n,
         SUM(a.v) AS sx, SUM(b.v) AS sy,
         SUM(a.v * b.v) AS sxy,
         SUM(a.v * a.v) AS sxx, SUM(b.v * b.v) AS syy
  FROM d a JOIN d b ON a.month = b.month AND a.asset_id < b.asset_id
  GROUP BY 1, 2
)
SELECT a1, a2, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS corr
FROM p WHERE n >= 2
""",
    category="timeseries",
    description=(
        "Pairwise asset correlation matrix over MONTH-END prices: "
        "month-aligned self-join + exact integer moment sums (one shuffle "
        "on month, Pearson from closed form).  Monthly since round 11: "
        "per-DAY alignment went structurally empty as the asset space "
        "outgrew per-asset observations (~30 dates/asset at sf0.1 — two "
        "sparse daily series share almost no exact dates), the identical "
        "sparsity class ts_zscore_xsection hit in round 9; month-end "
        "alignment is dense at every SF and calendar-bounds every moment "
        "(n <= months, int64-safe at any data size).  At K assets the "
        "join is K^2-per-month — for wide K pivot to per-month vectors "
        "and matrix-multiply instead"
    ),
)
def corr_matrix_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = (
        _daily(spark, sf_dir)
        .where(F.col("asset_id") <= 10)
        .groupBy("asset_id", F.expr("date div 100").alias("month"))
        .agg(
            F.max_by(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"),
                F.col("date"),
            ).alias("v")
        )
    )
    a, b = d.alias("a"), d.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.month") == F.col("b.month"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .groupBy(F.col("a.asset_id").alias("a1"), F.col("b.asset_id").alias("a2"))
        .agg(
            F.count("*").alias("n"),
            F.sum("a.v").alias("sx"),
            F.sum("b.v").alias("sy"),
            F.sum(F.col("a.v") * F.col("b.v")).alias("sxy"),
            F.sum(F.col("a.v") * F.col("a.v")).alias("sxx"),
            F.sum(F.col("b.v") * F.col("b.v")).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    den = F.sqrt(nd * F.col("sxx").cast("double") - sxd * sxd) * F.sqrt(
        nd * F.col("syy").cast("double") - syd * syd
    )
    return p.where(F.col("n") >= 2).select("a1", "a2", "n", (num / den).alias("corr"))
