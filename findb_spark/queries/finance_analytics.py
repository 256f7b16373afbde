"""Advanced finance analytics over the bitemporal daily series (SURVEY §2.2
'Window functions' / 'Aggregations' rows, extending ops/finance.py): Bollinger
bands, rolling beta/correlation vs an equal-weight market, autocorrelation,
MACD, day-of-week seasonality, cross-sectional z-score outliers, and the
bitemporal snapshot diff (what changed between two knowledge times — the
introspection query the reference's revision model implies, file.rs:508-570,
but never shipped).

Numeric parity strategy (see queries/parity.py): every moment (mean, var,
cov) is assembled from exact fixed-point integer sums — window sums of
int64 are associativity-independent, so Spark's window buffers and DuckDB's
segment trees agree bit-for-bit — and the final divides/sqrt are the same
IEEE op sequence on both engines (sqrt is correctly rounded by IEEE-754).

Scale: everything is one shuffle on asset_id (the window partitioning) plus,
for the market join, one tiny per-date aggregate that broadcasts.  No
self-joins, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from findb_spark.prices import PRICES_ORACLE_CTE, prices_from_lineitem
from findb_spark.queries.asof_queries import ASOF_2000
from findb_spark.queries.parity import fxp_sum, fxp_sum_sql
from findb_spark.queries.timeseries import _DAILY_CTE, _daily
from findb_spark.registry import register

# ---------------------------------------------------------------------------
# shared CTE fragments: cents-quantized series and fixed-point returns
# ---------------------------------------------------------------------------

_CENTS_CTE = """
cents AS (
  SELECT asset_id, date, value,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM daily
)
"""

#: day-over-day returns quantized at 1e-4 — the double division
#: ``value/lag(value)`` is a single correctly-rounded op (identical on both
#: engines), and the floor lands it in exact integer space for the window
#: sums.  Return magnitudes are bounded by the price ratio (~1e2), so
#: ri <= ~1e6 and every product/sum below stays far inside int64.
_RET_CTE = """
ret AS (
  SELECT asset_id, date,
         value / LAG(value) OVER (PARTITION BY asset_id ORDER BY date) - 1 AS r
  FROM daily
),
ri AS (
  SELECT asset_id, date, CAST(FLOOR(r * 10000 + 0.5) AS BIGINT) AS ri
  FROM ret WHERE r IS NOT NULL
)
"""


@register(
    "ts_bollinger",
    f"""
WITH {_DAILY_CTE},
{_CENTS_CTE},
wnd AS (
  SELECT asset_id, date, value,
         COUNT(*) OVER w AS n, SUM(c) OVER w AS s, SUM(c * c) OVER w AS sq
  FROM cents
  WINDOW w AS (PARTITION BY asset_id ORDER BY date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT asset_id, date, value,
       CAST(s AS DOUBLE) / n / 100 AS sma20,
       (CAST(s AS DOUBLE) / n
        + 2 * SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n))) / 100 AS upper_band,
       (CAST(s AS DOUBLE) / n
        - 2 * SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n))) / 100 AS lower_band
FROM wnd WHERE n = 20
""",
    category="timeseries",
    description=(
        "Bollinger bands: 20-day SMA +/- 2 population stddev from exact "
        "fixed-point window sums (sum, sum-of-squares in int64 cents)"
    ),
)
def ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("asset_id")
        .orderBy("date")
        .rowsBetween(-19, 0)
    )
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    wnd = daily.select(
        "asset_id",
        "date",
        "value",
        F.count("*").over(w).alias("n"),
        F.sum(c).over(w).alias("s"),
        F.sum(c * c).over(w).alias("sq"),
    ).where("n = 20")
    return wnd.select(
        "asset_id",
        "date",
        "value",
        F.expr("CAST(s AS DOUBLE) / n / 100").alias("sma20"),
        F.expr(
            "(CAST(s AS DOUBLE) / n"
            " + 2 * SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n))) / 100"
        ).alias("upper_band"),
        F.expr(
            "(CAST(s AS DOUBLE) / n"
            " - 2 * SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n))) / 100"
        ).alias("lower_band"),
    )


@register(
    "ts_rolling_beta",
    f"""
WITH {_DAILY_CTE},
{_RET_CTE},
mkt AS (
  -- equal-weight market return per date, floored back into integer space so
  -- every downstream window moment stays exact int64
  SELECT date, CAST(FLOOR(CAST(SUM(ri) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mi
  FROM ri GROUP BY date
),
j AS (SELECT ri.asset_id, ri.date, ri.ri, mkt.mi FROM ri JOIN mkt USING (date)),
wnd AS (
  SELECT asset_id, date,
         COUNT(*) OVER w AS n,
         SUM(ri) OVER w AS sx, SUM(mi) OVER w AS sy,
         SUM(ri * mi) OVER w AS sxy,
         SUM(ri * ri) OVER w AS sxx, SUM(mi * mi) OVER w AS syy
  FROM j
  WINDOW w AS (PARTITION BY asset_id ORDER BY date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT asset_id, date,
       CAST(n * sxy - sx * sy AS DOUBLE) / (n * syy - sy * sy) AS beta,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
         AS corr_mkt
FROM wnd
WHERE n = 20 AND n * syy - sy * sy > 0 AND n * sxx - sx * sx > 0
""",
    category="timeseries",
    description=(
        "20-day rolling beta + correlation of each asset's returns vs the "
        "equal-weight market: returns fixed-point at 1e-4, market mean "
        "floored to int, all moments exact int64 window sums"
    ),
)
def ts_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wlag = Window.partitionBy("asset_id").orderBy("date")
    ret = daily.select(
        "asset_id",
        "date",
        (F.col("value") / F.lag("value").over(wlag) - 1).alias("r"),
    )
    ri = ret.where(F.col("r").isNotNull()).select(
        "asset_id",
        "date",
        F.floor(F.col("r") * 10000 + F.lit(0.5)).cast("bigint").alias("ri"),
    )
    # round-13 (guide §5 caching note): ri feeds BOTH the broadcast market
    # aggregate and the join probe side — without truncation the whole
    # lag-window subtree over the daily series ran twice (once inside the
    # broadcast-build job, once in the main plan).  persist() materializes
    # it once (the broadcast-build job populates the cache, the probe side
    # reads it) while staying fully LAZY at plan-construction time — a
    # localCheckpoint here looks cheaper but its .rdd access executes the
    # upstream shuffle stages eagerly under AQE, silently moving real
    # compute into the bench's (unbilled) build phase.  InMemoryRelation
    # preserves the child's (asset_id) partitioning/ordering, so the
    # rolling window below still pipelines with no new exchange.  Block
    # lifetime: module persist convention (release_caches between sweeps);
    # ri is one narrow row per (asset, day).
    from pyspark.storagelevel import StorageLevel

    ri = ri.persist(StorageLevel.MEMORY_AND_DISK)
    mkt = ri.groupBy("date").agg(
        F.expr("CAST(FLOOR(CAST(SUM(ri) AS DOUBLE) / COUNT(*)) AS BIGINT)").alias("mi")
    )
    j = ri.join(F.broadcast(mkt), "date").select("asset_id", "date", "ri", "mi")
    w = Window.partitionBy("asset_id").orderBy("date").rowsBetween(-19, 0)
    wnd = j.select(
        "asset_id",
        "date",
        F.count("*").over(w).alias("n"),
        F.sum("ri").over(w).alias("sx"),
        F.sum("mi").over(w).alias("sy"),
        F.sum(F.col("ri") * F.col("mi")).over(w).alias("sxy"),
        F.sum(F.col("ri") * F.col("ri")).over(w).alias("sxx"),
        F.sum(F.col("mi") * F.col("mi")).over(w).alias("syy"),
    ).where("n = 20 AND n * syy - sy * sy > 0 AND n * sxx - sx * sx > 0")
    return wnd.select(
        "asset_id",
        "date",
        F.expr("CAST(n * sxy - sx * sy AS DOUBLE) / (n * syy - sy * sy)").alias("beta"),
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE))"
        ).alias("corr_mkt"),
    )


@register(
    "ts_autocorr",
    f"""
WITH {_DAILY_CTE},
{_RET_CTE},
lagged AS (
  SELECT asset_id, ri,
         LAG(ri) OVER (PARTITION BY asset_id ORDER BY date) AS rj
  FROM ri
),
m AS (
  SELECT asset_id, COUNT(*) AS n,
         SUM(ri) AS sx, SUM(rj) AS sy, SUM(ri * rj) AS sxy,
         SUM(ri * ri) AS sxx, SUM(rj * rj) AS syy
  FROM lagged WHERE rj IS NOT NULL GROUP BY asset_id
)
SELECT asset_id, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
         AS autocorr_lag1
FROM m WHERE n >= 30 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
    category="timeseries",
    description=(
        "Lag-1 autocorrelation of daily returns per asset (mean-reversion "
        "screen): exact integer moment sums, one shuffle"
    ),
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wlag = Window.partitionBy("asset_id").orderBy("date")
    ri = (
        daily.select(
            "asset_id",
            "date",
            (F.col("value") / F.lag("value").over(wlag) - 1).alias("r"),
        )
        .where(F.col("r").isNotNull())
        .select(
            "asset_id",
            "date",
            F.floor(F.col("r") * 10000 + F.lit(0.5)).cast("bigint").alias("ri"),
        )
    )
    lagged = ri.select(
        "asset_id", "ri", F.lag("ri").over(wlag).alias("rj")
    ).where(F.col("rj").isNotNull())
    m = lagged.groupBy("asset_id").agg(
        F.count("*").alias("n"),
        F.sum("ri").alias("sx"),
        F.sum("rj").alias("sy"),
        F.sum(F.col("ri") * F.col("rj")).alias("sxy"),
        F.sum(F.col("ri") * F.col("ri")).alias("sxx"),
        F.sum(F.col("rj") * F.col("rj")).alias("syy"),
    ).where("n >= 30 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0")
    return m.select(
        "asset_id",
        "n",
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE))"
        ).alias("autocorr_lag1"),
    )


# ---------------------------------------------------------------------------
# MACD: two truncated EMAs + a truncated-EMA signal line (see ops/finance.py
# ewma for why truncation: the exact recursion is non-associative; the K-term
# form is a FIXED lag expression — no iteration, no UDF, weight literals
# embedded identically in both plans)
# ---------------------------------------------------------------------------

_MACD_K = 8


def _ema_terms(col: str, alpha: float, k: int = _MACD_K) -> tuple[str, float]:
    weights = [alpha * (1.0 - alpha) ** i for i in range(k)]
    terms = " + ".join(
        f"LAG({col}, {i}) OVER w * {w!r}" for i, w in enumerate(weights)
    )
    return terms, sum(weights)


def _macd_sql() -> str:
    fast_t, fast_n = _ema_terms("value", 2.0 / 13.0)
    slow_t, slow_n = _ema_terms("value", 2.0 / 27.0)
    sig_t, sig_n = _ema_terms("macd", 2.0 / 10.0)
    return f"""
WITH {_DAILY_CTE},
e AS (
  SELECT asset_id, date, value,
         ({fast_t}) / {fast_n!r} - ({slow_t}) / {slow_n!r} AS macd,
         ROW_NUMBER() OVER w AS rn
  FROM daily
  WINDOW w AS (PARTITION BY asset_id ORDER BY date)
),
s AS (
  SELECT asset_id, date, value, macd,
         ({sig_t}) / {sig_n!r} AS signal_line,
         rn
  FROM e WHERE rn >= {_MACD_K}
  WINDOW w AS (PARTITION BY asset_id ORDER BY date)
)
SELECT asset_id, date, value, macd, signal_line,
       macd - signal_line AS histogram
FROM s WHERE rn >= {2 * _MACD_K - 1}
"""


@register(
    "ts_macd",
    _macd_sql(),
    category="timeseries",
    description=(
        "MACD(12,26) + signal(9) as truncated-EMA lag expressions: two "
        "window passes, zero iteration, bit-identical weight literals"
    ),
)
def ts_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("asset_id").orderBy("date")

    def ema(col: str, alpha: float) -> F.Column:
        weights = [alpha * (1.0 - alpha) ** i for i in range(_MACD_K)]
        acc = None
        for i, wt in enumerate(weights):
            term = F.lag(col, i).over(w) * F.lit(wt)
            acc = term if acc is None else acc + term
        return acc / F.lit(sum(weights))

    e = daily.select(
        "asset_id",
        "date",
        "value",
        (ema("value", 2.0 / 13.0) - ema("value", 2.0 / 27.0)).alias("macd"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") >= _MACD_K)
    s = e.select(
        "asset_id",
        "date",
        "value",
        "macd",
        ema("macd", 2.0 / 10.0).alias("signal_line"),
        "rn",
    ).where(F.col("rn") >= 2 * _MACD_K - 1)
    return s.select(
        "asset_id",
        "date",
        "value",
        "macd",
        "signal_line",
        (F.col("macd") - F.col("signal_line")).alias("histogram"),
    )


@register(
    "ts_seasonality_dow",
    f"""
WITH {_DAILY_CTE},
d AS (
  SELECT dayofweek(strptime(CAST(date AS VARCHAR), '%Y%m%d')) AS dow,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM daily
),
tot AS (SELECT SUM(c) AS st, COUNT(*) AS ct FROM d)
SELECT dow,
       COUNT(*) AS n_obs,
       CAST(SUM(c) AS DOUBLE) / COUNT(*) / 100 AS mean_value,
       CAST(SUM(c) AS DOUBLE) / COUNT(*) / 100
         - CAST(st AS DOUBLE) / ct / 100 AS dev_from_mean
FROM d CROSS JOIN tot
GROUP BY dow, st, ct
""",
    category="timeseries",
    description=(
        "Day-of-week seasonality profile: per-weekday mean vs the grand "
        "mean (1-row totals broadcast; Sunday=0 on both engines)"
    ),
)
def ts_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    # Spark dayofweek is 1-based (Sunday=1); DuckDB's is 0-based (Sunday=0)
    d = daily.select(
        (F.dayofweek(F.to_date(F.col("date").cast("string"), "yyyyMMdd")) - 1).alias(
            "dow"
        ),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
    )
    tot = d.agg(F.sum("c").alias("st"), F.count("*").alias("ct"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("dow", "st", "ct")
        .agg(
            F.count("*").alias("n_obs"),
            F.expr("CAST(SUM(c) AS DOUBLE) / COUNT(*) / 100").alias("mean_value"),
            F.expr(
                "CAST(SUM(c) AS DOUBLE) / COUNT(*) / 100"
                " - CAST(st AS DOUBLE) / ct / 100"
            ).alias("dev_from_mean"),
        )
        .drop("st", "ct")
    )


@register(
    "ts_zscore_xsection",
    f"""
WITH {_DAILY_CTE},
mo AS (
  SELECT asset_id, month, value FROM (
    SELECT asset_id, date // 100 AS month, value,
           ROW_NUMBER() OVER (PARTITION BY asset_id, date // 100
                              ORDER BY date DESC) AS rn
    FROM daily)
  WHERE rn = 1
),
cc AS (
  SELECT asset_id, month, value,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM mo
),
s AS (
  SELECT month, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS sq
  FROM cc GROUP BY month
),
z AS (
  SELECT asset_id, cc.month, value,
         CAST(n * c - s AS DOUBLE) / SQRT(CAST(n * sq - s * s AS DOUBLE)) AS zd
  FROM cc JOIN s ON cc.month = s.month
  WHERE n >= 10 AND n * sq - s * s > 0
)
SELECT asset_id, month, value,
       CAST(FLOOR(zd * 1000000 + 0.5) AS BIGINT) AS z_p6
FROM z WHERE ABS(zd) > 2
""",
    category="timeseries",
    description=(
        "Cross-sectional z-score outliers: per-MONTH mean/std across assets "
        "(month-end value per asset) from exact integer sums; |z|>2 flags "
        "(the surveillance screen).  Monthly, not daily: the driver data "
        "has <10 of the 50 tracked assets trading on any single date, so a "
        "per-date cross-section under the n>=10 floor is empty at every SF "
        "(the round-8 vacuous-certification finding); per-month it is "
        "10-50 assets wide and the |z|>2 tail is non-empty at every SF"
    ),
)
def ts_zscore_xsection(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wmo = Window.partitionBy("asset_id", F.expr("date DIV 100")).orderBy(
        F.col("date").desc()
    )
    mo = (
        daily.withColumn("rn", F.row_number().over(wmo))
        .where("rn = 1")
        .select("asset_id", F.expr("date DIV 100").alias("month"), "value")
    )
    cc = mo.select(
        "asset_id",
        "month",
        "value",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
    )
    # cc feeds BOTH the per-month moment aggregate and the z-score join;
    # truncate so the daily-series window scan runs once (cc is bounded:
    # <= 50 assets x calendar months at any SF)
    cc = cc.localCheckpoint(eager=False)
    s = cc.groupBy("month").agg(
        F.count("*").alias("n"), F.sum("c").alias("s"), F.sum(F.col("c") * F.col("c")).alias("sq")
    )
    # z = (c - s/n) / sqrt((n*sq - s*s)/n^2) rewritten as
    # (n*c - s) / sqrt(n*sq - s*s): numerator and radicand are EXACT int64
    # (n<=50 assets, c<=1e7 -> n*sq, s*s <= 2.5e17 < 2^63), so the double
    # value is two correctly-rounded IEEE ops (sqrt, divide) — bit-equal
    # cross-engine, unlike ROUND(double, 6) (the r5 stats_benford flake
    # class: Spark BigDecimal half-up vs DuckDB multiply-round-divide).
    # Output is fixed-point 1e6 via the FLOOR(x*1e6+0.5) idiom
    # (stats_kendall_tau pattern).
    z = (
        cc.join(F.broadcast(s), "month")
        .where("n >= 10 AND n * sq - s * s > 0")
        .select(
            "asset_id",
            "month",
            "value",
            F.expr(
                "CAST(n * c - s AS DOUBLE) / SQRT(CAST(n * sq - s * s AS DOUBLE))"
            ).alias("zd"),
        )
    )
    return z.where(F.abs(F.col("zd")) > 2).select(
        "asset_id",
        "month",
        "value",
        F.expr("CAST(FLOOR(zd * 1000000 + 0.5) AS BIGINT)").alias("z_p6"),
    )


# ---------------------------------------------------------------------------
# bitemporal snapshot diff
# ---------------------------------------------------------------------------

#: knowledge-time cut INSIDE a business day (epoch 1996-07-01 + 3): rows of
#: that date with linenumber <= 3 are known, later revisions are not — so the
#: diff can classify 'changed' rows, not just 'added' ones
_TS0 = 836179203


def _snap_cte(name: str, asof: int) -> str:
    return f"""
{name} AS (
  SELECT asset_id, date, value FROM (
    SELECT asset_id, date, value,
           ROW_NUMBER() OVER (PARTITION BY asset_id, date
                              ORDER BY ts DESC, value DESC) AS rn
    FROM prices_v WHERE ts <= {asof})
  WHERE rn = 1
)
"""


@register(
    "asof_bitemporal_diff",
    f"""
WITH {PRICES_ORACLE_CTE},
{_snap_cte("s0", _TS0)},
{_snap_cte("s1", ASOF_2000)},
d AS (
  SELECT COALESCE(s1.asset_id, s0.asset_id) AS asset_id,
         s1.value AS new_value,
         CASE WHEN s0.asset_id IS NULL THEN 'added'
              WHEN s1.asset_id IS NULL THEN 'removed'
              WHEN s0.value <> s1.value THEN 'changed'
              ELSE 'same' END AS change_type
  FROM s0 FULL OUTER JOIN s1
    ON s0.asset_id = s1.asset_id AND s0.date = s1.date
)
SELECT change_type,
       asset_id % 10 AS bucket,
       COUNT(*) AS n,
       {fxp_sum_sql('new_value')} AS sum_new_value
FROM d WHERE change_type <> 'same'
GROUP BY change_type, bucket
""",
    category="asof",
    description=(
        "Bitemporal snapshot diff: what the as-of view of (asset, date) "
        "gained/changed between two knowledge times (full-outer join of two "
        "latest-revision dedups; the audit query the reference's revision "
        "model implies, file.rs:508-570)"
    ),
)
def asof_bitemporal_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.asof import _latest_revision

    prices = prices_from_lineitem(spark, sf_dir)

    def snap(asof: int) -> DataFrame:
        return _latest_revision(
            ["asset_id", "date"], prices.where(F.col("ts") <= asof)
        ).select("asset_id", "date", "value")

    s0 = snap(_TS0)
    s1 = snap(ASOF_2000)
    d = s0.alias("s0").join(
        s1.alias("s1"),
        (F.col("s0.asset_id") == F.col("s1.asset_id"))
        & (F.col("s0.date") == F.col("s1.date")),
        "full_outer",
    ).select(
        F.coalesce(F.col("s1.asset_id"), F.col("s0.asset_id")).alias("asset_id"),
        F.col("s1.value").alias("new_value"),
        F.when(F.col("s0.asset_id").isNull(), "added")
        .when(F.col("s1.asset_id").isNull(), "removed")
        .when(F.col("s0.value") != F.col("s1.value"), "changed")
        .otherwise("same")
        .alias("change_type"),
    )
    return (
        d.where(F.col("change_type") != "same")
        .groupBy("change_type", (F.col("asset_id") % 10).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            fxp_sum(F.col("new_value"), "sum_new_value"),
        )
    )


_SQRT252 = 252.0 ** 0.5


@register(
    "ts_sharpe",
    f"""
WITH {_DAILY_CTE},
{_RET_CTE},
m AS (
  SELECT asset_id, COUNT(*) AS n, SUM(ri) AS s, SUM(ri * ri) AS sq
  FROM ri GROUP BY asset_id
)
SELECT asset_id, n,
       CAST(s AS DOUBLE) / n / 10000 AS mean_ret,
       SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n)) / 10000 AS vol,
       CAST(s AS DOUBLE) / n
         / SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n)) * {_SQRT252!r}
         AS sharpe_ann
FROM m WHERE n >= 30 AND n * sq - s * s > 0
""",
    category="timeseries",
    description=(
        "Annualized Sharpe ratio per asset from exact fixed-point return "
        "moments (the 1e-4 quantization cancels in the ratio; sqrt(252) is "
        "a shared float literal)"
    ),
)
def ts_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wlag = Window.partitionBy("asset_id").orderBy("date")
    ri = (
        daily.select(
            "asset_id",
            "date",
            (F.col("value") / F.lag("value").over(wlag) - 1).alias("r"),
        )
        .where(F.col("r").isNotNull())
        .select(
            "asset_id",
            F.floor(F.col("r") * 10000 + F.lit(0.5)).cast("bigint").alias("ri"),
        )
    )
    m = ri.groupBy("asset_id").agg(
        F.count("*").alias("n"),
        F.sum("ri").alias("s"),
        F.sum(F.col("ri") * F.col("ri")).alias("sq"),
    ).where("n >= 30 AND n * sq - s * s > 0")
    return m.select(
        "asset_id",
        "n",
        F.expr("CAST(s AS DOUBLE) / n / 10000").alias("mean_ret"),
        F.expr("SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n)) / 10000").alias(
            "vol"
        ),
        F.expr(
            "CAST(s AS DOUBLE) / n"
            f" / SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n)) * {_SQRT252!r}"
        ).alias("sharpe_ann"),
    )


@register(
    "ts_var_historic",
    f"""
WITH {_DAILY_CTE},
ret AS (
  SELECT asset_id,
         value / LAG(value) OVER (PARTITION BY asset_id ORDER BY date) - 1 AS r
  FROM daily
)
SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(r, 0.05) AS var_5pct,
       quantile_cont(r, 0.01) AS var_1pct
FROM ret WHERE r IS NOT NULL
GROUP BY asset_id HAVING COUNT(*) >= 30
""",
    category="timeseries",
    description=(
        "Historical value-at-risk per asset: exact interpolated 5%/1% "
        "return quantiles (the sort-based percentile aggregate both "
        "engines define identically — see `percentiles`)"
    ),
)
def ts_var_historic(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wlag = Window.partitionBy("asset_id").orderBy("date")
    ret = daily.select(
        "asset_id",
        (F.col("value") / F.lag("value").over(wlag) - 1).alias("r"),
    ).where(F.col("r").isNotNull())
    return (
        ret.groupBy("asset_id")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr("percentile(r, 0.05)").alias("var_5pct"),
            F.expr("percentile(r, 0.01)").alias("var_1pct"),
        )
        .where("n >= 30")
    )


@register(
    "asof_join_nearest",
    f"""
WITH {PRICES_ORACLE_CTE},
rdedup AS (
  SELECT asset_id, ts, MAX(value) AS value FROM prices_v GROUP BY asset_id, ts
),
probes AS (SELECT asset_id, ts AS probe_ts, ts + 1800 AS qts FROM rdedup),
b AS (
  SELECT p.asset_id, p.probe_ts, p.qts, r.ts AS bt, r.value AS bv
  FROM probes p ASOF LEFT JOIN rdedup r
    ON p.asset_id = r.asset_id AND r.ts <= p.qts
),
f AS (
  SELECT p.asset_id, p.probe_ts, p.qts, r.ts AS ft, r.value AS fv
  FROM probes p ASOF LEFT JOIN rdedup r
    ON p.asset_id = r.asset_id AND r.ts >= p.qts
),
j AS (
  SELECT b.asset_id, b.probe_ts, b.qts, bt, bv, ft, fv,
         CASE WHEN bt IS NULL THEN FALSE
              WHEN ft IS NULL THEN TRUE
              WHEN b.qts - bt <= ft - b.qts THEN TRUE ELSE FALSE END AS use_back
  FROM b JOIN f ON b.asset_id = f.asset_id AND b.probe_ts = f.probe_ts
)
SELECT asset_id, probe_ts, qts,
       CASE WHEN use_back THEN bt ELSE ft END AS matched_ts,
       CASE WHEN use_back THEN bv ELSE fv END AS matched_value,
       CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
            WHEN use_back THEN 'backward' ELSE 'forward' END AS matched_direction
FROM j
""",
    category="asof",
    description=(
        "Nearest-direction as-of join (merge_asof direction='nearest', "
        "backward on exact ties): ONE union+window pass — last(ignorenulls) "
        "over the preceding frame gives the backward match, "
        "first(ignorenulls) over the following frame the forward match, "
        "the pick is pure projection; one shuffle, no self-join; "
        "completes the as-of family"
    ),
)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.asof import asof_join_nearest

    prices = prices_from_lineitem(spark, sf_dir)
    rdedup = prices.groupBy("asset_id", "ts").agg(F.max("value").alias("value"))
    probes = rdedup.select(
        "asset_id", F.col("ts").alias("probe_ts"), (F.col("ts") + 1800).alias("qts")
    )
    return asof_join_nearest(
        probes, rdedup, on="asset_id", left_time="qts", right_time="ts"
    )


@register(
    "ts_regime_switch",
    f"""
WITH {_DAILY_CTE},
{_CENTS_CTE},
vol AS (
  SELECT asset_id, date,
         COUNT(*) OVER w AS n,
         SUM(c) OVER w AS s, SUM(c * c) OVER w AS sq
  FROM cents
  WINDOW w AS (PARTITION BY asset_id ORDER BY date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
sd AS (
  SELECT asset_id, date,
         CAST(FLOOR(SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n)) + 0.5)
              AS BIGINT) AS vol_c
  FROM vol WHERE n = 20
),
med AS (
  SELECT asset_id, CAST(FLOOR(quantile_cont(vol_c, 0.5) + 0.5) AS BIGINT) AS med_c
  FROM sd GROUP BY asset_id
),
flag AS (
  SELECT sd.asset_id, sd.date,
         CASE WHEN sd.vol_c > med.med_c THEN 1 ELSE 0 END AS hi
  FROM sd JOIN med ON sd.asset_id = med.asset_id
),
runs AS (
  SELECT asset_id, date, hi,
         ROW_NUMBER() OVER (PARTITION BY asset_id ORDER BY date)
           - ROW_NUMBER() OVER (PARTITION BY asset_id, hi ORDER BY date) AS grp
  FROM flag
),
seg AS (
  SELECT asset_id, hi, grp, COUNT(*) AS run_len FROM runs GROUP BY 1, 2, 3
)
SELECT asset_id,
       CAST(COUNT(*) AS BIGINT) AS n_regimes,
       CAST(MAX(CASE WHEN hi = 1 THEN run_len ELSE 0 END) AS BIGINT)
         AS longest_high_run,
       CAST(SUM(CASE WHEN hi = 1 THEN run_len ELSE 0 END) AS BIGINT)
         AS n_high_days,
       CAST(SUM(run_len) AS BIGINT) AS n_days
FROM seg GROUP BY asset_id
""",
    category="timeseries",
    description=(
        "Volatility regime segmentation: 20-day rolling stddev (exact "
        "integer moments, floor-quantized to cents) thresholded at each "
        "asset's median, segmented with the gaps-and-islands double "
        "row_number — regime counts, longest high-vol run, high-vol day "
        "share inputs"
    ),
)
def ts_regime_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("asset_id").orderBy("date").rowsBetween(-19, 0)
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    vol = daily.select(
        "asset_id",
        "date",
        F.count("*").over(w).alias("n"),
        F.sum(c).over(w).alias("s"),
        F.sum(c * c).over(w).alias("sq"),
    ).where("n = 20")
    sd = vol.select(
        "asset_id",
        "date",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(n * sq - s * s AS DOUBLE) / (n * n)) + 0.5)"
            " AS BIGINT)"
        ).alias("vol_c"),
    )
    med = sd.groupBy("asset_id").agg(
        F.expr("CAST(FLOOR(percentile(vol_c, 0.5) + 0.5) AS BIGINT)").alias("med_c")
    )
    flag = sd.join(med, "asset_id").select(
        "asset_id",
        "date",
        F.when(F.col("vol_c") > F.col("med_c"), 1).otherwise(0).alias("hi"),
    )
    wa = Window.partitionBy("asset_id").orderBy("date")
    wah = Window.partitionBy("asset_id", "hi").orderBy("date")
    runs = flag.select(
        "asset_id",
        "hi",
        (F.row_number().over(wa) - F.row_number().over(wah)).alias("grp"),
    )
    seg = runs.groupBy("asset_id", "hi", "grp").agg(F.count("*").alias("run_len"))
    return seg.groupBy("asset_id").agg(
        F.count("*").cast("bigint").alias("n_regimes"),
        F.max(F.when(F.col("hi") == 1, F.col("run_len")).otherwise(0))
        .cast("bigint")
        .alias("longest_high_run"),
        F.sum(F.when(F.col("hi") == 1, F.col("run_len")).otherwise(0))
        .cast("bigint")
        .alias("n_high_days"),
        F.sum("run_len").cast("bigint").alias("n_days"),
    )


@register(
    "ts_drawdown_duration",
    f"""
WITH {_DAILY_CTE},
{_CENTS_CTE},
pk AS (
  SELECT asset_id, date, c,
         MAX(c) OVER (PARTITION BY asset_id ORDER BY date
                      ROWS UNBOUNDED PRECEDING) AS peak
  FROM cents
),
flag AS (
  SELECT asset_id, date,
         CASE WHEN c < peak THEN 1 ELSE 0 END AS under
  FROM pk
),
runs AS (
  SELECT asset_id, under,
         ROW_NUMBER() OVER (PARTITION BY asset_id ORDER BY date)
           - ROW_NUMBER() OVER (PARTITION BY asset_id, under ORDER BY date) AS grp
  FROM flag
),
seg AS (
  SELECT asset_id, under, grp, COUNT(*) AS run_len FROM runs GROUP BY 1, 2, 3
)
SELECT asset_id,
       CAST(MAX(CASE WHEN under = 1 THEN run_len ELSE 0 END) AS BIGINT)
         AS max_underwater_days,
       CAST(SUM(CASE WHEN under = 1 THEN run_len ELSE 0 END) AS BIGINT)
         AS n_underwater_days,
       CAST(SUM(run_len) AS BIGINT) AS n_days
FROM seg GROUP BY asset_id
""",
    category="timeseries",
    description=(
        "Drawdown DURATION profile: longest and total underwater spells "
        "per asset (below the running peak) — the time dimension "
        "ts_drawdown's depth metric misses; running max + gaps-and-islands, "
        "one shuffle"
    ),
)
def ts_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wrun = (
        Window.partitionBy("asset_id")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    pk = daily.select(
        "asset_id", "date", c.alias("c"), F.max(c).over(wrun).alias("peak")
    )
    flag = pk.select(
        "asset_id",
        "date",
        F.when(F.col("c") < F.col("peak"), 1).otherwise(0).alias("under"),
    )
    wa = Window.partitionBy("asset_id").orderBy("date")
    wau = Window.partitionBy("asset_id", "under").orderBy("date")
    runs = flag.select(
        "asset_id",
        "under",
        (F.row_number().over(wa) - F.row_number().over(wau)).alias("grp"),
    )
    seg = runs.groupBy("asset_id", "under", "grp").agg(
        F.count("*").alias("run_len")
    )
    return seg.groupBy("asset_id").agg(
        F.max(F.when(F.col("under") == 1, F.col("run_len")).otherwise(0))
        .cast("bigint")
        .alias("max_underwater_days"),
        F.sum(F.when(F.col("under") == 1, F.col("run_len")).otherwise(0))
        .cast("bigint")
        .alias("n_underwater_days"),
        F.sum("run_len").cast("bigint").alias("n_days"),
    )


@register(
    "ts_missing_days",
    f"""
WITH {_DAILY_CTE},
d AS (
  SELECT asset_id, strptime(CAST(date AS VARCHAR), '%Y%m%d') AS dt FROM daily
),
spans AS (
  SELECT asset_id, MIN(dt) AS d0, MAX(dt) AS d1,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM d GROUP BY asset_id
)
SELECT asset_id, n_obs,
       CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS span_days,
       CAST(date_diff('day', d0, d1) + 1 AS BIGINT) - n_obs AS n_missing,
       CAST((n_obs * 1000000 + (date_diff('day', d0, d1) + 1) // 2)
            // (date_diff('day', d0, d1) + 1) AS BIGINT) AS coverage_ppm
FROM spans WHERE n_obs >= 2
""",
    category="timeseries",
    description=(
        "Calendar-gap detector per asset: observed days vs the min-to-max "
        "span — the data-completeness DQ check a time-series store runs "
        "before trusting gap-sensitive analytics (complement of "
        "ts_resample_ffill, which FIXES the gaps this query measures)"
    ),
)
def ts_missing_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    d = daily.select(
        "asset_id", F.to_date(F.col("date").cast("string"), "yyyyMMdd").alias("dt")
    )
    spans = d.groupBy("asset_id").agg(
        F.min("dt").alias("d0"),
        F.max("dt").alias("d1"),
        F.count("*").cast("bigint").alias("n_obs"),
    ).where("n_obs >= 2")
    return spans.select(
        "asset_id",
        "n_obs",
        F.expr("CAST(datediff(d1, d0) + 1 AS BIGINT)").alias("span_days"),
        F.expr("CAST(datediff(d1, d0) + 1 AS BIGINT) - n_obs").alias("n_missing"),
        # exact integer ppm (half-up) — ROUND(double, 6) is engine-unstable
        F.expr(
            "CAST((n_obs * 1000000 + (datediff(d1, d0) + 1) DIV 2)"
            " DIV (datediff(d1, d0) + 1) AS BIGINT)"
        ).alias("coverage_ppm"),
    )


@register(
    "ts_cusum_changepoint",
    f"""
WITH {_DAILY_CTE},
{_RET_CTE},
cs AS (
  SELECT asset_id, date,
         CAST(ROW_NUMBER() OVER (PARTITION BY asset_id ORDER BY date)
              AS BIGINT) AS t,
         CAST(SUM(ri) OVER (PARTITION BY asset_id ORDER BY date
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
         CAST(COUNT(*) OVER (PARTITION BY asset_id) AS BIGINT) AS n,
         CAST(SUM(ri) OVER (PARTITION BY asset_id) AS BIGINT) AS s
  FROM ri
),
dev AS (
  SELECT asset_id, date, n,
         ABS(n * c - t * s) AS d
  FROM cs
),
top AS (
  SELECT asset_id, date, n, d,
         ROW_NUMBER() OVER (PARTITION BY asset_id
                            ORDER BY d DESC, date) AS rn
  FROM dev
)
SELECT asset_id, CAST(date AS BIGINT) AS cp_date,
       CAST(d AS DOUBLE) / n / 10000 AS cusum_dev
FROM top WHERE rn = 1
""",
    category="timeseries",
    description=(
        "CUSUM changepoint screen per asset: the date maximizing the "
        "|deviation| of the cumulative return path from its straight-line "
        "fit (n*cumsum_t - t*total, exact int64 throughout — the "
        "mean-centered cumulative sum scaled by n to stay integer)"
    ),
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection as window algebra: the classic CUSUM statistic
    max_t |sum_{i<=t}(r_i - rbar)| multiplies through by n so every term
    is an exact int64 (n*C_t - t*S); one shuffle on asset_id serves all
    four windows plus the final argmax.  Bit-deterministic cross-engine:
    only the final normalization divides."""
    daily = _daily(spark, sf_dir)
    wlag = Window.partitionBy("asset_id").orderBy("date")
    ri = (
        daily.select(
            "asset_id",
            "date",
            (F.col("value") / F.lag("value").over(wlag) - 1).alias("r"),
        )
        .where(F.col("r").isNotNull())
        .select(
            "asset_id",
            "date",
            F.floor(F.col("r") * 10000 + F.lit(0.5)).cast("bigint").alias("ri"),
        )
    )
    wrun = wlag.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("asset_id")
    cs = ri.select(
        "asset_id",
        "date",
        F.row_number().over(wlag).cast("bigint").alias("t"),
        F.sum("ri").over(wrun).cast("bigint").alias("c"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("ri").over(wall).cast("bigint").alias("s"),
    )
    dev = cs.select(
        "asset_id",
        "date",
        "n",
        F.abs(F.col("n") * F.col("c") - F.col("t") * F.col("s")).alias("d"),
    )
    wtop = Window.partitionBy("asset_id").orderBy(F.col("d").desc(), "date")
    return (
        dev.withColumn("rn", F.row_number().over(wtop))
        .where("rn = 1")
        .select(
            "asset_id",
            F.col("date").cast("bigint").alias("cp_date"),
            F.expr("CAST(d AS DOUBLE) / n / 10000").alias("cusum_dev"),
        )
    )


@register(
    "ts_momentum_backtest",
    f"""
WITH {_DAILY_CTE},
mc AS (
  SELECT asset_id, month, value FROM (
    SELECT asset_id, CAST(date // 100 AS INT) AS month, date, value,
           ROW_NUMBER() OVER (PARTITION BY asset_id, date // 100
                              ORDER BY date DESC) AS rn
    FROM daily) WHERE rn = 1
),
mr AS (
  SELECT asset_id, month,
         value / LAG(value) OVER (PARTITION BY asset_id ORDER BY month) - 1 AS r
  FROM mc
),
mq AS (
  SELECT asset_id, month,
         CAST(FLOOR(r * 10000 + 0.5) AS BIGINT) AS mq,
         LAG(CAST(FLOOR(r * 10000 + 0.5) AS BIGINT))
           OVER (PARTITION BY asset_id ORDER BY month) AS sig
  FROM mr WHERE r IS NOT NULL
),
sel AS (
  SELECT month, mq FROM (
    SELECT month, mq,
           ROW_NUMBER() OVER (PARTITION BY month
                              ORDER BY sig DESC, asset_id) AS rn
    FROM mq WHERE sig IS NOT NULL
  ) WHERE rn <= 10
),
port AS (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS n_sel,
         CAST(SUM(mq) AS BIGINT) AS sum_mq
  FROM sel GROUP BY month
),
pr AS (
  SELECT month, n_sel,
         CAST(sum_mq AS DOUBLE) / n_sel / 10000 AS port_ret,
         CAST(FLOOR(CAST(sum_mq AS DOUBLE) / n_sel / 10000 * 1000000 + 0.5)
              AS BIGINT) AS pri
  FROM port
)
SELECT month, n_sel, port_ret,
       CAST(CAST(SUM(pri) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS DOUBLE) / 1000000 AS cum_ret
FROM pr
""",
    category="timeseries",
    description=(
        "Cross-sectional momentum backtest: each month, rank assets by "
        "PREVIOUS month's return and hold the top 10 equal-weight; "
        "output per-month portfolio return and the cumulative (additive) "
        "return path.  Signal lag, ranking, selection, and compounding "
        "are all window algebra over the monthly-close relation"
    ),
)
def ts_momentum_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A full portfolio-simulation loop with zero driver iteration: the
    signal (lagged monthly return), the ranking (per-month window), the
    position set (rn <= 10), and the P&L path (running sum) compose into
    one Catalyst plan with a single shuffle on asset_id plus one on
    month.  Returns quantized at 1e-4, portfolio returns re-quantized at
    1e-6 before the running sum, so the cumulative path is an exact
    integer prefix sum cross-engine.  The final global window runs over
    |months| rows."""
    daily = _daily(spark, sf_dir)
    wmc = Window.partitionBy("asset_id", F.expr("date div 100")).orderBy(
        F.col("date").desc()
    )
    mc = (
        daily.select(
            "asset_id",
            F.expr("CAST(date div 100 AS INT)").alias("month"),
            "date",
            "value",
            F.row_number().over(wmc).alias("rn"),
        )
        .where("rn = 1")
        .select("asset_id", "month", "value")
    )
    wm = Window.partitionBy("asset_id").orderBy("month")
    mr = mc.select(
        "asset_id",
        "month",
        (F.col("value") / F.lag("value").over(wm) - 1).alias("r"),
    ).where(F.col("r").isNotNull())
    mq = mr.select(
        "asset_id",
        "month",
        F.floor(F.col("r") * 10000 + F.lit(0.5)).cast("bigint").alias("mq"),
    ).withColumn(
        "sig",
        F.lag("mq").over(wm),
    )
    wsel = Window.partitionBy("month").orderBy(F.col("sig").desc(), "asset_id")
    sel = (
        mq.where(F.col("sig").isNotNull())
        .withColumn("rn", F.row_number().over(wsel))
        .where("rn <= 10")
    )
    port = sel.groupBy("month").agg(
        F.count("*").cast("bigint").alias("n_sel"),
        F.sum("mq").cast("bigint").alias("sum_mq"),
    )
    pr = port.select(
        "month",
        "n_sel",
        F.expr("CAST(sum_mq AS DOUBLE) / n_sel / 10000").alias("port_ret"),
        F.expr(
            "CAST(FLOOR(CAST(sum_mq AS DOUBLE) / n_sel / 10000 * 1000000 + 0.5)"
            " AS BIGINT)"
        ).alias("pri"),
    )
    wcum = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return pr.select(
        "month",
        "n_sel",
        "port_ret",
        (F.sum("pri").over(wcum).cast("bigint").cast("double") / 1000000).alias(
            "cum_ret"
        ),
    )


@register(
    "ts_pairs_spread",
    f"""
WITH {PRICES_ORACLE_CTE},
b AS (
  SELECT date,
         CAST(SUM(CASE WHEN asset_id % 2 = 0
                       THEN CAST(FLOOR(value + 0.5) AS BIGINT) END) AS BIGINT) AS s_e,
         CAST(COUNT(*) FILTER (asset_id % 2 = 0) AS BIGINT) AS n_e,
         CAST(SUM(CASE WHEN asset_id % 2 = 1
                       THEN CAST(FLOOR(value + 0.5) AS BIGINT) END) AS BIGINT) AS s_o,
         CAST(COUNT(*) FILTER (asset_id % 2 = 1) AS BIGINT) AS n_o
  FROM prices_v WHERE ts <= {ASOF_2000} GROUP BY date
),
j AS (
  SELECT date, s_e // n_e AS p1, s_o // n_o AS p2
  FROM b WHERE n_e > 0 AND n_o > 0
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(p1) AS BIGINT) AS s1, CAST(SUM(p2) AS BIGINT) AS s2,
         CAST(SUM(p1 * p2) AS BIGINT) AS s12,
         CAST(SUM(p2 * p2) AS BIGINT) AS s22
  FROM j
),
sp AS (
  SELECT j.date,
         CAST(g.n * g.s12 - g.s1 * g.s2 AS DOUBLE)
           / CAST(g.n * g.s22 - g.s2 * g.s2 AS DOUBLE) AS beta,
         j.p1, j.p2
  FROM j CROSS JOIN g
  WHERE g.n * g.s22 - g.s2 * g.s2 > 0
),
sq AS (
  SELECT date, beta,
         CAST(FLOOR(p1 - beta * p2 + 0.5) AS BIGINT) AS s
  FROM sp
),
r AS (
  SELECT date, beta, s,
         CAST(ROW_NUMBER() OVER (ORDER BY date) AS BIGINT) AS rn,
         CAST(SUM(s) OVER (ORDER BY date ROWS 29 PRECEDING) AS BIGINT) AS m,
         CAST(SUM(s * s) OVER (ORDER BY date ROWS 29 PRECEDING) AS BIGINT) AS ss
  FROM sq
)
SELECT CAST(date AS BIGINT) AS date, beta,
       CAST(s AS DOUBLE) AS spread,
       CAST(30 * s - m AS DOUBLE)
         / SQRT(CAST(30 * ss - m * m AS DOUBLE) * 30 / 29) AS spread_z
FROM r WHERE rn >= 30 AND 30 * ss - m * m > 0
""",
    category="timeseries",
    description=(
        "Pairs-trading spread monitor for the even- vs odd-asset basket "
        "indices (per-date integer-mean dollars of each half of the "
        "universe): full-sample OLS hedge ratio from exact integer "
        "moments, dollar-quantized spread p1 - beta*p2, and its "
        "trailing-30-day z-score — the mean-reversion entry/exit signal, "
        "all moments exact int64 window sums.  Basket legs, not two "
        "single assets: any two individual assets trade on (near-)"
        "disjoint date sets in the driver data, so a single-pair date "
        "equi-join is empty at every SF (the round-8 vacuous-"
        "certification finding); the baskets co-occur on 880+ dates at "
        "sf0.001 and every date at sf0.01+"
    ),
)
def ts_pairs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each leg is a per-date conditional aggregate of ONE scan of
    prices_v (no self-join): whole-dollar sum and count per basket,
    integer floor-division mean (exact int64, <= ~1e5 dollars, so every
    downstream moment is overflow-safe: n <= ~2500 calendar dates
    regardless of SF, n*s12 <= 2500 * 2500*1e10 << 2^63).  The hedge
    ratio is a 1-row broadcast aggregate; the z-score windows run
    ordered by date over one bounded series.  Every moment is an exact
    integer, the only doubles are the final beta divide and z
    normalization (single IEEE op sequences, bit-deterministic
    cross-engine).

    ``end_date=19991231`` is the pushdown twin of ``ts <= ASOF_2000``:
    ts = epoch(l_shipdate) + l_linenumber with l_linenumber >= 1, so
    ts <= epoch(2000-01-01) EXACTLY implies l_shipdate < 2000-01-01 —
    a source-column bound Catalyst lands in PushedFilters (the derived
    ts predicate cannot prune the scan; at 100 TB the bound is the
    difference between scanning the as-of range and the whole table).
    The ts filter stays as the semantic contract; the oracle needs no
    twin because the predicate is implied, not additional."""
    pv = prices_from_lineitem(spark, sf_dir, end_date=19991231).where(
        F.col("ts") <= ASOF_2000
    )
    dollars = F.floor(F.col("value") + F.lit(0.5)).cast("bigint")
    even = F.col("asset_id") % 2 == 0
    b = pv.groupBy("date").agg(
        F.sum(F.when(even, dollars)).cast("bigint").alias("s_e"),
        F.count(F.when(even, 1)).cast("bigint").alias("n_e"),
        F.sum(F.when(~even, dollars)).cast("bigint").alias("s_o"),
        F.count(F.when(~even, 1)).cast("bigint").alias("n_o"),
    )
    j = b.where("n_e > 0 AND n_o > 0").select(
        "date",
        F.expr("s_e DIV n_e").alias("p1"),
        F.expr("s_o DIV n_o").alias("p2"),
    )
    # j feeds BOTH the 1-row hedge-ratio aggregate and the spread join;
    # without truncation each consumer re-runs the full-table scan+agg.
    # localCheckpoint pins the calendar-bounded result (<= ~2500 rows at
    # ANY scale factor) so the big scan runs exactly once (lazy: it
    # materializes inside the first consumer's job, no eager build jobs).
    j = j.localCheckpoint(eager=False)
    g = j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("p1").cast("bigint").alias("s1"),
        F.sum("p2").cast("bigint").alias("s2"),
        F.sum(F.col("p1") * F.col("p2")).cast("bigint").alias("s12"),
        F.sum(F.col("p2") * F.col("p2")).cast("bigint").alias("s22"),
    )
    sp = (
        j.crossJoin(F.broadcast(g))
        .where("n * s22 - s2 * s2 > 0")
        .select(
            "date",
            F.expr(
                "CAST(n * s12 - s1 * s2 AS DOUBLE)"
                " / CAST(n * s22 - s2 * s2 AS DOUBLE)"
            ).alias("beta"),
            "p1",
            "p2",
        )
    )
    sq = sp.select(
        "date",
        "beta",
        F.floor(F.col("p1") - F.col("beta") * F.col("p2") + F.lit(0.5))
        .cast("bigint")
        .alias("s"),
    )
    word = Window.orderBy("date")
    wroll = word.rowsBetween(-29, 0)
    r = sq.select(
        "date",
        "beta",
        "s",
        F.row_number().over(word).cast("bigint").alias("rn"),
        F.sum("s").over(wroll).cast("bigint").alias("m"),
        F.sum(F.col("s") * F.col("s")).over(wroll).cast("bigint").alias("ss"),
    )
    return r.where("rn >= 30 AND 30 * ss - m * m > 0").select(
        F.col("date").cast("bigint").alias("date"),
        "beta",
        F.col("s").cast("double").alias("spread"),
        F.expr(
            "CAST(30 * s - m AS DOUBLE)"
            " / SQRT(CAST(30 * ss - m * m AS DOUBLE) * 30 / 29)"
        ).alias("spread_z"),
    )


@register(
    "ts_cvar_expected_shortfall",
    f"""
WITH {_DAILY_CTE},
{_RET_CTE},
rk AS (
  SELECT asset_id, ri,
         CAST(ROW_NUMBER() OVER (PARTITION BY asset_id
                                 ORDER BY ri, date) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY asset_id) AS BIGINT) AS n
  FROM ri
)
SELECT asset_id, n,
       CAST((n + 19) // 20 AS BIGINT) AS k_tail,
       CAST(SUM(CASE WHEN rn <= (n + 19) // 20 THEN ri ELSE 0 END) AS DOUBLE)
         / ((n + 19) // 20) / 10000 AS cvar_5pct
FROM rk
GROUP BY asset_id, n HAVING n >= 30
""",
    category="timeseries",
    description=(
        "Conditional VaR / expected shortfall at 5 percent per asset: the "
        "mean of the worst ceil(n/20) daily returns (discrete tail "
        "definition — integer ceil (n+19)//20, deterministic rank ties "
        "by date) — completes ts_var_historic with the coherent risk "
        "measure Basel committees actually require; exact int64 tail "
        "sums, one divide at the end"
    ),
)
def ts_cvar_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CVaR needs the tail SET, not just the cutoff — a per-asset rank
    window (one shuffle, deterministic (ri, date) ties) plus a
    conditional exact-integer sum.  The integer ceil (n+19) div 20
    avoids the 0.05*n double-boundary trap (0.05 is not binary-exact;
    ceil(0.05*2500) evaluates to 126, not 125)."""
    daily = _daily(spark, sf_dir)
    wlag = Window.partitionBy("asset_id").orderBy("date")
    ri = (
        daily.select(
            "asset_id",
            "date",
            (F.col("value") / F.lag("value").over(wlag) - 1).alias("r"),
        )
        .where(F.col("r").isNotNull())
        .select(
            "asset_id",
            "date",
            F.floor(F.col("r") * 10000 + F.lit(0.5)).cast("bigint").alias("ri"),
        )
    )
    wrk = Window.partitionBy("asset_id").orderBy("ri", "date")
    wn = Window.partitionBy("asset_id")
    rk = ri.select(
        "asset_id",
        "ri",
        F.row_number().over(wrk).cast("bigint").alias("rn"),
        F.count("*").over(wn).cast("bigint").alias("n"),
    )
    return (
        rk.groupBy("asset_id", "n")
        .agg(
            F.expr("CAST((n + 19) div 20 AS BIGINT)").alias("k_tail"),
            F.expr(
                "CAST(SUM(CASE WHEN rn <= (n + 19) div 20 THEN ri ELSE 0 END)"
                " AS DOUBLE) / ((n + 19) div 20) / 10000"
            ).alias("cvar_5pct"),
        )
        .where("n >= 30")
        .select("asset_id", "n", "k_tail", "cvar_5pct")
    )


@register(
    "ts_portfolio_turnover",
    f"""
WITH {_DAILY_CTE},
mc AS (
  SELECT asset_id, month, value FROM (
    SELECT asset_id, CAST(date // 100 AS INT) AS month, date, value,
           ROW_NUMBER() OVER (PARTITION BY asset_id, date // 100
                              ORDER BY date DESC) AS rn
    FROM daily) WHERE rn = 1
),
mr AS (
  SELECT asset_id, month,
         value / LAG(value) OVER (PARTITION BY asset_id ORDER BY month) - 1 AS r
  FROM mc
),
mq AS (
  SELECT asset_id, month,
         LAG(CAST(FLOOR(r * 10000 + 0.5) AS BIGINT))
           OVER (PARTITION BY asset_id ORDER BY month) AS sig
  FROM mr WHERE r IS NOT NULL
),
sel AS (
  SELECT month, asset_id FROM (
    SELECT month, asset_id,
           ROW_NUMBER() OVER (PARTITION BY month
                              ORDER BY sig DESC, asset_id) AS rn
    FROM mq WHERE sig IS NOT NULL
  ) WHERE rn <= 10
),
kept AS (
  SELECT a.month, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM sel a JOIN sel b ON a.asset_id = b.asset_id AND a.month = b.month + 1
  GROUP BY a.month
),
sizes AS (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS n_sel FROM sel GROUP BY month
)
SELECT s.month, s.n_sel,
       COALESCE(k.n_kept, 0) AS n_kept,
       CAST(s.n_sel - COALESCE(k.n_kept, 0) AS DOUBLE) / s.n_sel AS turnover
FROM sizes s LEFT JOIN kept k ON s.month = k.month
WHERE EXISTS (SELECT 1 FROM sizes p WHERE p.month = s.month - 1)
""",
    category="timeseries",
    description=(
        "Month-over-month turnover of the momentum portfolio "
        "(ts_momentum_backtest's position set): holdings kept vs "
        "replaced via a (asset, month = month+1) self-join of the "
        "selection relation — the trading-cost driver every backtest "
        "must report next to its return"
    ),
)
def ts_portfolio_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reuses the backtest's selection pipeline (same lagged signal, same
    per-month rank window) and adds one self-join on the tiny
    (month, asset) selection relation — months whose previous month has
    no portfolio are excluded (the first tradable month has no turnover
    to report).  Consecutive-month arithmetic works because yyyymm
    months here are consecutive integers within a year boundary only
    when both exist; the EXISTS guard keeps the contract honest."""
    from findb_spark.queries.timeseries import _daily as _daily_ts

    daily = _daily_ts(spark, sf_dir)
    wmc = Window.partitionBy("asset_id", F.expr("date div 100")).orderBy(
        F.col("date").desc()
    )
    mc = (
        daily.select(
            "asset_id",
            F.expr("CAST(date div 100 AS INT)").alias("month"),
            "date",
            "value",
            F.row_number().over(wmc).alias("rn"),
        )
        .where("rn = 1")
        .select("asset_id", "month", "value")
    )
    wm = Window.partitionBy("asset_id").orderBy("month")
    mq = (
        mc.select(
            "asset_id",
            "month",
            (F.col("value") / F.lag("value").over(wm) - 1).alias("r"),
        )
        .where(F.col("r").isNotNull())
        .select(
            "asset_id",
            "month",
            F.lag(
                F.floor(F.col("r") * 10000 + F.lit(0.5)).cast("bigint")
            ).over(wm).alias("sig"),
        )
    )
    wsel = Window.partitionBy("month").orderBy(F.col("sig").desc(), "asset_id")
    sel = (
        mq.where(F.col("sig").isNotNull())
        .withColumn("rn", F.row_number().over(wsel))
        .where("rn <= 10")
        .select("month", "asset_id")
    )
    sizes = sel.groupBy("month").agg(F.count("*").cast("bigint").alias("n_sel"))
    prev = sel.select((F.col("month") + 1).alias("month"), "asset_id")
    kept = (
        sel.join(prev, ["month", "asset_id"])
        .groupBy("month")
        .agg(F.count("*").cast("bigint").alias("n_kept"))
    )
    has_prev = sizes.select((F.col("month") + 1).alias("month")).distinct()
    return (
        sizes.join(has_prev, "month")
        .join(kept, "month", "left")
        .select(
            "month",
            "n_sel",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.expr(
                "CAST(n_sel - COALESCE(n_kept, 0) AS DOUBLE) / n_sel"
            ).alias("turnover"),
        )
    )


@register(
    "ts_amihud_illiquidity",
    f"""
WITH {_DAILY_CTE},
{_RET_CTE},
dvol AS (
  SELECT l_partkey AS asset_id,
         CAST(strftime(l_shipdate, '%Y%m%d') AS INT) AS date,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem WHERE l_partkey <= 10
  GROUP BY 1, 2
),
term AS (
  SELECT r.asset_id,
         CAST(FLOOR(ABS(CAST(r.ri AS DOUBLE)) / 10000
                    / (CAST(d.cents AS DOUBLE) / 100)
                    * 1000000000000 + 0.5) AS BIGINT) AS tq
  FROM ri r JOIN dvol d ON r.asset_id = d.asset_id AND r.date = d.date
  WHERE r.asset_id <= 10
)
SELECT asset_id, COUNT(*) AS n_days,
       CAST((SUM(tq) + COUNT(*) // 2) // COUNT(*) AS BIGINT) AS illiq_x1e12
FROM term GROUP BY asset_id
""",
    category="timeseries",
    description=(
        "Amihud (2002) illiquidity: mean of |daily return| / dollar volume "
        "per asset, scaled x1e6 — the price-impact-per-dollar measure; "
        "per-day terms fxp-quantized at 1e12 before the exact integer mean "
        "so the average is order-independent"
    ),
)
def ts_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    li = prices_from_lineitem(spark, sf_dir)  # asset_id/date/value rows
    wlag = Window.partitionBy("asset_id").orderBy("date")
    ri = (
        daily.select(
            "asset_id",
            "date",
            (F.col("value") / F.lag("value").over(wlag) - 1).alias("r"),
        )
        .where(F.col("r").isNotNull() & (F.col("asset_id") <= 10))
        .select(
            "asset_id",
            "date",
            F.floor(F.col("r") * 10000 + F.lit(0.5)).cast("bigint").alias("ri"),
        )
    )
    dvol = (
        li.where(F.col("asset_id") <= 10)
        .groupBy("asset_id", "date")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    term = ri.join(dvol, ["asset_id", "date"]).select(
        "asset_id",
        F.floor(
            F.abs(F.col("ri").cast("double"))
            / 10000
            / (F.col("cents").cast("double") / 100)
            * F.lit(1000000000000)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("tq"),
    )
    return term.groupBy("asset_id").agg(
        F.count("*").alias("n_days"),
        # exact integer mean at the tq terms' 1e12 fixed-point scale
        # (half-up) — ROUND(double, 6) outputs are engine-unstable
        F.expr(
            "CAST((SUM(tq) + COUNT(*) DIV 2) DIV COUNT(*) AS BIGINT)"
        ).alias("illiq_x1e12"),
    )
