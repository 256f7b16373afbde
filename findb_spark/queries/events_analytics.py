"""Product-analytics query specs over the events stream (SURVEY §2.2
'Events / sessionization' row, extending events_queries.py): exact sliding
distinct actives (DAU/WAU), conversion-delay histograms, second-order Markov
transitions, cohort LTV curves, and churn by signup cohort.

The DAU/WAU query is the interesting operator: an EXACT count-distinct over
a sliding window without per-day user sets.  Each user's active day
contributes to window days [a, min(a+6, next_active-1)] — a bounded
interval decomposition that turns sliding distinct into a plain groupBy
count (7 rows max per active day), fully distributed.  The collect_set /
HLL alternatives are respectively unbounded-state and approximate.

Time arithmetic parity: all deltas are exact microsecond integers
(unix_micros / epoch_us) — never fractional epoch seconds, which truncate
differently at window edges (see events_attribution's interval note).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from findb_spark.registry import register
from findb_spark.session import load_table


def _active_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (user_id, active-day) relation.  It feeds three
    consumers inside events_dau_wau, and a repeat call's equal plan is
    served from the same cached blocks."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    return ud.persist(StorageLevel.MEMORY_AND_DISK)


@register(
    "events_dau_wau",
    """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
nxt AS (
  SELECT user_id, day,
         LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
  FROM ud
),
contrib AS (
  SELECT user_id, unnest(generate_series(
           day,
           LEAST(day + 6, COALESCE(next_day - 1, day + 6)),
           INTERVAL 1 DAY)) AS wday
  FROM nxt
),
wau AS (SELECT CAST(wday AS DATE) AS day, COUNT(*) AS wau FROM contrib GROUP BY 1),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
span AS (SELECT MIN(day) AS d0 FROM ud)
SELECT dau.day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
       CAST((dau * 1000000 + wau // 2) // wau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau ON dau.day = wau.day CROSS JOIN span
WHERE dau.day >= d0 + 6
""",
    category="events",
    description=(
        "DAU / trailing-7-day WAU / stickiness with EXACT sliding distinct: "
        "each (user, active-day) contributes to window days "
        "[a, min(a+6, next_active-1)] — interval decomposition makes "
        "sliding count-distinct a plain groupBy, no per-day user sets"
    ),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ud feeds the interval decomposition (WAU), the DAU aggregate AND
    # the span aggregate; without a persist the events scan + distinct
    # shuffle runs three times.  ud is |users x active days| — bounded
    # far under the event count.
    ud = _active_days(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day")
    nxt = ud.select("user_id", "day", F.lead("day").over(w).alias("next_day"))
    contrib = nxt.select(
        "user_id",
        F.explode(
            F.expr(
                "sequence(day,"
                " least(date_add(day, 6),"
                " coalesce(date_sub(next_day, 1), date_add(day, 6))),"
                " INTERVAL 1 DAY)"
            )
        ).alias("wday"),
    )
    wau = contrib.groupBy(F.col("wday").cast("date").alias("day")).agg(
        F.count("*").alias("wau")
    )
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    span = ud.agg(F.min("day").alias("d0"))
    return (
        dau.join(wau, "day")
        .crossJoin(F.broadcast(span))
        .where(F.expr("day >= date_add(d0, 6)"))
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.expr(
                "CAST((dau * 1000000 + wau DIV 2) DIV wau AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
    )


@register(
    "events_time_to_convert",
    """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
  FROM events GROUP BY user_id
),
conv AS (
  SELECT (t_purchase - t_signup) // 3600000000 AS delay_hours
  FROM firsts
  WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
    AND t_purchase >= t_signup
),
n AS (SELECT COUNT(*) AS n_conv FROM conv)
SELECT CAST(delay_hours // 24 AS BIGINT) AS delay_days,
       COUNT(*) AS n_users,
       CAST((COUNT(*) * 1000000 + n_conv // 2) // n_conv AS BIGINT) AS share_ppm
FROM conv CROSS JOIN n
GROUP BY delay_days, n_conv
ORDER BY delay_days
""",
    category="events",
    description=(
        "Time-to-convert histogram (first signup -> first purchase) in "
        "whole days: deltas are exact microsecond integers, so bucket "
        "edges cannot diverge cross-engine"
    ),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_micros("ts"))
        ).alias("t_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("t_purchase"),
    )
    conv = firsts.where(
        "t_signup IS NOT NULL AND t_purchase IS NOT NULL AND t_purchase >= t_signup"
    ).select(F.expr("(t_purchase - t_signup) div 3600000000").alias("delay_hours"))
    n = conv.agg(F.count("*").alias("n_conv"))
    return (
        conv.crossJoin(F.broadcast(n))
        .groupBy(
            F.expr("CAST(delay_hours div 24 AS BIGINT)").alias("delay_days"),
            "n_conv",
        )
        .agg(F.count("*").alias("n_users"))
        .select(
            "delay_days",
            "n_users",
            F.expr(
                "CAST((n_users * 1000000 + n_conv DIV 2) DIV n_conv AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("delay_days")
    )


@register(
    "events_markov2",
    """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type, 1) OVER w AS prev1,
         LAG(event_type, 2) OVER w AS prev2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
tri AS (
  SELECT prev2, prev1, event_type AS next_type, COUNT(*) AS cnt
  FROM seq WHERE prev2 IS NOT NULL
  GROUP BY 1, 2, 3
),
ctx AS (
  SELECT prev2, prev1, CAST(SUM(cnt) AS BIGINT) AS ctx_total
  FROM tri GROUP BY 1, 2
)
SELECT t.prev2, t.prev1, t.next_type,
       CAST(t.cnt AS BIGINT) AS cnt,
       CAST((t.cnt * 1000000 + c.ctx_total // 2) // c.ctx_total AS BIGINT) AS prob_ppm
FROM tri t JOIN ctx c ON t.prev2 = c.prev2 AND t.prev1 = c.prev1
""",
    category="events",
    description=(
        "Second-order Markov transition model of event types (journey "
        "prediction): P(next | prev2, prev1) from exact trigram counts — "
        "one window shuffle on user_id, everything downstream co-partitioned"
    ),
)
def events_markov2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    ).where(F.col("prev2").isNotNull())
    tri = seq.groupBy(
        "prev2", "prev1", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("cnt"))
    ctx = tri.groupBy("prev2", "prev1").agg(
        F.sum("cnt").cast("bigint").alias("ctx_total")
    )
    return tri.join(ctx, ["prev2", "prev1"]).select(
        "prev2",
        "prev1",
        "next_type",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.expr(
            "CAST((cnt * 1000000 + ctx_total DIV 2) DIV ctx_total AS BIGINT)"
        ).alias("prob_ppm"),
    )


@register(
    "events_cohort_ltv",
    """
WITH cohort AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
),
sizes AS (SELECT cohort_day, COUNT(*) AS n_users FROM cohort GROUP BY cohort_day),
rev AS (
  SELECT c.cohort_day,
         date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) AS age_days,
         SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events e JOIN cohort c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_day, age_days,
         SUM(cents) OVER (PARTITION BY cohort_day ORDER BY age_days
                          ROWS UNBOUNDED PRECEDING) AS cum_cents
  FROM rev
)
SELECT cum.cohort_day, CAST(age_days AS BIGINT) AS age_days,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(cum_cents AS DOUBLE) / 100 AS cum_revenue,
       CAST(cum_cents AS DOUBLE) / 100 / n_users AS ltv_per_user
FROM cum JOIN sizes ON cum.cohort_day = sizes.cohort_day
""",
    category="events",
    description=(
        "Cohort LTV curves: cumulative purchase revenue per signup-day "
        "cohort by account age (fixed-point cents; one shuffle on "
        "cohort_day for the cumulative window)"
    ),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    sizes = cohort.groupBy("cohort_day").agg(F.count("*").alias("n_users"))
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "age_days"
            ),
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort_day", "age_days", F.sum("cents").over(w).alias("cum_cents")
    )
    return cum.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        F.col("age_days").cast("bigint").alias("age_days"),
        F.col("n_users").cast("bigint").alias("n_users"),
        F.expr("CAST(cum_cents AS DOUBLE) / 100").alias("cum_revenue"),
        F.expr("CAST(cum_cents AS DOUBLE) / 100 / n_users").alias("ltv_per_user"),
    )


@register(
    "events_churn_inactive",
    """
WITH u AS (
  SELECT user_id,
         MIN(CAST(ts AS DATE)) AS first_day,
         MAX(CAST(ts AS DATE)) AS last_day
  FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(last_day) AS max_day FROM u)
SELECT CAST(date_trunc('week', first_day) AS DATE) AS cohort_week,
       COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN last_day < max_day - 7 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_churned,
       CAST((CAST(SUM(CASE WHEN last_day < max_day - 7 THEN 1 ELSE 0 END)
                  AS BIGINT) * 1000000 + COUNT(*) // 2) // COUNT(*)
            AS BIGINT) AS churn_rate_ppm
FROM u CROSS JOIN horizon
GROUP BY cohort_week, max_day
ORDER BY cohort_week
""",
    category="events",
    description=(
        "Churn by signup-week cohort: users silent for the trailing 7 days "
        "of the observation window (Monday-based ISO weeks on both engines)"
    ),
)
def events_churn_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        F.max(F.col("ts").cast("date")).alias("last_day"),
    )
    horizon = u.agg(F.max("last_day").alias("max_day"))
    churned = F.sum(
        F.when(F.expr("last_day < date_sub(max_day, 7)"), 1).otherwise(0)
    )
    return (
        u.crossJoin(F.broadcast(horizon))
        .groupBy(F.date_trunc("week", "first_day").cast("date").alias("cohort_week"), "max_day")
        .agg(
            F.count("*").alias("n_users"),
            churned.cast("bigint").alias("n_churned"),
        )
        .withColumn(
            "churn_rate_ppm",
            F.expr(
                "CAST((n_churned * 1000000 + n_users DIV 2) DIV n_users AS BIGINT)"
            ),
        )
        .drop("max_day")
        .orderBy("cohort_week")
    )


@register(
    "orders_open_backlog",
    """
WITH spans AS (
  SELECT o.o_orderkey,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m0,
         CAST(date_trunc('month', MAX(l.l_shipdate)) AS DATE) AS m1
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
),
open_m AS (
  SELECT o_orderkey,
         CAST(unnest(generate_series(m0, m1, INTERVAL 1 MONTH)) AS DATE) AS m
  FROM spans WHERE m1 >= m0
)
SELECT m AS month, CAST(COUNT(*) AS BIGINT) AS open_orders
FROM open_m GROUP BY m
""",
    category="relational",
    description=(
        "Open-order backlog time series via interval decomposition: each "
        "order contributes one row per month it stays unshipped (placed -> "
        "last line shipped), turning point-in-time backlog counting into a "
        "bounded explode + plain groupBy — the same scale trick as "
        "events_dau_wau, applied to operational inventory"
    ),
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("m0"),
            F.date_trunc("month", "last_ship").cast("date").alias("m1"),
        )
        .where("m1 >= m0")
    )
    open_m = spans.select(
        F.explode(F.expr("sequence(m0, m1, INTERVAL 1 MONTH)")).alias("m0x")
    ).select(F.col("m0x").cast("date").alias("m"))
    return open_m.groupBy(F.col("m").alias("month")).agg(
        F.count("*").cast("bigint").alias("open_orders")
    )


@register(
    "events_rate_weekend_test",
    """
WITH d AS (
  SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend'
              ELSE 'weekday' END AS seg,
         CAST(ts AS DATE) AS day
  FROM events
),
c AS (
  SELECT seg,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
  FROM d GROUP BY seg
),
w AS (
  SELECT
    MAX(CASE WHEN seg = 'weekday' THEN n_events END) AS e1,
    MAX(CASE WHEN seg = 'weekday' THEN n_days END) AS d1,
    MAX(CASE WHEN seg = 'weekend' THEN n_events END) AS e2,
    MAX(CASE WHEN seg = 'weekend' THEN n_days END) AS d2
  FROM c
)
SELECT e1 AS weekday_events, d1 AS weekday_days,
       e2 AS weekend_events, d2 AS weekend_days,
       CAST(e1 AS DOUBLE) / d1 AS weekday_rate,
       CAST(e2 AS DOUBLE) / d2 AS weekend_rate,
       (CAST(e1 AS DOUBLE) / d1) / (CAST(e2 AS DOUBLE) / d2) AS rate_ratio,
       -- two-sample Poisson rate z (square-root transform, Huffman 1984):
       -- sqrt is IEEE-exact, counts are ints, so z is deterministic
       2 * (SQRT(CAST(e1 AS DOUBLE) + 0.375) - SQRT((CAST(e2 AS DOUBLE) + 0.375)
            * (CAST(d1 AS DOUBLE) / d2)))
         / SQRT(1 + CAST(d1 AS DOUBLE) / d2) AS z_stat
FROM w
""",
    category="events",
    description=(
        "Weekday-vs-weekend Poisson rate comparison: per-day event rates, "
        "rate ratio, and the variance-stabilized two-sample z statistic "
        "(Huffman 1984 square-root transform — sqrt only, so deterministic "
        "cross-engine)"
    ),
)
def events_rate_weekend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.when(F.dayofweek("ts").isin(1, 7), "weekend")
        .otherwise("weekday")
        .alias("seg"),
        F.col("ts").cast("date").alias("day"),
    )
    c = d.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("day").cast("bigint").alias("n_days"),
    )
    w = c.agg(
        F.max(F.when(F.col("seg") == "weekday", F.col("n_events"))).alias("e1"),
        F.max(F.when(F.col("seg") == "weekday", F.col("n_days"))).alias("d1"),
        F.max(F.when(F.col("seg") == "weekend", F.col("n_events"))).alias("e2"),
        F.max(F.when(F.col("seg") == "weekend", F.col("n_days"))).alias("d2"),
    )
    return w.select(
        F.col("e1").alias("weekday_events"),
        F.col("d1").alias("weekday_days"),
        F.col("e2").alias("weekend_events"),
        F.col("d2").alias("weekend_days"),
        F.expr("CAST(e1 AS DOUBLE) / d1").alias("weekday_rate"),
        F.expr("CAST(e2 AS DOUBLE) / d2").alias("weekend_rate"),
        F.expr(
            "(CAST(e1 AS DOUBLE) / d1) / (CAST(e2 AS DOUBLE) / d2)"
        ).alias("rate_ratio"),
        F.expr(
            "2 * (SQRT(CAST(e1 AS DOUBLE) + 0.375)"
            " - SQRT((CAST(e2 AS DOUBLE) + 0.375)"
            " * (CAST(d1 AS DOUBLE) / d2)))"
            " / SQRT(1 + CAST(d1 AS DOUBLE) / d2)"
        ).alias("z_stat"),
    )


@register(
    "supplier_lead_time",
    """
WITH lt AS (
  SELECT l.l_suppkey,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS lead_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(lead_days) AS DOUBLE) / COUNT(*) AS mean_lead_days,
       quantile_cont(lead_days, 0.5) AS p50_lead_days,
       quantile_cont(lead_days, 0.9) AS p90_lead_days
FROM lt GROUP BY l_suppkey
""",
    category="relational",
    description=(
        "Supplier lead-time SLA profile: order-to-ship delay in exact whole "
        "days with mean/p50/p90 per supplier — the fulfillment analog of "
        "dq_freshness_lag"
    ),
)
def supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lead_days"),
    )
    return lt.groupBy("l_suppkey").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.expr("CAST(SUM(lead_days) AS DOUBLE) / COUNT(*)").alias(
            "mean_lead_days"
        ),
        F.expr("percentile(lead_days, 0.5)").alias("p50_lead_days"),
        F.expr("percentile(lead_days, 0.9)").alias("p90_lead_days"),
    )


@register(
    "customer_order_intervals",
    """
WITH iv AS (
  SELECT o_custkey,
         date_diff('day',
                   CAST(LAG(o_orderdate) OVER w AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
g AS (SELECT gap_days FROM iv WHERE gap_days IS NOT NULL),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM g)
SELECT CAST(gap_days // 30 AS BIGINT) AS gap_months,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST((COUNT(*) * 1000000 + tot // 2) // tot AS BIGINT) AS share_ppm
FROM g CROSS JOIN n
GROUP BY gap_months, tot
ORDER BY gap_months
""",
    category="relational",
    description=(
        "Inter-purchase interval distribution (repeat-rate / churn-model "
        "input): day gaps between consecutive orders per customer, bucketed "
        "by 30-day month — exact integer day arithmetic"
    ),
)
def customer_order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    iv = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag("o_orderdate").over(w).cast("date"),
        ).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    n = iv.agg(F.count("*").cast("bigint").alias("tot"))
    return (
        iv.crossJoin(F.broadcast(n))
        .groupBy(F.expr("CAST(gap_days div 30 AS BIGINT)").alias("gap_months"), "tot")
        .agg(F.count("*").cast("bigint").alias("n_gaps"))
        .select(
            "gap_months",
            "n_gaps",
            # exact integer ppm (half-up) — ROUND(double, 6) outputs are
            # engine-unstable under the driver's raw-value hash
            F.expr(
                "CAST((n_gaps * 1000000 + tot DIV 2) DIV tot AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("gap_months")
    )


@register(
    "events_burstiness",
    """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
m AS (
  -- sq accumulates in exact DECIMAL (round 13, advisor): the round-12
  -- double-tree fix removed the n_hours*sq product overflow, but the
  -- int64 ACCUMULATOR SUM(n*n) itself overflows once one event type
  -- pairs ~1e12 events with ~1.7e4 active hours (sq ~ 6e19 > 2^63) —
  -- and DuckDB's HUGEINT sum would silently diverge from Spark's ANSI
  -- failure.  DECIMAL(18,0) inputs -> (37,0) products -> (38,0) sum is
  -- exact and order-independent on both engines.
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(n) AS BIGINT) AS s,
         SUM(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))) AS sq
  FROM h GROUP BY event_type
)
SELECT event_type, n_hours,
       CAST(s AS DOUBLE) / n_hours AS mean_per_hour,
       (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_hours) / n_hours
         AS var_per_hour,
       ((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_hours) / n_hours)
         / (CAST(s AS DOUBLE) / n_hours) AS fano_factor
FROM m WHERE s > 0
""",
    category="events",
    description=(
        "Burstiness (Fano factor) per event type over hourly counts: "
        "variance-to-mean ratio ~1 means Poisson arrivals, >>1 means "
        "bursts — the dispersion diagnostic behind rate-anomaly "
        "thresholds; exact integer moments on active hours"
    ),
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-unbounded moment, overflow-safe (round-12 removed the
    ``n_hours * sq - s * s`` product overflow via the double-tree combine;
    round 13, advisor, hardened the ACCUMULATOR too): ``SUM(n*n)`` in
    int64 overflows once one event type pairs ~1e12 events with ~1.7e4
    active hours (sq ~ 6e19 > 2^63) — Spark ANSI fails loudly while
    DuckDB's HUGEINT sum silently succeeds.  sq now accumulates in exact
    DECIMAL on both engines (18,0 inputs -> 37,0 products -> 38,0 sum,
    order-independent, headroom to 1e38), and the combine stays the
    double tree — each conversion is the correctly-rounded IEEE value of
    the same exact integer on both engines, so results are deterministic
    and bit-exact at any volume the DECIMAL holds.  Synthetic overflow
    pins (product AND accumulator): tests/test_scale_defect_pins.py."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    m = h.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(
            F.col("n").cast("decimal(18,0)") * F.col("n").cast("decimal(18,0)")
        ).alias("sq"),
    ).where("s > 0")
    return m.select(
        "event_type",
        "n_hours",
        F.expr("CAST(s AS DOUBLE) / n_hours").alias("mean_per_hour"),
        F.expr(
            "(CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_hours) / n_hours"
        ).alias("var_per_hour"),
        F.expr(
            "((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_hours)"
            " / n_hours) / (CAST(s AS DOUBLE) / n_hours)"
        ).alias("fano_factor"),
    )


@register(
    "events_l28_histogram",
    """
WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS m FROM events),
a AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events CROSS JOIN mx
  WHERE CAST(ts AS DATE) > m - 28
),
u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS active_days
  FROM a GROUP BY user_id
)
SELECT active_days, CAST(COUNT(*) AS BIGINT) AS n_users
FROM u GROUP BY active_days
""",
    category="events",
    description=(
        "L28 engagement histogram: distribution of per-user active-day "
        "counts over the trailing 28-day window (the standard "
        "power-user curve / L-ness metric): distinct (user, day) "
        "activity, per-user counts, bounded 28-bucket histogram"
    ),
)
def events_l28_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on user_id after the distinct (which itself combines
    map-side); the output is <= 28 rows at any event volume.  The date
    window binds as a pushdown-friendly filter against the broadcast
    1-row max-date aggregate."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("m"))
    a = (
        ev.crossJoin(F.broadcast(mx))
        .where(F.to_date("ts") > F.date_sub(F.col("m"), 28))
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    u = a.groupBy("user_id").agg(F.count("*").cast("bigint").alias("active_days"))
    return u.groupBy("active_days").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


@register(
    "events_time_in_state",
    """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_us,
         epoch_us(ts) AS us
  FROM events
)
SELECT event_type AS state,
       CAST(COUNT(next_us) AS BIGINT) AS n_dwells,
       CAST(SUM(next_us - us) AS BIGINT) AS total_dwell_us,
       CAST(CAST(SUM(next_us - us) AS DOUBLE) / COUNT(next_us) AS DOUBLE)
         AS avg_dwell_us
FROM s WHERE next_us IS NOT NULL
GROUP BY event_type
""",
    category="events",
    description=(
        "Time-in-state analysis: per event type, how long users dwell in "
        "that state before their next event (exact microsecond deltas "
        "from one lead window — the sojourn-time side of the Markov "
        "transition matrix events_type_transitions builds)"
    ),
)
def events_time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on user_id (the lead window), then a map-side
    combinable aggregate over exact integer microsecond dwells; the
    output is |event types| rows at any volume."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).where(F.col("next_us").isNotNull())
    return s.groupBy("state").agg(
        F.count("*").cast("bigint").alias("n_dwells"),
        F.sum(F.col("next_us") - F.col("us")).cast("bigint").alias("total_dwell_us"),
        F.expr(
            "CAST(CAST(SUM(next_us - us) AS DOUBLE) / COUNT(next_us) AS DOUBLE)"
        ).alias("avg_dwell_us"),
    )
