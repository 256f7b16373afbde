"""Event-table query specs: JSON extraction, tumbling windows,
sessionization, funnel pivots (SURVEY §2.2 scalar-JSON + streaming rows;
batch semantics here, streaming twins in findb_spark.streaming)."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from findb_spark.functions.hashing import hash48_duck
from findb_spark.ops.events import event_type_pivot, sessionize, tumbling_agg
from findb_spark.registry import register
from findb_spark.session import load_table

# --- sketch self-certification (round-9 verdict item 6, hardened r11) -------
#
# The two sketch queries below emit (exact distinct + an in-plan boolean
# asserting the engine-specific estimate lands within its theoretical
# bound), so the row hashes identically cross-engine while a broken sketch
# path still reads false.  The DuckDB oracle hardcodes TRUE for the
# verdict, which opens a tautology window: a bound expression that can
# never read false would certify forever (the round-8 vacuous-
# certification class, one level up).  The two seams below exist so
# tests/test_sketch_selfcert.py can MUTATION-VERIFY the bound: it swaps
# each estimator for a corrupted one (exact * 2), re-runs the REAL
# registered query, and asserts every verdict flips to false.  Neutering
# the bound (flipping the comparison, dropping the estimate) fails that
# test, so the certification cannot silently go vacuous.
#
# RECALIBRATION (round-10 advisor note): the bound turns a probabilistic
# guarantee into a hard parity gate.  Margins are generous — observed
# worst rel-err at sf0.1 is 6.7% vs the 15% rsd bound and 1.3% vs the 5%
# sigma bound — but a new corpus whose deterministic HLL error
# legitimately exceeds them would hash-fail against the oracle's TRUE
# even with a correct engine.  If that happens: widen the percent
# constant here (only here — the oracle asserts the verdict boolean, not
# the margin, so the two engines cannot drift), re-run the mutation test
# (which must still flip at exact*2), and record the new observed margin
# in the query description.

#: 3x the requested rsd (0.05) for approx_count_distinct, in percent.
_APPROX_DISTINCT_BOUND_PCT = 15
#: 3 sigma of the datasketches HLL bound at default lgConfigK=12
#: (1.04/sqrt(2^12) ~ 1.6% -> 5%), in percent.
_HLL_UNION_BOUND_PCT = 5


def _approx_distinct_estimate(col: str) -> F.Column:
    """HyperLogLog++ estimate — the mutation seam for the 3x-rsd bound."""
    return F.approx_count_distinct(col, 0.05)


def _hll_union_estimate(sketch_col: str) -> F.Column:
    """Merged-sketch estimate (hll_union_agg of per-day hll_sketch_agg
    partials) — the mutation seam for the 3-sigma bound."""
    return F.hll_sketch_estimate(F.hll_union_agg(sketch_col))


def _sketch_bound_verdict(est: F.Column, exact: F.Column, pct: int) -> F.Column:
    """Integer-exact bound check: |est - exact| <= pct% of exact."""
    return F.abs(est - exact) * F.lit(100) <= exact * F.lit(pct)


@register(
    "events_json_extract",
    """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
""",
    category="events",
    description="JSON property extraction (props.k) + grouped integer aggregates",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_type_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n,
       n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
FROM t
""",
    category="events",
    description=(
        "Markov transition matrix over per-user event sequences: one lag "
        "window (shuffle on user_id) + tiny (|types|^2-row) aggregate; "
        "row probabilities via a window over the aggregated matrix"
    ),
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    pw = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(pw).cast("double")).alias("p"),
    )


@register(
    "events_tumbling_hourly",
    """
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS bucket_start_us,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
FROM events
GROUP BY 1, 2
""",
    category="events",
    description="Tumbling 1-hour window aggregation (batch twin of the streaming op)",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour")


@register(
    "events_sessionize",
    """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
s AS (
  SELECT user_id, event_id, tus,
         -- strictly greater: an event at exactly prev + gap still extends
         -- the session (Spark session_window merges touching windows)
         CASE WHEN LAG(tus) OVER w IS NULL
                OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_start
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
g AS (
  -- event_id tiebreak keeps the running sum deterministic when a user
  -- has two events at the same microsecond (matches the Spark window)
  SELECT user_id, tus,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
  FROM s
)
SELECT user_id, session_num,
       COUNT(*) AS n_events,
       MIN(tus) AS session_start_us,
       MAX(tus) AS session_end_us,
       (MAX(tus) - MIN(tus)) / 1000000.0 AS duration_sec
FROM g GROUP BY user_id, session_num
""",
    category="events",
    description="Gap-based sessionization (30-min inactivity) via lag + running sum",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


@register(
    "events_approx_distinct",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       COUNT(*) AS n_events,
       TRUE AS sketch_within_3rsd
FROM events GROUP BY event_type
""",
    category="events",
    description=(
        "approx_count_distinct (HyperLogLog++) per event type — SELF-"
        "CERTIFYING: the engine-specific estimate is computed in-plan and "
        "checked against the exact distinct within 3x the requested rsd "
        "(0.05), so the emitted row (exact count + bound verdict) hashes "
        "identically cross-engine while still failing if the sketch path "
        "breaks (round-9 verdict item 6; worst observed rel err 6.7% at "
        "sf0.1 vs the 15% bound)"
    ),
)
def events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            _approx_distinct_estimate("user_id").alias("_est"),
            F.count_distinct("user_id").alias("n_users_exact"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.col("n_users_exact").cast("bigint").alias("n_users_exact"),
            "n_events",
            _sketch_bound_verdict(
                F.col("_est"), F.col("n_users_exact"), _APPROX_DISTINCT_BOUND_PCT
            ).alias("sketch_within_3rsd"),
        )
    )


@register(
    "events_retention",
    """
WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
f AS (SELECT user_id, MIN(day) AS first_day FROM d GROUP BY user_id)
SELECT CAST(strftime(first_day, '%Y%m%d') AS INT) AS cohort_day,
       date_diff('day', first_day, day) AS age_days,
       COUNT(*) AS n_users
FROM d JOIN f ON d.user_id = f.user_id
GROUP BY 1, 2
""",
    category="events",
    description="Cohort retention: users active N days after their first-seen day",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    f = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        d.join(f, "user_id")
        .groupBy(
            F.date_format("first_day", "yyyyMMdd").cast("int").alias("cohort_day"),
            F.datediff("day", "first_day").alias("age_days"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "events_funnel_pivot",
    """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       COUNT(*) AS n_total
FROM events GROUP BY user_id
""",
    category="events",
    description="Per-user funnel pivot via conditional aggregation",
)
def events_funnel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_type_pivot(load_table(spark, sf_dir, "events"))


@register(
    "events_funnel_conversion",
    """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM per_user
""",
    category="events",
    description="Ordered funnel conversion (first view -> later click -> later purchase) via conditional min timestamps",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    step1 = F.col("t_view").isNotNull()
    step2 = step1 & (F.col("t_click") > F.col("t_view"))
    step3 = step2 & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(step1.cast("int")).alias("n_view"),
        F.sum(step2.cast("int")).alias("n_click_after_view"),
        F.sum(step3.cast("int")).alias("n_full_funnel"),
    )


@register(
    "events_hourly_anomaly",
    """
WITH hourly AS (
  SELECT user_id, epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS hour_us,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
stats AS (
  -- ss in exact DECIMAL (round 13, advisor): the int64 SUM(cnt*cnt)
  -- accumulator overflows in the same degenerate-key regime the round-12
  -- double-tree combine was built for, and DuckDB's HUGEINT sum would
  -- silently diverge from Spark's ANSI failure there
  SELECT user_id, COUNT(*) AS n_h, SUM(cnt) AS s,
         SUM(CAST(cnt AS DECIMAL(18,0)) * CAST(cnt AS DECIMAL(18,0))) AS ss
  FROM hourly GROUP BY user_id
)
SELECT * FROM (
  SELECT user_id, hour_us, cnt,
         (CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / n_h)
           / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_h) / n_h) AS z
  FROM hourly JOIN stats USING (user_id)
  WHERE n_h >= 3 AND CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_h > 0
) WHERE z > 2.0
""",
    category="events",
    description=(
        "Per-user hourly activity anomalies: hours > 2 population std-devs "
        "above the user's mean hourly count (exact moment sums -> identical "
        "double tree, cross-engine deterministic); variance in the "
        "overflow-safe double-tree form (round 12 — the old n_h*ss - s*s "
        "int64 product trips ANSI overflow once one user accumulates a "
        "~2e7-event hour alongside a calendar-long tail, the degenerate-"
        "key shape 100 TB corpora actually contain); the ss accumulator "
        "itself in exact DECIMAL (round 13)"
    ),
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.events import hourly_anomaly

    return hourly_anomaly(load_table(spark, sf_dir, "events"))


@register(
    "events_json_keys",
    """
SELECT k AS prop_key, COUNT(*) AS n_events
FROM events, unnest(json_keys(props)) t(k)
GROUP BY k
""",
    category="events",
    description="JSON schema discovery: explode each event's top-level property keys and count occurrences",
)
def events_json_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.explode(F.json_object_keys("props")).alias("prop_key"))
        .groupBy("prop_key")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "events_value_histogram",
    """
SELECT CASE WHEN value < 0 THEN 0
            WHEN value >= 100 THEN 21
            ELSE CAST(FLOOR(value / 5.0) AS BIGINT) + 1 END AS bucket,
       COUNT(*) AS n_events,
       MIN(value) AS min_val, MAX(value) AS max_val
FROM events GROUP BY bucket
""",
    category="events",
    description="Equi-width histogram via SQL-standard width_bucket (20 buckets over [0,100) + overflow buckets)",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.width_bucket("value", F.lit(0.0), F.lit(100.0), F.lit(20)).alias(
                "bucket"
            ),
            "value",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
    )


def _hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted distinct (user, day, type) relation: it feeds both
    branches of events_hll_rollup."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day"), "event_type"
    ).distinct()
    return du.persist(StorageLevel.MEMORY_AND_DISK)


@register(
    "events_hll_rollup",
    """
SELECT epoch_us(date_trunc('week', ts)) AS week_us,
       event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS sketch_within_3sigma
FROM events GROUP BY 1, 2
""",
    category="events",
    description=(
        "Reusable-sketch distinct counting: per-day HLL sketches "
        "(hll_sketch_agg) merged into weekly estimates with hll_union_agg "
        "— the store-partials-merge-cheap pattern that replaces recounting "
        "raw data at 100 TB.  SELF-CERTIFYING (round-9 verdict item 6): "
        "the merged-sketch estimate is checked in-plan against the exact "
        "weekly distinct within 3 sigma of the datasketches HLL bound "
        "(1.04/sqrt(2^12) ~ 1.6% at the default lgConfigK=12 -> 5%), so "
        "the emitted row hashes cross-engine while a broken sketch/merge "
        "path still reads false (worst observed rel err 1.3% at sf0.1; "
        "recalibration procedure in the module header).  Certification "
        "cost: sketch and exact branches share ONE persisted distinct "
        "(user, day, type) relation — one events scan, not two; a "
        "production rollup would keep only the sketch branch"
    ),
)
def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE events scan (round-10 verdict item 6): both the sketch branch
    # and the exact certification branch derive from this persisted
    # distinct (user, day, type) relation — HLL is duplicate-insensitive,
    # so sketching the distinct rows yields the identical sketch, and the
    # relation is |users x active days x types|, bounded far under the
    # event count at any SF.  Without the persist the self-cert would
    # re-scan raw events for the exact side (the round-10 advisor note).
    du = _hll_distinct_users(spark, sf_dir)
    daily = du.groupBy("day", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    weekly = daily.groupBy(
        F.date_trunc("week", "day").alias("week"), F.col("event_type")
    ).agg(_hll_union_estimate("sketch").alias("_est"))
    exact = du.groupBy(
        F.date_trunc("week", "day").alias("week"), "event_type"
    ).agg(F.count_distinct("user_id").alias("n_users_exact"))
    return weekly.join(exact, ["week", "event_type"]).select(
        F.unix_micros("week").alias("week_us"),
        "event_type",
        F.col("n_users_exact").cast("bigint").alias("n_users_exact"),
        _sketch_bound_verdict(
            F.col("_est"), F.col("n_users_exact"), _HLL_UNION_BOUND_PCT
        ).alias("sketch_within_3sigma"),
    )


@register(
    "events_funnel_timeout",
    """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
    AND e.ts <= v.t_view + INTERVAL 1 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    AND e.ts <= c.t_click + INTERVAL 1 HOUR
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_1h,
       (SELECT COUNT(*) FROM p) AS n_purchase_1h
""",
    category="events",
    description=(
        "Timeout-bounded funnel: first view -> first click within 1h -> "
        "first purchase within 1h of the click; each stage is one "
        "aggregate + an equi-join back (no window over raw events)"
    ),
)
def events_funnel_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # each funnel stage feeds BOTH the next stage's join and its own
    # count; truncate so every events slice is scanned exactly once
    # (the per-user firsts are |users|-bounded)
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    ).localCheckpoint(eager=False)
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    ).localCheckpoint(eager=False)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click_1h")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_1h")))
    )


@register(
    "events_variant_extract",
    """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
""",
    category="events",
    description=(
        "Spark 4 VariantType JSON path: parse_json once into a binary "
        "variant column, then variant_get field extraction — the "
        "shredded semi-structured representation that replaces repeated "
        "get_json_object string re-parsing at scale; results identical "
        "to the string-path twin (events_json_extract), runtime path "
        "entirely different"
    ),
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as events_json_extract through the modern engine
    path: one parse per row into VariantType (binary, typed), then cheap
    typed field access.  At 100 TB the win is parsing each props string
    ONCE regardless of how many fields queries touch (vs one full parse
    per get_json_object call), plus Parquet variant shredding when the
    column is persisted."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.try_variant_get(F.col("v"), "$.k", "bigint")
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_sliding_hourly",
    """
WITH x AS (
  SELECT epoch_us(ts) AS tus, value FROM events
),
w AS (
  -- each event belongs to duration/slide = 4 overlapping 1h windows at
  -- 15-min slide; window start = the slide-aligned bucket k slides back
  SELECT (tus // 900000000 - k) * 900000000 AS win_start_us, value
  FROM x, unnest(range(4)) AS t(k)
)
SELECT win_start_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
FROM w GROUP BY win_start_us
""",
    category="events",
    description=(
        "Batch twin of the sliding-window stream (1h windows, 15-min "
        "slide): each event expands into duration/slide = 4 window "
        "memberships via a tiny constant explode, then a plain grouped "
        "aggregate — the exact multiset Spark's window(ts, '1 hour', "
        "'15 minutes') produces"
    ),
)
def events_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows in batch via F.window (the same relation the
    watermarked stream emits, pinned stream==batch by
    tests/test_streaming.py); the oracle derives membership arithmetic
    explicitly (slide-aligned starts k slides back).  Scale shape: the
    explode factor is the CONSTANT duration/slide (4), then one
    map-side-combined aggregate — linear in events at any scale."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5))
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents).cast("double") / 100).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_run_lengths",
    """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   = event_type THEN 0 ELSE 1 END AS chg
  FROM events
),
r AS (
  SELECT user_id, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
  FROM o
),
runs AS (
  SELECT user_id, grp, event_type, COUNT(*) AS run_len
  FROM r GROUP BY 1, 2, 3
),
agg AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
         CAST(MAX(run_len) AS BIGINT) AS max_run_len
  FROM runs GROUP BY 1
),
best AS (
  SELECT user_id, CAST(run_len AS BIGINT) AS run_len,
         MIN(event_type) AS max_run_type
  FROM runs GROUP BY 1, 2
)
SELECT a.user_id, a.n_runs, a.max_run_len, b.max_run_type
FROM agg a JOIN best b ON a.user_id = b.user_id AND a.max_run_len = b.run_len
""",
    category="events",
    description=(
        "Gaps-and-islands run-length analysis: maximal streaks of identical "
        "event_type per user (lag-change flag -> running-sum group id -> "
        "per-run count), reporting run count, longest streak, and its type "
        "(min type on ties).  Streak detection = session-quality / "
        "bot-behavior signal; one shuffle on user_id, every window and "
        "aggregate reuses that partitioning"
    ),
)
def events_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic gaps-and-islands shape, Spark-first: the change flag and
    group id come from two passes over ONE user_id-partitioned sort (lag,
    running sum — no self-join), runs from a groupBy on (user, grp) that
    AQE coalesces on the same key prefix.  At 100 TB the single wide
    shuffle is the per-user sort; everything downstream is key-local."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        F.when(F.lag("event_type").over(w) == F.col("event_type"), 0)
        .otherwise(1)
        .alias("chg")
    )
    r = ev.select("user_id", "event_type", "ts", "event_id", chg).select(
        "user_id",
        "event_type",
        F.sum("chg").over(w).alias("grp"),
    )
    runs = r.groupBy("user_id", "grp", "event_type").agg(
        F.count("*").alias("run_len")
    )
    agg = runs.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("max_run_len"),
    )
    best = runs.groupBy("user_id", F.col("run_len").cast("bigint").alias("run_len")).agg(
        F.min("event_type").alias("max_run_type")
    )
    return agg.join(
        best,
        (agg.user_id == best.user_id) & (agg.max_run_len == best.run_len),
    ).select(agg.user_id, "n_runs", "max_run_len", "max_run_type")


@register(
    "events_retention_cohorts",
    """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
  FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_date, CAST(COUNT(*) AS BIGINT) AS n_cohort
  FROM firsts GROUP BY cohort_date
),
active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
ret AS (
  SELECT f.cohort_date,
         CAST(date_diff('day', f.cohort_date, a.d) AS BIGINT) AS day_n,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
  FROM active a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT CAST(r.cohort_date AS VARCHAR) AS cohort_day, r.day_n, r.n_active,
       s.n_cohort,
       CAST((r.n_active * 1000000 + s.n_cohort // 2) // s.n_cohort AS BIGINT)
         AS retention_ppm
FROM ret r JOIN sizes s USING (cohort_date)
""",
    category="events",
    description=(
        "Cohort retention matrix with NORMALIZED ratios: users grouped by "
        "first-seen date, active-user count AND retained fraction "
        "(n_active/n_cohort) per day offset — the product metric form of "
        "the raw count triangle `events_retention` produces (that query "
        "stays as the counts-only shape; this one adds the cohort-size "
        "join + ratio).  Two-level aggregation: the wide passes "
        "(first-seen, distinct active days) shuffle on user_id once each "
        "and co-partition the join; the (cohort, offset) matrix is tiny "
        "at any corpus size"
    ),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention as relational algebra: first-seen per user (min over one
    user_id shuffle), distinct (user, day) activity, a user_id equi-join
    (both sides hash-partitioned on the same key — AQE reuses the
    partitioning), then a count-distinct on the small (cohort, offset)
    grid.  At 100 TB the only wide data is per-user state; the output is
    |cohorts| x |offsets| regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    sizes = firsts.groupBy("cohort_date").agg(
        F.count("*").cast("bigint").alias("n_cohort")
    )
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    ret = (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("d", "cohort_date").cast("bigint").alias("day_n"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )
    return ret.join(sizes, "cohort_date").select(
        F.col("cohort_date").cast("string").alias("cohort_day"),
        "day_n",
        "n_active",
        "n_cohort",
        F.expr(
            "CAST((n_active * 1000000 + n_cohort DIV 2) DIV n_cohort AS BIGINT)"
        ).alias("retention_ppm"),
    )


@register(
    "events_attribution",
    """
WITH o AS (
  SELECT user_id, event_type, ts, event_id, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events
),
g AS (
  -- walking time BACKWARD, a running sum of purchase markers groups every
  -- touch with the NEXT purchase that follows it in time
  SELECT *,
         SUM(is_p) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                         ROWS UNBOUNDED PRECEDING) AS grp
  FROM o
),
conv AS (
  SELECT user_id, grp, ts AS p_ts, value AS p_value
  FROM g WHERE is_p = 1
),
touches AS (
  SELECT g.user_id, g.grp, g.event_type, g.ts, g.event_id,
         c.p_ts, c.p_value
  FROM g JOIN conv c ON g.user_id = c.user_id AND g.grp = c.grp
  WHERE g.is_p = 0
    AND g.event_type IN ('click', 'view')
    AND g.ts < c.p_ts
    AND g.ts + INTERVAL 168 HOUR > c.p_ts
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id, grp ORDER BY ts, event_id) AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY user_id, grp ORDER BY ts DESC, event_id DESC) AS rn_last,
         COUNT(*) OVER (PARTITION BY user_id, grp) AS n_touch
  FROM touches
)
SELECT event_type AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CAST(FLOOR((CASE WHEN rn_first = 1 THEN p_value ELSE 0 END) * 100 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 100 AS first_touch_rev,
       CAST(SUM(CAST(FLOOR((CASE WHEN rn_last = 1 THEN p_value ELSE 0 END) * 100 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 100 AS last_touch_rev,
       CAST(SUM(CAST(FLOOR(p_value / n_touch * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 10000 AS linear_rev
FROM ranked GROUP BY event_type
""",
    category="events",
    description=(
        "Multi-touch attribution: every click/view touch within 7 days "
        "before a user's next purchase shares that purchase's revenue "
        "under first-touch / last-touch / linear models.  The "
        "touch-to-conversion assignment is a reverse-cumulative-sum "
        "window (no time-range self-join): one shuffle on user_id, every "
        "window and the conversion join reuse that partitioning"
    ),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution Spark-first: walking each user's stream backward, a
    running SUM of purchase markers assigns every touch to the next
    purchase after it (the gaps-and-islands trick applied to
    conversions) — O(n log n) per user via one sort, where the naive
    formulation is a time-range self-join (quadratic per heavy user).
    The conversion join is user_id+grp equi (co-partitioned); window
    lookback is a pure filter.  Revenue sums are order-independent
    fixed-point (cents for first/last touch; the linear share applies the
    per-row divide first, then fxp-scales the quotient at 1e4) so Spark's
    partial aggregation and DuckDB's sequential sum agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
    )
    wrev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = o.withColumn("grp", F.sum("is_p").over(wrev))
    conv = g.where("is_p = 1").select(
        "user_id", "grp", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    touches = (
        g.where("is_p = 0")
        .where(F.col("event_type").isin("click", "view"))
        .join(conv, ["user_id", "grp"])
        .where(
            (F.col("ts") < F.col("p_ts"))
            # microsecond-exact lookback bound (interval arithmetic on both
            # engines; an epoch-seconds or date_diff('hour') formulation
            # truncates and diverges at the window edge)
            & (F.col("ts") + F.expr("INTERVAL 168 HOURS") > F.col("p_ts"))
        )
    )
    wf = Window.partitionBy("user_id", "grp").orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id", "grp").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id", "grp")
    ranked = touches.select(
        "event_type",
        "p_value",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
        F.count("*").over(wc).alias("n_touch"),
    )
    first_cents = F.floor(
        F.when(F.col("rn_first") == 1, F.col("p_value")).otherwise(0.0) * 100
        + F.lit(0.5)
    )
    last_cents = F.floor(
        F.when(F.col("rn_last") == 1, F.col("p_value")).otherwise(0.0) * 100
        + F.lit(0.5)
    )
    linear_fxp = F.floor(
        F.col("p_value") / F.col("n_touch") * 10000 + F.lit(0.5)
    )
    return ranked.groupBy(F.col("event_type").alias("channel")).agg(
        F.count("*").cast("bigint").alias("n_touches"),
        (F.sum(first_cents).cast("double") / 100).alias("first_touch_rev"),
        (F.sum(last_cents).cast("double") / 100).alias("last_touch_rev"),
        (F.sum(linear_fxp).cast("double") / 10000).alias("linear_rev"),
    )


@register(
    "events_anomaly_mad",
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         quantile_cont(cnt, 0.5) AS med
  FROM hourly GROUP BY event_type
),
dev AS (
  SELECT h.event_type, h.h, h.cnt, s.med, ABS(h.cnt - s.med) AS adev
  FROM hourly h JOIN stats s USING (event_type)
),
mads AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(ANY_VALUE(d.med) * 2 AS BIGINT) AS median_cnt_x2,
       CAST(ANY_VALUE(m.mad) * 4 AS BIGINT) AS mad_x4,
       CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       CAST(MAX(d.adev) * 2 AS BIGINT) AS max_abs_dev_x2
FROM dev d JOIN mads m USING (event_type)
GROUP BY d.event_type
""",
    category="events",
    description=(
        "Robust anomaly detection on the event stream: hourly counts per "
        "type flagged where |count - median| > 3*MAD — the "
        "outlier-resistant volume monitor (a traffic spike cannot drag "
        "its own threshold the way mean/stddev gates do; the robust twin "
        "of the per-user z-score gate `events_hourly_anomaly`).  Exact "
        "percentiles run on the (type, hour) rollup, never raw events"
    ),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level robust stats: the wide pass is the map-side-combinable
    hourly COUNT (output = |types| x |hours|, corpus-size-independent);
    median and MAD are exact percentiles over that small rollup.  The
    same shape drives the streaming DQ monitor
    (streaming/events_stream.py) in batch form."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("cnt"))
    # hourly (|types| x |hours|) feeds the median pass and the deviation
    # join; dev likewise feeds the MAD pass and the final rollup — pin
    # both so the wide events scan runs exactly once
    hourly = hourly.localCheckpoint(eager=False)
    stats = hourly.groupBy("event_type").agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    dev = hourly.join(stats, "event_type").select(
        "event_type",
        "h",
        "cnt",
        "med",
        F.abs(F.col("cnt") - F.col("med")).alias("adev"),
    )
    dev = dev.localCheckpoint(eager=False)
    mads = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(mads, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            (F.first("med") * 2).cast("bigint").alias("median_cnt_x2"),
            (F.first("mad") * 4).cast("bigint").alias("mad_x4"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
            (F.max("adev") * 2).cast("bigint").alias("max_abs_dev_x2"),
        )
    )


@register(
    "events_session_paths",
    """
WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
s AS (
  SELECT user_id, event_id, event_type, tus,
         CASE WHEN LAG(tus) OVER w IS NULL
                OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_start
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
g AS (
  SELECT user_id, event_id, event_type, tus,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
  FROM s
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_num
                               ORDER BY tus, event_id) AS rn
  FROM g
),
per AS (
  SELECT user_id, session_num,
         string_agg(CASE WHEN rn <= 3 THEN event_type END, '>' ORDER BY rn) AS path,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p
  FROM r GROUP BY 1, 2
)
SELECT path,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(has_p) AS BIGINT) AS n_converted,
       CAST((CAST(SUM(has_p) AS BIGINT) * 1000000 + COUNT(*) // 2) // COUNT(*)
            AS BIGINT) AS conv_rate_ppm
FROM per GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 20
""",
    category="events",
    description=(
        "User-journey path analysis: the top 20 session-opening paths "
        "(first 3 event types per gap-session, in order) with session "
        "count and purchase-conversion rate — the Sankey-diagram feed.  "
        "Built on the SAME strictly-greater gap rule the sessionize "
        "suite pins against native session_window"
    ),
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining Spark-first: `ops.events.session_events` assigns
    sessions in one user_id sort; the per-session path is array algebra
    (sort_array of (rank, type) structs -> slice -> array_join), so the
    second aggregation groups by a bounded-cardinality string, never
    re-sorting events.  Conversion is computed over the WHOLE session
    (a purchase at step 7 still counts for its opening path)."""
    from findb_spark.ops.events import session_events

    ev = load_table(spark, sf_dir, "events")
    g = session_events(ev)
    wn = Window.partitionBy("user_id", "session_num").orderBy("tus", "event_id")
    r = g.select(
        "user_id",
        "session_num",
        "event_type",
        F.row_number().over(wn).alias("rn"),
    )
    # collect CONDITIONALLY (collect_list skips NULLs), not collect-then-
    # filter (round 12): the old form gathered EVERY event of a session
    # into one aggregation buffer before slicing to 3 — bounded for human
    # sessions, an executor OOM for a degenerate gap-free bot stream
    # (1e8 events, one session).  The when() form holds <= 3 structs per
    # key at every aggregation stage while has_p still scans the whole
    # session; identical output (the filter-after-sort kept exactly
    # these structs).
    per = r.groupBy("user_id", "session_num").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("rn") <= 3, F.struct("rn", "event_type"))
                    )
                ),
                lambda s: s.getField("event_type"),
            ),
            ">",
        ).alias("path"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_p"),
    )
    return (
        per.groupBy("path")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("has_p").cast("bigint").alias("n_converted"),
            F.expr(
                "CAST((CAST(SUM(has_p) AS BIGINT) * 1000000"
                " + COUNT(*) DIV 2) DIV COUNT(*) AS BIGINT)"
            ).alias("conv_rate_ppm"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


#: alpha_64 * m^2 as the SAME double-op sequence both engines fold:
#: all literals cast to DOUBLE first, so neither engine routes through
#: DECIMAL arithmetic (Spark ANSI types bare decimal literals as
#: DECIMAL; DuckDB likewise) — identical IEEE ops, identical constant.
_HLL_ALPHA_M2 = (
    "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + "
    "CAST(1.079 AS DOUBLE) / CAST(64.0 AS DOUBLE))) * CAST(4096.0 AS DOUBLE)"
)


@register(
    "events_hll_exact_registers",
    f"""
WITH h AS (
  SELECT event_type, user_id,
         {hash48_duck("CAST(user_id AS VARCHAR)")} AS hv
  FROM events
),
r AS (
  SELECT event_type, hv % 64 AS bucket,
         CASE WHEN hv >> 6 = 0 THEN 43
              ELSE 43 - length(bin(hv >> 6)) END AS rho
  FROM h
),
regs AS (
  SELECT event_type, bucket, MAX(rho) AS m FROM r GROUP BY 1, 2
),
z AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
         SUM(CAST(1.0 AS DOUBLE)
             / CAST((CAST(1 AS BIGINT) << m) AS DOUBLE)) AS zobs
  FROM regs GROUP BY 1
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1
)
SELECT z.event_type, z.n_buckets_hit,
       {_HLL_ALPHA_M2}
         / (zobs + CAST(64 - n_buckets_hit AS DOUBLE)) AS hll_estimate,
       ex.exact_users,
       ({_HLL_ALPHA_M2}
         / (zobs + CAST(64 - n_buckets_hit AS DOUBLE)) - exact_users)
         / exact_users AS rel_err
FROM z JOIN ex USING (event_type)
""",
    category="events",
    description=(
        "Register-exact HyperLogLog (Flajolet 2007, m=64) built from "
        "first principles as DataFrame algebra: bucket = hash48 mod 64, "
        "rho from the bit-length of the remaining 42 bits (integer "
        "string ops, exact), registers via max-groupBy, and the raw "
        "estimate alpha*m^2/Z where Z sums 64 dyadic terms — exactly "
        "representable in a double at any summation order, so the "
        "ESTIMATE itself is bit-identical cross-engine and sits under "
        "the oracle hash gate (the engine-native hll_sketch_agg twin "
        "stays rows-only by design); the small-range linear-counting "
        "correction needs ln (not ulp-stable cross-engine) so the raw "
        "estimate ships with n_buckets_hit and the consumer applies "
        "m*ln(m/V) below 2.5m — pinned by the estimator-sanity test; "
        "per-type exact distinct + relative error reported alongside"
    ),
)
def events_hll_exact_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.functions.hashing import hash48

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        "user_id",
        hash48(F.col("user_id").cast("string")).alias("hv"),
    )
    r = h.select(
        "event_type",
        (F.col("hv") % 64).alias("bucket"),
        # Flajolet rho: leading-zero count + 1 over the 42-bit suffix;
        # an all-zero suffix is rho = w+1 = 43 (bin(0)='0' would give 42)
        F.expr(
            "CASE WHEN hv >> 6 = 0 THEN 43"
            " ELSE 43 - length(bin(hv >> 6)) END"
        ).alias("rho"),
    )
    regs = r.groupBy("event_type", "bucket").agg(F.max("rho").alias("m"))
    z = regs.groupBy("event_type").agg(
        F.count("*").alias("n_buckets_hit"),
        F.sum(
            F.expr(
                "CAST(1.0 AS DOUBLE)"
                " / CAST(shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) AS DOUBLE)"
            )
        ).alias("zobs"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    est = F.expr(_HLL_ALPHA_M2) / (
        F.col("zobs") + F.expr("CAST(64 - n_buckets_hit AS DOUBLE)")
    )
    return (
        z.join(ex, "event_type")
        .select(
            "event_type",
            "n_buckets_hit",
            est.alias("hll_estimate"),
            "exact_users",
            ((est - F.col("exact_users")) / F.col("exact_users")).alias("rel_err"),
        )
    )


#: 2^48 (the hash48 range) and k-1 as doubles via exact integer casts:
#: 31 * 2^48 < 2^53, so the numerator is exactly representable.
_KMV_K = 32
_KMV_NUM = "CAST(31 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)"


@register(
    "events_kmv_sketch_setops",
    f"""
WITH d AS (
  SELECT DISTINCT event_type,
         {hash48_duck("CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
u AS (
  SELECT DISTINCT 'view_click_union' AS set_name, h FROM d
  WHERE event_type IN ('view', 'click')
),
base AS (
  SELECT event_type AS set_name, h FROM d
  UNION ALL SELECT set_name, h FROM u
),
kept AS (
  SELECT set_name, h FROM (
    SELECT set_name, h,
           ROW_NUMBER() OVER (PARTITION BY set_name ORDER BY h) AS rn
    FROM base) WHERE rn <= {_KMV_K}
),
sk AS (
  SELECT set_name, CAST(COUNT(*) AS BIGINT) AS n_kept,
         MAX(h) AS kth_min
  FROM kept GROUP BY set_name
),
ex AS (
  SELECT event_type AS set_name,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY event_type
  UNION ALL
  SELECT 'view_click_union', CAST(COUNT(DISTINCT user_id) AS BIGINT)
  FROM events WHERE event_type IN ('view', 'click')
),
est AS (
  SELECT set_name, n_kept, kth_min,
         CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)
              ELSE {_KMV_NUM} / CAST(kth_min AS DOUBLE)
         END AS kmv_estimate
  FROM sk
)
SELECT e.set_name, e.n_kept, e.kth_min, e.kmv_estimate, x.exact_users,
       (e.kmv_estimate - x.exact_users) / x.exact_users AS rel_err
FROM est e JOIN ex x USING (set_name)
""",
    category="events",
    description=(
        "KMV (k-minimum-values) distinct sketch with SET ALGEBRA "
        "(Bar-Yossef 2002 / Beyer SIGMOD'07): per event type the 32 "
        "smallest user hashes; estimate (k-1)*2^48/h_(k) — order-"
        "independent integer selection + one exact double divide, so "
        "like the register-exact HLL the estimate is bit-identical "
        "cross-engine and ORACLE-HASH-CHECKED. The extra row is the "
        "sketch-level UNION (view+click): k smallest of the merged "
        "sketches estimates the union cardinality without touching raw "
        "data again — the mergeable-summaries property that lets 100 TB "
        "partial sketches roll up for free; top-k-per-group is one "
        "window over the deduped (set, hash) relation"
    ),
)
def events_kmv_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.functions.hashing import hash48

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", hash48(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    # d (the deduped (set, hash) relation the sketch description is
    # about) feeds both the per-type sets and the union set — pin it so
    # the events scan + distinct shuffle run once
    d = d.localCheckpoint(eager=False)
    u = (
        d.where(F.col("event_type").isin("view", "click"))
        .select(F.lit("view_click_union").alias("set_name"), "h")
        .distinct()
    )
    base = d.select(F.col("event_type").alias("set_name"), "h").unionAll(u)
    w = Window.partitionBy("set_name").orderBy("h")
    kept = base.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _KMV_K
    )
    sk = kept.groupBy("set_name").agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth_min")
    )
    est = F.when(
        F.col("n_kept") < _KMV_K, F.col("n_kept").cast("double")
    ).otherwise(F.expr(_KMV_NUM) / F.col("kth_min").cast("double"))
    ex = (
        ev.groupBy(F.col("event_type").alias("set_name"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .unionAll(
            ev.where(F.col("event_type").isin("view", "click")).select(
                F.lit("view_click_union").alias("set_name"), "user_id"
            )
            .groupBy("set_name")
            .agg(F.countDistinct("user_id").alias("exact_users"))
        )
    )
    return (
        sk.join(ex, "set_name")
        .select(
            "set_name",
            "n_kept",
            "kth_min",
            est.alias("kmv_estimate"),
            "exact_users",
            ((est - F.col("exact_users")) / F.col("exact_users")).alias(
                "rel_err"
            ),
        )
    )


@register(
    "events_attribution_ushape",
    """
WITH o AS (
  SELECT user_id, event_type, ts, event_id, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events
),
g AS (
  SELECT *,
         SUM(is_p) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                         ROWS UNBOUNDED PRECEDING) AS grp
  FROM o
),
conv AS (
  SELECT user_id, grp, ts AS p_ts, value AS p_value
  FROM g WHERE is_p = 1
),
touches AS (
  SELECT g.user_id, g.grp, g.event_type, g.ts, g.event_id,
         c.p_ts, c.p_value
  FROM g JOIN conv c ON g.user_id = c.user_id AND g.grp = c.grp
  WHERE g.is_p = 0
    AND g.event_type IN ('click', 'view')
    AND g.ts < c.p_ts
    AND g.ts + INTERVAL 168 HOUR > c.p_ts
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id, grp ORDER BY ts, event_id) AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY user_id, grp ORDER BY ts DESC, event_id DESC) AS rn_last,
         COUNT(*) OVER (PARTITION BY user_id, grp) AS n_touch
  FROM ranked_src
),
shares AS (
  SELECT event_type,
         CASE WHEN n_touch = 1 THEN p_value
              WHEN rn_first = 1 OR rn_last = 1 THEN
                   CASE WHEN n_touch = 2 THEN p_value * CAST(0.5 AS DOUBLE)
                        ELSE p_value * CAST(0.4 AS DOUBLE) END
              ELSE p_value * CAST(0.2 AS DOUBLE) / (n_touch - 2) END AS share
  FROM ranked
)
SELECT event_type AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CAST(FLOOR(share * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 10000 AS ushape_rev
FROM shares GROUP BY event_type
""".replace("ranked_src", "touches"),
    category="events",
    description=(
        "Position-based (U-shape 40/20/40) multi-touch attribution "
        "completing the first/last/linear family of events_attribution: "
        "40 percent of each conversion's revenue to the first and last "
        "touch, the middle 20 split evenly; degenerate paths (1 or 2 "
        "touches) collapse to 100 or 50/50.  Same reverse-cumulative-sum "
        "conversion assignment — one shuffle on user_id, no time-range "
        "self-join; shares are per-row rational then fxp-summed at 1e4"
    ),
)
def events_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shape weights are rational per row (the only divide is the middle
    split), applied BEFORE fixed-point quantization so the cross-engine
    sum is order-independent — the idiom events_attribution's linear
    model established (see that query for the windowed group-assignment
    plan shape)."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
    )
    wrev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = o.withColumn("grp", F.sum("is_p").over(wrev))
    conv = g.where("is_p = 1").select(
        "user_id", "grp", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    touches = (
        g.where("is_p = 0")
        .where(F.col("event_type").isin("click", "view"))
        .join(conv, ["user_id", "grp"])
        .where(
            (F.col("ts") < F.col("p_ts"))
            & (F.col("ts") + F.expr("INTERVAL 168 HOURS") > F.col("p_ts"))
        )
    )
    wf = Window.partitionBy("user_id", "grp").orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id", "grp").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id", "grp")
    ranked = touches.select(
        "event_type",
        "p_value",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
        F.count("*").over(wc).alias("n_touch"),
    )
    share = F.expr(
        "CASE WHEN n_touch = 1 THEN p_value"
        " WHEN rn_first = 1 OR rn_last = 1 THEN"
        " CASE WHEN n_touch = 2 THEN p_value * CAST(0.5 AS DOUBLE)"
        " ELSE p_value * CAST(0.4 AS DOUBLE) END"
        " ELSE p_value * CAST(0.2 AS DOUBLE) / (n_touch - 2) END"
    )
    return (
        ranked.select("event_type", share.alias("share"))
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            (
                F.sum(F.floor(F.col("share") * 10000 + F.lit(0.5)).cast("bigint"))
                .cast("double")
                / 10000
            ).alias("ushape_rev"),
        )
    )


_MKV_ROUNDS = 6


def _markov_stationary_sql(rounds: int = _MKV_ROUNDS) -> str:
    # transition counts are FIXED across rounds (only the mass vector
    # iterates, each pi{i} referenced once) — no CTE blowup; the per-term
    # floor division keeps every round exact-integer on both engines
    ctes = [
        """seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events)""",
        """t AS (
  SELECT prev_type AS p, event_type AS q, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type)""",
        "c AS (SELECT p, CAST(SUM(n) AS BIGINT) AS cn FROM t GROUP BY p)",
        "pi0 AS (SELECT p AS typ, CAST(1000000 AS BIGINT) AS m FROM c)",
    ]
    for i in range(rounds):
        ctes.append(
            f"pi{i + 1} AS (SELECT t.q AS typ,"
            f" CAST(SUM((pi.m * t.n) // c.cn) AS BIGINT) AS m"
            f" FROM pi{i} pi JOIN t ON pi.typ = t.p JOIN c ON t.p = c.p"
            f" GROUP BY t.q)"
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
tot AS (SELECT CAST(SUM(m) AS BIGINT) AS s FROM pi{rounds})
SELECT typ AS event_type, m AS pi_fx,
       CAST((m * 100000000 + s // 2) // s AS BIGINT) AS pi_share_p8
FROM pi{rounds}, tot
"""


@register(
    "events_markov_stationary",
    _markov_stationary_sql(),
    category="events",
    description=(
        f"Stationary distribution of the user-journey Markov chain: "
        f"{_MKV_ROUNDS} integer power-iteration rounds over the transition "
        "counts (per-term floor division, exact int mass vector) — the "
        "long-run share of attention each event type absorbs; bit-identical "
        "cross-engine, unlike float matrix iteration"
    ),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("q"),
        F.lag("event_type").over(w).alias("p"),
    ).where(F.col("p").isNotNull())
    t = seq.groupBy("p", "q").agg(F.count("*").alias("n"))
    c = t.groupBy("p").agg(F.sum("n").cast("bigint").alias("cn"))
    t = t.join(c, "p").localCheckpoint()  # K^2 rows, reused every round
    pi = c.select(F.col("p").alias("typ"), F.lit(1000000).cast("bigint").alias("m"))
    for _ in range(_MKV_ROUNDS):
        pi = (
            pi.join(t, pi["typ"] == t["p"])
            .select("q", F.expr("(m * n) div cn").alias("contrib"))
            .groupBy("q")
            .agg(F.sum("contrib").cast("bigint").alias("m"))
            .select(F.col("q").alias("typ"), "m")
            .localCheckpoint()
        )
    tot = pi.agg(F.sum("m").cast("bigint").alias("s"))
    return pi.crossJoin(F.broadcast(tot)).select(
        F.col("typ").alias("event_type"),
        F.col("m").alias("pi_fx"),
        # exact integer parts-per-1e8 (half-up): mass is ~K*1e6 so the
        # product stays far inside int64; ROUND(double, 8) is engine-unstable
        F.expr("CAST((m * 100000000 + s DIV 2) DIV s AS BIGINT)").alias(
            "pi_share_p8"
        ),
    )
