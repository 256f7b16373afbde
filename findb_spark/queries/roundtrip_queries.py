"""End-to-end ROUNDTRIP query specs — driver-checkable hard signal for
engine components that are not themselves expressible as a single
DataFrame: ingestion connectors (reference O1/O2, file.rs:591-604), the
literal findb ``.db`` bulk writer + Spark DataSource (O4,
file.rs:296-379), and Structured Streaming replays.

Each spec is still a pure function of (spark, sf_dir): it derives a
deterministic dataset from the driver tables, pushes it through the
component under test (write CSV -> ingest_csv; export .db -> DataSource
read; availableNow stream replay), and returns an aggregate the DuckDB
oracle recomputes DIRECTLY from the parquet tables.  A green row
therefore certifies the whole loop lossless, not just the final
aggregate.  Scratch files go under /tmp (mode overwrite — reruns
converge); nothing driver-visible depends on the scratch state.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from findb_spark.functions.hashing import hash48_duck
from findb_spark.prices import PRICES_ORACLE_CTE, prices_from_lineitem
from findb_spark.queries.parity import fxp_sum, fxp_sum_sql
from findb_spark.registry import register
from findb_spark.session import load_table

_SCRATCH = "/tmp/findb_spark_roundtrip"

#: sf_dirs whose crashed-process footer_stats scratch has been GC'd by
#: THIS process (roundtrip_footer_stats cleanup tier 2 runs once per
#: process per sf_dir, never mid-session where a sibling run's lazy
#: manifest could still reference a >1 h-old layout)
_FOOTER_GC_DONE: set[str] = set()


def _scratch(sf_dir: str, leaf: str) -> str:
    d = os.path.join(_SCRATCH, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, leaf)


@register(
    "roundtrip_csv_ingest",
    f"""
WITH {PRICES_ORACLE_CTE}
SELECT asset_id % 5 AS bucket,
       COUNT(*) AS n,
       MIN(date) AS min_date,
       MAX(date) AS max_date,
       CAST(SUM(ts) AS BIGINT) AS sum_ts,
       {fxp_sum_sql('value')} AS sum_value
FROM prices_v WHERE asset_id % 20 = 0
GROUP BY bucket
""",
    category="roundtrip",
    description=(
        "O1+O2 hard signal: prices derived from lineitem are rendered to "
        "headerless CSV with ISO dates/timestamps (the reference's "
        "pre-conversion form), re-ingested through ingest_csv's "
        "try_cast/ISO-normalization path, and aggregated; the oracle "
        "recomputes the aggregate straight from parquet — green means the "
        "CSV render + ISO parse loop is lossless"
    ),
)
def roundtrip_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ingest import ingest_csv

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 20 == 0)
    # the reference's RAW form: ISO date ('YYYY-MM-DD'), ISO timestamp;
    # session tz is UTC so epoch -> ISO -> epoch is exact for integral
    # seconds, and Spark's CSV writer emits shortest-roundtrip doubles
    raw = src.select(
        F.col("asset_id").cast("string"),
        F.concat(
            F.substring(F.col("date").cast("string"), 1, 4),
            F.lit("-"),
            F.substring(F.col("date").cast("string"), 5, 2),
            F.lit("-"),
            F.substring(F.col("date").cast("string"), 7, 2),
        ).alias("date"),
        F.date_format(F.timestamp_seconds("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("value").cast("string"),
    )
    path = _scratch(sf_dir, "prices_csv")
    raw.write.mode("overwrite").csv(path)
    back = ingest_csv(spark, path)
    return back.groupBy((F.col("asset_id") % 5).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        F.sum("ts").cast("bigint").alias("sum_ts"),
        fxp_sum(F.col("value"), "sum_value"),
    )


@register(
    "roundtrip_findb_db",
    f"""
WITH {PRICES_ORACLE_CTE}
SELECT COUNT(*) AS n,
       COUNT(DISTINCT asset_id) AS n_assets,
       MIN(date) AS min_date,
       MAX(date) AS max_date,
       -- the .db leaf slot stores value as IEEE float32 (reference format);
       -- model that quantization so both engines sum identical doubles
       {fxp_sum_sql('CAST(CAST(value AS REAL) AS DOUBLE)', 10000)} AS sum_value
FROM prices_v WHERE asset_id % 50 = 0
""",
    category="roundtrip",
    description=(
        "O4 hard signal: prices exported to the reference's literal .db "
        "B+tree file format (bulk bottom-up build, file.rs:296-379) and "
        "read back through the Python DataSource (leaf-range partitions + "
        "key-range pruning); oracle recomputes from parquet with the "
        "format's float32 value quantization modeled explicitly"
    ),
)
def roundtrip_findb_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.sources.findb_file import export_prices_db, read_prices_db

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 50 == 0)
    path = _scratch(sf_dir, "prices.db")
    export_prices_db(src, path)
    back = read_prices_db(spark, path)
    return back.agg(
        F.count("*").alias("n"),
        F.countDistinct("asset_id").alias("n_assets"),
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        fxp_sum(F.col("value"), "sum_value", scale=10000),
    )


def _replay_to_memory(df: DataFrame, mode: str = "complete") -> str:
    """Run an availableNow replay into a uniquely-named memory sink and
    return the sink table name (bounded: memory sinks are test/driver
    scale only — a production job writes parquet/Kafka instead)."""
    name = f"rt_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


@register(
    "roundtrip_stream_tumbling",
    """
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS bucket_start_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
FROM events GROUP BY 1, 2
""",
    category="roundtrip",
    description=(
        "Streaming hard signal: the watermarked tumbling-window stream "
        "replayed availableNow over the events file must equal the batch "
        "aggregate the oracle computes — exactly-once replay + "
        "event-time windowing certified by the driver, not just pytest"
    ),
)
def roundtrip_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.streaming.events_stream import (
        read_events_stream,
        tumbling_stream,
    )

    name = _replay_to_memory(tumbling_stream(read_events_stream(spark, sf_dir)))
    return spark.table(name).select(
        "bucket_start_us", "event_type", "n_events", "sum_value"
    )


@register(
    "roundtrip_stream_sessionize",
    """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
s AS (
  SELECT user_id, event_id, tus,
         CASE WHEN LAG(tus) OVER w IS NULL
                OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_start
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
g AS (
  SELECT user_id, tus,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
  FROM s
)
SELECT user_id,
       MIN(tus) AS session_start_us,
       MAX(tus) AS session_end_us,
       COUNT(*) AS n_events
FROM g GROUP BY user_id, session_num
""",
    category="roundtrip",
    description=(
        "Streaming-state hard signal: native session_window (gap-merged "
        "per-user sessions) replayed availableNow must equal the batch "
        "lag/cumsum sessionization the oracle computes — pins the "
        "strict-> gap boundary cross-engine AND cross-mode"
    ),
)
def roundtrip_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.streaming.events_stream import (
        read_events_stream,
        session_window_stream,
    )

    name = _replay_to_memory(session_window_stream(read_events_stream(spark, sf_dir)))
    return spark.table(name).select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    )


@register(
    "roundtrip_zorder_layout",
    f"""
WITH {PRICES_ORACLE_CTE}
SELECT asset_id % 10 AS bucket,
       COUNT(*) AS n,
       {fxp_sum_sql('value')} AS sum_value
FROM prices_v
WHERE asset_id % 4 = 0 AND date BETWEEN 19960101 AND 19961231
GROUP BY bucket
""",
    category="roundtrip",
    description=(
        "O3 layout hard signal: prices written through the Z-order "
        "(Morton-interleaved) bulk load and read back with a date-slice "
        "predicate — the access path lexicographic clustering cannot "
        "prune — must aggregate identically to the parquet-direct oracle"
    ),
)
def roundtrip_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the z-curve layout loses no rows and the date-slice read
    path returns exact results (file-skipping effectiveness itself is
    pinned by tests/test_zorder.py; correctness of the surviving scan is
    what the driver certifies here)."""
    from findb_spark.layout import read_prices, write_zorder

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 4 == 0)
    path = _scratch(sf_dir, "prices_zorder")
    write_zorder(src, path, num_partitions=8)
    # 1996 slice: the driver data's shipdates span 1995-01-02 .. 2001-11-04,
    # so this read-back is non-empty at every SF (a 1994 slice certified
    # empty-vs-empty for 8 rounds — the round-8 verdict's vacuous class).
    back = read_prices(spark, path).where(
        F.col("date").between(19960101, 19961231)
    )
    return back.groupBy((F.col("asset_id") % 10).alias("bucket")).agg(
        F.count("*").alias("n"),
        fxp_sum(F.col("value"), "sum_value"),
    )


@register(
    "roundtrip_compact_layout",
    f"""
WITH {PRICES_ORACLE_CTE}
SELECT COUNT(*) AS n,
       COUNT(DISTINCT asset_id) AS n_assets,
       {fxp_sum_sql('value')} AS sum_value,
       TRUE AS compaction_reduced_files
FROM prices_v WHERE asset_id % 10 = 0
""",
    category="roundtrip",
    description=(
        "Compaction hard signal: a deliberately fragmented clustered "
        "table (32 small files) compacted to target-size files must "
        "carry identical data, and the file count must actually shrink"
    ),
)
def roundtrip_compact_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.layout import compact, read_prices, write_prices

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 10 == 0)
    frag = _scratch(sf_dir, "prices_frag")
    dense = _scratch(sf_dir, "prices_compacted")
    write_prices(src, frag, num_partitions=32)
    stats = compact(spark, frag, dense)
    return read_prices(spark, dense).agg(
        F.count("*").alias("n"),
        F.countDistinct("asset_id").alias("n_assets"),
        fxp_sum(F.col("value"), "sum_value"),
        F.lit(stats["files_after"] < stats["files_before"]).alias(
            "compaction_reduced_files"
        ),
    )


@register(
    "roundtrip_manifest_pruned_read",
    f"""
WITH {PRICES_ORACLE_CTE}
SELECT COUNT(*) AS n,
       MIN(date) AS min_date,
       MAX(date) AS max_date,
       {fxp_sum_sql('value')} AS sum_value
FROM prices_v
WHERE asset_id % 4 = 1 AND date BETWEEN 19950101 AND 19951231
""",
    category="roundtrip",
    description=(
        "O5/O14 hard signal: a footer-stats manifest (per-file min/max "
        "index) drives a pruned read — only stats-overlapping files are "
        "opened, exact predicates re-applied — and must return exactly "
        "the rows the full-scan oracle computes"
    ),
)
def roundtrip_manifest_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's index-seek analog under driver certification: the
    manifest is the inner-node level (file.rs:425 descent), the residual
    where is the leaf re-check (file.rs:543-556).  Pruning MAY only skip
    files that provably cannot match — equality to the full-scan oracle
    is exactly that safety property."""
    from findb_spark.layout import write_prices
    from findb_spark.manifest import build_manifest, pruned_read

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 4 == 1)
    path = _scratch(sf_dir, "prices_manifest")
    write_prices(src, path, num_partitions=16)
    man = build_manifest(spark, path, ["asset_id", "date"])
    pr = pruned_read(spark, man, {"date": (19950101, 19951231)})
    return pr.agg(
        F.count("*").alias("n"),
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        fxp_sum(F.col("value"), "sum_value"),
    )


@register(
    "roundtrip_incremental_bars",
    f"""
WITH {PRICES_ORACLE_CTE},
p AS (
  SELECT *, CAST(date // 100 AS INT) AS month FROM prices_v
  WHERE asset_id % 10 = 2
),
t AS (
  SELECT asset_id, month, value,
         FIRST_VALUE(value) OVER (PARTITION BY asset_id, month
                                  ORDER BY date, ts, value) AS open,
         FIRST_VALUE(value) OVER (PARTITION BY asset_id, month
                                  ORDER BY date DESC, ts DESC, value DESC) AS close
  FROM p
)
SELECT asset_id, month,
       MIN(open) AS open, MAX(value) AS high, MIN(value) AS low,
       MIN(close) AS close, COUNT(*) AS n_rev
FROM t GROUP BY asset_id, month
""",
    category="roundtrip",
    description=(
        "Incremental materialized-view maintenance hard signal: monthly "
        "OHLC bars built from pre-1997 revisions, then repaired via "
        "dynamic-partition-overwrite for the months the late 1997+ batch "
        "touches — the repaired table must equal the oracle's full "
        "rebuild over all revisions"
    ),
)
def roundtrip_incremental_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB materialized-view pattern under driver certification:
    cost of the repair is proportional to touched months (the month
    filter folds onto the source scan), and dynamic partition overwrite
    swaps exactly those partitions.  Parity with a full rebuild is the
    whole correctness contract of incremental maintenance."""
    from findb_spark.ops.incremental import update_monthly_bars, write_monthly_bars

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 10 == 2)
    initial = src.where(F.col("date") < 19970101)
    late = src.where(F.col("date") >= 19970101)
    path = _scratch(sf_dir, "bars_incremental")
    write_monthly_bars(initial, path)
    update_monthly_bars(src, late, path)
    bars = spark.read.parquet(path)
    return bars.select(
        "asset_id",
        F.col("month").cast("int").alias("month"),
        "open",
        "high",
        "low",
        "close",
        "n_rev",
    )


@register(
    "roundtrip_bucketed_join",
    f"""
WITH {PRICES_ORACLE_CTE},
p AS (SELECT * FROM prices_v WHERE asset_id % 10 = 3),
s AS (
  SELECT asset_id, COUNT(*) AS n_rev, MAX(value) AS max_value
  FROM p GROUP BY asset_id
)
SELECT p.asset_id % 7 AS bucket,
       COUNT(*) AS n,
       CAST(SUM(s.n_rev) AS BIGINT) AS sum_partner_rev,
       {fxp_sum_sql('p.value')} AS sum_value
FROM p JOIN s ON p.asset_id = s.asset_id
GROUP BY bucket
""",
    category="roundtrip",
    description=(
        "Bucketed-layout hard signal: two tables bucketed on the join key "
        "at write time sort-merge-join with ZERO exchanges (the "
        "write-once/never-shuffle-again contract); results must equal the "
        "oracle's plain join over parquet"
    ),
)
def roundtrip_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the bucketing loop end-to-end: bucketBy write through the
    session catalog, bucket-aware scan, exchange-free co-located join.
    The zero-exchange property itself is pinned by tests/test_bucketing.py
    plan assertions; the driver row certifies the data survives the
    bucketed write+read+join intact."""
    from findb_spark.layout import write_bucketed

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 10 == 3)
    stats = src.groupBy("asset_id").agg(
        F.count("*").alias("n_rev"), F.max("value").alias("max_value")
    )
    write_bucketed(
        src,
        f"rt_prices_b_{tag}",
        _scratch(sf_dir, "bucketed_prices"),
        n_buckets=4,
    )
    write_bucketed(
        stats,
        f"rt_stats_b_{tag}",
        _scratch(sf_dir, "bucketed_stats"),
        n_buckets=4,
        sort_cols=("asset_id",),
    )
    p = spark.table(f"rt_prices_b_{tag}")
    s = spark.table(f"rt_stats_b_{tag}")
    return (
        p.join(s, "asset_id")
        .groupBy((F.col("asset_id") % 7).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("n_rev").cast("bigint").alias("sum_partner_rev"),
            fxp_sum(F.col("value"), "sum_value"),
        )
    )


@register(
    "roundtrip_multiformat_ingest",
    f"""
WITH {PRICES_ORACLE_CTE}
SELECT asset_id % 5 AS bucket,
       COUNT(*) AS n,
       CAST(SUM(ts) AS BIGINT) AS sum_ts,
       {fxp_sum_sql('value')} AS sum_value,
       TRUE AS formats_agree
FROM prices_v WHERE asset_id % 25 = 1
GROUP BY bucket
""",
    category="roundtrip",
    description=(
        "NDJSON + ORC connector hard signal: the same derivation written "
        "to both formats, re-ingested through the shared try_cast "
        "normalization, aggregated identically — formats_agree certifies "
        "the two connector paths return byte-identical relations"
    ),
)
def roundtrip_multiformat_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One query certifies both remaining file connectors: NDJSON and ORC
    writes of the identical prices derivation are read back through
    ingest_json / ingest_orc, the two relations are compared exactly
    (full-outer anti semantics — any difference breaks formats_agree AND
    the aggregate), and the aggregate must match the parquet-direct
    oracle."""
    from findb_spark.ingest import ingest_json, ingest_orc

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 25 == 1)
    raw = src.select(
        F.col("asset_id").cast("string"),
        F.col("date").cast("string"),
        F.col("ts").cast("string"),
        F.col("value").cast("string"),
    )
    jpath = _scratch(sf_dir, "prices_json")
    opath = _scratch(sf_dir, "prices_orc")
    raw.write.mode("overwrite").json(jpath)
    raw.write.mode("overwrite").orc(opath)
    bj = ingest_json(spark, jpath)
    bo = ingest_orc(spark, opath)
    only_j = bj.exceptAll(bo).count()
    only_o = bo.exceptAll(bj).count()
    return bj.groupBy((F.col("asset_id") % 5).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("ts").cast("bigint").alias("sum_ts"),
        fxp_sum(F.col("value"), "sum_value"),
        F.lit(only_j == 0 and only_o == 0).alias("formats_agree"),
    )


@register(
    "roundtrip_textlog_ingest",
    f"""
WITH {PRICES_ORACLE_CTE}
SELECT COUNT(*) AS n,
       COUNT(DISTINCT asset_id) AS n_assets,
       CAST(SUM(ts) AS BIGINT) AS sum_ts,
       {fxp_sum_sql('value')} AS sum_value
FROM prices_v WHERE asset_id % 25 = 2
""",
    category="roundtrip",
    description=(
        "Regex text-log connector hard signal: prices rendered as "
        "unstructured 'PRICE asset=.. date=.. ts=.. value=..' lines, "
        "re-ingested through the one-regex typed-capture path "
        "(whole-pattern quarantine gating), aggregate equals the "
        "parquet-direct oracle"
    ),
)
def roundtrip_textlog_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ingest import ingest_text_log

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 25 == 2)
    lines = src.select(
        F.concat(
            F.lit("PRICE asset="),
            F.col("asset_id").cast("string"),
            F.lit(" date="),
            F.col("date").cast("string"),
            F.lit(" ts="),
            F.col("ts").cast("string"),
            F.lit(" value="),
            F.col("value").cast("string"),
        ).alias("value")
    )
    path = _scratch(sf_dir, "prices_log")
    lines.write.mode("overwrite").text(path)
    back = ingest_text_log(
        spark,
        path,
        r"PRICE asset=(\d+) date=(\d+) ts=(\d+) value=([0-9.eE+-]+)",
        {"asset_id": "bigint", "date": "int", "ts": "bigint", "value": "double"},
    )
    return back.agg(
        F.count("*").alias("n"),
        F.countDistinct("asset_id").alias("n_assets"),
        F.sum("ts").cast("bigint").alias("sum_ts"),
        fxp_sum(F.col("value"), "sum_value"),
    )


@register(
    "roundtrip_findb_db_asof",
    f"""
WITH {PRICES_ORACLE_CTE},
pq AS (
  SELECT asset_id, date, ts,
         CAST(CAST(value AS REAL) AS DOUBLE) AS value
  FROM prices_v WHERE asset_id % 50 = 0
),
f AS (
  SELECT asset_id, date, ts, value,
         ROW_NUMBER() OVER (PARTITION BY asset_id, date
                            ORDER BY ts DESC, value DESC) AS rn
  FROM pq
  WHERE date BETWEEN 19960101 AND 19961231 AND ts <= 946684800
)
SELECT asset_id, date, ts, value FROM f WHERE rn = 1
""",
    category="roundtrip",
    description=(
        "The literal migration story under the driver's gate: prices "
        "exported to the reference's own .db B+tree file, read back "
        "through the DataSource, and answered with the reference's ONE "
        "query shape (bitemporal as-of snapshot) — a findb user's "
        "existing file produces identical answers on this engine"
    ),
)
def roundtrip_findb_db_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """file.rs:425-570 semantics executed against file.rs:296-379 bytes:
    export the subset, open via spark.read.format('findb') (leaf-range
    partitions, key-skipping pushFilters), run the engine's as-of dedup
    (max_by(struct(ts, value)) — the tie-break pinned in asof.py).  The
    oracle recomputes from parquet with the format's float32 value
    quantization modeled, so a green row certifies byte format + scan +
    as-of semantics together."""
    from findb_spark.asof import _latest_revision
    from findb_spark.sources.findb_file import export_prices_db, read_prices_db

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 50 == 0)
    path = _scratch(sf_dir, "prices_asof.db")
    export_prices_db(src, path)
    back = read_prices_db(spark, path)
    filtered = back.where(
        F.col("date").between(19960101, 19961231) & (F.col("ts") <= 946684800)
    )
    return _latest_revision(["asset_id", "date"], filtered)


@register(
    "roundtrip_schema_evolution",
    f"""
WITH {PRICES_ORACLE_CTE},
p AS (SELECT * FROM prices_v WHERE asset_id % 25 = 3),
tagged AS (
  SELECT asset_id, date, ts, value,
         CASE WHEN date < 19960101 THEN NULL ELSE 'feedB' END AS feed
  FROM p
)
SELECT COALESCE(feed, 'legacy') AS feed,
       COUNT(*) AS n,
       COUNT(DISTINCT asset_id) AS n_assets,
       {fxp_sum_sql('value')} AS sum_value
FROM tagged GROUP BY 1
""",
    category="roundtrip",
    description=(
        "Schema-evolution hard signal: an old batch written WITHOUT the "
        "feed column and a new batch WITH it, read together under "
        "mergeSchema — old rows surface NULL for the added column (no "
        "rewrite, no failure), aggregates match the oracle's explicit "
        "NULL model"
    ),
)
def roundtrip_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive column evolution, the ingestion reality every long-lived
    table hits: the reader unions parquet footprints with differing
    schemas (mergeSchema) and the engine treats the missing column as
    NULL for pre-evolution files — at 100 TB this is what lets a feed
    add metadata without rewriting years of history.  The oracle models
    the same rule explicitly (NULL feed for pre-1996 rows)."""
    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 25 == 3)
    old = src.where(F.col("date") < 19960101)
    new = src.where(F.col("date") >= 19960101).withColumn("feed", F.lit("feedB"))
    path = _scratch(sf_dir, "prices_evolving")
    old.write.mode("overwrite").parquet(path)
    new.write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        merged.groupBy(F.coalesce("feed", F.lit("legacy")).alias("feed"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("asset_id").alias("n_assets"),
            fxp_sum(F.col("value"), "sum_value"),
        )
    )


@register(
    "roundtrip_stream_dedup",
    """
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
FROM events
""",
    category="roundtrip",
    description=(
        "Streaming-dedup hard signal: the events file read as TWO "
        "independent file streams, unioned (an at-least-once source "
        "delivering every event twice), then "
        "dropDuplicatesWithinWatermark on event_id replayed availableNow "
        "— the result must equal the events table itself, row for row; "
        "without the dedup the count would be exactly 2x, so a green row "
        "certifies bounded-state streaming dedup end-to-end"
    ),
)
def roundtrip_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.streaming.events_stream import (
        dedup_stream,
        read_events_stream,
    )

    # Two separate readStream sources over the same file model redelivery:
    # the duplicate pairs carry identical event time, so they are always
    # within any watermark of each other and dedup is guaranteed (the
    # dropDuplicatesWithinWatermark contract).
    doubled = read_events_stream(spark, sf_dir).unionAll(
        read_events_stream(spark, sf_dir)
    )
    name = _replay_to_memory(dedup_stream(doubled), mode="append")
    return spark.table(name).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )


@register(
    "roundtrip_stream_join",
    """
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       epoch_us(v.ts) AS view_ts_us,
       epoch_us(c.ts) AS click_ts_us
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
""",
    category="roundtrip",
    description=(
        "Stream-stream join hard signal: each view matched to the same "
        "user's clicks within 30 minutes, both sides watermarked so join "
        "state expires, replayed availableNow — must equal the batch "
        "interval self-join the oracle computes; certifies watermark-"
        "bounded stream-stream join semantics (state expiry + event-time "
        "interval condition) under the driver, not just pytest"
    ),
)
def roundtrip_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.streaming.events_stream import (
        read_events_stream,
        view_click_join_stream,
    )

    joined = view_click_join_stream(read_events_stream(spark, sf_dir))
    name = _replay_to_memory(joined, mode="append")
    return spark.table(name).select(
        "user_id",
        "view_id",
        "click_id",
        F.unix_micros(F.col("view_ts")).alias("view_ts_us"),
        F.unix_micros(F.col("click_ts")).alias("click_ts_us"),
    )


@register(
    "roundtrip_stream_enrich",
    """
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       c.c_mktsegment AS segment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
""",
    category="roundtrip",
    description=(
        "Stream-static enrichment hard signal: the event stream left-"
        "joined to a broadcast customer dimension (the static side is "
        "re-read per microbatch, never shuffled with the stream) replayed "
        "availableNow — must equal the batch left join the oracle "
        "computes, unmatched users passing through with NULL segment"
    ),
)
def roundtrip_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.streaming.events_stream import (
        enriched_stream,
        read_events_stream,
    )

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = enriched_stream(read_events_stream(spark, sf_dir), dim)
    name = _replay_to_memory(s, mode="append")
    return spark.table(name).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "segment",
    )


@register(
    "roundtrip_time_travel",
    """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 7 = 0
),
v2 AS (SELECT k, status, cents + 100 AS cents FROM base WHERE k % 5 != 1)
SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       MIN(k) AS min_key, MAX(k) AS max_key
FROM base
UNION ALL
SELECT 2 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       MIN(k) AS min_key, MAX(k) AS max_key
FROM v2
""",
    category="roundtrip",
    description=(
        "Table-level time travel hard signal (versioning.py): v1 and a "
        "mutated v2 are committed through the versioned sink, then BOTH "
        "'VERSION AS OF 1' and the latest version are read back through "
        "the version log and aggregated — green means committed versions stay "
        "immutable and version resolution is exact while the table moves on"
    ),
)
def roundtrip_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from findb_spark.versioning import read_version, write_version

    table_dir = _scratch(sf_dir, "tt_orders")
    shutil.rmtree(table_dir, ignore_errors=True)

    base = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    write_version(base, table_dir)
    v2 = base.where(F.col("k") % 5 != 1).select(
        "k", "status", (F.col("cents") + 100).alias("cents")
    )
    write_version(v2, table_dir)

    def agg(df, version: int):
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        ).select(F.lit(version).alias("version"), "*")

    as_of_1 = read_version(spark, table_dir, version=1)
    latest = read_version(spark, table_dir)  # resolves to v2 via the log
    return agg(as_of_1, 1).unionAll(agg(latest, 2))


_QUIRK_EXPR = "concat('A,\"', c_name, '\"', chr(10), 'B;', c_mktsegment)"


@register(
    "roundtrip_csv_quirks",
    f"""
WITH t AS (
  SELECT c_custkey, {_QUIRK_EXPR} AS tricky
  FROM customer WHERE c_custkey % 10 = 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT tricky) AS BIGINT) AS n_distinct,
       CAST(SUM({hash48_duck('tricky')} % 100000) AS BIGINT) AS hash_sum,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM t
""",
    category="roundtrip",
    description=(
        "CSV quoting-quirks hard signal (O1 edge cases): values containing "
        "commas, RFC-doubled quotes, and embedded newlines are written with "
        "quoteAll + quote-escape and re-read with multiLine parsing; the "
        "hash aggregate over recovered strings certifies byte-exact "
        "round-tripping of every quoting path"
    ),
)
def roundtrip_csv_quirks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.functions.hashing import hash48

    src = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", F.expr(_QUIRK_EXPR).alias("tricky"))
    )
    path = _scratch(sf_dir, "csv_quirks")
    (
        src.write.mode("overwrite")
        .options(header=True, quoteAll=True, escape='"')
        .csv(path)
    )
    back = (
        spark.read.options(
            header=True, multiLine=True, escape='"', inferSchema=False
        )
        .schema("c_custkey BIGINT, tricky STRING")
        .csv(path)
    )
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("tricky").cast("bigint").alias("n_distinct"),
        F.sum(hash48(F.col("tricky")) % 100000).cast("bigint").alias("hash_sum"),
        F.sum("c_custkey").cast("bigint").alias("key_sum"),
    )


@register(
    "roundtrip_stream_versioned",
    f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {fxp_sum_sql('value')} AS sum_value
FROM events GROUP BY event_type
""",
    category="roundtrip",
    description=(
        "Streaming -> versioned-sink hard signal: every availableNow "
        "micro-batch commits as a new immutable version (foreachBatch -> "
        "versioning.write_version), then ALL committed versions are read "
        "back through the version log and unioned — green means the "
        "streaming commit protocol loses nothing and the log "
        "enumerates exactly the committed data regardless of how the "
        "source split batches"
    ),
)
def roundtrip_stream_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from findb_spark.streaming.events_stream import read_events_stream
    from findb_spark.versioning import list_versions, read_version, write_version

    table_dir = _scratch(sf_dir, "stream_versions")
    ckpt = _scratch(sf_dir, "stream_versions_ckpt")
    shutil.rmtree(table_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        write_version(batch_df, table_dir)

    q = (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    full = None
    for v in sorted(list_versions(table_dir)):
        part = read_version(spark, table_dir, v)
        full = part if full is None else full.unionAll(part)
    return full.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        fxp_sum(F.col("value"), "sum_value"),
    )


@register(
    "roundtrip_parquet_codecs",
    f"""
WITH src AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT 'zstd' AS codec, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
FROM src
UNION ALL
SELECT 'gzip' AS codec, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
FROM src
UNION ALL
SELECT 'snappy' AS codec, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
FROM src
""",
    category="roundtrip",
    description=(
        "Parquet codec matrix hard signal: the same slice written with "
        "zstd, gzip, and snappy compression and read back — identical "
        "aggregates across all three certify the whole codec path (the "
        "choice that dominates storage cost vs scan CPU at 100 TB)"
    ),
)
def roundtrip_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 11 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    out = None
    for codec in ("zstd", "gzip", "snappy"):
        path = _scratch(sf_dir, f"codec_{codec}")
        src.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        agg = back.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.countDistinct("o_orderstatus").cast("bigint").alias("n_status"),
        ).select(F.lit(codec).alias("codec"), "*")
        out = agg if out is None else out.unionAll(agg)
    return out


@register(
    "roundtrip_ivm_delta",
    """
WITH src AS (
  SELECT o_orderkey AS k,
         CAST(o_custkey % 10 AS BIGINT) AS band,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS month,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
finalstate AS (
  SELECT k, band, month,
         CASE WHEN k % 100 = 2 THEN (cents * 11) // 10 ELSE cents END AS cents
  FROM src WHERE k % 100 != 1
  UNION ALL
  SELECT k + 10000000, band, month, cents + 5000 FROM src WHERE k % 100 = 3
)
SELECT band, month,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM finalstate GROUP BY band, month
""",
    category="roundtrip",
    description=(
        "Delta-arithmetic incremental view maintenance hard signal: a "
        "(band, month) order aggregate is materialized, then a CDC batch "
        "(deletes for key%100=1, a 10-percent price bump for key%100=2, "
        "synthetic inserts for key%100=3) is applied as SIGNED "
        "contribution rows merged into the stored aggregate — no source "
        "re-scan — and the repaired table must equal the oracle's "
        "from-scratch aggregate over the final state"
    ),
)
def roundtrip_ivm_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta-repair half of the materialized-view pattern (the
    partition-recompute half is roundtrip_incremental_bars): for
    SUM/COUNT-decomposable aggregates the CDC batch alone repairs the
    view in O(|delta| + touched groups) — at 100 TB the source table is
    never re-read, and dynamic partition overwrite swaps only the months
    the batch touches.  All measures live in exact integer cents (the
    update is an integer 11x/10 bump), so delta merge and full rebuild
    agree bit-for-bit."""
    from findb_spark.ops.ivm import apply_agg_delta

    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey") % 10).cast("bigint").alias("band"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    path = _scratch(sf_dir, "ivm_delta_agg")
    src.groupBy("band", "month").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    ).write.mode("overwrite").partitionBy("month").parquet(path)

    deletes = src.where("k % 100 = 1").select(
        "band",
        "month",
        F.lit(-1).cast("bigint").alias("n"),
        (-F.col("cents")).alias("sum_cents"),
    )
    updates = src.where("k % 100 = 2").select(
        "band",
        "month",
        F.lit(0).cast("bigint").alias("n"),
        (F.expr("cents * 11 div 10") - F.col("cents")).alias("sum_cents"),
    )
    inserts = src.where("k % 100 = 3").select(
        "band",
        "month",
        F.lit(1).cast("bigint").alias("n"),
        (F.col("cents") + 5000).alias("sum_cents"),
    )
    delta = deletes.unionByName(updates).unionByName(inserts)
    apply_agg_delta(
        spark,
        path,
        delta,
        keys=["band", "month"],
        measures=["sum_cents"],
        part_col="month",
    )
    agg = spark.read.parquet(path)
    return agg.select(
        "band", F.col("month").cast("int").alias("month"), "n", "sum_cents"
    )


def _stage_watermark_batches(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """Stage the events table as a 3-file deterministic replay for the
    watermark certification: file 0 = on-time rows (everything outside
    the late chunk, INCLUDING the global max timestamp, so the committed
    watermark jumps to max - delay), file 1 = an empty file (one no-data
    microbatch — Spark's late-record filter uses the watermark committed
    TWO batches back, the eviction watermark one batch back; the empty
    batch aligns both at max - delay before the late data arrives),
    file 2 = the late chunk [max-14d, max-1d).  File order is pinned by
    explicit mtimes (FileStreamSource processes oldest-first).  Returns
    (stream_dir, max_ts)."""
    import glob
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]  # bounded: 1-row aggregate
    mid = (F.col("ts") >= F.lit(mx) - F.expr("INTERVAL 14 DAYS")) & (
        F.col("ts") < F.lit(mx) - F.expr("INTERVAL 1 DAYS")
    )
    stream_dir = _scratch(sf_dir, "wm_stream")
    shutil.rmtree(stream_dir, ignore_errors=True)
    os.makedirs(stream_dir)
    batches = [
        ev.where(~mid),
        spark.createDataFrame([], ev.schema),
        ev.where(mid),
    ]
    for i, b in enumerate(batches):
        stage = _scratch(sf_dir, f"wm_stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        dst = os.path.join(stream_dir, f"batch{i}.parquet")
        shutil.copy(glob.glob(stage + "/part-*.parquet")[0], dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))
    return stream_dir, mx


@register(
    "roundtrip_stream_watermark",
    """
WITH mx AS (SELECT MAX(ts) AS m FROM events),
p AS (SELECT m - INTERVAL 14 DAY AS s, m - INTERVAL 1 DAY AS t,
             m - INTERVAL 10097 MINUTE AS wm FROM mx),
e AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS b, event_type, ts
      FROM events),
ontime AS (
  SELECT e.b, e.event_type FROM e CROSS JOIN p
  WHERE NOT (e.ts >= p.s AND e.ts < p.t)
),
fin AS (
  SELECT o.b, o.event_type FROM ontime o CROSS JOIN p
  WHERE o.b + INTERVAL 1 HOUR <= p.wm
)
SELECT epoch_us(b) AS bucket_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM fin GROUP BY 1, 2
""",
    category="roundtrip",
    description=(
        "Watermark LATE-DATA-DROP hard signal: events replayed as three "
        "deterministic microbatches — on-time rows, an empty "
        "watermark-alignment batch, then a 13-day-late chunk — through "
        "an append-mode hourly aggregation with a ~7-day watermark; the "
        "emitted (finalized) windows must contain EXACTLY the on-time "
        "rows of windows closed by the watermark: late rows dropped, "
        "open windows withheld, nothing double-counted"
    ),
)
def roundtrip_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the three behaviors watermarks exist for, cross-engine:
    (1) rows arriving after their window's state was finalized are
    DROPPED (Spark's late-record filter lags the eviction watermark by
    one batch — the staged empty batch makes the timing deterministic;
    pinned empirically, see tests/test_streaming.py), (2) append mode
    emits a window exactly once, when the watermark passes its end, and
    (3) windows still open at stream end are withheld.  The oracle
    reproduces the full semantic from the batch table: on-time rows
    only, windows with end <= max(ts) - 10097 minutes only."""
    stream_dir, _mx = _stage_watermark_batches(spark, sf_dir)
    schema = spark.read.parquet(os.path.join(stream_dir, "batch0.parquet")).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    agg = (
        src.withWatermark("ts", "10097 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("bucket_start_us"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )
    name = _replay_to_memory(agg, mode="append")
    return spark.table(name)


@register(
    "roundtrip_vacuum_retention",
    """
SELECT CAST(2 AS BIGINT) AS n_versions_alive,
       CAST(1 AS BIGINT) AS n_expired,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders
""",
    category="roundtrip",
    description=(
        "Version-retention (vacuum) hard signal: three committed table "
        "versions, vacuum keep_last=2 — the log must stop resolving "
        "the expired version BEFORE its bytes disappear, retained "
        "versions stay readable, and the surviving latest version must "
        "aggregate identically to the oracle over the full source"
    ),
)
def roundtrip_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage-lifecycle half of the versioning layer (write/time
    travel are certified by roundtrip_time_travel): vacuum's
    log-entry-first contract, exercised end to end and reduced to an
    oracle-checkable aggregate."""
    import shutil

    from findb_spark.versioning import (
        list_versions,
        read_version,
        vacuum,
        write_version,
    )

    o = load_table(spark, sf_dir, "orders")
    table = _scratch(sf_dir, "vacuum_table")
    shutil.rmtree(table, ignore_errors=True)
    write_version(o.where(F.col("o_orderkey") % 3 == 0), table)
    write_version(o.where(F.col("o_orderkey") % 3 <= 1), table)
    write_version(o, table)
    expired = vacuum(table, keep_last=2)
    alive = list_versions(table)
    latest = read_version(spark, table)
    return latest.agg(
        F.lit(len(alive)).cast("bigint").alias("n_versions_alive"),
        F.lit(len(expired)).cast("bigint").alias("n_expired"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )


@register(
    "roundtrip_hive_partition_pruning",
    """
WITH src AS (
  SELECT o_orderkey,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS month,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
mx AS (SELECT MAX(month) AS target FROM src)
SELECT src.month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM src CROSS JOIN mx WHERE src.month = mx.target
GROUP BY src.month
""",
    category="roundtrip",
    description=(
        "Hive-partition pruning hard signal: orders written partitioned "
        "by month, read back with a single-month predicate — the scan "
        "must touch only that partition's files (pinned in the plan: "
        "one partition read) AND aggregate identically to the oracle "
        "over the unpartitioned source"
    ),
)
def roundtrip_hive_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most scale-critical mechanism in the engine gets its own
    driver row: dynamic layout (partitionBy month) + static partition
    pruning at read.  The plan is additionally asserted HERE (not just
    in pytest): the pruned read must report exactly one partition —
    a silent pruning regression fails the query, not only a test."""
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    path = _scratch(sf_dir, "hive_pruned_orders")
    src.write.mode("overwrite").partitionBy("month").parquet(path)
    target = src.agg(F.max("month")).collect()[0][0]  # bounded 1-row agg
    back = spark.read.parquet(path).where(F.col("month") == target)
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    n_parts = [
        ln for ln in plan.splitlines() if "partition count" in ln.lower()
    ]
    if n_parts and not any("1" in ln.split(":")[-1] for ln in n_parts):
        raise AssertionError(f"partition pruning regressed: {n_parts}")
    return back.groupBy(F.col("month").cast("int").alias("month")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


@register(
    "roundtrip_stream_stateful",
    """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT prev AS prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM s WHERE prev IS NOT NULL
GROUP BY prev, event_type
""",
    category="roundtrip",
    description=(
        "Custom-stateful-operator hard signal: the applyInPandasWithState "
        "per-user transition stream replayed as two time-ordered "
        "microbatches — O(1) state (last event type) must recover every "
        "cross-batch edge, and the summed per-batch delta counts must "
        "equal the batch lag-window Markov matrix exactly"
    ),
)
def roundtrip_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Puts the engine's applyInPandasWithState extension point under the
    driver's oracle gate (previously pytest-only): the time-split staging
    preserves global event order across batches, so the stateful
    incremental computation must reproduce the batch answer bit-for-bit
    — the stream==batch contract for stateful operators."""
    import glob
    import shutil

    from findb_spark.streaming.events_stream import user_transition_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    mid = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        (F.col("lo") + (F.col("hi") - F.col("lo")) / 2).alias("m")
    ).collect()[0]["m"]
    stream_dir = _scratch(sf_dir, "stateful_stream")
    shutil.rmtree(stream_dir, ignore_errors=True)
    os.makedirs(stream_dir)
    for i, b in ((0, ev.where(F.col("ts") < F.lit(mid))),
                 (1, ev.where(F.col("ts") >= F.lit(mid)))):
        stage = _scratch(sf_dir, f"stateful_stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        dst = os.path.join(stream_dir, f"batch{i}.parquet")
        shutil.copy(glob.glob(stage + "/part-*.parquet")[0], dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))
    schema = spark.read.parquet(os.path.join(stream_dir, "batch0.parquet")).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    name = _replay_to_memory(user_transition_stream(src), mode="update")
    return (
        spark.table(name)
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


@register(
    "roundtrip_bloom_manifest",
    """
WITH mx AS (SELECT MAX(l_orderkey) AS target FROM lineitem)
SELECT l_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM lineitem CROSS JOIN mx WHERE l_orderkey = mx.target
GROUP BY l_orderkey
""",
    category="roundtrip",
    description=(
        "Bloom-manifest point-lookup hard signal: lineitem laid out in 8 "
        "date-clustered files (orderkeys scatter across all of them, so "
        "min/max stats cannot prune), a per-file Bloom bitset built over "
        "l_orderkey, and a point lookup that must open FEWER than half "
        "the files (asserted in-query) while aggregating identically to "
        "the oracle's full-table predicate"
    ),
)
def roundtrip_bloom_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the manifest's index story (O5): min/max stats are the
    range index (roundtrip_manifest_pruned_read), Bloom bitsets are the
    point-lookup index for columns the layout does NOT cluster — the
    two mechanisms every lakehouse format pairs.  False positives only
    cost an extra file open; the exact residual filter keeps the result
    independent of bloom sizing."""
    import shutil

    from findb_spark.manifest import (
        bloom_files_selected,
        bloom_pruned_read,
        build_bloom_manifest,
    )

    li = load_table(spark, sf_dir, "lineitem")
    path = _scratch(sf_dir, "bloom_lineitem")
    shutil.rmtree(path, ignore_errors=True)
    li.select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    ).repartitionByRange(8, "l_shipdate").write.mode("overwrite").parquet(path)

    manifest = build_bloom_manifest(spark, path, "l_orderkey").localCheckpoint(
        eager=True
    )
    target = li.agg(F.max("l_orderkey")).collect()[0][0]  # bounded 1-row agg
    n_total = manifest.count()
    n_sel = bloom_files_selected(manifest, target)
    if n_sel > n_total / 2:
        raise AssertionError(
            f"bloom pruning regressed: {n_sel}/{n_total} files selected"
        )
    back = bloom_pruned_read(spark, manifest, "l_orderkey", target)
    return back.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )


@register(
    "roundtrip_manifest_incremental",
    f"""
WITH {PRICES_ORACLE_CTE},
p AS (SELECT * FROM prices_v WHERE asset_id % 10 = 6)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(date) AS BIGINT) AS min_date,
       CAST(MAX(date) AS BIGINT) AS max_date,
       {fxp_sum_sql('value')} AS sum_value
FROM p WHERE date BETWEEN 19960101 AND 19971231
""",
    category="roundtrip",
    description=(
        "Incremental-manifest hard signal: a prices table is bulk-loaded, "
        "its stats manifest built, then a second batch appended and the "
        "manifest refreshed via update_manifest — which must harvest "
        "footers ONLY for the new files (asserted in-query) yet produce "
        "a pruned date-range read identical to the oracle over the full "
        "union; the O(new files) maintenance contract that keeps a "
        "manifest viable under continuous ingest"
    ),
)
def roundtrip_manifest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies manifest MAINTENANCE, not just manifest reads
    (roundtrip_manifest_pruned_read covers the build+seek path): the
    refreshed manifest must cover old + new files exactly once, and the
    pruned read through it must lose nothing."""
    import shutil

    from findb_spark.manifest import build_manifest, pruned_read, update_manifest

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 10 == 6)
    first = src.where(F.col("date") < 19970101)
    second = src.where(F.col("date") >= 19970101)
    path = _scratch(sf_dir, "manifest_incr")
    shutil.rmtree(path, ignore_errors=True)
    first.repartitionByRange(4, "date").write.parquet(path)
    m0 = build_manifest(spark, path, ["asset_id", "date"]).localCheckpoint(
        eager=True
    )
    n0 = m0.count()
    second.repartitionByRange(4, "date").write.mode("append").parquet(path)
    m1 = update_manifest(spark, path, m0, ["asset_id", "date"]).localCheckpoint(
        eager=True
    )
    n1 = m1.count()
    n_files = len(spark.read.parquet(path).inputFiles())
    if n1 != n_files or n1 <= n0:
        raise AssertionError(
            f"incremental manifest regressed: {n0} -> {n1} vs {n_files} files"
        )
    out = pruned_read(spark, m1, {"date": (19960101, 19971231)})
    return out.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("date").cast("bigint").alias("min_date"),
        F.max("date").cast("bigint").alias("max_date"),
        fxp_sum(F.col("value"), "sum_value"),
    )


@register(
    "roundtrip_footer_stats",
    f"""
WITH {PRICES_ORACLE_CTE},
p AS (SELECT * FROM prices_v WHERE asset_id % 10 = 7)
SELECT CAST(asset_id % 8 AS INT) AS bucket,
       CAST(1 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(asset_id) AS BIGINT) AS asset_id_min,
       CAST(MAX(asset_id) AS BIGINT) AS asset_id_max,
       CAST(MIN(date) AS BIGINT) AS date_min,
       CAST(MAX(date) AS BIGINT) AS date_max,
       MIN(value) AS value_min,
       MAX(value) AS value_max
FROM p GROUP BY bucket
""",
    category="roundtrip",
    description=(
        "O15 introspection hard signal: the engine's footer-statistics "
        "manifest (per-file rowcount + column min/max, harvested from "
        "parquet footers only) exposed as a queryable relation over a "
        "deterministic one-file-per-bucket layout — every stat the "
        "manifest reports must equal what the oracle computes from the "
        "data itself, so a green row certifies the introspection surface "
        "is faithful, not merely populated"
    ),
)
def roundtrip_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's stats/introspection surface (O15) as a RELATION
    under the driver hash, not only a pytest pin: ``build_manifest``
    reads parquet footers (no data pages) and the result must agree
    bit-for-bit with the oracle's full-scan per-bucket COUNT/MIN/MAX —
    footer min/max of doubles/ints are exact stored values, so exact
    equality is the correct bar.  The layout is made deterministic by
    hive-partitioning on ``bucket`` after ``repartition("bucket")``:
    every bucket's rows land in exactly one task, hence exactly one
    file per partition directory (``n_files = 1`` is itself part of the
    certified output).  A pytest twin cross-checks the same harvest
    against DuckDB's ``parquet_metadata()`` per file
    (tests/test_manifest_introspection.py)."""
    from findb_spark.manifest import build_manifest

    # the certified n_files=1 invariant holds only while nothing splits a
    # task's output: pin the two configs that could (maxRecordsPerFile
    # splits by row count; speculative duplicate attempts can leave extra
    # files) for the duration of the write rather than trusting ambient
    # session state
    assert (
        spark.conf.get("spark.speculation", "false") == "false"
    ), "roundtrip_footer_stats requires speculative execution off"
    prev_mrpf = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")

    src = prices_from_lineitem(spark, sf_dir).where(F.col("asset_id") % 10 == 7)
    tbl = src.withColumn("bucket", (F.col("asset_id") % 8).cast("int"))
    # uuid leaf: two concurrent gate runs over the same sf_dir must not
    # race on one scratch path; the layout must outlive this call (the
    # manifest harvest reads footers lazily at EXECUTION time).  Cleanup
    # is two-tier (round-8 advisor finding — the old per-CALL age GC could
    # delete a sibling run's still-referenced layout mid-session, and the
    # session's own last dir leaked):
    #   1. THIS run's dir is removed at interpreter exit (atexit) — after
    #      every lazy read this process will ever do, no leak;
    #   2. stale dirs from CRASHED processes (atexit never ran) are GC'd
    #      >1 h old — far beyond any live gate run — at most ONCE per
    #      process per sf_dir, before this process has created any lazy
    #      manifest of its own.
    import atexit
    import glob as _glob
    import shutil
    import time as _time

    if sf_dir not in _FOOTER_GC_DONE:
        _FOOTER_GC_DONE.add(sf_dir)
        for old in _glob.glob(_scratch(sf_dir, "footer_stats_*")):
            try:
                if _time.time() - os.path.getmtime(old) > 3600:
                    shutil.rmtree(old, ignore_errors=True)
            except OSError:
                pass
    path = _scratch(sf_dir, f"footer_stats_{uuid.uuid4().hex[:12]}")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    try:
        tbl.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", prev_mrpf)
    man = build_manifest(spark, path, ["asset_id", "date", "value"])
    rel = man.withColumn(
        "bucket", F.regexp_extract("file", r"bucket=(\d+)", 1).cast("int")
    )
    return rel.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("num_rows").cast("bigint").alias("n_rows"),
        F.min("asset_id_min").cast("bigint").alias("asset_id_min"),
        F.max("asset_id_max").cast("bigint").alias("asset_id_max"),
        F.min("date_min").cast("bigint").alias("date_min"),
        F.max("date_max").cast("bigint").alias("date_max"),
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
    )


@register(
    "roundtrip_dynamic_overwrite",
    """
WITH src AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS month,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
mx AS (SELECT MAX(month) AS t FROM src)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN month = t THEN cents * 2 ELSE cents END) AS BIGINT)
         AS sum_cents,
       CAST(COUNT(DISTINCT month) AS BIGINT) AS n_months
FROM src, mx
""",
    category="roundtrip",
    description=(
        "Dynamic partition overwrite hard signal (O10/O11 partition-level "
        "update): orders laid out by month, then ONLY the latest month "
        "rewritten with doubled cents under "
        "partitionOverwriteMode=dynamic — untouched partitions must keep "
        "their exact files (asserted in-query; static mode would wipe "
        "them) and the table must re-aggregate to the oracle's patched "
        "full-source sum"
    ),
)
def roundtrip_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-level mutation primitive every warehouse backfill
    uses: replace one partition in place, leave the rest byte-stable.
    INSERT OVERWRITE static mode silently truncating sibling partitions
    is the classic footgun — this cert fails loudly if the dynamic mode
    contract regresses."""
    import glob
    import shutil

    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    path = _scratch(sf_dir, "dyn_overwrite_orders")
    shutil.rmtree(path, ignore_errors=True)
    src.write.mode("overwrite").partitionBy("month").parquet(path)
    bounds = src.agg(
        F.min("month").alias("lo"), F.max("month").alias("hi")
    ).collect()[0]  # bounded 1-row agg
    witness = sorted(
        os.path.basename(p) for p in glob.glob(f"{path}/month={bounds.lo}/part-*")
    )
    patched = src.where(F.col("month") == bounds.hi).withColumn(
        "cents", F.col("cents") * 2
    )
    patched.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("month").parquet(path)
    after = sorted(
        os.path.basename(p) for p in glob.glob(f"{path}/month={bounds.lo}/part-*")
    )
    if witness != after or not witness:
        raise AssertionError(
            f"dynamic overwrite touched a sibling partition: {witness} -> {after}"
        )
    return spark.read.parquet(path).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.countDistinct("month").cast("bigint").alias("n_months"),
    )


@register(
    "roundtrip_stream_restart",
    f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       {fxp_sum_sql('value')} AS sum_value
FROM events GROUP BY event_type
""",
    category="roundtrip",
    description=(
        "Checkpoint-restart exactly-once hard signal: the event stream is "
        "replayed as TWO SEPARATE availableNow query lifetimes over one "
        "checkpoint (second file arrives only after the first query "
        "terminates) — the restarted query must resume from the source "
        "offset log without reprocessing batch 1, and the parquet sink's "
        "commit log must expose exactly-once output equal to the batch "
        "oracle over the full table"
    ),
)
def roundtrip_stream_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the recovery contract streaming correctness rests on:
    offsets + sink transaction log survive a query (process) restart.
    A duplicate replay would double batch-1 counts and hash-fail; a
    lost offset would drop batch 2. The in-query assertion additionally
    pins run 1's output to exactly the first half's row count."""
    import glob
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    mid = (
        ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .select((F.col("lo") + (F.col("hi") - F.col("lo")) / 2).alias("m"))
        .collect()[0]["m"]
    )
    stream_dir = _scratch(sf_dir, "restart_stream")
    out_dir = _scratch(sf_dir, "restart_out")
    ckpt_dir = _scratch(sf_dir, "restart_ckpt")
    for d in (stream_dir, out_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(stream_dir)

    halves = (
        ev.where(F.col("ts") < F.lit(mid)),
        ev.where(F.col("ts") >= F.lit(mid)),
    )

    def _stage(i: int) -> None:
        stage = _scratch(sf_dir, f"restart_stage{i}")
        halves[i].coalesce(1).write.mode("overwrite").parquet(stage)
        dst = os.path.join(stream_dir, f"batch{i}.parquet")
        shutil.copy(glob.glob(stage + "/part-*.parquet")[0], dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))

    _stage(0)
    schema = ev.schema

    def _run_once() -> None:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = (
            src.select("event_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run_once()
    n_run1 = spark.read.parquet(out_dir).count()
    n_half1 = halves[0].count()
    if n_run1 != n_half1:
        raise AssertionError(f"run 1 emitted {n_run1} rows, expected {n_half1}")
    _stage(1)
    _run_once()  # NEW query object, same checkpoint: must resume, not replay
    back = spark.read.parquet(out_dir)  # commit-log-gated listing
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        fxp_sum(F.col("value"), "sum_value"),
    )


@register(
    "roundtrip_occ_commit",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(3 AS BIGINT) AS n_versions,
       CAST(1 AS BIGINT) AS n_conflicts
FROM orders
""",
    category="roundtrip",
    description=(
        "Optimistic-concurrency commit hard signal: two writers race from "
        "the same base version — the CAS commit marker lets exactly one "
        "win, the loser gets VersionConflict, rebases on the new head and "
        "retries; the final head must contain BOTH changes (no lost "
        "update) and aggregate identically to the oracle's full source"
    ),
)
def roundtrip_occ_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional write contract of every lakehouse format: a
    stale writer must never silently clobber a concurrent commit (the
    lost-update anomaly). Writer B and writer C both base on v1; B wins
    v2, C conflicts, rebases by re-reading the new head, and lands v3
    carrying B's rows forward — certified by the aggregate equaling the
    oracle over ALL rows."""
    import shutil

    from findb_spark.versioning import (
        VersionConflict,
        commit_version,
        read_version,
        write_version,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = _scratch(sf_dir, "occ_table")
    shutil.rmtree(table, ignore_errors=True)
    base = write_version(o.where(F.col("o_orderkey") % 3 == 0), table)  # v1

    delta_b = o.where(F.col("o_orderkey") % 3 == 1)
    delta_c = o.where(F.col("o_orderkey") % 3 == 2)

    # writer B: read head(v1), union its delta, commit -> v2
    head_b = read_version(spark, table)
    v2 = commit_version(head_b.unionByName(delta_b), table, expected_base=base)

    # writer C: ALSO based on v1 (stale) -> must conflict, then rebase
    stale_view = read_version(spark, table, version=base).unionByName(delta_c)
    n_conflicts = 0
    try:
        commit_version(stale_view, table, expected_base=base)
    except VersionConflict:
        n_conflicts = 1
    if n_conflicts != 1:
        raise AssertionError("stale writer committed without a conflict")
    rebased = read_version(spark, table).unionByName(delta_c)
    v3 = commit_version(rebased, table, expected_base=v2)

    final = read_version(spark, table)
    return final.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.lit(v3).cast("bigint").alias("n_versions"),
        F.lit(n_conflicts).cast("bigint").alias("n_conflicts"),
    )


@register(
    "roundtrip_shallow_clone",
    """
WITH src AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
halves AS (SELECT *, o_orderkey % 2 = 0 AS even FROM src)
SELECT CAST((SELECT COUNT(*) FROM halves WHERE even) AS BIGINT) AS src_rows,
       CAST((SELECT COUNT(*) FROM halves) AS BIGINT) AS clone_rows,
       CAST((SELECT SUM(cents) FROM halves WHERE even) AS BIGINT) AS src_cents,
       CAST((SELECT SUM(cents) FROM halves) AS BIGINT) AS clone_cents,
       CAST(0 AS BIGINT) AS n_files_copied
""",
    category="roundtrip",
    description=(
        "Zero-copy shallow-clone hard signal: a versioned table cloned by "
        "manifest reference only (asserted in-query: the clone directory "
        "contains NO parquet files), then the clone commits a divergent "
        "version — the source head must stay unchanged and both heads "
        "must aggregate to the oracle's two populations"
    ),
)
def roundtrip_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the metadata-only table-copy primitive (dev/test forks of
    production tables at zero storage cost) plus post-clone divergence
    isolation — the lost-isolation failure (clone write mutating the
    source) would flip src_rows/src_cents and hash-fail."""
    import glob
    import shutil

    from findb_spark.versioning import (
        clone_table,
        commit_version,
        read_version,
        write_version,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    even = o.where(F.col("o_orderkey") % 2 == 0)
    odd = o.where(F.col("o_orderkey") % 2 == 1)
    src = _scratch(sf_dir, "clone_src")
    dst = _scratch(sf_dir, "clone_dst")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    write_version(even.limit(0), src)  # v1: empty seed
    head = commit_version(even, src, expected_base=1)  # v2: even half

    cloned_head = clone_table(src, dst)
    if cloned_head != head:
        raise AssertionError(f"clone head {cloned_head} != source head {head}")
    copied = glob.glob(os.path.join(dst, "**", "*.parquet"), recursive=True)
    if copied:
        raise AssertionError(f"shallow clone copied data files: {copied[:3]}")

    # clone diverges: adds the odd half on top of the shared history
    grown = read_version(spark, dst).unionByName(odd)
    commit_version(grown, dst, expected_base=cloned_head)

    src_now = read_version(spark, src)
    clone_now = read_version(spark, dst)
    cents = lambda c: F.sum(
        F.floor(F.col(c) * 100 + F.lit(0.5)).cast("bigint")
    ).cast("bigint")
    a = src_now.agg(
        F.count("*").cast("bigint").alias("src_rows"),
        cents("o_totalprice").alias("src_cents"),
    )
    b = clone_now.agg(
        F.count("*").cast("bigint").alias("clone_rows"),
        cents("o_totalprice").alias("clone_cents"),
    )
    return a.crossJoin(b).select(
        "src_rows",
        "clone_rows",
        "src_cents",
        "clone_cents",
        F.lit(0).cast("bigint").alias("n_files_copied"),
    )


@register(
    "roundtrip_change_feed",
    """
WITH k AS (
  SELECT o_orderkey AS k,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(SUM(CASE WHEN k % 6 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
       CAST(SUM(CASE WHEN k % 6 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
       CAST(SUM(CASE WHEN k % 12 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
       CAST(SUM(CASE WHEN k % 6 = 4 THEN cents
                     WHEN k % 12 = 0 THEN cents * 2
                     ELSE 0 END) AS BIGINT) AS sum_new_cents
FROM k
""",
    category="roundtrip",
    description=(
        "Change-data-feed hard signal: three committed versions (seed / "
        "inserts / mixed insert+delete+update), then read_changes(v1 -> "
        "v3) — the feed must classify every key exactly (inserts k%6=4, "
        "deletes k%6=3, updates k%12=0 price-doubled) and its new-value "
        "sum must match the oracle's closed form over the source"
    ),
)
def roundtrip_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the versioning layer's read story: time travel reads a
    state, the change feed reads a TRANSITION — the input every
    downstream incremental consumer (IVM, replication, cache refresh)
    actually wants. No write-side logging: the feed falls out of the
    immutable version directories."""
    import shutil

    from findb_spark.versioning import read_changes, write_version

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    table = _scratch(sf_dir, "cdf_table")
    shutil.rmtree(table, ignore_errors=True)
    v1 = o.where(F.col("k") % 3 == 0)
    write_version(v1, table)
    v2 = v1.unionByName(o.where(F.col("k") % 3 == 1))
    write_version(v2, table)
    v3 = v2.where(F.col("k") % 6 != 3).withColumn(
        "cents",
        F.when(F.col("k") % 12 == 0, F.col("cents") * 2).otherwise(F.col("cents")),
    ).where(F.col("k") % 6 != 1)
    write_version(v3, table)

    feed = read_changes(spark, table, 1, 3, keys=["k"], compare=["cents"])
    return feed.agg(
        F.sum(F.when(F.col("change") == "insert", 1).otherwise(0))
        .cast("bigint")
        .alias("n_insert"),
        F.sum(F.when(F.col("change") == "delete", 1).otherwise(0))
        .cast("bigint")
        .alias("n_delete"),
        F.sum(F.when(F.col("change") == "update", 1).otherwise(0))
        .cast("bigint")
        .alias("n_update"),
        F.sum(F.coalesce(F.col("new_cents"), F.lit(0)))
        .cast("bigint")
        .alias("sum_new_cents"),
    )
