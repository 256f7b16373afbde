"""Structured Streaming over the events table: tumbling/sliding windows with
watermarked late-data handling, native session windows, and a custom
stateful operator via ``applyInPandasWithState``.

The reference engine is strictly batch (SURVEY §2.2 'Streaming' row: none),
so these are extension operators; their *semantics* are pinned by the batch
twins in findb_spark.ops.events — tests assert stream results (availableNow
replay) equal the batch results on the same data.

Scale: watermarks bound state (late rows beyond the watermark are dropped
instead of growing state forever); session windows and the stateful
operator shuffle once on user_id. File-source streaming here stands in for
Kafka — swap ``readStream.format("kafka")`` and the plan is unchanged.

Sinks: ``stream_to_parquet`` keeps Spark's own file-sink log.  The
merge-snapshot sink is a versioned table: each epoch commits as one
version through findb_spark.versioning's put-if-absent log (epoch e is
version e+1), so it shares that module's one format, commit path and
reader, and needs the same local or mounted file system for ``link``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events table as a file-source stream (ts normalized to a
    session-tz microsecond timestamp, matching findb_spark.session.load_table).

    A file-source stream needs an explicit schema; the events parquet has
    shipped ``ts`` as both TIMESTAMP(NANOS) (reads as long under the
    nanosAsLong setting of ``get_spark``) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ) across testdata
    generations, so take the authoritative schema from a footer-only batch
    read of the same file and normalize the same way the batch path does
    (session tz is UTC, so the NTZ->LTZ cast preserves epoch micros)."""
    from findb_spark.session import normalize_events_ts, read_parquet, table_path

    batch_schema = read_parquet(spark, table_path(sf_dir, "events")).schema
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def tumbling_stream(
    events: DataFrame, duration: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming twin of
    ops.events.tumbling_agg; countDistinct is not stream-supported, so user
    cardinality uses approx_count_distinct)."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            (F.sum(cents).cast("double") / 100).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("bucket_start_us"),
            "event_type",
            "n_events",
            "n_users_approx",
            "sum_value",
        )
    )


def sliding_stream(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked sliding-window event counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("bucket_start_us"),
            F.unix_micros(F.col("window.end")).alias("bucket_end_us"),
            "n_events",
        )
    )


def session_window_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Native session windows (gap-merged) per user — the streaming twin of
    the batch lag/cumsum sessionization (ops.events.sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .select(
            "user_id",
            F.unix_micros(F.col("first_ts")).alias("session_start_us"),
            F.unix_micros(F.col("last_ts")).alias("session_end_us"),
            "n_events",
        )
    )


STATE_SCHEMA = StructType([StructField("n_events", LongType()), StructField("sum_cents", LongType())])
RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event count and value total, emitted in update mode each microbatch.
    The kind of operator Structured Streaming lacks natively (running
    totals without windows) — the reference has no analog either; this is
    the extension point for bespoke state machines."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100 + 0.5).floordiv(1).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it, so state size is bounded by the watermark horizon
    — the streaming form of the batch exact-dedup operator (at-least-once
    sources like Kafka redeliver; this restores effectively-once)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enriched_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a static
    dimension. The standard pattern for attaching slowly changing
    reference data to a live stream. No forced broadcast: the optimizer
    broadcasts a small static side on its honest estimate (re-read per
    microbatch, never shuffled with the stream), while a user dimension
    that has grown past the threshold degrades to a shuffled
    stream-static join instead of a forced broadcast OOM."""
    return events.join(dim, "user_id", "left")


def view_click_join_stream(
    events: DataFrame, within: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream self-join: each view matched to the same user's clicks
    within ``within`` afterwards. Both sides carry watermarks and the join
    condition bounds event time in both directions, so Spark can expire
    join state (unbounded stream-stream joins would buffer forever).
    Append-mode only, per stream-stream inner join semantics."""
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    return views.join(
        clicks,
        F.expr(
            f"user_id = c_user_id AND click_ts >= view_ts "
            f"AND click_ts <= view_ts + interval {within}"
        ),
    ).select("user_id", "view_id", "click_id", "view_ts", "click_ts")


def stream_to_parquet(
    stream_df: DataFrame, path: str, checkpoint: str, mode: str = "append"
) -> None:
    """Exactly-once parquet sink: the file sink's output manifest plus the
    checkpointed source offsets make restarts idempotent — a re-run against
    the same checkpoint re-emits nothing, a crash mid-batch replays the
    batch and the manifest hides the partial output from readers. This is
    the production landing path for streams (the batch layout's compact()
    then defragments what the micro-batches wrote)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_merge_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    checkpoint: str,
    key: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> None:
    """Streaming upsert: maintain a latest-row-per-key snapshot table from
    an append stream via ``foreachBatch`` + :func:`ops.merge.merge_into` —
    the pattern behind every "streaming MERGE INTO" sink.  The snapshot is
    a versioned table (findb_spark.versioning): epoch e commits its full
    merged snapshot as version e+1 on base e, through the table's
    put-if-absent log, and ``versioning.read_version`` reads any epoch's
    state back (every version is retained until vacuumed).

    Per micro-batch: reduce the batch to its latest row per key (window
    rank — late/duplicate rows within a batch collapse), then merge into
    the previous snapshot, version e (update on match, insert on miss).

    Replay safety: a crash between committing version e+1 and committing
    batch e to the checkpoint replays epoch e.  Version e+1 is then
    already in the log, so the replay is skipped and a committed snapshot
    is never rewritten; a crash before the commit leaves only an
    unreferenced data directory, never a torn version.  An epoch that
    does not follow the table's head (a gap) raises."""
    from pyspark.sql import Window

    from findb_spark.ops.merge import merge_into
    from findb_spark.versioning import commit_version, head_version, read_version

    def _apply(batch: DataFrame, epoch: int) -> None:
        head = head_version(snapshot_dir)
        if head > epoch:
            return  # replay: the epoch is committed as version epoch+1
        if head < epoch:
            raise RuntimeError(
                f"epoch {epoch} does not follow version {head} of {snapshot_dir}"
            )
        w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
        src = (
            batch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if epoch == 0:
            merged = src
        else:
            target = read_version(batch.sparkSession, snapshot_dir, epoch)
            merged = merge_into(
                target,
                src,
                on=[key],
                update={c: F.col(f"s.{c}") for c in target.columns},
                insert=True,
            )
        commit_version(merged, snapshot_dir, expected_base=epoch)

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


TRANS_STATE_SCHEMA = StructType([StructField("last_type", StringType())])
TRANS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("prev_type", StringType()),
        StructField("next_type", StringType()),
        StructField("n", LongType()),
    ]
)


def user_transition_stream(events: DataFrame) -> DataFrame:
    """Stateful streaming twin of the batch Markov transition matrix
    (queries.events_queries.events_type_transitions): per user, the state
    is just the LAST event_type seen; each microbatch sorts the user's
    new rows by event time, counts its (prev -> next) transitions —
    including the cross-batch edge recovered from state — and emits the
    per-batch delta counts. Downstream sums deltas per (prev, next).

    State is O(1) per user (one string), unlike a windowed approach that
    would buffer events; this is the canonical applyInPandasWithState
    shape: tiny state + delta emission.

    Ordering contract: rows are event-time-sorted WITHIN a microbatch,
    but the cross-batch edge uses arrival order — an event arriving in a
    later batch than a chronologically-later event is counted in arrival
    order, diverging from the batch twin's global (ts, event_id) order.
    Equivalence holds when batches arrive in event-time order (true for
    the ordered file replay; true for Kafka within a key-partitioned
    topic). For genuinely disordered sources, buffer behind a watermark
    (keep a small sorted tail in state, emit only below the watermark) —
    the standard reorder-buffer upgrade, at the cost of O(buffer) state."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last = state.get[0] if state.exists else None
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            batch = pd.concat(frames).sort_values(["ts", "event_id"])
            et = batch["event_type"].tolist()
            prev = ([last] if last is not None else [None]) + et[:-1]
            pairs = pd.DataFrame({"prev_type": prev, "next_type": et}).dropna()
            last = et[-1]
            state.update((last,))
            if len(pairs):
                counts = (
                    pairs.groupby(["prev_type", "next_type"], as_index=False)
                    .size()
                    .rename(columns={"size": "n"})
                )
                counts.insert(0, "user_id", key[0])
                yield counts

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=TRANS_SCHEMA,
        stateStructType=TRANS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dq_monitor(
    stream_df: DataFrame,
    row_rules: dict,
    path: str,
    checkpoint: str,
) -> None:
    """Streaming data-quality monitor: every microbatch runs the same
    one-scan rule aggregate the batch auditor uses
    (findb_spark.ops.quality.dq_audit row rules), stamps the epoch id,
    and appends the long-format report to an audit table. The ingest
    pipeline gets a per-batch violation ledger without a second pass
    over landed data; summed over epochs, n_checked reconciles exactly
    with rows ingested (the audit IS the ingest accounting).

    Cross-batch rules (global key uniqueness, referential integrity) are
    batch jobs over the landed table by nature — run `dq_audit` with
    `unique_key`/`fk` against the sink on a schedule instead."""
    from findb_spark.ops.quality import dq_audit

    def audit(batch_df: DataFrame, epoch_id: int) -> None:
        report = dq_audit(batch_df, row_rules=row_rules).withColumn(
            "epoch_id", F.lit(epoch_id).cast("bigint")
        )
        # Idempotent per epoch: a crash between a plain append and the
        # checkpoint commit would replay the epoch and double-append its
        # audit rows, breaking the summed-n_checked == rows-ingested
        # reconciliation.  Dynamic partition overwrite rewrites ONLY the
        # epoch_id=N partition on replay (other epochs untouched), so the
        # ledger converges to exactly one report per epoch.
        (
            report.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(path)
        )

    q = (
        stream_df.writeStream.foreachBatch(audit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
