"""Streaming semantics tests: availableNow replay of the events file must
reproduce the batch twins' results (the reference is batch-only, so batch
IS the spec — SURVEY §7 phase 4 note on pinning streaming against
deterministic replays)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from findb_spark.ops.events import sessionize, tumbling_agg
from findb_spark.session import load_table
from findb_spark.streaming.events_stream import (
    dedup_stream,
    enriched_stream,
    read_events_stream,
    running_user_totals,
    session_window_stream,
    sliding_stream,
    tumbling_stream,
)


@pytest.fixture(scope="module")
def stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _replay(df, name, mode="complete"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_tumbling_stream_matches_batch(spark, stream, batch_events):
    _replay(tumbling_stream(stream), "tumb")
    got = {
        (r.bucket_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM tumb").collect()
    }
    want = {
        (r.bucket_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_agg(batch_events).collect()
    }
    assert got == want


def test_sliding_stream_total_counts(spark, stream, batch_events):
    _replay(sliding_stream(stream), "slide")
    rows = spark.sql("SELECT * FROM slide").collect()
    # each event lands in exactly duration/slide = 4 sliding windows
    assert sum(r.n_events for r in rows) == 4 * batch_events.count()
    assert all(r.bucket_end_us - r.bucket_start_us == 3600 * 10**6 for r in rows)


def test_session_window_stream_matches_batch_sessionize(spark, stream, batch_events):
    _replay(session_window_stream(stream), "sess")
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    want = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in sessionize(batch_events).collect()
    }
    assert got == want


def test_sessionize_exact_gap_boundary_matches_session_window(spark, tmp_path):
    """Spark's native session_window opens [ts, ts+gap) per event and
    merges TOUCHING windows — so an event at exactly prev + gap still
    extends the session, and a split needs a strictly greater gap.  Real
    sf data never hits the exact boundary, so this fixture pins both
    sides: gap == 30min merges, gap == 30min + 1µs splits.  (Verified
    empirically: an availableNow replay of session_window over these rows
    produced ONE merged session for the ==gap pair — the batch twin's `>`
    rule matches that, not `>=`.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from findb_spark.streaming.events_stream import read_events_stream

    t0 = 1_700_000_000_000_000  # epoch micros
    gap_us = 1_800 * 10**6
    rows = [
        (1, 10, "view", t0, 1.0, "{}"),
        (2, 10, "view", t0 + 1_799 * 10**6, 1.0, "{}"),  # gap < 30min: same
        (3, 10, "view", t0 + 1_799 * 10**6 + gap_us, 1.0, "{}"),  # == gap: MERGE
        (4, 10, "view", t0 + 1_799 * 10**6 + 2 * gap_us + 1, 1.0, "{}"),  # gap+1µs: SPLIT
        (5, 20, "view", t0, 1.0, "{}"),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "ts": pa.array([r[3] for r in rows], pa.timestamp("us")),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    from findb_spark.session import load_table

    batch = load_table(spark, str(tmp_path), "events")
    sessions = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in sessionize(batch).collect()
    }
    t3 = t0 + 1_799 * 10**6 + gap_us
    t4 = t3 + gap_us + 1
    assert sessions == {
        (10, t0, t3, 3),  # events 1+2+3: exact-gap event MERGES
        (10, t4, t4, 1),  # strictly > gap: new session
        (20, t0, t0, 1),
    }

    _replay(session_window_stream(read_events_stream(spark, str(tmp_path))), "sess_edge")
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.sql("SELECT * FROM sess_edge").collect()
    }
    assert got == sessions


def test_dedup_stream_drops_duplicate_event_ids(spark, stream, batch_events):
    _replay(dedup_stream(stream).select("event_id"), "dedup", mode="append")
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup").first()
    want = batch_events.select("event_id").distinct().count()
    assert got.n == got.d == want


def test_enriched_stream_static_join(spark, stream, batch_events):
    dim = (
        batch_events.groupBy("user_id")
        .agg(F.count("*").alias("lifetime_events"))
    )
    _replay(
        enriched_stream(stream, dim).select("event_id", "user_id", "lifetime_events"),
        "enrich",
        mode="append",
    )
    rows = spark.sql("SELECT * FROM enrich").collect()
    assert len(rows) == batch_events.count()
    assert all(r.lifetime_events is not None and r.lifetime_events > 0 for r in rows)


def test_stateful_running_totals(spark, stream, batch_events):
    _replay(running_user_totals(stream), "runtot", mode="update")
    # last update per user == full batch aggregate
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            "SELECT user_id, max_by(n_events, n_events) AS n_events,"
            " max_by(total_value, n_events) AS total_value FROM runtot GROUP BY user_id"
        ).collect()
    }
    cents = F.floor(F.col("value") * 100 + F.lit(0.5))
    want = {
        r.user_id: (r.n, r.tv)
        for r in batch_events.groupBy("user_id")
        .agg(F.count("*").alias("n"), (F.sum(cents).cast("double") / 100).alias("tv"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, stream, batch_events):
    from findb_spark.streaming.events_stream import view_click_join_stream

    _replay(view_click_join_stream(stream), "ssj", mode="append")
    got = {
        (r.user_id, r.view_id, r.click_id)
        for r in spark.sql("SELECT * FROM ssj").collect()
    }
    v = batch_events.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    c = batch_events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    want = {
        (r.user_id, r.view_id, r.click_id)
        for r in v.join(
            c,
            F.expr(
                "user_id = c_user_id AND click_ts >= view_ts "
                "AND click_ts <= view_ts + interval 30 minutes"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_parquet_sink_exactly_once_restart(spark, sf_dir, tmp_path):
    """The file sink + checkpoint must be idempotent under restart: a second
    run over the same (fully consumed) source emits zero new rows."""
    from findb_spark.streaming.events_stream import (
        read_events_stream,
        stream_to_parquet,
    )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = read_events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")
    stream_to_parquet(stream, out, ckpt)
    n_batch = spark.read.parquet(sf_dir + "/events.parquet").count()
    assert spark.read.parquet(out).count() == n_batch

    # restart against the same checkpoint: offsets are committed, no dupes
    stream2 = read_events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")
    stream_to_parquet(stream2, out, ckpt)
    assert spark.read.parquet(out).count() == n_batch


def test_stream_merge_snapshot_matches_batch_latest(spark, sf_dir, tmp_path):
    """foreachBatch + merge_into maintains a latest-event-per-user snapshot;
    after full replay it must equal the batch latest-per-user, and a restart
    against the same checkpoint must be a no-op (no new snapshot version)."""
    import os

    from pyspark.sql import Window

    from findb_spark.streaming.events_stream import (
        read_events_stream,
        stream_merge_snapshot,
    )
    from findb_spark.versioning import read_version

    snap, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    stream = read_events_stream(spark, sf_dir).select(*cols)
    stream_merge_snapshot(stream, snap, ckpt)

    from findb_spark.session import load_table

    batch = load_table(spark, sf_dir, "events").select(*cols)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        tuple(r)
        for r in batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .collect()
    }
    got = {tuple(r) for r in read_version(spark, snap).collect()}
    assert got == want and len(got) > 0

    versions_before = sorted(os.listdir(snap))
    stream2 = read_events_stream(spark, sf_dir).select(*cols)
    stream_merge_snapshot(stream2, snap, ckpt)
    assert sorted(os.listdir(snap)) == versions_before


def test_merge_snapshot_time_travel(spark, sf_dir, tmp_path):
    """Every epoch's snapshot is retained: reading epoch 0's version (1)
    must reproduce the historical state, and an unknown version must
    raise."""
    import pytest

    from findb_spark.streaming.events_stream import (
        read_events_stream,
        stream_merge_snapshot,
    )
    from findb_spark.versioning import read_version

    snap, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    stream = read_events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    stream_merge_snapshot(stream, snap, ckpt, order_cols=("event_id",))
    latest = read_version(spark, snap)
    v0 = read_version(spark, snap, version=1)
    assert v0.count() == latest.count() > 0
    with pytest.raises(KeyError):
        read_version(spark, snap, version=99)


def test_merge_snapshot_replayed_epoch_is_not_rewritten(spark, sf_dir, tmp_path):
    """A crash after an epoch's snapshot commit but before the checkpoint's
    commit replays the epoch.  The replay must add no version and leave
    the committed snapshot's files untouched (same names, same mtimes)."""
    import os

    from findb_spark.streaming.events_stream import (
        read_events_stream,
        stream_merge_snapshot,
    )
    from findb_spark.versioning import list_versions

    def files(root):
        return {
            os.path.relpath(os.path.join(d, n), root): os.stat(os.path.join(d, n)).st_mtime_ns
            for d, _, names in os.walk(root)
            for n in names
        }

    snap, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    cols = ["event_id", "user_id", "value"]
    stream_merge_snapshot(
        read_events_stream(spark, sf_dir).select(*cols), snap, ckpt,
        order_cols=("event_id",),
    )
    before, versions = files(snap), list_versions(snap)
    commits = os.path.join(ckpt, "commits")
    last = max((n for n in os.listdir(commits) if n.isdigit()), key=int)
    for name in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    stream_merge_snapshot(
        read_events_stream(spark, sf_dir).select(*cols), snap, ckpt,
        order_cols=("event_id",),
    )
    assert files(snap) == before
    assert list_versions(snap) == versions and versions


def test_merge_snapshot_epoch_gap_raises(spark, tmp_path):
    """An epoch that does not follow the snapshot table's head (here a
    checkpoint at epoch 1 against an empty table) must raise instead of
    committing a snapshot merged against a missing baseline."""
    import pytest

    from findb_spark.streaming.events_stream import stream_merge_snapshot
    from findb_spark.versioning import list_versions

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    schema = "user_id bigint, ts bigint, event_id bigint"
    spark.createDataFrame([(1, 10, 1)], schema).write.parquet(f"{src}/b0")
    stream_merge_snapshot(
        spark.readStream.schema(schema).parquet(f"{src}/*"), str(tmp_path / "a"), ckpt
    )
    assert sorted(list_versions(str(tmp_path / "a"))) == [1]
    spark.createDataFrame([(1, 20, 2)], schema).write.parquet(f"{src}/b1")
    with pytest.raises(Exception, match="does not follow version 0"):
        stream_merge_snapshot(
            spark.readStream.schema(schema).parquet(f"{src}/*"), str(tmp_path / "b"), ckpt
        )
    assert list_versions(str(tmp_path / "b")) == {}


def test_stateful_transition_stream_matches_batch(spark, stream, batch_events):
    """Summed per-batch transition deltas == the batch lag-window matrix
    (aggregated over users)."""
    from pyspark.sql import Window

    from findb_spark.streaming.events_stream import user_transition_stream

    _replay(user_transition_stream(stream), "trans", mode="update")
    got = {
        (r.prev_type, r.next_type): r.n
        for r in spark.sql(
            "SELECT prev_type, next_type, SUM(n) AS n FROM trans"
            " GROUP BY prev_type, next_type"
        ).collect()
    }
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = batch_events.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    want = {
        (r.prev_type, r.next_type): r.n
        for r in seq.groupBy("prev_type", "next_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(got) > 0


def test_stream_dq_monitor_reconciles_with_batch(spark, sf_dir, tmp_path):
    """Per-epoch audit reports summed over the replay must equal the batch
    auditor's row-rule counts on the same data."""
    from findb_spark.ops.quality import dq_audit
    from findb_spark.streaming.events_stream import (
        read_events_stream,
        stream_dq_monitor,
    )

    rules = {
        "null_user": F.col("user_id").isNull(),
        "nonpositive_value": F.col("value") <= 0,
    }
    out, ckpt = str(tmp_path / "audit"), str(tmp_path / "ckpt")
    stream_dq_monitor(read_events_stream(spark, sf_dir), rules, out, ckpt)
    got = {
        r.check: (r.v, r.c)
        for r in spark.read.parquet(out)
        .groupBy("check")
        .agg(F.sum("n_violations").alias("v"), F.sum("n_checked").alias("c"))
        .collect()
    }
    from findb_spark.session import load_table

    want = {
        r.check: (r.n_violations, r.n_checked)
        for r in dq_audit(load_table(spark, sf_dir, "events"), row_rules=rules).collect()
    }
    assert got == want and len(got) == 2

    # Replay safety: re-running the fully-consumed source with a FRESH
    # checkpoint re-fires the same epoch ids over the same data; the
    # dynamic-partition-overwrite sink must converge (epoch partitions
    # rewritten, not double-appended), so the reconciliation still holds.
    stream_dq_monitor(
        read_events_stream(spark, sf_dir), rules, out, str(tmp_path / "ckpt2")
    )
    got2 = {
        r.check: (r.v, r.c)
        for r in spark.read.parquet(out)
        .groupBy("check")
        .agg(F.sum("n_violations").alias("v"), F.sum("n_checked").alias("c"))
        .collect()
    }
    assert got2 == want


def test_merge_snapshot_ignores_torn_uncommitted_version(spark, sf_dir, tmp_path):
    """A version data directory without a log entry (crash mid-write)
    must be invisible to both the reader and the writer's baseline pick
    — readers never observe a torn snapshot."""
    import os

    import pytest

    from findb_spark.streaming.events_stream import (
        read_events_stream,
        stream_merge_snapshot,
    )
    from findb_spark.versioning import read_version

    snap, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    stream_merge_snapshot(stream, snap, ckpt, order_cols=("event_id",))
    committed = read_version(spark, snap).count()
    assert committed > 0

    # simulate a crash mid-write: a newer version dir with data but no marker
    torn = os.path.join(snap, "v999-0badc0de")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00not a complete parquet file")
    assert read_version(spark, snap).count() == committed
    with pytest.raises(KeyError):
        read_version(spark, snap, version=999)


def test_watermark_replay_drops_late_rows(spark, sf_dir):
    """The watermark certification must actually exercise the drop path:
    the staged 3-batch replay (on-time / empty alignment batch / 13-day-
    late chunk) reports a positive numRowsDroppedByWatermark for the
    late batch, and the drop count equals the late rows whose hourly
    window closed under the committed watermark."""
    import datetime
    import os

    from pyspark.sql import functions as F

    from findb_spark.queries.roundtrip_queries import _stage_watermark_batches
    from findb_spark.session import load_table

    stream_dir, mx = _stage_watermark_batches(spark, sf_dir)
    schema = spark.read.parquet(os.path.join(stream_dir, "batch0.parquet")).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    agg = (
        src.withWatermark("ts", "10097 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_drop_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    )
    # the drop path must actually fire for the late batch (the EXACT count
    # is not pinned: Spark's late-record filter cutoff — a lagged
    # "watermarkForLateEvents" — admits some late rows into state, where
    # they are withheld forever because the watermark never re-advances;
    # the emitted OUTPUT below is deterministic either way)
    assert dropped > 0

    ev = load_table(spark, sf_dir, "events")
    wm = mx - datetime.timedelta(minutes=10097)
    late = (F.col("ts") >= F.lit(mx) - F.expr("INTERVAL 14 DAYS")) & (
        F.col("ts") < F.lit(mx) - F.expr("INTERVAL 1 DAYS")
    )
    got = {
        (r[0]["start"], r.event_type): r.n
        for r in spark.table("wm_drop_probe").collect()
    }
    want = {
        (r[0]["start"], r.event_type): r.n
        for r in ev.where(~late)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .where(F.col("window.end") <= F.lit(wm))
        .collect()
    }
    assert got == want


def test_stream_restart_resumes_without_replay(spark, tmp_path):
    """Two availableNow query lifetimes over one checkpoint: the second
    must process only the file that arrived after the first terminated."""
    import os

    stream_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(stream_dir)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, k string")
    df2 = spark.createDataFrame([(3, "c")], "id bigint, k string")

    def stage(df, name):
        stage_dir = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        import glob as g
        import shutil

        shutil.copy(
            g.glob(stage_dir + "/part-*.parquet")[0],
            os.path.join(stream_dir, name + ".parquet"),
        )

    def run():
        src = spark.readStream.schema(df1.schema).parquet(stream_dir)
        q = (
            src.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage(df1, "b0")
    run()
    assert spark.read.parquet(out_dir).count() == 2
    stage(df2, "b1")
    run()
    got = sorted(r.id for r in spark.read.parquet(out_dir).collect())
    assert got == [1, 2, 3]  # no batch-1 duplicates, batch 2 present
