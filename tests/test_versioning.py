"""Versioned-table (time travel) semantics + round-5 analytics pins:
version immutability, manifest resolution, Bloom-join plan shape, and the
k-core fixed-round-count fixpoint claim."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from findb_spark.versioning import list_versions, read_version, write_version


def _df(spark, rows):
    return spark.createDataFrame(rows, "k BIGINT, v STRING")


def test_version_commit_and_resolution(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert list_versions(t) == {}
    v1 = write_version(_df(spark, [(1, "a"), (2, "b")]), t)
    v2 = write_version(_df(spark, [(1, "a2")]), t)
    assert (v1, v2) == (1, 2)
    assert sorted(list_versions(t)) == [1, 2]
    # as-of read returns the committed snapshot, latest resolves to v2
    assert sorted(r.v for r in read_version(spark, t, 1).collect()) == ["a", "b"]
    assert [r.v for r in read_version(spark, t).collect()] == ["a2"]


def test_version_immutability_under_append(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_version(_df(spark, [(1, "x")]), t)
    before = read_version(spark, t, 1).collect()
    # three more commits; v1 must be byte-stable
    for i in range(2, 5):
        write_version(_df(spark, [(i, f"y{i}")]), t)
    assert read_version(spark, t, 1).collect() == before
    assert sorted(list_versions(t)) == [1, 2, 3, 4]


def test_version_errors(spark, tmp_path):
    t = str(tmp_path / "none")
    with pytest.raises(FileNotFoundError):
        read_version(spark, t)
    write_version(_df(spark, [(1, "a")]), t)
    with pytest.raises(KeyError):
        read_version(spark, t, 99)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bloom_join_broadcasts_bitmap(spark, sf_dir):
    """The 2048-word Bloom bitmap must reach lineitem as a broadcast on
    BOTH probes — a shuffle here would defeat the runtime-filter point."""
    from findb_spark.queries.stats_queries import bloom_prefilter_join

    plan = _explain(bloom_prefilter_join(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # 2 word probes + verify semi


def test_kcore_fixed_rounds_reach_fixpoint(spark, sf_dir):
    """graph_kcore peels a FIXED 5 rounds (mirroring the oracle); this pins
    the convergence claim — one extra peel must not change the result."""
    from findb_spark.ops.dedup import minhash_lsh_pairs
    from findb_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        minhash_lsh_pairs(docs, threshold=0.4)
        .select("doc1", "doc2")
        .localCheckpoint(eager=True)
    )
    e = pairs.select(
        F.col("doc1").alias("a"), F.col("doc2").alias("b")
    ).unionAll(pairs.select(F.col("doc2").alias("a"), F.col("doc1").alias("b")))
    e = e.localCheckpoint(eager=True)

    def peel(e):
        deg = e.groupBy("a").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= 2).select("a")
        return (
            e.join(keep, "a", "semi")
            .join(keep.select(F.col("a").alias("b")), "b", "semi")
        ).localCheckpoint(eager=True)

    for _ in range(5):
        e = peel(e)
    extra = peel(e)
    assert e.count() == extra.count()
    got = {(r.a, r.b) for r in e.collect()}
    assert got == {(r.a, r.b) for r in extra.collect()}


def test_vacuum_expires_old_versions(spark, tmp_path):
    from findb_spark.versioning import (
        list_versions,
        read_version,
        vacuum,
        write_version,
    )

    table = str(tmp_path / "t")
    for i in range(1, 5):
        write_version(
            spark.createDataFrame([(i, i * 10)], "k int, v int"), table
        )
    assert sorted(list_versions(table)) == [1, 2, 3, 4]

    expired = vacuum(table, keep_last=2)
    assert expired == [1, 2]
    assert sorted(list_versions(table)) == [3, 4]
    # retained versions stay readable (latest + explicit)
    assert read_version(spark, table).collect()[0].k == 4
    assert read_version(spark, table, version=3).collect()[0].k == 3
    # expired version resolution fails loudly
    import pytest as _pytest

    with _pytest.raises(KeyError):
        read_version(spark, table, version=1)
    # vacuum is idempotent
    assert vacuum(table, keep_last=2) == []
    # new writes continue the version sequence (no number reuse)
    v = write_version(spark.createDataFrame([(5, 50)], "k int, v int"), table)
    assert v == 5


# ---- optimistic concurrency (commit_version CAS) -------------------------


def test_occ_stale_base_conflicts_then_rebases(spark, tmp_path):
    from findb_spark.versioning import (
        VersionConflict,
        commit_version,
        read_version,
        write_version,
    )
    import pytest as _pt

    table = str(tmp_path / "t")
    df = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id bigint")
    base = write_version(df(1), table)
    v2 = commit_version(df(1, 2), table, expected_base=base)
    assert v2 == 2
    with _pt.raises(VersionConflict):
        commit_version(df(1, 3), table, expected_base=base)  # stale
    v3 = commit_version(df(1, 2, 3), table, expected_base=v2)
    assert v3 == 3
    assert sorted(r.id for r in read_version(spark, table).collect()) == [1, 2, 3]
    # time travel still resolves every committed version
    assert sorted(r.id for r in read_version(spark, table, 2).collect()) == [1, 2]


def test_occ_marker_claim_is_put_if_absent(spark, tmp_path, monkeypatch):
    """Even with a matching head when it started, a commit must lose the
    CAS when a racer publishes the same version first — the put-if-absent
    guarantee the whole contract rests on."""
    import pytest as _pt

    from findb_spark.versioning import VersionConflict, commit_version, write_version

    table = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), table)
    finish = _paused_commit(
        monkeypatch, lambda: commit_version(_df(spark, [(2, "ours")]), table, 1)
    )
    # the racer publishes v2 after our head read
    assert commit_version(_df(spark, [(3, "racer")]), table, expected_base=1) == 2
    with _pt.raises(VersionConflict):
        finish()
    assert [r.v for r in read_version(spark, table, 2).collect()] == ["racer"]


def test_occ_failed_write_releases_claim(spark, tmp_path, monkeypatch):
    """If the data write blows up, no entry is published and the partial
    directory is removed, so a retry gets the version."""
    import os

    import pytest as _pt

    from findb_spark.versioning import commit_version, write_version

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id bigint")
    write_version(df, table)

    class Boom(Exception):
        pass

    bad = spark.createDataFrame([(2,)], "id bigint")
    orig = type(bad.write).parquet

    def explode(self, path):
        os.makedirs(path)
        open(os.path.join(path, "part-00000.parquet"), "wb").close()
        raise Boom()

    monkeypatch.setattr(type(bad.write), "parquet", explode)
    with _pt.raises(Boom):
        commit_version(bad, table, expected_base=1)
    monkeypatch.setattr(type(bad.write), "parquet", orig)
    assert not os.path.exists(os.path.join(table, "_log", "2.json"))
    assert not [d for d in os.listdir(table) if d.startswith("v2")]
    assert commit_version(bad, table, expected_base=1) == 2


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    import glob
    import os

    import pytest as _pt

    from findb_spark.versioning import (
        clone_table,
        commit_version,
        read_version,
        write_version,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id bigint")
    write_version(df(1, 2), src)
    head = clone_table(src, dst)
    assert head == 1
    assert glob.glob(os.path.join(dst, "**", "*.parquet"), recursive=True) == []
    assert sorted(r.id for r in read_version(spark, dst).collect()) == [1, 2]
    # clone diverges; source untouched
    commit_version(df(1, 2, 3), dst, expected_base=1)
    assert sorted(r.id for r in read_version(spark, dst).collect()) == [1, 2, 3]
    assert sorted(r.id for r in read_version(spark, src).collect()) == [1, 2]
    # cloning onto an existing table refuses
    with _pt.raises(FileExistsError):
        clone_table(src, dst)


# ---- the committed schema in the log entry -------------------------------


def _manifest(table):
    """{version: log entry} of a versioned table's unexpired versions."""
    import json
    import os

    log = os.path.join(table, "_log")
    out = {}
    for name in os.listdir(log):
        if name.endswith(".json"):
            with open(os.path.join(log, name)) as f:
                entry = json.load(f)
            if not entry.get("expired"):
                out[int(name[:-5])] = entry
    return out


def test_read_version_runs_no_job(spark, tmp_path, count_jobs):
    from findb_spark.versioning import commit_version

    t = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), t)
    commit_version(_df(spark, [(1, "a"), (2, "b")]), t, expected_base=1)
    for v in (1, 2, None):
        df, jobs = count_jobs(lambda: read_version(spark, t, v))
        assert jobs == 0, v
        # the recorded schema is the one inference would find
        assert df.schema == spark.read.parquet(list_versions(t)[v or 2]).schema
    assert sorted(r.k for r in read_version(spark, t).collect()) == [1, 2]


def test_log_is_the_only_format(spark, tmp_path):
    """Commits, a vacuum and a clone leave only ``_log/`` and version data
    directories (no other manifest), and every entry that is not a
    tombstone records its version's schema."""
    import os
    import re

    from findb_spark.versioning import clone_table, commit_version, vacuum

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    for i in range(1, 4):
        write_version(_df(spark, [(i, f"v{i}")]), src)
    assert vacuum(src, keep_last=2) == [1]
    clone_table(src, dst)
    assert commit_version(_df(spark, [(4, "v4")]), dst, expected_base=3) == 4
    for t, live in ((src, [2, 3]), (dst, [2, 3, 4])):
        names = os.listdir(t)
        assert all(n == "_log" or re.fullmatch(r"v\d+-[0-9a-f]{8}", n) for n in names), names
        m = _manifest(t)
        assert sorted(m) == live
        assert all("schema" in e for e in m.values()), t


def test_vacuum_and_clone_keep_retained_schemas(spark, tmp_path, count_jobs):
    from findb_spark.versioning import clone_table, vacuum

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    for i in range(1, 5):
        write_version(_df(spark, [(i, f"v{i}")]), src)
    def schemas(t):
        return {v: e["schema"] for v, e in _manifest(t).items()}

    before = schemas(src)
    assert sorted(before) == [1, 2, 3, 4]
    assert vacuum(src, keep_last=2) == [1, 2]
    assert schemas(src) == {k: before[k] for k in (3, 4)}
    clone_table(src, dst)
    assert schemas(dst) == schemas(src)
    df, jobs = count_jobs(lambda: read_version(spark, dst, 3))
    assert jobs == 0 and [r.v for r in df.collect()] == ["v3"]


# ---- one put-if-absent log: killed and racing writers ---------------------


def _paused_commit(monkeypatch, fn, where=None):
    """Run ``fn`` on a thread that pauses once ``where`` (an owner and an
    attribute name; by default its parquet data write) returns, before it
    can commit.  Returns ``finish()``, which lets the thread go on and
    returns ``fn``'s result or raises its error."""
    import threading

    from pyspark.sql import DataFrameWriter

    owner, name = where or (DataFrameWriter, "parquet")
    call = getattr(owner, name)
    written, go, out = threading.Event(), threading.Event(), {}

    def paused(*args, **kwargs):
        result = call(*args, **kwargs)
        if threading.current_thread() is worker:
            written.set()
            go.wait(60)
        return result

    def run():
        try:
            out["result"] = fn()
        except Exception as e:
            out["error"] = e
        finally:
            written.set()

    monkeypatch.setattr(owner, name, paused)
    worker = threading.Thread(target=run)
    worker.start()
    assert written.wait(60)

    def finish():
        go.set()
        worker.join(60)
        assert not worker.is_alive()
        if "error" in out:
            raise out["error"]
        return out["result"]

    return finish


def test_killed_writer_does_not_wedge_the_table(spark, tmp_path, monkeypatch):
    """A writer killed inside its data write runs no cleanup.  The table
    must stay writable on the same base, and vacuum removes the dead
    writer's directory."""
    import os
    import shutil

    from pyspark.sql import DataFrameWriter

    from findb_spark.versioning import commit_version, vacuum

    class Killed(BaseException):
        pass

    def die(self, path, *args, **kwargs):
        os.makedirs(path)
        open(os.path.join(path, "part-00000.parquet"), "wb").close()
        raise Killed()

    t = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), t)
    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", die)
        m.setattr(os, "unlink", lambda *a, **k: None)
        m.setattr(shutil, "rmtree", lambda *a, **k: None)
        with pytest.raises(Killed):
            commit_version(_df(spark, [(2, "b")]), t, expected_base=1)
    assert commit_version(_df(spark, [(2, "b")]), t, expected_base=1) == 2
    assert [r.v for r in read_version(spark, t).collect()] == ["b"]
    assert vacuum(t, keep_last=2) == []
    data = sorted(os.path.basename(p) for p in list_versions(t).values())
    assert sorted(os.listdir(t)) == ["_log", *data]


def test_write_version_racing_a_commit_cannot_both_win(spark, tmp_path, monkeypatch):
    """write_version and commit_version racing for version 2: exactly one
    gets it, the other raises, and version 2 holds the winner's rows."""
    from findb_spark.versioning import VersionConflict, commit_version

    t = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), t)
    finish = _paused_commit(
        monkeypatch, lambda: commit_version(_df(spark, [(2, "paused")]), t, 1)
    )
    outcome = {}
    for name, call in (
        ("racer", lambda: write_version(_df(spark, [(3, "racer")]), t)),
        ("paused", finish),
    ):
        try:
            outcome[name] = call()
        except VersionConflict:
            outcome[name] = None
    winners = [name for name, v in outcome.items() if v == 2]
    assert len(winners) == 1 and None in outcome.values(), outcome
    assert [r.v for r in read_version(spark, t, 2).collect()] == winners
    assert sorted(list_versions(t)) == [1, 2]


def test_vacuum_during_a_commit_loses_neither(spark, tmp_path, monkeypatch):
    """vacuum while a commit on base 3 has written its data but not yet
    committed: the expired version stays gone, the commit lands, and every
    listed version reads."""
    from findb_spark.versioning import commit_version, vacuum

    t = str(tmp_path / "t")
    for i in range(1, 4):
        write_version(_df(spark, [(i, f"v{i}")]), t)
    finish = _paused_commit(
        monkeypatch, lambda: commit_version(_df(spark, [(4, "v4")]), t, 3)
    )
    assert vacuum(t, keep_last=2) == [1]
    assert finish() == 4
    assert sorted(list_versions(t)) == [2, 3, 4]
    for v in (2, 3, 4):
        assert [r.v for r in read_version(spark, t, v).collect()] == [f"v{v}"]


@pytest.mark.parametrize("pause", ["data_write", "entry_staged"])
def test_vacuum_keeps_an_expired_version_number_taken(
    spark, tmp_path, monkeypatch, pause
):
    """A commit on base 1 pauses after its data write, or with its entry
    staged just before the put, while a racer commits v2..v4 and vacuum
    expires v1 and v2.  The paused commit must lose: an expired version
    number is never committed again."""
    import json
    import os

    import pytest as _pt

    from findb_spark.versioning import VersionConflict, commit_version, vacuum

    t = str(tmp_path / "t")
    write_version(_df(spark, [(1, "v1")]), t)
    finish = _paused_commit(
        monkeypatch,
        lambda: commit_version(_df(spark, [(2, "paused")]), t, 1),
        (json, "dump") if pause == "entry_staged" else None,
    )
    for i in range(2, 5):
        assert commit_version(_df(spark, [(i, f"v{i}")]), t, i - 1) == i
    assert vacuum(t, keep_last=2) == [1, 2]
    with _pt.raises(VersionConflict):
        finish()
    assert sorted(list_versions(t)) == [3, 4]
    for v in (3, 4):
        assert [r.v for r in read_version(spark, t, v).collect()] == [f"v{v}"]
    with _pt.raises(KeyError):
        read_version(spark, t, 2)
    data = sorted(os.path.basename(p) for p in list_versions(t).values())
    assert sorted(os.listdir(t)) == ["_log", *data]


def test_concurrent_vacuums_both_finish(spark, tmp_path, monkeypatch):
    """A second vacuum that expires versions between the first vacuum's
    listing and its own expiry makes neither of them fail."""
    import findb_spark.versioning as ver

    t = str(tmp_path / "t")
    for i in range(1, 5):
        write_version(_df(spark, [(i, f"v{i}")]), t)
    live = ver._live

    def listing_then_other_vacuum(table_dir):
        out = live(table_dir)
        monkeypatch.setattr(ver, "_live", live)
        assert ver.vacuum(table_dir, keep_last=1) == [1, 2, 3]
        return out

    monkeypatch.setattr(ver, "_live", listing_then_other_vacuum)
    assert ver.vacuum(t, keep_last=2) == [1, 2]
    assert sorted(list_versions(t)) == [4]
    assert [r.v for r in read_version(spark, t).collect()] == ["v4"]


def test_concurrent_writers_each_commit_exactly_once(spark, tmp_path):
    """More writers than cores, each calling write_version and retrying on
    VersionConflict until it commits: every writer lands in exactly one
    version, and no version is lost or shared."""
    import sys
    import threading

    from findb_spark.versioning import VersionConflict

    t = str(tmp_path / "t")
    n = 5
    won, errors = {}, []

    def writer(i):
        try:
            for _ in range(50):
                try:
                    won[i] = write_version(_df(spark, [(i, f"w{i}")]), t)
                    return
                except VersionConflict:
                    pass
            errors.append(f"writer {i} lost 50 times")
        except Exception as e:
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=writer, args=(i,), daemon=True) for i in range(n)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(th.is_alive() for th in threads)
    assert sorted(won.values()) == list(range(1, n + 1))
    assert sorted(list_versions(t)) == list(range(1, n + 1))
    for i, v in won.items():
        assert [r.k for r in read_version(spark, t, v).collect()] == [i]
