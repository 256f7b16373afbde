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


def test_occ_marker_claim_is_put_if_absent(spark, tmp_path):
    """Even with a matching manifest head, a pre-existing commit marker
    (a racer that claimed the slot but hasn't published yet) must lose
    the CAS — the O_EXCL guarantee the whole contract rests on."""
    import os

    import pytest as _pt

    from findb_spark.versioning import VersionConflict, commit_version, write_version

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id bigint")
    write_version(df, table)
    open(os.path.join(table, "_commit_v2"), "w").close()  # racer's claim
    with _pt.raises(VersionConflict):
        commit_version(df, table, expected_base=1)


def test_occ_failed_write_releases_claim(spark, tmp_path, monkeypatch):
    """If the data write blows up after the marker is claimed, the marker
    and orphan directory are cleaned up so a retry can claim the slot."""
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
        raise Boom()

    monkeypatch.setattr(type(bad.write), "parquet", explode)
    with _pt.raises(Boom):
        commit_version(bad, table, expected_base=1)
    monkeypatch.setattr(type(bad.write), "parquet", orig)
    assert not os.path.exists(os.path.join(table, "_commit_v2"))
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


# ---- the committed schema in the manifest --------------------------------


def _manifest(table):
    import json
    import os

    with open(os.path.join(table, "_versions.json")) as f:
        return json.load(f)


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


def test_old_format_manifest_still_reads(spark, tmp_path):
    """A manifest without the schemas field reads through inference, and
    the next commit records a schema for its own version only."""
    import json

    t = tmp_path / "t"
    data = str(t / "v1")
    _df(spark, [(1, "a"), (2, "b")]).write.parquet(data)
    (t / "_versions.json").write_text(json.dumps({"versions": {"1": data}}))
    assert sorted(r.v for r in read_version(spark, str(t)).collect()) == ["a", "b"]
    assert write_version(_df(spark, [(3, "c")]), str(t)) == 2
    assert sorted(_manifest(str(t))["schemas"]) == ["2"]
    assert sorted(r.v for r in read_version(spark, str(t), 1).collect()) == ["a", "b"]
    assert [r.k for r in read_version(spark, str(t)).collect()] == [3]


def test_vacuum_and_clone_keep_retained_schemas(spark, tmp_path, count_jobs):
    from findb_spark.versioning import clone_table, vacuum

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    for i in range(1, 5):
        write_version(_df(spark, [(i, f"v{i}")]), src)
    before = _manifest(src)["schemas"]
    assert sorted(before) == ["1", "2", "3", "4"]
    assert vacuum(src, keep_last=2) == [1, 2]
    assert _manifest(src)["schemas"] == {k: before[k] for k in ("3", "4")}
    clone_table(src, dst)
    assert _manifest(dst)["schemas"] == _manifest(src)["schemas"]
    df, jobs = count_jobs(lambda: read_version(spark, dst, 3))
    assert jobs == 0 and [r.v for r in df.collect()] == ["v3"]
