"""Reuse is keyed to the data it was built from: session.Memo keys driver
values (schemas, PQ codebooks) by their source table's content, Spark's
cache holds the persisted relations and is refreshed when a table is
rewritten, and release_caches drops the relations but keeps the values."""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq

import findb_spark.queries.events_analytics as ea
import findb_spark.queries.events_queries as eq
import findb_spark.queries.vector_queries as vq
from findb_spark.session import load_table, release_caches, table_path
from tests.conftest import SF_DIR, cache_entry


def _events_copy(tmp_path) -> str:
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(table_path(SF_DIR, "events"), table_path(str(d), "events"))
    return str(d)


def _fresh_counts(sf_dir: str) -> tuple[int, int]:
    """(distinct (user, day), distinct (user, day, type)) computed from the
    file with pandas: a Spark plan could match a cached relation."""
    ev = pq.read_table(table_path(sf_dir, "events")).to_pandas()
    ev["day"] = ev["ts"].dt.floor("D")
    return (
        len(ev[["user_id", "day"]].drop_duplicates()),
        len(ev[["user_id", "day", "event_type"]].drop_duplicates()),
    )


def _memo_counts(spark, sf_dir: str) -> tuple[int, int]:
    return (ea._active_days(spark, sf_dir).count(), eq._hll_distinct_users(spark, sf_dir).count())


def test_load_table_sees_schema_overwrite(spark, tmp_path):
    path = table_path(str(tmp_path), "t")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    assert spark.read.parquet(path).columns == ["a", "b"]


def test_events_rewrite_rebuilds_memoized_relations(spark, tmp_path):
    sf_dir = _events_copy(tmp_path)
    before = _memo_counts(spark, sf_dir)
    assert before == _fresh_counts(sf_dir)

    path = table_path(sf_dir, "events")
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 4), path)
    fresh = _fresh_counts(sf_dir)
    assert fresh[0] < before[0] and fresh[1] < before[1]
    assert _memo_counts(spark, sf_dir) == fresh


def test_rewrite_refreshes_persisted_relations(spark, tmp_path):
    """Relations an operator persists (``timeseries._daily``, the
    ``ops/dedup.py`` shingle and pair relations) are served by plan
    matching, which compares paths, not files: after an in-place rewrite
    the specs must answer from the new rows."""
    from findb_spark.oracle import compare_query, duck_connection
    from findb_spark.registry import all_specs

    d = tmp_path / "sf"
    d.mkdir()
    for f in os.listdir(SF_DIR):
        shutil.copy(os.path.join(SF_DIR, f), d / f)
    sf_dir = str(d)
    specs = [all_specs()[n] for n in ("ts_moving_avg", "dedup_ngram_jaccard")]
    con = duck_connection(sf_dir)
    try:
        for s in specs:
            assert compare_query(spark, con, s.fn, s.sql, sf_dir, name=s.name) == []
        for name in ("lineitem", "documents"):
            path = table_path(sf_dir, name)
            t = pq.read_table(path)
            pq.write_table(t.slice(0, t.num_rows // 2), path)
        stale = {s.name: compare_query(spark, con, s.fn, s.sql, sf_dir, name=s.name) for s in specs}
        assert stale == {s.name: [] for s in specs}
    finally:
        con.close()


def test_release_caches_keeps_driver_side_values(spark, tmp_path, count_jobs):
    from findb_spark.session import _SCHEMA_MEMO

    sf_dir = _events_copy(tmp_path)
    cb = vq._trained_pq_codebook(spark, SF_DIR)
    cols = load_table(spark, sf_dir, "events").columns
    rels = [ea._active_days(spark, sf_dir), eq._hll_distinct_users(spark, sf_dir)]
    schema_key = _SCHEMA_MEMO.key(spark, table_path(sf_dir, "events"))
    assert all(cache_entry(spark, r) is not None for r in rels)
    assert schema_key in _SCHEMA_MEMO

    release_caches(spark)
    assert all(cache_entry(spark, r) is None for r in rels)
    assert vq._PQ_CB_MEMO and schema_key in _SCHEMA_MEMO

    again, jobs = count_jobs(lambda: vq._trained_pq_codebook(spark, SF_DIR))
    assert again is cb and jobs == 0
    assert load_table(spark, sf_dir, "events").columns == cols
    assert _memo_counts(spark, sf_dir) == _fresh_counts(sf_dir)


def test_read_prices_reopen_runs_no_job(spark, tmp_path, count_jobs):
    from findb_spark.layout import read_prices, write_prices
    from findb_spark.prices import golden_prices

    path = str(tmp_path / "prices")
    write_prices(golden_prices(spark), path, num_partitions=1, date_bucket="month")
    first, _ = count_jobs(lambda: read_prices(spark, path))
    second, jobs = count_jobs(lambda: read_prices(spark, path))
    assert jobs == 0
    assert "date_month" in second.columns
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(spark.read.parquet(path).select(*second.columns).collect())


def _files(root, rels) -> None:
    for rel in rels:
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"a": [1]}), str(root / rel))


def test_fingerprint_lists_only_the_files_spark_reads(spark, tmp_path):
    """``files_fingerprint`` lists the files Spark's listing keeps and no
    others: hidden directories (a writer's ``_temporary/``, a version
    log's ``_log/``, ``.staging/``) are pruned like hidden files, while a
    partition directory (``_`` with ``=``) is kept.  Otherwise an
    in-flight writer changes the memo key of content Spark never reads."""
    from findb_spark.session import files_fingerprint

    flat, parted = tmp_path / "flat", tmp_path / "parted"
    _files(flat, ["part-0.parquet", "_SUCCESS", "_log/1.json",
                  "_temporary/0/part-9.parquet", ".staging/part-8.parquet"])
    _files(parted, ["_k=1/part-1.parquet", "_temporary/0/_k=2/part-2.parquet"])
    for root, kept in ((flat, "part-0.parquet"), (parted, "_k=1/part-1.parquet")):
        listed = [f for f, _, _ in files_fingerprint(str(root))]
        assert listed == [os.path.realpath(root / kept)]
        uris = spark.read.parquet(str(root)).inputFiles()
        assert [os.path.realpath(urlparse(u).path) for u in uris] == listed
