"""session.Memo: every engine cache is keyed by its source table's content,
so a rewritten table is never served stale, and release_caches drops only
the DataFrame entries that clearCache invalidates."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import findb_spark.queries.events_analytics as ea
import findb_spark.queries.events_queries as eq
import findb_spark.queries.vector_queries as vq
from findb_spark.session import load_table, release_caches, table_path
from tests.conftest import SF_DIR


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


def test_release_caches_keeps_driver_side_values(spark, tmp_path, count_jobs):
    from findb_spark.session import _SCHEMA_MEMO

    sf_dir = _events_copy(tmp_path)
    cb = vq._trained_pq_codebook(spark, SF_DIR)
    cols = load_table(spark, sf_dir, "events").columns
    ea._active_days(spark, sf_dir)
    eq._hll_distinct_users(spark, sf_dir)
    schema_key = _SCHEMA_MEMO.key(spark, table_path(sf_dir, "events"))
    assert ea._UD_MEMO and eq._HLL_DU_MEMO and schema_key in _SCHEMA_MEMO

    release_caches(spark)
    assert not ea._UD_MEMO and not eq._HLL_DU_MEMO
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
