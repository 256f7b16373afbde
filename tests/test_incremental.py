"""Incremental bar maintenance: partial partition overwrite must converge
to the same table as a full rebuild, touching only affected partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from findb_spark.ops.finance import monthly_ohlc_bars
from findb_spark.ops.incremental import update_monthly_bars, write_monthly_bars
from findb_spark.prices import prices_from_lineitem


def _canon(df):
    return sorted(
        (r.asset_id, r.month, r.open, r.high, r.low, r.close, r.n_rev)
        for r in df.collect()
    )


def test_incremental_update_matches_full_rebuild(spark, sf_dir, tmp_path):
    prices = prices_from_lineitem(spark, sf_dir).cache()
    cutoff = 19970101
    old = prices.where(F.col("date") < cutoff)
    late = prices.where(F.col("date") >= cutoff)
    n_late_months = late.select(F.expr("date div 100")).distinct().count()

    path = str(tmp_path / "bars")
    write_monthly_bars(old, path)
    before = {r.month for r in spark.read.parquet(path).select("month").distinct().collect()}

    n = update_monthly_bars(prices, late, path)
    assert n == n_late_months

    got = spark.read.parquet(path)
    want = monthly_ohlc_bars(prices)
    assert _canon(got) == _canon(want)
    # untouched months kept their original files (dynamic overwrite scope)
    after = {r.month for r in got.select("month").distinct().collect()}
    assert before <= after
    prices.unpersist()


def test_ivm_delta_semantics(spark, tmp_path):
    """apply_agg_delta: inserts add, updates shift measures at count 0,
    deletes retract, groups reaching n=0 vanish, untouched partitions
    stay."""
    from findb_spark.ops.ivm import apply_agg_delta

    path = str(tmp_path / "agg")
    base = spark.createDataFrame(
        [(1, 10, 2, 100), (2, 10, 1, 50), (3, 20, 3, 300)],
        "g int, p int, n bigint, s bigint",
    )
    base.write.mode("overwrite").partitionBy("p").parquet(path)

    delta = spark.createDataFrame(
        [
            (1, 10, 1, 40),   # insert into existing group
            (2, 10, -1, -50), # delete the whole group -> drops
            (4, 10, 1, 7),    # insert a brand-new group
            (1, 10, 0, 5),    # update: measure shift, no count change
        ],
        "g int, p int, n bigint, s bigint",
    )
    n_parts = apply_agg_delta(
        spark, path, delta, keys=["g", "p"], measures=["s"], part_col="p"
    )
    assert n_parts == 1  # only partition p=10 touched

    got = {
        (r.g, r.p): (r.n, r.s)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, 10): (3, 145),
        (4, 10): (1, 7),
        (3, 20): (3, 300),  # untouched partition intact
    }


def test_ivm_empty_delta_noop(spark, tmp_path):
    from findb_spark.ops.ivm import apply_agg_delta

    path = str(tmp_path / "agg")
    spark.createDataFrame(
        [(1, 10, 2, 100)], "g int, p int, n bigint, s bigint"
    ).write.mode("overwrite").partitionBy("p").parquet(path)
    empty = spark.createDataFrame([], "g int, p int, n bigint, s bigint")
    assert apply_agg_delta(
        spark, path, empty, keys=["g", "p"], measures=["s"], part_col="p"
    ) == 0
    assert spark.read.parquet(path).count() == 1


def test_partition_overwrites_leave_session_conf_alone(spark, sf_dir, tmp_path, monkeypatch):
    """Dynamic overwrite is a per-write option: a session-wide flip would
    leak dynamic mode into writes from other threads during the window."""
    from pyspark.sql.conf import RuntimeConfig

    from findb_spark.ops.ivm import apply_agg_delta

    keys_set = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        keys_set.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    prices = prices_from_lineitem(spark, sf_dir)
    bars = str(tmp_path / "bars")
    write_monthly_bars(prices.where(F.col("date") < 19970101), bars)
    assert update_monthly_bars(prices, prices.where(F.col("date") >= 19970101), bars) > 0

    agg = str(tmp_path / "agg")
    rows = spark.createDataFrame([(1, 10, 2, 100), (3, 20, 3, 300)], "g int, p int, n bigint, s bigint")
    rows.write.mode("overwrite").partitionBy("p").parquet(agg)
    assert apply_agg_delta(spark, agg, rows.where("p = 10"), keys=["g", "p"], measures=["s"], part_col="p") == 1
    assert spark.read.parquet(agg).where("p = 20").count() == 1  # untouched partition kept
    assert "spark.sql.sources.partitionOverwriteMode" not in keys_set
