"""Query registry — single source of truth for the driver contract.

Every engine capability is declared once as a :class:`QuerySpec`:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are SQL-expressible) a DuckDB oracle SQL string computing the
same result over the same parquet tables. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this registry, so the two dicts can
never drift apart; :func:`all_specs` fixes their key order.

Parity rules (driver compares row count + schema + order-insensitive value
hash, CORRECTNESS_r{N}.json):

- alias every computed column identically on both sides;
- money-style aggregates go through DECIMAL(18,2) sums cast back to DOUBLE
  — exact and order-independent, so Spark and DuckDB agree bit-for-bit
  regardless of partitioning/accumulation order (a raw double sum over 600k
  rows carries ~1e-5 absolute error that WOULD flip a hash);
- ratio-style outputs are EXACT fixed-point int64, never ``ROUND(double,
  k)`` (Spark's BigDecimal half-up and DuckDB's multiply-round-divide can
  differ in the final ulp while agreeing at k decimals — a driver-red
  proven failure class).  The canonical idioms, byte-for-byte on both
  engines: ``CAST((num * 10^k + den DIV 2) DIV den AS BIGINT)`` when
  numerator and denominator are exact integers (``//`` in DuckDB), else
  ``CAST(FLOOR(x * 10^k + 0.5) AS BIGINT)`` where ``x`` is a single
  correctly-rounded IEEE expression (divide/sqrt only — never library
  transcendentals, whose libm rounding differs cross-engine); guard any
  zero denominator with an explicit NULL CASE (DuckDB raises on
  ``CAST(FLOOR(NaN) AS BIGINT)``, Spark wraps silently);
- every top-k has a total deterministic ORDER BY (unique tiebreaker column).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None
    category: str
    description: str = ""


_SPECS: dict[str, QuerySpec] = {}

#: Names surfaced FIRST by :func:`all_specs` (then the rest in registration
#: order).  The order is frozen: the external correctness driver checks a
#: bounded prefix of ``queries()``, so this prefix must not move.
_CHECK_FIRST: tuple[str, ...] = (
    "asof_join_shifted",
    "dedup_substring_runs",
    "dedup_cdc_chunks",
    "vec_pq_search",
    "vec_pq_adc",
    "dedup_semantic",
    "ts_rolling_beta",
    "asof_batch",
    "dedup_clusters",
    "range_join_quarters",
    "stats_histogram_quantiles",
    "roundtrip_footer_stats",
    "text_bpe_train_rounds",
    "vec_pq_recall",
    "vec_ivf_pq",
    "vec_ann_ivf",
    "vec_ivf_kmeans",
    "dedup_clusters_apply",
    "dedup_select_canonical",
    "dedup_cluster_stats",
    "dedup_clusters_semantic",
    "asof_range",
    "asof_snapshot_all_assets",
    "ts_moving_avg",
    "ts_vwap",
    "q3_top_orders",
    "orders_month_over_month",
    "dq_duplicate_orders",
    "orders_abc_xyz",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "events_anomaly_mad",
    "events_attribution_ushape",
    "events_churn_inactive",
    "events_dau_wau",
    "events_l28_histogram",
    "events_markov2",
    "events_rate_weekend_test",
    "events_retention_cohorts",
    "events_time_in_state",
    "events_time_to_convert",
    "graph_clustering_coeff",
    "graph_neighbor_jaccard",
    "lineitem_transit_peak",
    "orders_market_basket",
    "orders_open_backlog",
    "orders_repeat_purchase_curve",
    "orders_seasonal_naive_mae",
    "part_supplier_hhi",
    "pii_tcloseness",
)


def register(
    name: str,
    sql: str | None,
    category: str,
    description: str = "",
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _SPECS:
            raise ValueError(f"duplicate query spec: {name}")
        _SPECS[name] = QuerySpec(name, fn, sql, category, description)
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """All registered specs (importing the query modules as a side effect).

    Order: ``_CHECK_FIRST`` names first, then the rest in registration order.
    """
    import findb_spark.queries  # noqa: F401  (registers everything)

    out = {n: _SPECS[n] for n in _CHECK_FIRST if n in _SPECS}
    out.update(_SPECS)
    return out

