#!/usr/bin/env python
"""Skewed-octave evidence for dedup_semantic's cluster-grain exchange
(round-14 verdict item 5).

semantic_dedup_pairs pins its scoring exchange at an explicit partition
count because the within-cluster self-join fans out n -> ~n^2/K candidate
pairs (CPU per candidate is invisible to AQE's byte-based coalescing).
The round-13 in-code note ARGUED skew-boundedness by construction (the
SemDeDup family grows K with n, holding per-cluster work constant) but
did not measure the violating regime.  This smoke measures both:

- BALANCED octave: ``factor`` rotated vec_id-shifted copies of the sf0.1
  embeddings (scale_smoke.replicate_embeddings — rotation destroys
  cross-copy similarity), scored with K grown with n
  (n_cent = n / TARGET_CLUSTER) — the family's stated operating point.
- HOT octave: the same corpus with ``hot_n`` rows REPLACED by
  near-identical vectors (one tight semantic cluster + per-row jitter on
  one dimension).  No K can split genuinely identical content: every hot
  row assigns to the same centroid, so ONE task owns ~hot_n^2/2 pairs —
  the deliberate violation of the K-grows-with-n assumption.

For each corpus: min-of-2 noop runs of
semantic_dedup_pairs(threshold=0.4, n_cent) and the scoring stage's task
quantiles from the REST store (max/median task run = the straggle
factor).  One JSON line -> SCALE_SEMSKEW_r14.json.

Usage: python scripts/semskew_smoke.py [factor] [hot_n]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

TARGET_CLUSTER = 512


def _stage_ids(spark) -> set:
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=30
    ) as r:
        return {s["stageId"] for s in json.load(r)}


def stage_quantiles(spark, exclude: set) -> dict:
    """Task-run quantiles of the heaviest completed stage NOT in
    ``exclude`` (i.e. of the span since the exclude snapshot was taken —
    the steady run of the current tag, not the session's heaviest)."""
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=30
    ) as r:
        stages = [s for s in json.load(r) if s["stageId"] not in exclude]
    big = max(stages, key=lambda s: s.get("executorRunTime", 0))
    sid = big["stageId"]
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages/{sid}/0/taskSummary"
        "?quantiles=0.0,0.5,0.95,1.0",
        timeout=30,
    ) as r:
        q = json.load(r)
    run = q.get("executorRunTime", [0, 0, 0, 0])
    return {
        "stage": sid,
        "n_tasks": big.get("numCompleteTasks"),
        "stage_run_ms_sum": big.get("executorRunTime"),
        "stage_cpu_ms_sum": (big.get("executorCpuTime") or 0) // 1_000_000,
        "task_run_ms": {"min": run[0], "p50": run[1], "p95": run[2], "max": run[3]},
        "straggle_max_over_p50": round(run[3] / run[1], 2) if run[1] else None,
    }


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    hot_n = int(sys.argv[2]) if len(sys.argv) > 2 else 4096
    if hot_n < 1:
        raise SystemExit("hot_n must be >= 1")

    from scale_smoke import WORK, replicate_embeddings  # noqa: E402

    from findb_spark.ops.vector import semantic_dedup_pairs  # noqa: E402
    from findb_spark.session import get_spark  # noqa: E402

    spark = get_spark(
        app_name="semskew_smoke",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4055"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sink = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

    replicate_embeddings(spark, factor)
    balanced = spark.read.parquet(f"{WORK}/embeddings.parquet")
    n = balanced.count()
    # a hot set larger than the corpus is the whole corpus (n // hot_n >= 1)
    hot_n = min(hot_n, n)
    n_cent = max(64, n // TARGET_CLUSTER)

    # hot corpus: first hot_n vec_ids become one tight semantic cluster
    # (identical base direction, per-row jitter on dim 1 keeps rows
    # distinct); the rest stays the balanced corpus
    base = F.expr(
        "transform(sequence(1, 64), j -> CAST(1.0 + j * 0.01 AS FLOAT))"
    )
    jit = F.expr(
        "transform(sequence(1, 64), j -> CAST(IF(j = 1, 1.0 + vec_id % 997 * 0.00001, 0.0) AS FLOAT))"
    )
    hot = balanced.select(
        "vec_id",
        F.when(
            F.col("vec_id") % F.lit(n // hot_n) == 0,
            F.zip_with(base, jit, lambda a, b: (a + b).cast("float")),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    )
    hot_path = f"{WORK}/embeddings_hot.parquet"
    hot.write.mode("overwrite").parquet(hot_path)
    hot = spark.read.parquet(hot_path)

    out: dict = {"factor": factor, "n_vectors": n, "hot_n": n // (n // hot_n),
                 "n_cent": n_cent}
    for tag, emb in (("balanced", balanced), ("hot", hot)):
        spark.catalog.clearCache()
        walls = []
        seen: set = set()
        for i in range(2):
            spark.sparkContext.setJobDescription(f"semskew {tag} run{i}")
            pairs = semantic_dedup_pairs(emb, threshold=0.4, n_cent=n_cent)
            if i == 1:
                seen = _stage_ids(spark)  # isolate the steady run's stages
            t0 = time.perf_counter()
            sink(pairs)
            walls.append(round(time.perf_counter() - t0, 3))
        time.sleep(1.0)
        out[tag] = {"wall_s": walls, **stage_quantiles(spark, seen)}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
