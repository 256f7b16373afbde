"""Vector-similarity query specs over ``embeddings``: exact cosine top-k
(baseline), embedding-cosine near-dup, LSH-bucketed ANN (scale path),
per-label norm stats."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from findb_spark.functions.hashing import hash48_duck
from findb_spark.ops.vector import (
    FXP_SCALE,
    IVF_K,
    N_PLANES,
    PROJ_SCALE,
    _cosine_topk,
    _cross_pairs,
    ann_lsh_topk,
    cosine_sql,
    cosine_topk,
    fxp_dot_sql,
    near_dup_pairs,
    norm_expr,
    plane_matrix,
)
from findb_spark.registry import register
from findb_spark.session import Memo, load_table, table_path


def _queryset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )


#: trained PQ codebook per corpus — a deployed PQ index is TRAINED ONCE and
#: amortizes across every query against the same corpus (FAISS's index
#: build/search split), so the per-corpus memo is the honest production
#: shape, not a bench trick: repeated vec_pq_* / vec_ivf_pq calls pay the
#: two training jobs once.  The key carries the PQ geometry constants, so
#: a hot-reloaded PQ_M/PQ_K retrains; values are read-only
#: (PQ_M, PQ_K, PQ_SUBDIM) float64 arrays (32 KB).
_PQ_CB_MEMO = Memo(capacity=4)


def _trained_pq_codebook(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """The trained PQ codebook of ``sf_dir``'s embeddings — the only place
    the engine trains one; every PQ spec takes it from here."""
    from findb_spark.ops.vector import PQ_K, PQ_M, pq_codebook, pq_train

    def build() -> np.ndarray:
        emb = load_table(spark, sf_dir, "embeddings")
        cb = pq_train(emb, pq_codebook(emb))
        cb.flags.writeable = False
        return cb

    return _PQ_CB_MEMO.get_or_build(
        spark, table_path(sf_dir, "embeddings"), build, PQ_M, PQ_K
    )


@register(
    "vec_cosine_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT query_id, vec_id, {cosine_sql('embedding', 'qv')} AS cos_sim
  FROM embeddings CROSS JOIN q WHERE vec_id != query_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored)
SELECT query_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 10
""",
    category="vector",
    description="Exact brute-force cosine top-10 per query vector (broadcast NL + ranking window)",
)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, _queryset(spark, sf_dir), k=10)


@register(
    "vec_near_dup",
    f"""
SELECT a.vec_id AS v1, b.vec_id AS v2,
       {cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.4
""",
    category="vector",
    description=(
        "Embedding-cosine near-duplicate pairs (exact all-pairs form — the "
        "EXACTNESS ORACLE for the scale-safe twins vec_ann_lsh / "
        "dedup_semantic; O(n^2) by definition)"
    ),
)
def vec_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


_PLANES = plane_matrix()


def _proj_sql(vec: str, j: int) -> str:
    m = "[" + ", ".join(str(w) for w in _PLANES[j]) + "]"
    return (
        f"CAST(list_sum(list_transform(range(1, 65), i -> "
        f"CAST(FLOOR(CAST({vec}[i] AS DOUBLE) * CAST({m}[i] AS DOUBLE) * {PROJ_SCALE}.0 + 0.5)"
        f" AS BIGINT))) AS BIGINT)"
    )


def _bucket_sql(vec: str) -> str:
    return " + ".join(
        f"(CASE WHEN {_proj_sql(vec, j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )


@register(
    "vec_ann_lsh",
    f"""
WITH corpus AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv, {_bucket_sql('embedding')} AS qbucket
  FROM embeddings WHERE vec_id < 3
),
scored AS (
  SELECT query_id, vec_id, {cosine_sql('embedding', 'qv')} AS cos_sim
  FROM corpus JOIN q ON bucket = qbucket AND vec_id != query_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored)
SELECT query_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5
""",
    category="vector",
    description=f"ANN via {N_PLANES}-plane random-hyperplane LSH bucketing + in-bucket exact rerank",
)
def vec_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, _queryset(spark, sf_dir), k=5)


@register(
    "vec_ann_ivf",
    f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  ORDER BY {hash48_duck('CAST(vec_id AS VARCHAR)')}, vec_id LIMIT {IVF_K}
),
sc AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         {cosine_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT vec_id, embedding, cent_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
    FROM sc) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv, cluster FROM asg WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, a.vec_id, {cosine_sql('a.embedding', 'q.qv')} AS cos_sim
  FROM asg a JOIN q ON a.cluster = q.cluster AND a.vec_id != q.query_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored)
SELECT query_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5
""",
    category="vector",
    description=(
        f"IVF-style ANN: fixed-{IVF_K} deterministic codebook (hash-ordered "
        "sample, size independent of corpus scale), broadcast O(n*K) "
        "assignment, nprobe=1 cluster probe, exact in-cluster rerank"
    ),
)
def vec_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import ivf_topk

    return ivf_topk(load_table(spark, sf_dir, "embeddings"), k=5)


@register(
    "vec_ivf_kmeans",
    f"""
WITH cents0 AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  ORDER BY {hash48_duck('CAST(vec_id AS VARCHAR)')}, vec_id LIMIT {IVF_K}
),
sc1 AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         {cosine_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN cents0 c
),
asg1 AS (
  SELECT vec_id, embedding, cent_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
    FROM sc1) WHERE rn = 1
),
el AS (
  SELECT cluster, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM asg1
),
cm AS (
  SELECT cluster, pos,
         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000.0 / COUNT(*) AS cv
  FROM el GROUP BY cluster, pos
),
cents1 AS (
  SELECT cluster AS cent_id, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY cluster
),
sc2 AS (
  SELECT e.vec_id, c.cent_id,
         {cosine_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN cents1 c
),
asg2 AS (
  SELECT vec_id, cent_id AS cluster, cos FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
    FROM sc2) WHERE rn = 1
)
SELECT cluster, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(FLOOR(cos * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000000.0 / COUNT(*) AS avg_cos
FROM asg2 GROUP BY cluster
""",
    category="vector",
    description=(
        "IVF codebook training: one k-means Lloyd iteration (deterministic "
        "init, exact fixed-point element means) profiled per refined cluster "
        "— the iterative-ML shape with bit-exact cross-engine parity"
    ),
)
def vec_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import kmeans_cluster_profile

    return kmeans_cluster_profile(load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_semantic",
    f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  ORDER BY {hash48_duck('CAST(vec_id AS VARCHAR)')}, vec_id LIMIT {IVF_K}
),
sc AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         {cosine_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT vec_id, embedding, cent_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
    FROM sc) WHERE rn = 1
),
pairs AS (
  SELECT a.cluster, a.vec_id AS v1, b.vec_id AS v2,
         {cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)
SELECT cluster, v1, v2, cos_sim FROM pairs WHERE cos_sim >= 0.4
""",
    category="vector",
    description=(
        "SemDeDup-style semantic near-dup pairs (arXiv:2303.09540): IVF "
        "coarse-quantize, compare only within a cluster — candidates shrink "
        "from O(n^2) to O(n^2/K) with K scaling alongside the corpus"
    ),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import semantic_dedup_pairs

    return semantic_dedup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


@register(
    "vec_label_stats",
    f"""
WITH n AS (
  SELECT label,
         sqrt({fxp_dot_sql('embedding', 'embedding')} / {FXP_SCALE}.0) AS nrm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(FLOOR(nrm * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000000.0 / COUNT(*) AS avg_norm
FROM n GROUP BY label
""",
    category="vector",
    description="Per-label embedding count and mean L2 norm (fixed-point deterministic mean)",
)
def vec_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select("label", norm_expr("embedding").alias("nrm"))
    return n.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        (
            F.sum(F.floor(F.col("nrm") * 1_000_000_000.0 + F.lit(0.5))).cast("double")
            / 1_000_000_000.0
            / F.count("*")
        ).alias("avg_norm"),
    )


@register(
    "vec_quantize_int8",
    """
WITH e AS (
  SELECT vec_id, label,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
         unnest(embedding) AS v
  FROM embeddings
),
err AS (
  SELECT label,
         CASE WHEN amax = 0 THEN 0.0
              ELSE CAST(v AS DOUBLE)
                   - FLOOR(CAST(v AS DOUBLE) / (amax / 127.0) + 0.5) * (amax / 127.0)
         END AS e
  FROM e
)
SELECT label, COUNT(*) AS n_elems,
       CAST(SUM(CAST(FLOOR(e * e * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000000000.0 / COUNT(*) AS mse
FROM err GROUP BY label
""",
    category="vector",
    description=(
        "Symmetric int8 embedding quantization: per-label element count and "
        "mean squared reconstruction error (exact fixed-point aggregation)"
    ),
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding compression a vector store / training pipeline applies
    before shipping: symmetric per-vector int8 quantization (scale =
    max|v| / 127, q = round(v / scale)), scored by reconstruction MSE per
    label. All arithmetic is identical double expression trees on both
    engines; the aggregation is an exact integer fixed-point sum, so the
    oracle matches bit-for-bit. The explode feeds a map-side-combined
    hash aggregate — no shuffle grows with vector dimension."""
    emb = load_table(spark, sf_dir, "embeddings")
    amax = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    e = emb.select(
        "label", amax.alias("amax"), F.explode("embedding").alias("v")
    )
    vd = F.col("v").cast("double")
    scale = F.col("amax") / 127.0
    err = e.select(
        "label",
        F.when(F.col("amax") == 0, F.lit(0.0))
        .otherwise(vd - F.floor(vd / scale + 0.5) * scale)
        .alias("e"),
    )
    return err.groupBy("label").agg(
        F.count("*").alias("n_elems"),
        (
            F.sum(F.floor(F.col("e") * F.col("e") * 1_000_000_000_000.0 + F.lit(0.5)))
            .cast("double")
            / 1_000_000_000_000.0
            / F.count("*")
        ).alias("mse"),
    )


@register(
    "vec_ann_lsh_multiprobe",
    f"""
WITH corpus AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
q0 AS (
  SELECT vec_id AS query_id, embedding AS qv, {_bucket_sql('embedding')} AS qbucket
  FROM embeddings WHERE vec_id < 3
),
q AS (
  SELECT query_id, qv, unnest([qbucket,
         {", ".join(f"xor(qbucket, {1 << j})" for j in range(N_PLANES))}]) AS qbucket
  FROM q0
),
scored AS (
  SELECT DISTINCT query_id, vec_id, {cosine_sql('embedding', 'qv')} AS cos_sim
  FROM corpus JOIN q ON bucket = qbucket AND vec_id != query_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored)
SELECT query_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5
""",
    category="vector",
    description=(
        f"Multiprobe LSH ANN: probe the query bucket plus all {N_PLANES} "
        "hamming-1 neighbors (one flipped hyperplane) — the standard "
        "recall fix for boundary vectors; probe list stays broadcast"
    ),
)
def vec_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, _queryset(spark, sf_dir), k=5, multiprobe=True)


_SEM_PAIRS_CTE = f"""
cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  ORDER BY {hash48_duck('CAST(vec_id AS VARCHAR)')}, vec_id LIMIT {IVF_K}
),
sc AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         {cosine_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT vec_id, embedding, cent_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
    FROM sc) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.4
)
""".strip()


@register(
    "dedup_clusters_semantic",
    f"""
WITH RECURSIVE {_SEM_PAIRS_CTE},
edges AS (SELECT v1 AS a, v2 AS b FROM pairs
          UNION ALL SELECT v2, v1 FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
SELECT e.vec_id, COALESCE(c.cluster_id, e.vec_id) AS cluster_id
FROM embeddings e LEFT JOIN comp c USING (vec_id)
""",
    category="vector",
    description=(
        "Semantic dedup clustering: connected components (min-label "
        "propagation) over SemDeDup within-cluster cosine pairs — every "
        "vector labeled with its duplicate-component canonical id "
        "(oracle: recursive-CTE transitive closure)"
    ),
)
def dedup_clusters_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.graph import connected_components
    from findb_spark.ops.vector import semantic_dedup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_dedup_pairs(emb, threshold=0.4).select("v1", "v2")
    comp = connected_components(pairs, src="v1", dst="v2")
    return emb.select("vec_id").join(
        comp.withColumnRenamed("node", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
    )


def _pq_l2_sql(vec: str, m: int) -> str:
    """DuckDB twin of ops.vector.fxp_l2_sub for subspace ``m``: full-array
    ``vec`` sliced against the 8-dim codeword column ``sw{m}``."""
    from findb_spark.ops.vector import FXP_SCALE, PQ_SUBDIM

    base = m * PQ_SUBDIM
    diff = f"(CAST({vec}[{base} + i] AS DOUBLE) - CAST(c.sw{m}[i] AS DOUBLE))"
    return (
        f"CAST(list_sum([CAST(FLOOR(({diff} * {diff}) * {FXP_SCALE}.0 + 0.5)"
        f" AS BIGINT) for i in range(1, {PQ_SUBDIM + 1})]) AS BIGINT)"
    )


def _pq_ctes() -> str:
    """Shared DuckDB CTE chain mirroring ops.vector's PQ pipeline exactly:
    unit-normalize -> hash-sampled init codebook (wide per-subspace
    codewords) -> encode -> one per-subspace Lloyd refinement (fixed-point
    means, empty codes keep init values) -> re-encode -> per-query ADC
    lookup tables -> integer ADC scores."""
    from findb_spark.ops.vector import (
        MEAN_SCALE,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        PQ_TRAIN_CAP,
    )

    sw_cols = ",\n         ".join(
        f"cw[({m * PQ_SUBDIM + 1}):({(m + 1) * PQ_SUBDIM})] AS sw{m}"
        for m in range(PQ_M)
    )
    # MIN_BY tiebreak as an exact int composite (d * 128 + code): DuckDB
    # has no struct/list comparator for min_by; codes are 1..PQ_K <= 64 <
    # 128, so the composite preserves (d, code) lexicographic order exactly
    # — the same winner as Spark's min_by(code, struct(d, code))
    def enc(src_vec: str, src: str, cb: str, out: str) -> str:
        dcols = ",\n         ".join(
            f"{_pq_l2_sql(src_vec, m)} AS d{m}" for m in range(PQ_M)
        )
        ccols = ",\n         ".join(
            f"MIN_BY(code, d{m} * 128 + code) AS c{m}" for m in range(PQ_M)
        )
        return f"""
{out}_d AS (
  SELECT e.vec_id, c.code,
         {dcols}
  FROM {src} e CROSS JOIN {cb} c
),
{out} AS (
  SELECT vec_id,
         {ccols}
  FROM {out}_d GROUP BY vec_id
)""".strip()

    train_ctes = []
    cb1_joins = []
    cb1_cols = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        train_ctes.append(
            f"""
el{m} AS (
  SELECT k.c{m} AS code,
         generate_subscripts(v.nv[({lo}):({hi})], 1) AS pos,
         unnest(v.nv[({lo}):({hi})]) AS v
  FROM tr v JOIN codes0 k USING (vec_id)
),
mu{m} AS (
  SELECT code, pos,
         CAST(SUM(CAST(FLOOR(v * {MEAN_SCALE}.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / {MEAN_SCALE}.0 / COUNT(*) AS cv
  FROM el{m} GROUP BY code, pos
),
rw{m} AS (SELECT code, list(cv ORDER BY pos) AS rw FROM mu{m} GROUP BY code)""".strip()
        )
        cb1_joins.append(f"LEFT JOIN rw{m} r{m} ON cb0.code = r{m}.code")
        cb1_cols.append(f"COALESCE(r{m}.rw, cb0.sw{m}) AS sw{m}")

    qd_cols = ",\n         ".join(
        f"{_pq_l2_sql('q.qv', m)} AS d{m}" for m in range(PQ_M)
    )
    lut_cols = ",\n         ".join(
        f"list(d{m} ORDER BY code) AS l{m}" for m in range(PQ_M)
    )
    adc = " + ".join(f"l.l{m}[k.c{m}]" for m in range(PQ_M))
    # unit-normalize with the same fixed-point norm Spark uses: sqrt of the
    # exact integer self-dot, then one IEEE divide per element
    nrm = f"sqrt({fxp_dot_sql('embedding', 'embedding')} / {FXP_SCALE}.0)"
    return f"""
nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / {nrm}) AS nv,
         {hash48_duck('CAST(vec_id AS VARCHAR)')} AS h
  FROM embeddings
),
cb0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) AS code,
         {sw_cols}
  FROM (SELECT nv AS cw, h, vec_id FROM nv ORDER BY h, vec_id LIMIT {PQ_K})
),
-- training sample: deterministic 20 percent hash gate, CAPPED by
-- hash-order LIMIT (ops.vector.pq_train / PQ_TRAIN_CAP — binds only above
-- ~82k corpus vectors, so test-SF outputs are unchanged)
tr AS (SELECT * FROM (SELECT * FROM nv WHERE h % 5 < 1
                      ORDER BY h, vec_id LIMIT {PQ_TRAIN_CAP})),
{enc('e.nv', 'tr', 'cb0', 'codes0')},
{','.join(train_ctes)},
cb1 AS (
  SELECT cb0.code,
         {','.join(cb1_cols)}
  FROM cb0 {' '.join(cb1_joins)}
),
{enc('e.nv', 'nv', 'cb1', 'codes1')},
q AS (SELECT vec_id AS query_id, nv AS qv FROM nv WHERE vec_id < 3),
qd AS (
  SELECT q.query_id, c.code,
         {qd_cols}
  FROM q CROSS JOIN cb1 c
),
luts AS (
  SELECT query_id,
         {lut_cols}
  FROM qd GROUP BY query_id
),
scored AS (
  SELECT l.query_id, k.vec_id, {adc} AS adc_dist
  FROM codes1 k CROSS JOIN luts l WHERE k.vec_id != l.query_id
)
""".strip()


def _pq_oracle_sql() -> str:
    return f"""
WITH {_pq_ctes()}
SELECT query_id, vec_id, adc_dist, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, vec_id) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


@register(
    "vec_pq_adc",
    _pq_oracle_sql(),
    category="vector",
    description=(
        "Product-quantization ANN (Jegou TPAMI'11): 8 subspaces x 64 "
        "codewords trained on a 20-percent hash sample, vectors "
        "compressed to 8 codes (32x memory), queries scored via ADC "
        "lookup tables — integer adds per candidate, no float math; the "
        "index-in-RAM scale path for 100 TB corpora (vec_pq_search is "
        "the shortlist+rerank production shape over the same pipeline); "
        "its fixed codebook-build cost amortizes across queries — index "
        "built once"
    ),
)
def vec_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import pq_adc_topk

    return pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        _trained_pq_codebook(spark, sf_dir),
        k=5,
    )


def _pq_search_oracle_sql() -> str:
    return f"""
WITH {_pq_ctes()},
sl AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, vec_id) AS srnk
    FROM scored
  ) WHERE srnk <= 50
),
rr AS (
  SELECT s.query_id, s.vec_id,
         {cosine_sql('e.embedding', 'qe.embedding')} AS cos_sim
  FROM sl s JOIN embeddings e ON s.vec_id = e.vec_id
            JOIN embeddings qe ON s.query_id = qe.vec_id
)
SELECT query_id, vec_id, cos_sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM rr
) WHERE rnk <= 5
"""


@register(
    "vec_pq_search",
    _pq_search_oracle_sql(),
    category="vector",
    description=(
        "PQ ANN with exact rerank (the deployed IVF-PQ shape): trained "
        "codebook ADC shortlist of 50 over compressed codes, exact cosine "
        "rerank of the shortlist only — corpus pass reads 8-byte codes, "
        "float math confined to 50 candidates/query"
    ),
)
def vec_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import pq_search

    return pq_search(
        load_table(spark, sf_dir, "embeddings"),
        _trained_pq_codebook(spark, sf_dir),
        k=5,
        shortlist=50,
    )


def _ivf_pq_oracle_sql() -> str:
    from findb_spark.ops.vector import IVF_K, PQ_M

    adc = " + ".join(f"l.l{m}[k.c{m}]" for m in range(PQ_M))
    return f"""
WITH {_pq_ctes()},
cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  ORDER BY {hash48_duck('CAST(vec_id AS VARCHAR)')}, vec_id LIMIT {IVF_K}
),
sc AS (
  SELECT e.vec_id, c.cent_id, {cosine_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT vec_id, cent_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cent_id) AS rn
    FROM sc) WHERE rn = 1
),
qc AS (SELECT vec_id AS query_id, cluster AS qcluster FROM asg WHERE vec_id < 3),
ivfscored AS (
  SELECT l.query_id, k.vec_id, {adc} AS adc_dist
  FROM codes1 k
  JOIN asg a ON k.vec_id = a.vec_id
  JOIN qc ON a.cluster = qc.qcluster
  JOIN luts l ON l.query_id = qc.query_id
  WHERE k.vec_id != qc.query_id
)
SELECT query_id, vec_id, adc_dist, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, vec_id) AS rnk
  FROM ivfscored
) WHERE rnk <= 5
"""


@register(
    "vec_ivf_pq",
    _ivf_pq_oracle_sql(),
    category="vector",
    description=(
        "IVF-PQ composition (the FAISS IVFPQ architecture): coarse IVF "
        "cluster probe bounds WHICH candidates are scored (O(n/K) per "
        "query), trained PQ codes bound WHAT is read per candidate (8 "
        "bytes + integer table lookups) — the two compressions multiply; "
        "the scored relation is an equi-join on the cluster id, never a "
        "cross join"
    ),
)
def vec_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import ivf_pq_topk

    return ivf_pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        _trained_pq_codebook(spark, sf_dir),
        k=5,
    )


_TRUNC_DIM = 16


@register(
    "vec_truncated_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT query_id, vec_id,
         {cosine_sql('embedding', 'qv', _TRUNC_DIM)} AS cos_sim
  FROM embeddings CROSS JOIN q WHERE vec_id != query_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored)
SELECT query_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5
""",
    category="vector",
    description=(
        f"Truncated-dimension retrieval (Matryoshka-style, Kusupati "
        f"NeurIPS'22): cosine over only the first {_TRUNC_DIM} of 64 "
        "dims — a 4x cheaper first-stage scan whose shortlist a "
        "full-dimension rerank refines; same broadcast-NL plan, "
        "prefix-sliced arithmetic"
    ),
)
def vec_truncated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-adaptive retrieval: score with a prefix of the embedding
    (cosine over dims 1..16), the cost dial MRL-trained embeddings
    expose.  At 100 TB the win is bytes: the scan reads/multiplies a
    quarter of each vector; compose with cosine_topk on the shortlist
    for full-precision final ordering (the same shortlist-rerank shape
    as pq_search).  fxp arithmetic restricted to the prefix keeps the
    result bit-identical cross-engine."""
    return _cosine_topk(
        load_table(spark, sf_dir, "embeddings"),
        _queryset(spark, sf_dir),
        5,
        _cross_pairs,
        dim=_TRUNC_DIM,
    )


def _pq_recall_oracle_sql() -> str:
    return f"""
WITH {_pq_ctes()},
sl AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, vec_id) AS srnk
    FROM scored
  ) WHERE srnk <= 20
),
exq AS (SELECT vec_id AS query_id, embedding AS eqv FROM embeddings WHERE vec_id < 3),
ex AS (
  SELECT query_id, vec_id FROM (
    SELECT exq.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY exq.query_id
                              ORDER BY {cosine_sql('e.embedding', 'exq.eqv')} DESC,
                                       e.vec_id) AS rnk
    FROM embeddings e CROSS JOIN exq WHERE e.vec_id != exq.query_id
  ) WHERE rnk <= 5
)
SELECT ex.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(sl.vec_id) AS BIGINT) AS n_hit,
       CAST(COUNT(sl.vec_id) * 200000 AS BIGINT) AS recall_at_5_ppm
FROM ex LEFT JOIN sl ON ex.query_id = sl.query_id AND ex.vec_id = sl.vec_id
GROUP BY ex.query_id
"""


@register(
    "vec_pq_recall",
    _pq_recall_oracle_sql(),
    category="vector",
    description=(
        "PQ quality dial: recall@5 of the trained-codebook ADC top-20 "
        "shortlist against exact cosine top-5, per query — the "
        "measurement that sizes the shortlist/rerank trade (the PQ "
        "analog of dedup_minhash_calibration).  Both sides and the "
        "comparison run in one plan; the exact side is the bounded "
        "broadcast-NL baseline"
    ),
)
def vec_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall as a relational comparison: LEFT JOIN the exact top-5 onto
    the ADC shortlist on (query, candidate) and count survivors — no
    collect, no driver-side set math, so the same plan scales to any
    query-set size.  Tests pin the trained-codebook recall floor;
    this query makes the number a driver-checked artifact per round."""
    from findb_spark.ops.vector import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    sl = (
        pq_adc_topk(emb, _trained_pq_codebook(spark, sf_dir), k=20)
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    exact = cosine_topk(emb, _queryset(spark, sf_dir), k=5).select(
        "query_id", "vec_id"
    )
    return (
        exact.join(sl, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.count("_hit").cast("bigint").alias("n_hit"),
            (F.count("_hit") * 200000).cast("bigint").alias("recall_at_5_ppm"),
        )
    )


@register(
    "vec_cluster_silhouette",
    f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  ORDER BY {hash48_duck('CAST(vec_id AS VARCHAR)')}, vec_id LIMIT {IVF_K}
),
sc AS (
  SELECT e.vec_id, c.cent_id, {cosine_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN cents c
),
rk AS (
  SELECT vec_id, cent_id, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cent_id) AS rn
  FROM sc
),
b AS (SELECT vec_id, cent_id AS cluster, cos AS best FROM rk WHERE rn = 1),
s AS (SELECT vec_id, cos AS second FROM rk WHERE rn = 2)
SELECT b.vec_id, b.cluster,
       CASE WHEN GREATEST(1.0 - best, 1.0 - second) = 0 THEN 0.0
            ELSE (best - second) / GREATEST(1.0 - best, 1.0 - second)
       END AS sil
FROM b JOIN s USING (vec_id)
""",
    category="vector",
    description=(
        "Per-vector centroid silhouette over the IVF clustering "
        "(Rousseeuw 1987, centroid form): s = (b - a)/max(a, b) from the "
        "two nearest centroids — the cluster-quality dial behind "
        "IVF/IVF-PQ ANN recall and SemDeDup bucketing; one corpus scan "
        "vs the broadcast codebook, per-vector top-2 from a bounded "
        "sorted array, zero pairwise shuffle, every s bit-deterministic"
    ),
)
def vec_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import cluster_silhouette

    return cluster_silhouette(load_table(spark, sf_dir, "embeddings"))
