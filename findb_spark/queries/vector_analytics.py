"""Vector-search analytics beyond plain top-k (SURVEY §2.2 similarity-search
mandate, extending vector_queries.py): a bucketed kNN graph, MMR diversified
reranking, an LSH recall curve, and embedding-norm profiling.

All similarity math reuses the fixed-point cosine kernel (ops/vector.py:
the kNN graph ranks through the searches' one scorer ``_cosine_topk``,
MMR through ``cosine_expr``; the oracles through ``cosine_sql``) so every
score is bit-identical cross-engine; MMR's lambda blend uses CAST(...AS DOUBLE) literals on both
engines (Spark ANSI would otherwise type bare decimals as DECIMAL).

Scale notes: the kNN graph joins within LSH buckets (candidate cost
sum(bucket^2), never n^2); MMR operates on a top-10 candidate pool per
query, so the greedy steps touch k*pool rows regardless of corpus size;
the recall curve's exact arm is the broadcast-query scan that exists as
the ANN exactness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from findb_spark.functions.hashing import hash48_duck
from findb_spark.ops.vector import (
    FXP_SCALE,
    IVF_K,
    _cosine_topk,
    cosine_expr,
    cosine_sql,
    cosine_topk,
    fxp_dot_sql,
    lsh_buckets,
    norm_expr,
)
from findb_spark.queries.vector_queries import _bucket_sql, _queryset
from findb_spark.registry import register
from findb_spark.session import load_table


@register(
    "vec_knn_graph",
    f"""
WITH corpus AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
p AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
  FROM corpus a JOIN corpus b
    ON a.bucket = b.bucket AND a.vec_id != b.vec_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                               ORDER BY cos_sim DESC, dst) AS rnk
  FROM p
)
SELECT src, dst, cos_sim, rnk FROM r WHERE rnk <= 3
""",
    category="vector",
    description=(
        "kNN graph (top-3 out-edges per vector) built inside LSH buckets: "
        "candidate cost sum(bucket^2) not n^2 — the semantic-dedup / "
        "clustering substrate.  SCALE DIAL: plane count must grow with "
        "log2(corpus) to hold bucket density constant (measured: 16x "
        "data at fixed 6 planes -> 40x wall; +4 planes restores "
        "~linear) — lsh_buckets takes the larger "
        "plane_matrix directly"
    ),
)
def vec_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = lsh_buckets(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", "bucket"
    )
    queries = corpus.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )

    def pair(corpus: DataFrame, queries: DataFrame) -> DataFrame:
        return corpus.join(
            queries,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )

    return _cosine_topk(corpus, queries, 3, pair).select(
        F.col("query_id").alias("src"), F.col("vec_id").alias("dst"), "cos_sim", "rnk"
    )


# ---------------------------------------------------------------------------
# MMR diversified rerank
# ---------------------------------------------------------------------------

_L = "CAST(0.7 AS DOUBLE)"
_ML = "CAST(0.3 AS DOUBLE)"


def _mmr_sql() -> str:
    cos_eq = cosine_sql("e.embedding", "q.embedding")
    cos_ab = cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH cand0 AS (
  SELECT q.vec_id AS query_id, e.vec_id, {cos_eq} AS simq
  FROM embeddings e JOIN embeddings q
    ON q.vec_id < 3 AND e.vec_id != q.vec_id
),
cand AS (
  SELECT query_id, vec_id, simq FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY simq DESC, vec_id) AS rn
    FROM cand0) WHERE rn <= 10
),
ce AS (
  SELECT c.query_id, c.vec_id, c.simq, e.embedding
  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
),
pr AS (
  SELECT a.query_id, a.vec_id AS d, b.vec_id AS s, {cos_ab} AS simab
  FROM ce a JOIN ce b ON a.query_id = b.query_id AND a.vec_id != b.vec_id
),
s1 AS (
  SELECT query_id, vec_id, simq FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY simq DESC, vec_id) AS rn
    FROM cand) WHERE rn = 1
),
r1 AS (
  SELECT c.* FROM cand c ANTI JOIN s1
    ON c.query_id = s1.query_id AND c.vec_id = s1.vec_id
),
sc2 AS (
  SELECT r1.query_id, r1.vec_id, r1.simq,
         {_L} * r1.simq - {_ML} * pr.simab AS score
  FROM r1
  JOIN pr ON pr.query_id = r1.query_id AND pr.d = r1.vec_id
  JOIN s1 ON s1.query_id = r1.query_id AND s1.vec_id = pr.s
),
s2 AS (
  SELECT query_id, vec_id, simq, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) AS rn
    FROM sc2) WHERE rn = 1
),
r2 AS (
  SELECT r1.* FROM r1 ANTI JOIN s2
    ON r1.query_id = s2.query_id AND r1.vec_id = s2.vec_id
),
sel AS (
  SELECT query_id, vec_id FROM s1
  UNION ALL SELECT query_id, vec_id FROM s2
),
sc3 AS (
  SELECT r2.query_id, r2.vec_id,
         {_L} * r2.simq - {_ML} * MAX(pr.simab) AS score
  FROM r2
  JOIN pr ON pr.query_id = r2.query_id AND pr.d = r2.vec_id
  JOIN sel ON sel.query_id = r2.query_id AND sel.vec_id = pr.s
  GROUP BY r2.query_id, r2.vec_id, r2.simq
),
s3 AS (
  SELECT query_id, vec_id, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) AS rn
    FROM sc3) WHERE rn = 1
)
SELECT query_id, 1 AS step, vec_id, simq AS mmr_score FROM s1
UNION ALL SELECT query_id, 2 AS step, vec_id, score FROM s2
UNION ALL SELECT query_id, 3 AS step, vec_id, score FROM s3
"""


@register(
    "vec_mmr_rerank",
    _mmr_sql(),
    category="vector",
    description=(
        "Maximal Marginal Relevance rerank (Carbonell & Goldstein SIGIR'98): "
        "greedy 3-pick diversified selection from each query's top-10 pool, "
        "lambda=0.7 — each greedy step is a window argmax over the bounded "
        "candidate relation, so cost is k x pool regardless of corpus size"
    ),
)
def vec_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = _queryset(spark, sf_dir)
    cand = cosine_topk(emb, q, k=10).select(
        "query_id", "vec_id", F.col("cos_sim").alias("simq")
    )
    # cand (k x |queries| rows) is referenced by every greedy step's
    # residual/anti-join chain — without truncation each step re-runs
    # the full-corpus cosine top-k (the plan audit counted ~50 embedding
    # scans in the un-truncated cascade)
    cand = cand.localCheckpoint(eager=False)
    ce = cand.join(emb, "vec_id").select(
        "query_id", "vec_id", "simq", "embedding"
    )
    a = ce.select(
        "query_id",
        F.col("vec_id").alias("d"),
        F.col("embedding").alias("aemb"),
    )
    b = ce.select(
        "query_id",
        F.col("vec_id").alias("s"),
        F.col("embedding").alias("bemb"),
    )
    pr = (
        a.join(b, "query_id")
        .where(F.col("d") != F.col("s"))
        .select("query_id", "d", "s", cosine_expr("aemb", "bemb").alias("simab"))
    )
    # the pairwise similarity matrix (k^2 x |queries| rows) likewise
    # feeds every step's scoring join
    pr = pr.localCheckpoint(eager=False)
    wq = Window.partitionBy("query_id")

    def argmax(df: DataFrame, score_col: str) -> DataFrame:
        w = wq.orderBy(F.desc(score_col), "vec_id")
        return (
            df.select("*", F.row_number().over(w).alias("rn"))
            .where("rn = 1")
            .drop("rn")
        )

    prd = pr.select(
        "query_id", F.col("d").alias("vec_id"), "s", "simab"
    )
    s1 = argmax(cand, "simq")
    r1 = cand.join(
        s1.select("query_id", "vec_id"), ["query_id", "vec_id"], "anti"
    )
    sc2 = (
        r1.join(prd, ["query_id", "vec_id"])
        .join(
            s1.select("query_id", F.col("vec_id").alias("s")),
            ["query_id", "s"],
        )
        .select(
            "query_id",
            "vec_id",
            "simq",
            F.expr(f"{_L} * simq - {_ML} * simab").alias("score"),
        )
    )
    s2 = argmax(sc2, "score")
    r2 = r1.join(
        s2.select("query_id", "vec_id"), ["query_id", "vec_id"], "anti"
    )
    sel = s1.select("query_id", "vec_id").unionAll(s2.select("query_id", "vec_id"))
    sc3 = (
        r2.join(prd, ["query_id", "vec_id"])
        .join(
            sel.select("query_id", F.col("vec_id").alias("s")),
            ["query_id", "s"],
        )
        .groupBy("query_id", "vec_id", "simq")
        .agg(F.max("simab").alias("maxd"))
        .select(
            "query_id",
            "vec_id",
            F.expr(f"{_L} * simq - {_ML} * maxd").alias("score"),
        )
    )
    s3 = argmax(sc3, "score")
    return (
        s1.select("query_id", F.lit(1).alias("step"), "vec_id", F.col("simq").alias("mmr_score"))
        .unionAll(
            s2.select("query_id", F.lit(2).alias("step"), "vec_id", F.col("score").alias("mmr_score"))
        )
        .unionAll(
            s3.select("query_id", F.lit(3).alias("step"), "vec_id", F.col("score").alias("mmr_score"))
        )
    )


@register(
    "vec_lsh_recall_curve",
    f"""
WITH exact0 AS (
  SELECT q.vec_id AS query_id, e.vec_id, {cosine_sql('e.embedding', 'q.embedding')} AS cos_sim
  FROM embeddings e JOIN embeddings q
    ON q.vec_id < 3 AND e.vec_id != q.vec_id
),
exact AS (
  SELECT query_id, vec_id, rn FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM exact0) WHERE rn <= 5
),
corpus AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
qb AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket
  FROM corpus WHERE vec_id < 3
),
approx0 AS (
  SELECT query_id, c.vec_id, {cosine_sql('c.embedding', 'qv')} AS cos_sim
  FROM corpus c JOIN qb ON c.bucket = qb.qbucket AND c.vec_id != qb.query_id
),
approx AS (
  SELECT query_id, vec_id, rn FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM approx0) WHERE rn <= 5
),
ks AS (SELECT unnest([1, 3, 5]) AS k),
grid AS (SELECT DISTINCT query_id, k FROM exact CROSS JOIN ks),
hits AS (
  SELECT a.query_id, k.k, COUNT(*) AS n_hit
  FROM approx a
  JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  CROSS JOIN ks k
  WHERE a.rn <= k.k AND e.rn <= k.k
  GROUP BY 1, 2
)
SELECT g.query_id, CAST(g.k AS INT) AS k,
       CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
       CAST((COALESCE(n_hit, 0) * 1000000 + CAST(g.k AS BIGINT) // 2)
            // CAST(g.k AS BIGINT) AS BIGINT) AS recall_ppm
FROM grid g LEFT JOIN hits h ON g.query_id = h.query_id AND g.k = h.k
""",
    category="vector",
    description=(
        "LSH recall@k curve (k=1,3,5) against the exact broadcast-scan "
        "oracle: the dial that tells you whether to add multiprobe or more "
        "planes before scaling the corpus"
    ),
)
def vec_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import ann_lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queryset(spark, sf_dir)
    exact = cosine_topk(emb, q, k=5).select("query_id", "vec_id", "rnk")
    # exact (k x |queries| rows) feeds the query grid AND the hit join;
    # without truncation the full-corpus exact top-k runs twice
    exact = exact.localCheckpoint(eager=False)
    approx = ann_lsh_topk(emb, q, k=5).select("query_id", "vec_id", "rnk")
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(3), F.lit(5))).alias("k")
    )
    grid = exact.select("query_id").distinct().crossJoin(F.broadcast(ks))
    hits = (
        approx.alias("a")
        .join(
            exact.alias("e"),
            (F.col("a.query_id") == F.col("e.query_id"))
            & (F.col("a.vec_id") == F.col("e.vec_id")),
        )
        .crossJoin(F.broadcast(ks))
        .where("a.rnk <= k AND e.rnk <= k")
        .groupBy(F.col("a.query_id").alias("query_id"), "k")
        .agg(F.count("*").alias("n_hit"))
    )
    return grid.join(hits, ["query_id", "k"], "left").select(
        "query_id",
        F.col("k").cast("int").alias("k"),
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        F.expr(
            "CAST((COALESCE(n_hit, 0) * 1000000 + k DIV 2) DIV k AS BIGINT)"
        ).alias("recall_ppm"),
    )


@register(
    "vec_norm_profile",
    f"""
WITH n AS (
  SELECT label,
         SQRT(CAST({fxp_dot_sql('embedding', 'embedding')} AS DOUBLE)
              / {FXP_SCALE}) AS nrm
  FROM embeddings
),
q AS (
  SELECT label, nrm, CAST(FLOOR(nrm * 1000000 + 0.5) AS BIGINT) AS nq FROM n
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(nq) AS DOUBLE) / 1000000 / COUNT(*) AS mean_norm,
       MIN(nrm) AS min_norm,
       MAX(nrm) AS max_norm
FROM q GROUP BY label
""",
    category="vector",
    description=(
        "Embedding-norm profile per label (the un-normalized-model / "
        "truncation QA check): fixed-point mean, exact min/max of the "
        "deterministic L2 norm"
    ),
)
def vec_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select("label", norm_expr("embedding").alias("nrm"))
    q = n.select(
        "label",
        "nrm",
        F.floor(F.col("nrm") * 1000000 + F.lit(0.5)).cast("bigint").alias("nq"),
    )
    return q.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.expr("CAST(SUM(nq) AS DOUBLE) / 1000000 / COUNT(*)").alias("mean_norm"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )


@register(
    "vec_ivf_balance",
    f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  ORDER BY {{hd}}, vec_id LIMIT {{k}}
),
sc AS (
  SELECT e.vec_id, c.cent_id, {{cos}} AS cos
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT vec_id, cent_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cent_id) AS rn
    FROM sc) WHERE rn = 1
),
s AS (SELECT cluster, COUNT(*) AS sz FROM asg GROUP BY cluster)
SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_vecs,
       CAST(MIN(sz) AS BIGINT) AS min_size,
       CAST(MAX(sz) AS BIGINT) AS max_size,
       CAST((MAX(sz) * COUNT(*) * 1000000 + SUM(sz) // 2) // SUM(sz)
            AS BIGINT) AS imbalance_ppm
FROM s
""".format(
        hd=hash48_duck("CAST(vec_id AS VARCHAR)"),
        k=IVF_K,
        cos=cosine_sql("e.embedding", "c.cvec"),
    ),
    category="vector",
    description=(
        "IVF partition balance audit: cluster-size min/max + imbalance "
        "factor (max/mean) over the coarse quantizer — the skew dial that "
        "decides whether IVF probes (and SemDeDup buckets) will hotspot "
        "before scaling the corpus"
    ),
)
def vec_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    s = ivf_assign(emb).groupBy("cluster").agg(F.count("*").alias("sz"))
    return s.agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_vecs"),
        F.min("sz").cast("bigint").alias("min_size"),
        F.max("sz").cast("bigint").alias("max_size"),
        # exact integer ppm (half-up): max*K*1e6 stays far inside int64
        # even at 1e9 vectors; ROUND(double, 6) is engine-unstable
        F.expr(
            "CAST((MAX(sz) * COUNT(*) * 1000000 + SUM(sz) DIV 2)"
            " DIV SUM(sz) AS BIGINT)"
        ).alias("imbalance_ppm"),
    )


@register(
    "vec_dim_variance",
    """
WITH d AS (
  SELECT CAST(i.i AS INT) AS dim,
         CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)
           AS q
  FROM embeddings, unnest(generate_series(1, 64)) AS i(i)
),
m AS (SELECT dim, COUNT(*) AS n, SUM(q) AS s, SUM(q * q) AS sq FROM d GROUP BY dim)
SELECT dim,
       CAST(n AS BIGINT) AS n_vecs,
       CAST(s AS DOUBLE) / n / 10000 AS mean_val,
       CAST(n * sq - s * s AS DOUBLE) / (n * n) / 100000000 AS variance
FROM m
""",
    category="vector",
    description=(
        "Per-dimension mean/variance of the embedding space (dead-"
        "dimension / PCA-precursor QA): one explode + exact fixed-point "
        "moments per dimension — flags collapsed dims before they poison "
        "quantizers and distance metrics"
    ),
)
def vec_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        F.posexplode("embedding").alias("pos", "x")
    ).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.floor(F.col("x").cast("double") * 10000 + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
    )
    m = d.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("sq"),
    )
    return m.select(
        "dim",
        F.col("n").cast("bigint").alias("n_vecs"),
        F.expr("CAST(s AS DOUBLE) / n / 10000").alias("mean_val"),
        F.expr("CAST(n * sq - s * s AS DOUBLE) / (n * n) / 100000000").alias(
            "variance"
        ),
    )


@register(
    "vec_sim_histogram",
    f"""
WITH corpus AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
p AS (
  SELECT {cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
  FROM corpus a JOIN corpus b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
b AS (
  SELECT CAST(FLOOR(cos_sim * 10) AS INT) AS sim_decile FROM p
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM b)
SELECT sim_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST((COUNT(*) * 1000000 + tot // 2) // tot AS BIGINT) AS share_ppm
FROM b CROSS JOIN n
GROUP BY sim_decile, tot
ORDER BY sim_decile
""",
    category="vector",
    description=(
        "Cosine-similarity histogram over LSH candidate pairs (decile "
        "buckets): the separation profile that picks the near-dup "
        "threshold — a bimodal histogram means a clean cut exists, a flat "
        "one means embedding quality is the problem, not the threshold"
    ),
)
def vec_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = lsh_buckets(emb)
    a = corpus.select(
        F.col("vec_id").alias("v1"), F.col("embedding").alias("aemb"), "bucket"
    )
    b = corpus.select(
        F.col("vec_id").alias("v2"), F.col("embedding").alias("bemb"), "bucket"
    )
    p = (
        a.join(b, "bucket")
        .where(F.col("v1") < F.col("v2"))
        .select(cosine_expr("aemb", "bemb").alias("cos_sim"))
    )
    d = p.select(F.expr("CAST(FLOOR(cos_sim * 10) AS INT)").alias("sim_decile"))
    # d (one int per bucket-pair) feeds the total AND the decile rollup;
    # pin it so the bucket self-join + cosine kernel run once
    d = d.localCheckpoint(eager=False)
    n = d.agg(F.count("*").cast("bigint").alias("tot"))
    return (
        d.crossJoin(F.broadcast(n))
        .groupBy("sim_decile", "tot")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select(
            "sim_decile",
            "n_pairs",
            # exact integer ppm (half-up) — ROUND(double, 6) is
            # engine-unstable under the driver's raw-value hash
            F.expr(
                "CAST((n_pairs * 1000000 + tot DIV 2) DIV tot AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("sim_decile")
    )


@register(
    "vec_cluster_purity",
    f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  ORDER BY {hash48_duck("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT {IVF_K}
),
sc AS (
  SELECT e.vec_id, e.label, c.cent_id, {cosine_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT vec_id, label, cent_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cent_id) AS rn
    FROM sc) WHERE rn = 1
),
cl AS (SELECT cluster, label, COUNT(*) AS n FROM asg GROUP BY 1, 2),
mj AS (
  SELECT cluster, CAST(SUM(n) AS BIGINT) AS sz, CAST(MAX(n) AS BIGINT) AS maj
  FROM cl GROUP BY cluster
),
tot AS (
  SELECT CAST(SUM(sz) AS BIGINT) AS n_vecs, CAST(SUM(maj) AS BIGINT) AS n_maj,
         CAST(COUNT(*) AS BIGINT) AS n_clusters
  FROM mj
)
SELECT n_clusters, n_vecs,
       CAST((n_maj * 1000000 + n_vecs // 2) // n_vecs AS BIGINT)
         AS purity_ppm
FROM tot
""",
    category="vector",
    description=(
        "Clustering purity of the IVF coarse quantizer against the labeled "
        "ground truth: per-cluster majority-label mass over total — the "
        "external-validity check that complements vec_cluster_silhouette's "
        "internal geometry score; exact rational of counts"
    ),
)
def vec_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    asg = ivf_assign(emb).select("vec_id", "cluster").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cl = asg.groupBy("cluster", "label").agg(F.count("*").alias("n"))
    mj = cl.groupBy("cluster").agg(
        F.sum("n").cast("bigint").alias("sz"),
        F.max("n").cast("bigint").alias("maj"),
    )
    tot = mj.agg(
        F.sum("sz").cast("bigint").alias("n_vecs"),
        F.sum("maj").cast("bigint").alias("n_maj"),
        F.count("*").cast("bigint").alias("n_clusters"),
    )
    return tot.select(
        "n_clusters",
        "n_vecs",
        # exact integer ppm (half-up) — ROUND(double, 6) is engine-unstable
        F.expr(
            "CAST((n_maj * 1000000 + n_vecs DIV 2) DIV n_vecs AS BIGINT)"
        ).alias("purity_ppm"),
    )


_PI_ROUNDS = 3


def _power_iter_sql(rounds: int = _PI_ROUNDS) -> str:
    # every SUM is over exact int64 inputs (CAST back from DuckDB's HUGEINT)
    # so the iterate is bit-identical to the Spark twin at every round
    ctes = [
        "ex AS MATERIALIZED ("
        " SELECT vec_id, dim,"
        "        CAST(FLOOR(CAST(v AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS vq"
        " FROM (SELECT vec_id,"
        "              CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,"
        "              unnest(embedding) AS v"
        "       FROM embeddings))",
        "w0 AS (SELECT DISTINCT dim, CAST(1000000 AS BIGINT) AS w FROM ex)",
    ]
    for i in range(rounds):
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT e.vec_id,"
            f" CAST(SUM(e.vq * w.w) AS BIGINT) AS s_int"
            f" FROM ex e JOIN w{i} w USING (dim) GROUP BY e.vec_id)"
        )
        ctes.append(f"ms{i} AS (SELECT MAX(ABS(s_int)) AS m FROM s{i})")
        ctes.append(
            f"sq{i} AS MATERIALIZED (SELECT vec_id,"
            f" CAST(FLOOR(CAST(s_int AS DOUBLE) / CAST(m AS DOUBLE) * 1000000"
            f" + 0.5) AS BIGINT) AS s_q FROM s{i}, ms{i})"
        )
        ctes.append(
            f"u{i} AS MATERIALIZED (SELECT e.dim,"
            f" CAST(SUM(e.vq * q.s_q) AS BIGINT) AS u_int"
            f" FROM ex e JOIN sq{i} q USING (vec_id) GROUP BY e.dim)"
        )
        ctes.append(f"mu{i} AS (SELECT MAX(ABS(u_int)) AS m FROM u{i})")
        ctes.append(
            f"w{i + 1} AS MATERIALIZED (SELECT dim,"
            f" CAST(FLOOR(CAST(u_int AS DOUBLE) / CAST(m AS DOUBLE) * 1000000"
            f" + 0.5) AS BIGINT) AS w FROM u{i}, mu{i})"
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
n2 AS (SELECT CAST(SUM(w * w) AS BIGINT) AS n2 FROM w{rounds})
SELECT dim,
       CAST(FLOOR(CAST(w AS DOUBLE) / SQRT(CAST(n2 AS DOUBLE)) * 1000000
                  + 0.5) AS BIGINT) AS loading_ppm
FROM w{rounds}, n2
"""


@register(
    "vec_power_iteration",
    _power_iter_sql(),
    category="vector",
    description=(
        f"Dominant principal direction of the embedding Gram matrix via "
        f"{_PI_ROUNDS} matrix-free power-iteration rounds as DataFrame "
        "algebra (exact fixed-point renormalization each half-step, so the "
        "eigenvector estimate is bit-identical cross-engine) — corpus "
        "drift / dominant-axis profiling without an ML library"
    ),
)
def vec_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.vector import power_iteration_top_dir

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_top_dir(emb, rounds=_PI_ROUNDS)


@register(
    "vec_centroid_drift",
    """
WITH ex AS (
  SELECT vec_id, label, vec_id % 2 AS half, dim,
         CAST(FLOOR(CAST(v AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS vq
  FROM (SELECT vec_id, label,
               CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
               unnest(embedding) AS v
        FROM embeddings)
),
cent AS (
  SELECT label, half, dim, CAST(SUM(vq) AS BIGINT) AS s, COUNT(*) AS n
  FROM ex GROUP BY label, half, dim
),
diff AS (
  SELECT a.label, a.dim,
         CAST(FLOOR((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                    * 100 + 0.5) AS BIGINT) AS dq,
         a.n AS n_even, b.n AS n_odd
  FROM cent a JOIN cent b ON a.label = b.label AND a.dim = b.dim
  WHERE a.half = 0 AND b.half = 1
)
SELECT label,
       CAST(MAX(n_even) AS BIGINT) AS n_even,
       CAST(MAX(n_odd) AS BIGINT) AS n_odd,
       CAST(FLOOR(SQRT(CAST(SUM(dq * dq) AS DOUBLE)) + 0.5) AS BIGINT)
         AS drift_l2_x1e6
FROM diff GROUP BY label
""",
    category="vector",
    description=(
        "Embedding centroid drift per label: corpus split into halves by "
        "vec_id parity, per-dim centroid deltas fxp-quantized (at 1e6 of "
        "the raw unit: 1e4 component scale x 1e2 delta scale) before the "
        "exact integer sum of squares — the distribution-shift monitor a "
        "production embedding pipeline alarms on"
    ),
)
def vec_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.session import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        "half",
        F.col("pos").cast("bigint").alias("dim"),
        F.floor(F.col("v").cast("double") * 10000 + F.lit(0.5))
        .cast("bigint")
        .alias("vq"),
    )
    cent = ex.groupBy("label", "half", "dim").agg(
        F.sum("vq").cast("bigint").alias("s"), F.count("*").alias("n")
    )
    a = cent.where(F.col("half") == 0).alias("a")
    b = cent.where(F.col("half") == 1).alias("b")
    diff = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.dim") == F.col("b.dim"))
    ).select(
        F.col("a.label").alias("label"),
        F.floor(
            (
                F.col("a.s").cast("double") / F.col("a.n")
                - F.col("b.s").cast("double") / F.col("b.n")
            )
            * 100
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("dq"),
        F.col("a.n").alias("n_even"),
        F.col("b.n").alias("n_odd"),
    )
    return diff.groupBy("label").agg(
        F.max("n_even").cast("bigint").alias("n_even"),
        F.max("n_odd").cast("bigint").alias("n_odd"),
        # integer drift at the deltas' native 1e6 fixed-point scale:
        # sqrt of the exact int sum is correctly rounded, then half-up —
        # no ROUND(double, k) in the output
        F.floor(
            F.sqrt(F.sum(F.col("dq") * F.col("dq")).cast("double")) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("drift_l2_x1e6"),
    )


_BIN_TOPK = 5


@register(
    "vec_binary_hamming_topk",
    f"""
WITH bits AS (
  SELECT vec_id,
         -- dim=63 is the int64 sign bit: DuckDB's checked shift raises on
         -- 1<<63, so that bit is emitted as the INT64_MIN literal and the
         -- shift amount is clamped (dim % 63 == dim for every row that
         -- actually takes the ELSE branch) so the overflowing shift can
         -- never be computed even under eager branch evaluation.
         -- CONTRACT: exactly-64-dim embeddings (the one-word packing this
         -- query exists for); dims > 63 would alias under the clamp —
         -- the Spark twin's shiftleft wraps mod 64 the same way only for
         -- dim 64..126 by accident, so neither side is defined above 64.
         CAST(SUM(CASE WHEN CAST(v AS DOUBLE) < 0 THEN 0
                       WHEN dim = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                       ELSE CAST(1 AS BIGINT) << (dim % 63) END) AS BIGINT)
           AS word
  FROM (SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
               unnest(embedding) AS v
        FROM embeddings)
  GROUP BY vec_id
),
q AS (SELECT vec_id AS query_id, word AS qw FROM bits WHERE vec_id < 3),
h AS (
  SELECT query_id, vec_id,
         CAST(bit_count(xor(word, qw)) AS INT) AS hamming
  FROM bits CROSS JOIN q WHERE vec_id != query_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY hamming, vec_id) AS rnk
      FROM h)
SELECT query_id, vec_id, hamming, rnk FROM r WHERE rnk <= {_BIN_TOPK}
""",
    category="vector",
    description=(
        "Binary-sign embedding compression + Hamming top-k: 64 dims packed "
        "into ONE int64 word (sign bits), neighbors ranked by "
        "popcount(xor) — 4 bytes-per-dim crushed to 1 bit, the 32x "
        "compression rung below PQ; corpus pass reads 8 bytes per vector"
    ),
)
def vec_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.session import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", F.posexplode("embedding").alias("dim", "v"))
    bits = ex.groupBy("vec_id").agg(
        F.sum(
            # shiftleft's shift amount must be a literal in the Python DSL;
            # the SQL form accepts the dim column
            F.when(
                F.col("v").cast("double") >= 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), dim)"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
        .cast("bigint")
        .alias("word")
    )
    q = bits.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("word").alias("qw")
    )
    h = (
        bits.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.bit_count(F.col("word").bitwiseXOR(F.col("qw")))
            .cast("int")
            .alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    return (
        h.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _BIN_TOPK)
        .select("query_id", "vec_id", "hamming", "rnk")
    )
