"""Vector-similarity operators over ``embeddings`` (64-d float arrays):
exact cosine top-k (the exactness baseline), ANN searches (LSH buckets,
multiprobe, IVF, PQ) and the IVF/PQ index builders they probe.
BASELINE.json LLM-pipeline mandate.

Numeric determinism: dot products and norms are fixed-point integer sums
(per-element ``floor(x*y*1e12 + 0.5)`` — identical IEEE-754 ops on any
engine, then exact integer accumulation), so cosine values are
bit-identical between Spark and the DuckDB oracle regardless of
partitioning. The column expressions :func:`fxp_dot_expr`,
:func:`norm_expr` and :func:`cosine_expr` are the specification (their
DuckDB twins are :func:`fxp_dot_sql` and :func:`cosine_sql`); the numpy
kernels (near-dup tiles, the PQ codebook, encode and ADC tables) run the
same ops through :func:`_fxp_norm` and :func:`_fxp_l2`, pinned bit-equal
by tests.

Every exact-cosine search is one scorer plus its own candidate join.
:func:`_cosine_topk` computes each side's norm once per row, scores one
fixed-point dot per candidate pair and keeps the top ``k`` per query by
``(cos_sim desc, vec_id)`` as ``rnk``; the searches differ only in the
``pair(corpus, queries)`` join that generates candidates:

- :func:`cosine_topk` — every corpus row (a broadcast nested-loop join:
  the corpus streams once, queries live in memory — the right plan up to
  ~10^3 queries x any corpus size);
- :func:`ann_lsh_topk` — the query's random-hyperplane bucket
  (:func:`lsh_buckets`; hash-derived planes, no RNG), plus every
  hamming-1 bucket with ``multiprobe``: an equi-join on the bucket id;
- :func:`ivf_topk` — the query's ``nprobe`` best IVF clusters;
- :func:`pq_search` — the PQ ADC shortlist (:func:`_adc_topk`, the
  integer-lookup twin of this scorer);
- the ``vec_truncated_topk`` (16-dim prefix) and ``vec_knn_graph``
  (corpus against itself within LSH buckets) specs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from findb_spark.functions.hashing import hash48
from findb_spark.session import local_relation_df

DIM = 64
FXP_SCALE = 10**12
PROJ_SCALE = 10**9
N_PLANES = 6


def fxp_dot_sql(a: str, b: str, dim: int = DIM) -> str:
    """DuckDB twin of :func:`fxp_dot_expr`."""
    return (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}), i -> "
        f"CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * {FXP_SCALE}.0 + 0.5)"
        f" AS BIGINT))) AS BIGINT)"
    )


def fxp_dot_expr(a: str, b: str, dim: int = DIM) -> Column:
    """Deterministic fixed-point dot product of the first ``dim`` elements
    of the float-array columns NAMED ``a`` and ``b`` (scaled by
    FXP_SCALE, exact integer sum).

    Unrolled over the fixed dimension instead of zip_with/aggregate:
    higher-order array functions are evaluated *interpreted* (off the
    whole-stage-codegen path) and cost ~50x on all-pairs joins; a 64-term
    element_at expression stays inside codegen.  Built as one
    server-side-parsed SQL string: construction is ONE py4j call, where
    the same tree built through the Column DSL took ~400 (~0.7 s of
    driver round trips per use).  Integer addition is associative, so
    the sum is bit-identical to any fold order."""
    terms = [
        f"FLOOR((CAST(element_at({a}, {i}) AS DOUBLE) * "
        f"CAST(element_at({b}, {i}) AS DOUBLE)) * {FXP_SCALE} + 0.5D)"
        for i in range(1, dim + 1)
    ]
    return F.expr("CAST((" + " + ".join(terms) + ") AS BIGINT)")


def norm_expr(v: str, dim: int = DIM) -> Column:
    """Fixed-point L2 norm of the column NAMED ``v``: sqrt of the exact
    :func:`fxp_dot_expr` self-dot over FXP_SCALE (one py4j call).  The
    same float ops as the norm terms inside :func:`cosine_expr`, so
    precomputing it once per row (not per pair) is bit-identical."""
    terms = [
        f"FLOOR((CAST(element_at({v}, {i}) AS DOUBLE) * "
        f"CAST(element_at({v}, {i}) AS DOUBLE)) * {FXP_SCALE} + 0.5D)"
        for i in range(1, dim + 1)
    ]
    return F.expr(
        "SQRT(CAST(CAST(("
        + " + ".join(terms)
        + f") AS BIGINT) AS DOUBLE) / {FXP_SCALE})"
    )


def cosine_expr(a: str, b: str, dim: int = DIM) -> Column:
    """Fixed-point cosine of the columns NAMED ``a`` and ``b``:
    dot/(sqrt*sqrt) over :func:`fxp_dot_expr` terms, three dots per row.
    Searches score through :func:`_cosine_topk` instead, which evaluates
    the two norms once per row."""
    return (fxp_dot_expr(a, b, dim).cast("double") / FXP_SCALE) / (
        F.sqrt(fxp_dot_expr(a, a, dim).cast("double") / FXP_SCALE)
        * F.sqrt(fxp_dot_expr(b, b, dim).cast("double") / FXP_SCALE)
    )


def cosine_sql(a: str, b: str, dim: int = DIM) -> str:
    return (
        f"({fxp_dot_sql(a, b, dim)} / {FXP_SCALE}.0) / "
        f"(sqrt({fxp_dot_sql(a, a, dim)} / {FXP_SCALE}.0) * "
        f"sqrt({fxp_dot_sql(b, b, dim)} / {FXP_SCALE}.0))"
    )


def _cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int, pair, dim: int = DIM
) -> DataFrame:
    """The exact-cosine scorer behind every vector search.  ``corpus``
    carries (vec_id, embedding), ``queries`` (query_id, qv); each gets its
    fixed-point norm (``_nrm``, ``_qnrm``) once per row over the first
    ``dim`` elements.  ``pair(corpus, queries)`` returns the candidate
    relation (one row per query x candidate); each candidate pays one
    :func:`fxp_dot_expr`, and the top ``k`` per query by
    ``(cos_sim desc, vec_id)`` survive.  Returns
    (query_id, vec_id, cos_sim, rnk)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sim = (fxp_dot_expr("embedding", "qv", dim).cast("double") / FXP_SCALE) / (
        F.col("_nrm") * F.col("_qnrm")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        pair(
            corpus.withColumn("_nrm", norm_expr("embedding", dim)),
            queries.withColumn("_qnrm", norm_expr("qv", dim)),
        )
        .select("query_id", "vec_id", sim.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def _cross_pairs(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Every corpus row against every query but itself (broadcast
    queries): the candidate join of the exact searches."""
    return corpus.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )


def cosine_topk(emb: DataFrame, query: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k neighbors of each query vector other than itself:
    :func:`_cosine_topk` over every corpus row (broadcast NL join +
    per-query ranking window).  ``query``: (query_id, qv array<float>).
    Returns (query_id, vec_id, cos_sim, rnk).

    (Scan-parallelism widening of the corpus side was measured and
    REJECTED round 13: at bench scale it bought ~0.2 s of wall but cost
    ~0.6 CPU-s + GC churn in per-task fixed overhead — see
    OPTIMIZATION_r13.md "widening experiment".)"""
    return _cosine_topk(emb, query, k, _cross_pairs)


def near_dup_pairs(
    emb: DataFrame, threshold: float = 0.4, block_size: int = 256
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact all-pairs semantics via
    distributed block-nested-loop:

    1. vectors are grouped into blocks of `block_size` (one shuffle);
    2. block pairs (blk1 <= blk2) join — m^2/2 *block* rows instead of
       n^2/2 vector rows, so no per-pair array shipping;
    3. each block pair computes its dot-product tile as one Arrow-batched
       numpy operation (exact fixed-point: floor(x*y*1e12+0.5) int64 sums,
       bit-identical to the SQL oracle's per-element formula).

    All-pairs stays O(n^2) by definition — at corpus scale use
    `lsh_buckets` blocking (or MinHash over shingles for text) to bound the
    candidate set; this operator is the exactness baseline and the
    per-tile kernel both."""
    b = emb.select(
        F.floor(F.col("vec_id") / block_size).cast("int").alias("blk"),
        "vec_id",
        "embedding",
    )
    blocks = b.groupBy("blk").agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias("rows")
    )
    tile = (
        blocks.alias("x")
        .join(blocks.alias("y"), F.col("x.blk") <= F.col("y.blk"))
        .select(
            F.col("x.blk").alias("blk1"),
            F.col("x.rows").alias("rows1"),
            F.col("y.blk").alias("blk2"),
            F.col("y.rows").alias("rows2"),
        )
    )

    def compute(pdfs):
        scale = float(FXP_SCALE)

        def unpack(rows):
            ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
            mat = np.vstack([r["embedding"] for r in rows]).astype(np.float64)
            return ids, mat

        for pdf in pdfs:
            out_v1, out_v2, out_cos = [], [], []
            for rows1, rows2, same in zip(
                pdf["rows1"], pdf["rows2"], (pdf["blk1"] == pdf["blk2"])
            ):
                ids1, m1 = unpack(rows1)
                ids2, m2 = unpack(rows2)
                n1 = _fxp_norm(m1)
                n2 = _fxp_norm(m2)
                # whole tile in one 3-D broadcast (b x b x dim ~ 33 MB at 256):
                # identical per-element fixed-point ops as the row loop / SQL
                dots = (
                    np.floor(m1[:, None, :] * m2[None, :, :] * scale + 0.5)
                    .astype(np.int64)
                    .sum(2)
                    / scale
                )
                cos = dots / np.outer(n1, n2)
                mask = cos >= threshold
                if same:
                    mask &= ids2[None, :] > ids1[:, None]
                ii, jj = np.nonzero(mask)
                if len(ii):
                    out_v1.extend(ids1[ii].tolist())
                    out_v2.extend(ids2[jj].tolist())
                    out_cos.extend(cos[ii, jj].tolist())
            yield pd.DataFrame({"v1": out_v1, "v2": out_v2, "cos_sim": out_cos})

    return tile.mapInPandas(compute, schema="v1 BIGINT, v2 BIGINT, cos_sim DOUBLE")


def plane_matrix(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix derived from md5 — reproducible in
    SQL-free form by embedding the literals into both engines' plans."""
    return [
        [
            1 if int(hashlib.md5(f"plane{j}_{d}".encode()).hexdigest()[:12], 16) % 2 == 0 else -1
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def lsh_buckets(emb: DataFrame, planes: list[list[int]] | None = None) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: bit j = sign of the
    fixed-point projection onto plane j.

    KERNEL NOTE (measured round 6): unlike :func:`fxp_dot_expr`, the
    unrolled-inline-SQL form LOSES here — 6 planes x 64 terms = 384
    inline terms blow janino's method-size limit, so codegen fails
    (one-time compile attempt ~1.7s) and execution falls back to
    interpreted anyway: 0.5-0.7s warm vs 0.35s for this
    ``aggregate(zip_with(...))`` form, whose per-element work (one
    multiply by a +-1 literal) is too cheap for lambda-dispatch
    overhead to dominate.  The higher-order form stays."""
    planes = planes or plane_matrix()
    bucket = None
    for j, m in enumerate(planes):
        marr = F.array(*[F.lit(w) for w in m])
        proj = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                marr,
                lambda x, w: F.floor(x.cast("double") * w.cast("double") * PROJ_SCALE + F.lit(0.5)),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.withColumn("bucket", bucket.cast("bigint"))


IVF_K = 64


def ivf_centroids(emb: DataFrame, k: int = IVF_K) -> DataFrame:
    """Fixed-size IVF codebook: the ``k`` corpus vectors minimal under a
    deterministic hash order (hash48 of vec_id, vec_id tiebreak) — an
    RNG-free uniform sample standing in for trained k-means centroids.

    ``k`` is independent of corpus size, so the codebook broadcast stays
    tiny and assignment is O(n*k) at any scale (a stride-based pick would
    grow the codebook O(n) and assignment O(n^2/stride)). Selection
    compiles to TakeOrderedAndProject — per-partition top-k then a driver
    merge of k rows, not a global sort shuffle."""
    hk = hash48(F.col("vec_id").cast("string"))
    return (
        emb.select(
            hk.alias("_hk"),
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cvec"),
        )
        .orderBy("_hk", "cent_id")
        .limit(k)
        .select("cent_id", "cvec")
    )


def ivf_assign(emb: DataFrame, n_cent: int = IVF_K) -> DataFrame:
    """IVF coarse quantization with the fixed-``n_cent`` deterministic
    codebook: :func:`ivf_centroids` + :func:`assign_to_centroids` (the
    assignment plan — broadcast codebook, one corpus scan, smallest-id
    tiebreak — lives in ONE place). Returns (vec_id, embedding, cluster)."""
    return assign_to_centroids(emb, ivf_centroids(emb, n_cent))


MEAN_SCALE = 10**9


def assign_to_centroids(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every vector to its max-cosine centroid (broadcast codebook,
    one corpus scan, no shuffle). ``cents``: (cent_id, cvec). Ties break
    to the smallest centroid id. Returns (vec_id, embedding, cluster)."""
    j = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cent_id",
        cosine_expr("embedding", "cvec").alias("_cos"),
    )
    return (
        j.groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cent_id"),
                F.struct(F.col("_cos"), (-F.col("cent_id")).alias("_nc")),
            ).alias("cluster"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", "cluster")
    )


def kmeans_refine_centroids(assigned: DataFrame) -> DataFrame:
    """One Lloyd update: per-cluster element-wise mean of the member
    vectors, computed as an **exact fixed-point sum** (per element
    ``floor(x*1e9+0.5)`` int64, summed exactly, divided once) so the
    refined centroids are bit-identical doubles on any engine and any
    partitioning — a raw float mean would vary with accumulation order
    and break oracle parity.

    Plan shape: posexplode (pure map) -> ONE hash aggregation on
    (cluster, pos) with map-side combine -> tiny (K x dim rows) regroup
    into arrays. Nothing grows with corpus size except the first
    aggregation's input, which combines map-side. Returns
    (cent_id, cvec: array<double>). Empty clusters drop out (standard
    Lloyd behavior)."""
    elems = assigned.select(
        "cluster", F.posexplode("embedding").alias("pos", "v")
    )
    means = elems.groupBy("cluster", "pos").agg(
        (
            F.sum(
                F.floor(F.col("v").cast("double") * MEAN_SCALE + F.lit(0.5))
            ).cast("double")
            / MEAN_SCALE
            / F.count("*")
        ).alias("cv")
    )
    return (
        means.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.getField("cv"),
            ).alias("cvec")
        )
        .select(F.col("cluster").alias("cent_id"), "cvec")
    )


def kmeans_cluster_profile(emb: DataFrame, n_cent: int = IVF_K) -> DataFrame:
    """One full Lloyd iteration over the IVF codebook (deterministic
    hash-sample init -> assign -> fixed-point mean update -> re-assign),
    profiled per refined cluster: member count + mean cosine to the
    refined centroid (fixed-point mean, oracle-exact).

    This is the training loop of a real IVF/k-means index expressed as
    pure DataFrame algebra — each iteration is one broadcast assignment
    pass + one map-side-combined aggregation, so iterations cost O(n*K)
    with no shuffle proportional to pair counts. More iterations = loop
    this function's internals (see tests for the quality ladder)."""
    cents0 = ivf_centroids(emb, n_cent)
    asg1 = assign_to_centroids(emb, cents0)
    cents1 = kmeans_refine_centroids(asg1)
    asg2 = emb.crossJoin(F.broadcast(cents1)).select(
        "vec_id",
        "cent_id",
        cosine_expr("embedding", "cvec").alias("_cos"),
    )
    best = asg2.groupBy("vec_id").agg(
        F.max_by(
            F.struct(F.col("cent_id"), F.col("_cos")),
            F.struct(F.col("_cos"), (-F.col("cent_id")).alias("_nc")),
        ).alias("b")
    )
    per_vec = best.select(
        F.col("b.cent_id").alias("cluster"), F.col("b._cos").alias("cos")
    )
    return per_vec.groupBy("cluster").agg(
        F.count("*").alias("n_vecs"),
        (
            F.sum(F.floor(F.col("cos") * MEAN_SCALE + F.lit(0.5))).cast("double")
            / MEAN_SCALE
            / F.count("*")
        ).alias("avg_cos"),
    )


def ivf_topk(
    emb: DataFrame, k: int = 5, n_cent: int = IVF_K, nprobe: int = 1
) -> DataFrame:
    """IVF-style ANN top-k: :func:`_cosine_topk` over the query's
    ``nprobe`` best coarse clusters.  Queries are the vectors with
    vec_id < 3 (same convention as the other search specs).  Complements
    `ann_lsh_topk`: the candidates are a codebook partition instead of a
    hyperplane bucket, probed through the same broadcast equi-join.

    ``nprobe`` is the standard recall/cost dial: candidates grow linearly
    with probes while the probe list itself stays a broadcast (queries x
    nprobe rows). nprobe=1 degenerates to the assigned-cluster-only probe
    (the oracle-checked form); nprobe=n_cent probes every cluster and is
    exactly brute force (recall 1.0 — tests pin the monotone ladder and
    the full-probe anchor). On unclustered data recall tracks the probed
    fraction ~nprobe/K; buying more recall per probe requires a trained
    (k-means) codebook, which drops into `ivf_centroids`' slot without
    changing this plan shape."""
    # build the codebook once and share it between assignment and the
    # probe list (two ivf_centroids calls would scan the corpus twice for
    # the same 64 rows)
    cents = ivf_centroids(emb, n_cent)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # per-query probe list: top-nprobe centroids by cosine (ties -> smaller
    # centroid id, matching ivf_assign's tiebreak so nprobe=1 == assignment)
    pw = Window.partitionBy("query_id").orderBy(F.desc("_ccos"), "cent_id")

    def pair(assigned: DataFrame, queries: DataFrame) -> DataFrame:
        probes = (
            queries.crossJoin(F.broadcast(cents))
            .select(
                "query_id",
                "qv",
                "_qnrm",
                "cent_id",
                cosine_expr("qv", "cvec").alias("_ccos"),
            )
            .withColumn("_pr", F.row_number().over(pw))
            .where(F.col("_pr") <= nprobe)
            .select("query_id", "qv", "_qnrm", F.col("cent_id").alias("qcluster"))
        )
        return assigned.join(
            F.broadcast(probes),
            (F.col("cluster") == F.col("qcluster"))
            & (F.col("vec_id") != F.col("query_id")),
        )

    return _cosine_topk(assign_to_centroids(emb, cents), q, k, pair)


def semantic_dedup_pairs(
    emb: DataFrame, threshold: float = 0.4, n_cent: int = IVF_K
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: coarse-quantize every
    vector to its IVF cluster (:func:`ivf_assign` — broadcast codebook, one
    corpus scan), then compare pairs **within a cluster only** (equi-join
    on the cluster id) and keep cosine >= ``threshold``.

    This is the pattern of Abbas et al., "SemDeDup" (arXiv:2303.09540):
    k-means the embedding space, then dedup inside each cluster — the
    cross-cluster pairs an exact all-pairs scan would also consider are
    exactly the distant pairs that cannot be semantic duplicates. Versus
    `near_dup_pairs` (exact O(n^2) baseline) the candidate set shrinks to
    O(sum c_i^2) ~ n^2/K for balanced clusters; at corpus scale K grows
    with n (K ~ n/target_cluster_size), holding per-cluster work constant
    while the join stays a plain hash shuffle on the cluster id.

    Output: (cluster, v1, v2, cos_sim), v1 < v2. Recall vs the exact scan
    = the fraction of true near-dup pairs co-assigned by the codebook
    (tests pin both containment and the recall floor)."""
    from pyspark.storagelevel import StorageLevel

    # both sides of the within-cluster self-join read `assigned`; without a
    # persist the whole O(n*K) codebook-assignment subtree runs twice.
    #
    # The explicit repartition on the cluster key (round 13, guide §2.5):
    # the self-join FANS OUT — n input rows become ~n^2/K candidate pairs,
    # each paying a 64-term fixed-point dot product — so the stage's cost
    # is CPU per candidate, invisible to AQE's byte-based coalescing,
    # which saw ~1 MB of cached input and collapsed the whole scoring
    # stage to ONE task (measured 896 ms single-task CPU, 31 cores idle).
    # An explicit partition count pins the exchange against coalescing
    # (user-specified numPartitions is never coalesced); the count is the
    # session's shuffle grain — the deployment-scaling dial, nothing
    # local.  Skew MEASURED at a factor-16 octave (SCALE_SEMSKEW_r14.json):
    # at the family's operating point (K grown with n) the scoring
    # stage's straggle is max/p50 = 2.5 (cluster-size variance, bounded);
    # a deliberately injected identical-content mega-cluster (4.6k rows,
    # the K-grows-with-n violation) is ONE join key that neither this
    # repartition nor AQE skew-join can split — straggle 5.8, stage wall
    # pinned to the hot task.  The fallback for that regime is recursive
    # re-clustering of oversized clusters (salting a self-join still
    # computes every hot pair), documented in the artifact.
    # 'auto' guard (round-14 advisor): deployments with AQE auto mode set
    # spark.sql.shuffle.partitions to a non-integer literal; fall back to
    # defaultParallelism rather than raising at plan-build time
    try:
        n_shuf = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        n_shuf = emb.sparkSession.sparkContext.defaultParallelism
    assigned = (
        ivf_assign(emb, n_cent)
        .withColumn("_nrm", norm_expr("embedding"))
        .repartition(n_shuf, F.col("cluster"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    x = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("e1"),
        F.col("_nrm").alias("n1"),
    )
    y = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("e2"),
        F.col("_nrm").alias("n2"),
    )
    sim = (fxp_dot_expr("e1", "e2").cast("double") / FXP_SCALE) / (
        F.col("n1") * F.col("n2")
    )
    return (
        x.join(y, on="cluster")
        .where(F.col("v1") < F.col("v2"))
        .select("cluster", "v1", "v2", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def ann_lsh_topk(
    emb: DataFrame, query: DataFrame, k: int = 5, multiprobe: bool = False
) -> DataFrame:
    """Approximate top-k: :func:`_cosine_topk` inside the query's LSH
    bucket.  ``query``: (query_id, qv) — gets bucketed with the same plane
    matrix.

    ``multiprobe`` additionally probes every bucket at hamming distance 1
    (one flipped hyperplane bit) — the standard recall fix for vectors
    landing near a plane boundary; candidate cost grows ~(n_planes+1)x the
    single-bucket density while the probe list stays broadcast."""
    planes = plane_matrix()
    qb = lsh_buckets(
        query.select(F.col("query_id"), F.col("qv").alias("embedding")), planes
    ).select("query_id", F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket"))

    def pair(corpus: DataFrame, queries: DataFrame) -> DataFrame:
        if multiprobe:
            flips = F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << j)).cast("bigint")
                    for j in range(len(planes))
                ],
            )
            queries = queries.select(
                "query_id", "qv", "_qnrm", F.explode(flips).alias("qbucket")
            )
        return corpus.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )

    return _cosine_topk(lsh_buckets(emb, planes), qb, k, pair)


# ---------------------------------------------------------------------------
# Product quantization (Jegou, Douze, Schmid — "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011).  64-d vectors split into PQ_M
# subspaces of PQ_SUBDIM dims; each subspace quantized against a PQ_K-entry
# codebook, so a vector compresses to PQ_M small codes (8 bytes here vs 256
# raw — the memory ratio that lets a 100 TB corpus's index fit executor RAM).
# Search uses ADC (asymmetric distance computation): the query stays full
# precision, per-subspace distances to every codeword are precomputed once
# into a tiny lookup table, and each candidate's distance is PQ_M table
# lookups + adds — no float math per candidate.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 64  # codewords per subspace (production PQ uses 256; 64 keeps the
#            oracle's cross join small while the plan shape is identical)
#: hard cap on the driver-collected PQ training sample: the 20% hash gate
#: alone scales with the corpus (measured: 51k collected vectors = 70 s of
#: py4j at a 256k-vector corpus — the whole 128x scale-smoke blowup), while
#: codebook quality saturates at FAISS-scale 10^4-10^5 training points.
#: The cap composes as a deterministic hash-order LIMIT (ORDER BY h,
#: vec_id), mirrored verbatim in the DuckDB oracle; it binds only above
#: ~82k corpus vectors, so certified outputs at every test SF are
#: unchanged.
PQ_TRAIN_CAP = 1 << 14


def _normalized(emb: DataFrame) -> DataFrame:
    """(vec_id, nv): the corpus unit-normalized (exact doubles) — norm
    materialized into its own column first so each element's divide
    references an attribute, not a re-evaluated 64-term dot subtree.
    The Column-form specification the numpy normalization
    (:func:`_fxp_norm`, then one divide per element) is pinned against."""
    return emb.select(
        "vec_id", norm_expr("embedding").alias("_n"), "embedding"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / F.col("_n")).alias(
            "nv"
        ),
    )


def fxp_l2_sub(a: Column, sw: Column, sub: int) -> Column:
    """Deterministic fixed-point squared-L2 distance between subvector
    ``sub`` of the full array ``a`` and the PQ_SUBDIM-dim codeword ``sw``:
    per element ``floor((ai-bi)^2 * FXP_SCALE + 0.5)`` (exact IEEE double
    ops on both engines), exact integer sum.  Unrolled like
    :func:`fxp_dot_expr` to stay inside whole-stage codegen.

    This Column form is the executable SPECIFICATION of the PQ distance
    arithmetic: its numpy twin :func:`_fxp_l2`, which every PQ kernel
    runs, must produce bit-equal values — tests/test_llm_ops.py pins the
    ADC tables and the corpus codes against this formulation."""
    base = sub * PQ_SUBDIM
    terms = []
    for i in range(1, PQ_SUBDIM + 1):
        d = (
            F.element_at(a, base + i).cast("double")
            - F.element_at(sw, i).cast("double")
        )
        terms.append(F.floor(d * d * FXP_SCALE + F.lit(0.5)))
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0].cast("bigint")


def _fxp_norm(v: np.ndarray) -> np.ndarray:
    """Fixed-point L2 norm of each row of ``v``: ``sqrt(sum(floor(x*x*
    FXP_SCALE + 0.5)) / FXP_SCALE)`` — the numpy twin of :func:`norm_expr`.
    np.floor/multiply are the IEEE-754 double ops the JVM executes, and
    the floor terms are summed in int64 (exact, order-free).

    Bit-equality bound: norm_expr sums the same floor terms as float64
    and casts the total to BIGINT once.  The two agree exactly while
    every partial sum stays below 2^53 (where float64 addition is exact
    and order-free): terms are x_i^2 * FXP_SCALE, so the self-dot bound
    is |x|^2 * DIM * 1e12 < 2^53, i.e. per-element |x| <= ~11.8 at
    DIM=64.  The embeddings table stores O(1)-magnitude components
    (|x| < 2), three orders inside the bound — and no summation-order fix
    could extend it: beyond 2^53 numpy's pairwise float64 sum and the
    JVM's left-associated chain diverge from EACH OTHER, so int64 is the
    more defensible side to keep."""
    sq = np.floor(v * v * float(FXP_SCALE) + 0.5).astype(np.int64).sum(axis=-1)
    return np.sqrt(sq.astype(np.float64) / float(FXP_SCALE))


def _fxp_l2(seg: np.ndarray, cw: np.ndarray) -> np.ndarray:
    """(n, K) int64 fixed-point squared-L2 distances from each row of
    ``seg`` (n, PQ_SUBDIM) to each codeword of ``cw`` (K, PQ_SUBDIM) —
    the numpy twin of :func:`fxp_l2_sub` (same per-element IEEE ops, floor
    terms summed in int64, so the sum order is immaterial)."""
    d = seg[:, None, :] - cw[None, :, :]
    return np.floor(d * d * float(FXP_SCALE) + 0.5).astype(np.int64).sum(axis=2)


def _nearest_codes(seg: np.ndarray, cw: np.ndarray) -> np.ndarray:
    """Per row of ``seg``, the 1-based code of the nearest codeword in
    ``cw``, ties to the smallest code: the min of the exact composite
    ``dist*128 + code`` (the oracle's ``MIN_BY(code, d*128 + code)``),
    valid while codes stay below 128.  The code range is the codebook's
    own size, which is below PQ_K on a corpus of fewer than PQ_K vectors.

    Rows go in 256-row blocks: the full (n, K, PQ_SUBDIM) distance tensor
    spills L2 and its ~1 MB temporaries dominate the kernel — blocking
    keeps every intermediate cache-resident (measured 386 -> 70 ms at
    n=2000).  The per-element ops and per-row int64 sums do not depend on
    block boundaries, so the codes do not either."""
    k = len(cw)
    if k >= 128:
        raise ValueError(f"{k} codewords overflow the dist*128+code composite")
    kcode = np.arange(1, k + 1, dtype=np.int64)
    out = np.empty(len(seg), dtype=np.int32)
    for s in range(0, len(seg), 256):
        comp = _fxp_l2(seg[s : s + 256], cw) * 128 + kcode
        out[s : s + 256] = comp.min(axis=1) % 128
    return out


def _unit_rows(vecs) -> np.ndarray:
    """The raw vectors ``vecs`` as an (n, DIM) float64 matrix, each row
    divided by its :func:`_fxp_norm` — one IEEE divide per element, the
    op sequence :func:`_normalized` runs JVM-side."""
    v = np.array([np.asarray(x, dtype=np.float64) for x in vecs]).reshape(-1, DIM)
    return v / _fxp_norm(v)[:, None]


def _subspace(v: np.ndarray, m: int) -> np.ndarray:
    return v[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]


def pq_codebook(emb: DataFrame) -> np.ndarray:
    """Deterministic PQ init codebook: the PQ_K normalized corpus vectors
    minimal under hash order (same RNG-free sampling contract as
    :func:`ivf_centroids`), as an array of shape (PQ_M, k, PQ_SUBDIM) —
    ``codebook[m, code - 1]`` is subspace ``m``'s codeword for dense code
    ``code``.  k is PQ_K, or the corpus size on a smaller corpus; it does
    not grow with the corpus, so the codebook stays tiny at any scale.

    The distributed half is ONE TakeOrderedAndProject job (the k winners
    under the cheap hash key); their normalization runs driver-side with
    the fixed-point arithmetic of :func:`_fxp_norm`."""
    hk = hash48(F.col("vec_id").cast("string"))
    rows = (
        emb.select(hk.alias("_hk"), "vec_id", "embedding")
        .orderBy("_hk", "vec_id")
        .limit(PQ_K)
        .collect()
    )
    rows.sort(key=lambda r: (r["_hk"], r["vec_id"]))
    cw = _unit_rows([r["embedding"] for r in rows])
    return np.ascontiguousarray(cw.reshape(-1, PQ_M, PQ_SUBDIM).transpose(1, 0, 2))


def _luts_driver(q_rows: list, codebook: np.ndarray) -> list[tuple]:
    """The ADC-table kernel: per RAW query row (vec_id, embedding), the
    PQ_M ADC tables — each a list of the fixed-point distances
    (:func:`fxp_l2_sub`) to the codewords, ordered by code 1..k (the
    order the scoring ``element_at(l{m}, c{m})`` lookups assume).

    The query is unit-normalized by :func:`_unit_rows` and the entries
    come from :func:`_fxp_l2` — the same op sequence as the corpus encode
    kernel.  The entries are pure int64, so nothing float re-crosses
    py4j: the literal luts relation is bit-identical to the Column-form
    :func:`fxp_l2_sub` over ``_normalized`` queries (pinned in
    tests/test_llm_ops.py)."""
    rows = sorted(q_rows, key=lambda r: r["vec_id"])
    v = _unit_rows([r["embedding"] for r in rows])
    tables = [_fxp_l2(_subspace(v, m), codebook[m]).tolist() for m in range(PQ_M)]
    return [
        (int(r["vec_id"]), *(t[i] for t in tables)) for i, r in enumerate(rows)
    ]


def pq_encode_arrow(emb: DataFrame, codebook: np.ndarray) -> DataFrame:
    """Quantize every corpus vector against ``codebook`` (the
    :func:`pq_codebook` array): per subspace, the code of the L2-nearest
    codeword (ties to the smallest code).  Returns
    (vec_id, c0..c{PQ_M-1}).

    One narrow scan with no shuffle: numpy over Arrow batches
    (``mapInPandas``) takes the RAW embeddings, unit-normalizes them
    (:func:`_unit_rows`) and picks codes with :func:`_nearest_codes`.
    np.floor/multiply are the identical IEEE-754 double ops the JVM
    executes, so codes are bit-equal to the Column spec (pinned by
    tests/test_llm_ops.py).  Normalizing in the kernel skips the JVM
    ``transform()`` normalization lambda — interpreted per element, it
    costs more than the whole encode at bench scale (measured 1.6s for
    2000x64 vs 0.9s for this kernel).  Distances are computed per
    subspace rather than as one (n, M, K, SUBDIM) tensor: the
    elementwise fixed-point floor rules out a BLAS matmul, so memory
    locality decides throughput, and the 4-D form lost to a JVM kernel by
    10x at 128k vectors."""
    out_schema = "vec_id bigint, " + ", ".join(f"c{m} int" for m in range(PQ_M))

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = _unit_rows(pdf["embedding"])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    **{
                        f"c{m}": _nearest_codes(_subspace(v, m), codebook[m])
                        for m in range(PQ_M)
                    },
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(encode, schema=out_schema)


def pq_train(emb: DataFrame, codebook: np.ndarray) -> np.ndarray:
    """One per-subspace Lloyd refinement of ``codebook``: assign every
    sampled subvector to its nearest codeword, replace each codeword with
    the exact fixed-point mean of its members (empty codewords keep their
    init value, so codes stay DENSE 1..k and ADC tables stay indexable).
    Returns a new array of the same shape.

    ARCHITECTURE (the FAISS build/search split): training runs
    DRIVER-SIDE in numpy over a collected sample of the RAW embeddings;
    only the corpus passes (encode, ADC scoring) are distributed.  The
    sample is a deterministic 20% hash gate (a pushdown-friendly filter,
    no RNG) capped by a hash-order LIMIT of PQ_TRAIN_CAP, mirrored in the
    oracle.  ``toPandas()`` rides the Arrow channel, so list<double>
    columns arrive as numpy arrays with exact bits (the Row-based
    collect() built millions of Python float objects: 70 s at a 51k-row
    sample).  Sampling the raw column keeps the 64-term normalize
    expression out of the sample job; :func:`_unit_rows` normalizes the
    bounded sample bit-equal to the Column form.  The means are
    ``floor(v*MEAN_SCALE+0.5)`` summed in int64, then
    ``(sum/MEAN_SCALE)/count`` in IEEE doubles — the op sequence of the
    DuckDB oracle's ``mu{m}`` CTEs (queries/vector_queries.py).
    Assignment is :func:`_nearest_codes`, as in the encode.

    Sampled codewords land where single vectors happen to fall;
    per-subspace means drop quantization error the way full k-means does
    for IVF — tests pin the recall improvement.  Iterating = re-calling
    this function."""
    hk = hash48(F.col("vec_id").cast("string"))
    sample = (
        emb.where(hk % 5 < 1)
        .orderBy(hk, "vec_id")
        .limit(PQ_TRAIN_CAP)
        .select("embedding")
        .toPandas()
    )
    new_cb = codebook.copy()
    if len(sample):
        v = _unit_rows(sample["embedding"])
        vs = np.floor(v * float(MEAN_SCALE) + 0.5).astype(np.int64)  # (n, DIM)
        for m in range(PQ_M):
            assign = _nearest_codes(_subspace(v, m), codebook[m]) - 1
            seg = _subspace(vs, m)
            for c in range(codebook.shape[1]):
                mask = assign == c
                cnt = int(mask.sum())
                if cnt:
                    s = seg[mask].sum(axis=0, dtype=np.int64)
                    new_cb[m, c] = s.astype(np.float64) / float(MEAN_SCALE) / cnt
    return new_cb


def _adc_topk(
    emb: DataFrame, codebook: np.ndarray, q_rows: list, k: int, pair
) -> DataFrame:
    """Encode the corpus, build the per-query ADC tables driver-side and
    rank: ``pair(codes, luts)`` returns the scored candidate relation
    (one row per query x candidate, carrying c0.. and l0..); each
    candidate's ``adc_dist`` is PQ_M ``element_at`` table lookups + integer
    adds, and the top ``k`` per query by (adc_dist, vec_id) survive.

    The ADC tables come from :func:`_luts_driver` over the bounded query
    rows (guide §1.2 — the distributed form was two serial
    BroadcastNestedLoopJoin stages whose only input is queries x
    codebook) and ride in as a literal broadcast relation."""
    codes = pq_encode_arrow(emb, codebook)
    luts = local_relation_df(
        emb.sparkSession,
        _luts_driver(q_rows, codebook),
        "query_id bigint, " + ", ".join(f"l{m} array<bigint>" for m in range(PQ_M)),
    )
    dist = None
    for m in range(PQ_M):
        t = F.element_at(F.col(f"l{m}"), F.col(f"c{m}"))
        dist = t if dist is None else dist + t
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), "vec_id")
    return (
        pair(codes, luts)
        .select("query_id", "vec_id", dist.alias("adc_dist"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def _query_rows(emb: DataFrame) -> list:
    """The standard query set (vec_id < 3) as raw driver rows."""
    return emb.where(F.col("vec_id") < 3).select("vec_id", "embedding").collect()


def pq_adc_topk(emb: DataFrame, codebook: np.ndarray, k: int = 5) -> DataFrame:
    """PQ-ADC approximate top-k for the standard query set (vec_id < 3)
    against the trained ``codebook`` (unit-vector L2 ranks identically to
    cosine).

    Plan: encode the corpus (codes are WIDE-table small — PQ_M small ints
    per vector); per query, the PQ_M x k distance lookup tables (a
    broadcast of a handful of rows); score every candidate with PQ_M
    ``element_at`` lookups + integer adds — zero float math per
    candidate, fully inside codegen.  ``adc_dist`` is an exact int64
    (deterministic cross-engine).  At 100 TB the scored relation reads
    only the 8-code table, not the embeddings — the I/O win PQ exists
    for; pair with IVF coarse clustering (:func:`ivf_pq_topk`) to also
    shrink the candidate set, and exact-rerank the ADC shortlist where
    final ordering matters (:func:`pq_search`).

    The codebook is built once per corpus (see queries/vector_queries.py's
    memo) and this function is lazy apart from the 3-row query collect."""
    return _adc_topk(emb, codebook, _query_rows(emb), k, _cross_pairs)


def pq_search(
    emb: DataFrame, codebook: np.ndarray, k: int = 5, shortlist: int = 50
) -> DataFrame:
    """Production PQ search shape: ADC shortlist (integer lookups over the
    compressed code table) -> :func:`_cosine_topk` rerank of only the
    shortlist against the original vectors -> top-k.  The expensive exact
    math runs on ``shortlist`` candidates per query instead of the corpus
    — at 100 TB the corpus pass touches 8-byte codes only, and the rerank
    is a (queries x shortlist)-row join back to the embedding table.
    Recall = P(true top-k inside the ADC shortlist); tests pin the
    trained-codebook recall floor and the improvement over the untrained
    sample.  ``shortlist`` below ``k`` raises ``ValueError``."""
    if shortlist < k:
        raise ValueError(f"shortlist ({shortlist}) must be >= k ({k})")
    # Collect the bounded query set ONCE (3 rows by construction) and
    # share it between the ADC LUTs and the rerank's query side (round
    # 14, guide §1.2/§4): the rerank used to re-scan the embedding table
    # for the same 3 rows inside a broadcast build — one whole extra
    # parquet scan + serial broadcast-build job per evaluation.  As a
    # LocalRelation the broadcast builds driver-side with zero tasks.
    # Bit-exactness: array<float> values round-trip exactly through
    # float64 (collect) and back to float32 (Arrow), and _qnrm is
    # computed in-plan over those identical values.
    q_rows = _query_rows(emb)
    sl = _adc_topk(emb, codebook, q_rows, shortlist, _cross_pairs).select(
        "query_id", "vec_id"
    )
    q = local_relation_df(
        emb.sparkSession,
        [(r["vec_id"], r["embedding"]) for r in q_rows],
        "query_id bigint, qv array<float>",
    )

    # broadcast the SHORTLIST, not the base table (round 13, guide §3.1):
    # sl is bounded at queries x shortlist rows by construction, while
    # base is the corpus — but sl's size estimate is garbage (it hangs
    # off a window over a broadcast-nested-loop join), so left to itself
    # Catalyst picks the base side whenever the corpus LOOKS small and
    # would shuffle-join (or worse, broadcast the corpus) at scale.  The
    # hint makes the rerank probe a broadcast-hash join against the
    # embedding scan at every corpus size.
    def pair(base: DataFrame, queries: DataFrame) -> DataFrame:
        return (
            F.broadcast(sl).join(base, "vec_id").join(F.broadcast(queries), "query_id")
        )

    return _cosine_topk(emb.select("vec_id", "embedding"), q, k, pair)


def ivf_pq_topk(emb: DataFrame, codebook: np.ndarray, k: int = 5) -> DataFrame:
    """IVF-PQ (the FAISS IVFPQ architecture, Jegou TPAMI'11 §V): coarse
    IVF clustering bounds WHICH candidates are scored (the query's
    assigned cluster only, nprobe=1), product quantization bounds WHAT is
    read per candidate (8 one-byte codes + an integer table lookup).  The
    two compressions multiply: at 100 TB the scan touches one cluster's
    code table — candidates O(n/K), bytes O(8) each, zero float ops.

    Plan: broadcast coarse codebook -> one corpus assignment pass; the
    trained PQ ``codebook`` -> one corpus encode pass; the scored
    relation is an equi-join on the cluster id (hash shuffle of 8-code
    rows), never a cross join.  Exact-rerank the survivors where final
    ordering matters (compose with the pq_search rerank shape)."""
    _c = ivf_centroids(emb)
    cents = local_relation_df(emb.sparkSession, _c.collect(), _c.schema)
    clusters = assign_to_centroids(emb, cents).select("vec_id", "cluster")

    def pair(codes: DataFrame, luts: DataFrame) -> DataFrame:
        qprobe = luts.join(
            clusters.where(F.col("vec_id") < 3).select(
                F.col("vec_id").alias("query_id"), F.col("cluster").alias("qcluster")
            ),
            "query_id",
        )
        return codes.join(clusters, "vec_id").join(
            F.broadcast(qprobe),
            (F.col("cluster") == F.col("qcluster"))
            & (F.col("vec_id") != F.col("query_id")),
        )

    return _adc_topk(emb, codebook, _query_rows(emb), k, pair)


def cluster_silhouette(emb: DataFrame, k: int = IVF_K) -> DataFrame:
    """Per-vector centroid silhouette over the IVF coarse clustering — the
    cluster-quality dial for everything built on ``ivf_assign``
    (IVF/IVF-PQ ANN, SemDeDup semantic dedup): a(i) = cosine distance to
    the assigned centroid, b(i) = distance to the nearest OTHER centroid,
    s(i) = (b - a) / max(a, b)  (Rousseeuw 1987, centroid simplification
    — exact per row, no cross-row float accumulation, so every silhouette
    is a bit-deterministic double cross-engine).

    Scale shape: ONE corpus scan against the broadcast K-row codebook,
    one bounded groupBy per vector collecting the K (cos, centroid)
    pairs into a sorted array and reading its top two — no shuffle of
    pairwise data, no window over the n*K relation.  Low s flags vectors
    on cluster boundaries (ANN recall risk at nprobe=1) or a K that is
    too coarse/fine."""
    cents = ivf_centroids(emb, k)
    j = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.struct(
            cosine_expr("embedding", "cvec").alias("_c"),
            (-F.col("cent_id")).alias("_nc"),
        ).alias("sc"),
    )
    top2 = j.groupBy("vec_id").agg(
        F.slice(F.sort_array(F.collect_list("sc"), asc=False), 1, 2).alias("t")
    )
    best = F.col("t")[0]["_c"]
    second = F.col("t")[1]["_c"]
    d_a = F.lit(1.0) - best
    d_b = F.lit(1.0) - second
    sil = F.when(F.greatest(d_a, d_b) == 0, F.lit(0.0)).otherwise(
        (best - second) / F.greatest(d_a, d_b)
    )
    return top2.select(
        "vec_id",
        (-F.col("t")[0]["_nc"]).cast("bigint").alias("cluster"),
        sil.alias("sil"),
    )


def power_iteration_top_dir(
    emb: DataFrame, rounds: int = 3, vq_scale: int = 10_000, w_scale: int = 1_000_000
) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding Gram
    matrix X'X via power iteration expressed as pure DataFrame algebra —
    matrix-free: each half-step is one keyed join + one groupBy sum over
    the exploded (vec_id, dim, value) relation, never materializing X'X.

    Determinism contract (the property float linear algebra cannot give):
    components are quantized to integers at ``vq_scale`` once; the iterate
    is renormalized to max-norm ``w_scale`` after every half-step using a
    MAX aggregate (exact int) and a single int/int double divide — every
    aggregate input is an int64, so sums are exact and order-independent
    and the result is bit-identical on any IEEE-754 engine regardless of
    partitioning. Start vector = all-ones (positive), which pins the sign.

    Overflow budget: |vq| <= vq_scale, |s_q|,|w| <= w_scale, so the dim
    aggregate sums n_rows * vq_scale * w_scale <= n * 1e10 — int64-safe to
    ~9e8 rows; beyond that switch the sums to DECIMAL(38,0) (same algebra,
    ANSI mode raises rather than wraps so the boundary is loud).

    Returns (dim BIGINT, loading_ppm BIGINT — the unit-L2 loading in 1e6
    fixed point, half-up): the eigenvector estimate,
    rounded to 6dp. rounds=3 resolves the top direction when the spectral
    gap is moderate — the use case is corpus drift / dominant-axis
    profiling, not full PCA.
    """
    spark = emb.sparkSession
    ex = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        F.col("pos").cast("bigint").alias("dim"),
        F.floor(F.col("v").cast("double") * vq_scale + F.lit(0.5))
        .cast("bigint")
        .alias("vq"),
    )
    ex = ex.persist()
    dims = ex.select("dim").distinct()
    w = dims.select("dim", F.lit(w_scale).cast("bigint").alias("w"))
    for _ in range(rounds):
        s = (
            ex.join(w, "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("vq") * F.col("w")).alias("s_int"))
        )
        ms = s.agg(F.max(F.abs(F.col("s_int"))).alias("m"))
        sq = s.crossJoin(F.broadcast(ms)).select(
            "vec_id",
            F.floor(
                F.col("s_int").cast("double") / F.col("m").cast("double") * w_scale
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("s_q"),
        )
        u = (
            ex.join(sq, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("vq") * F.col("s_q")).alias("u_int"))
        )
        mu = u.agg(F.max(F.abs(F.col("u_int"))).alias("m"))
        w = (
            u.crossJoin(F.broadcast(mu))
            .select(
                "dim",
                F.floor(
                    F.col("u_int").cast("double") / F.col("m").cast("double") * w_scale
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("w"),
            )
            .localCheckpoint()  # 64 rows; truncates the per-round lineage
        )
    nrm = w.agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    # fixed-point ppm loading: divide and sqrt are correctly-rounded IEEE
    # ops (bit-equal cross-engine), then floor(x*1e6+0.5) is exact —
    # unlike ROUND(double, 6), whose final-ulp behavior differs per engine
    out = w.crossJoin(F.broadcast(nrm)).select(
        "dim",
        F.floor(
            F.col("w").cast("double") / F.sqrt(F.col("n2").cast("double"))
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("loading_ppm"),
    )
    ex.unpersist()
    return out
