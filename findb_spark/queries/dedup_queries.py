"""Deduplication query specs (exact, n-gram Jaccard, MinHash-LSH, SimHash)
with fully generated DuckDB oracle SQL mirroring the Spark operators'
hash-exact semantics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from findb_spark.functions.hashing import MERSENNE31, hash48_duck, perm_hash_duck
from findb_spark.ops.dedup import (
    N_BANDS,
    PERM_PARAMS,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    chunk_dup_stats,
    containment_pairs,
    exact_dedup_stats,
    jaccard_pairs,
    jaccard_pairs_prefix,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_banded_pairs,
    simhash_signatures,
)
from findb_spark.ops.text import shingles_duck
from findb_spark.registry import register
from findb_spark.session import load_table

_SH_CTE = f"""
sh AS (
  SELECT doc_id, unnest(list_distinct({shingles_duck('text')})) AS shingle
  FROM documents
)
""".strip()

_SIZES_CTE = "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)"


@register(
    "dedup_exact",
    f"""
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
c AS (SELECT h, COUNT(*) AS cluster_size, MIN(doc_id) AS canonical FROM h GROUP BY h)
SELECT COUNT(*) AS n_distinct_texts,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cluster_size > 1 THEN cluster_size - 1 ELSE 0 END) AS BIGINT)
         AS n_duplicate_docs,
       MAX(cluster_size) AS max_cluster_size
FROM c
""",
    category="dedup",
    description="Exact deduplication profile via text-hash groupBy (hash-shuffle, map-side combine)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_stats(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""
WITH {_SH_CTE},
shh AS (SELECT doc_id, {hash48_duck('shingle')} AS shingle FROM sh),
{_SIZES_CTE},
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2, inter / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
""",
    category="dedup",
    description="Near-dup pairs by exact 3-gram Jaccard, candidates via inverted-index shingle join",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.4)


@register(
    "dedup_jaccard_prefix",
    f"""
WITH {_SH_CTE},
shh AS (SELECT doc_id, {hash48_duck('shingle')} AS shingle FROM sh),
{_SIZES_CTE},
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2, inter / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
""",
    category="dedup",
    description="Prefix-filtered (SSJoin) exact-Jaccard scale path — lossless candidate pruning, identical results to the inverted-index form (same oracle)",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs_prefix(load_table(spark, sf_dir, "documents"), threshold=0.4)


@register(
    "dedup_containment",
    f"""
WITH {_SH_CTE},
shh AS (SELECT doc_id, {hash48_duck('shingle')} AS shingle FROM sh),
{_SIZES_CTE},
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2, inter / sa.sz AS cont1, inter / sb.sz AS cont2
FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
WHERE inter / sa.sz >= 0.5 OR inter / sb.sz >= 0.5
""",
    category="dedup",
    description=(
        "Asymmetric shingle-containment pairs |A∩B|/|A| — catches quote/"
        "subset inclusion that Jaccard misses; same inverted-index "
        "candidate join, asymmetric scores as pure projection"
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


_MH_COLS_SQL = ",\n       ".join(
    f"MIN({perm_hash_duck('h', a, b)}) AS mh{i}" for i, (a, b) in enumerate(PERM_PARAMS)
)

_SIGS_CTE = f"""
hh AS (SELECT doc_id, {hash48_duck('shingle')} AS h FROM sh),
sigs AS (
  SELECT doc_id,
       {_MH_COLS_SQL}
  FROM hh GROUP BY doc_id
)
""".strip()


@register(
    "dedup_minhash_signatures",
    f"""
WITH {_SH_CTE},
{_SIGS_CTE}
SELECT * FROM sigs
""",
    category="dedup",
    description=f"MinHash signatures (k={len(PERM_PARAMS)} permutations over 48-bit shingle hashes, mod 2^31-1={MERSENNE31})",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load_table(spark, sf_dir, "documents"))


_BANDS_SQL = "\nUNION ALL\n".join(
    "SELECT doc_id, {j} AS band_id, {expr} AS bk FROM sigs".format(
        j=j,
        expr=" || '_' || ".join(
            f"CAST(mh{j * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        ),
    )
    for j in range(N_BANDS)
)


@register(
    "dedup_minhash_lsh",
    f"""
WITH {_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
)
SELECT doc1, doc2, inter / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
""",
    category="dedup",
    description=f"MinHash-LSH near-dup detection: {N_BANDS} bands x {ROWS_PER_BAND} rows candidate generation + exact-Jaccard verification",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.4)


_BIT_SUMS_SQL = ",\n       ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(SIMHASH_BITS)
)
_SIG_SUM_SQL = " + ".join(
    f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
    for b in range(SIMHASH_BITS)
)

_SIMHASH_CTE = f"""
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
th AS (SELECT doc_id, {hash48_duck('tok')} AS h FROM toks),
bsums AS (
  SELECT doc_id,
       {_BIT_SUMS_SQL}
  FROM th GROUP BY doc_id
),
simsigs AS (SELECT doc_id, CAST({_SIG_SUM_SQL} AS BIGINT) AS simhash FROM bsums)
""".strip()


@register(
    "dedup_simhash_signatures",
    f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash FROM simsigs
""",
    category="dedup",
    description=f"{SIMHASH_BITS}-bit SimHash signatures from frequency-weighted token hashes",
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    f"""
WITH {_SIMHASH_CTE}
SELECT x.doc_id AS doc1, y.doc_id AS doc2,
       bit_count(xor(x.simhash, y.simhash)) AS hamming
FROM simsigs x JOIN simsigs y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
""",
    category="dedup",
    description=(
        "SimHash near-dup pairs (hamming <= 3, Manku WWW'07 parameters) via "
        "4x12-bit banded blocking — pigeonhole-exact for hamming <= 3, so "
        "identical output to the all-pairs oracle at 2^12-buckets-per-band "
        "join cost instead of O(n^2)"
    ),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_banded_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


@register(
    "dedup_clusters",
    f"""
WITH RECURSIVE {_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc1, doc2
  FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
),
edges AS (SELECT doc1 AS a, doc2 AS b FROM pairs
          UNION ALL SELECT doc2, doc1 FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c USING (doc_id)
""",
    category="dedup",
    description=(
        "Near-dup clustering: connected components (iterative min-label "
        "propagation, ops/graph.py) over MinHash-LSH verified pairs; every "
        "doc gets the min doc_id of its duplicate component (oracle: "
        "recursive-CTE transitive closure)"
    ),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.graph import dedup_cluster_assignment

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.4).select("doc1", "doc2")
    return dedup_cluster_assignment(docs, pairs)


_CLUSTERS_CTES = f"""
{_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc1, doc2
  FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
),
edges AS (SELECT doc1 AS a, doc2 AS b FROM pairs
          UNION ALL SELECT doc2, doc1 FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
""".strip()


@register(
    "dedup_clusters_apply",
    f"""
WITH RECURSIVE {_CLUSTERS_CTES}
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d LEFT JOIN comp c USING (doc_id)
WHERE COALESCE(c.cluster_id, d.doc_id) = d.doc_id
""",
    category="dedup",
    description=(
        "Apply near-dup clustering: keep one canonical doc (min doc_id) per "
        "connected component of MinHash-LSH verified pairs — the end-to-end "
        "corpus dedup a training pipeline ships"
    ),
)
def dedup_clusters_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from findb_spark.ops.graph import dedup_cluster_assignment

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.4).select("doc1", "doc2")
    keep = dedup_cluster_assignment(docs, pairs).where(
        F.col("doc_id") == F.col("cluster_id")
    )
    return docs.join(keep.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "dedup_exact_apply",
    f"""
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
keep AS (SELECT MIN(doc_id) AS doc_id FROM h GROUP BY h)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN keep USING (doc_id)
""",
    category="dedup",
    description="Apply exact dedup: keep the lowest-doc_id canonical per text-hash cluster (semi-join back to the corpus)",
)
def dedup_exact_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.functions.hashing import hash48
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    keep = (
        docs.select("doc_id", F.md5(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "dedup_clusters_star",
    f"""
WITH RECURSIVE {_CLUSTERS_CTES}
SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c USING (doc_id)
""",
    category="dedup",
    description=(
        "Near-dup clustering via alternating large-star/small-star "
        "(Kiveris SoCC'14, ops/graph.py) — O(log^2 n) rounds independent "
        "of graph diameter; identical output (and oracle) to the "
        "min-label-propagation dedup_clusters"
    ),
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from findb_spark.ops.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.4).select("doc1", "doc2")
    comp = connected_components_star(pairs, src="doc1", dst="doc2")
    return docs.join(
        comp.select(F.col("node").alias("doc_id"), "cluster_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
    )


@register(
    "dedup_lsh_incremental",
    f"""
WITH {_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
)
SELECT doc1, doc2, inter / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
  AND (doc1 % 10 = 0 OR doc2 % 10 = 0)
""",
    category="dedup",
    description=(
        "Incremental LSH dedup: verified near-dup pairs touching the new "
        "batch (doc_id % 10 = 0 stands in for today's arrivals) — new-bands "
        "x corpus-bands join, O(|new| x bucket occupancy) per increment "
        "(oracle: full LSH filtered to new-touching pairs, provably equal)"
    ),
)
def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from findb_spark.ops.dedup import minhash_lsh_pairs_incremental

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_incremental(docs, F.col("doc_id") % 10 == 0)


def _pr_iter_cte(i: int) -> str:
    return f""",
r{i} AS (
  SELECT n.node,
         CAST(150000000 + ((85 * COALESCE(SUM(r.r // d.deg), 0)) // 100) AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN edges e ON e.v = n.node
  LEFT JOIN r{i - 1} r ON r.node = e.u
  LEFT JOIN deg d ON d.u = e.u
  GROUP BY n.node
)"""


_PR_SQL = (
    f"""
WITH {_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc1, doc2
  FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
),
sedges AS (
  SELECT DISTINCT d1.source AS u, d2.source AS v
  FROM pairs JOIN documents d1 ON doc1 = d1.doc_id
             JOIN documents d2 ON doc2 = d2.doc_id
  WHERE d1.source <> d2.source
),
edges AS (SELECT u, v FROM sedges UNION SELECT v, u FROM sedges),
deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
nodes AS (SELECT u AS node FROM edges UNION SELECT v AS node FROM edges),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)"""
    + "".join(_pr_iter_cte(i) for i in range(1, 11))
    + """
SELECT node AS source, r AS rank_fx FROM r10
"""
)


@register(
    "source_pagerank",
    _PR_SQL,
    category="dedup",
    description=(
        "Source-authority PageRank (10 exact integer Jacobi sweeps) over "
        "the source-similarity graph (sources sharing >= 1 verified "
        "near-dup pair) — quality-weighted sampling signal; all-integer "
        "arithmetic makes the iteration bit-identical on any engine "
        "(oracle: 10 unrolled SQL iterations)"
    ),
)
def source_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from findb_spark.ops.graph import pagerank_int

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.4).select("doc1", "doc2")
    d1 = docs.select(F.col("doc_id").alias("doc1"), F.col("source").alias("u"))
    d2 = docs.select(F.col("doc_id").alias("doc2"), F.col("source").alias("v"))
    se = (
        pairs.join(d1, "doc1")
        .join(d2, "doc2")
        .where(F.col("u") != F.col("v"))
        .select("u", "v")
    )
    edges = se.union(se.select(F.col("v").alias("u"), F.col("u").alias("v")))
    pr = pagerank_int(edges, src="u", dst="v", iters=10)
    return pr.select(F.col("node").alias("source"), "rank_fx")


_TEXT_PAIRS_CTE = f"""
bands2 AS ({_BANDS_SQL}),
cand2 AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands2 x JOIN bands2 y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter2 AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand2 JOIN hh a ON doc1 = a.doc_id
             JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
),
tp AS (
  SELECT doc1, doc2, inter / (sa.sz + sb.sz - inter) AS jaccard
  FROM inter2 JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
)
""".strip()


def _fused_sql() -> str:
    from findb_spark.ops.vector import IVF_K, cosine_sql

    return f"""
WITH {_SH_CTE},
{_SIGS_CTE},
{_TEXT_PAIRS_CTE},
cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  ORDER BY {hash48_duck('CAST(vec_id AS VARCHAR)')}, vec_id LIMIT {IVF_K}
),
vsc AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         {cosine_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN cents c
),
vasg AS (
  SELECT vec_id, embedding, cent_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
    FROM vsc) WHERE rn = 1
),
vp AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         {cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
  FROM vasg a JOIN vasg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.4
)
SELECT COALESCE(tp.doc1, vp.v1) AS doc1,
       COALESCE(tp.doc2, vp.v2) AS doc2,
       tp.jaccard, vp.cos_sim,
       CASE WHEN tp.doc1 IS NOT NULL AND vp.v1 IS NOT NULL THEN 'both'
            WHEN tp.doc1 IS NOT NULL THEN 'text_only'
            ELSE 'vector_only' END AS verdict
FROM tp FULL OUTER JOIN vp ON tp.doc1 = vp.v1 AND tp.doc2 = vp.v2
"""


@register(
    "dedup_fused",
    _fused_sql(),
    category="dedup",
    description=(
        "Fused dedup verdict: MinHash-LSH text pairs FULL OUTER JOIN "
        "SemDeDup embedding pairs on the (doc1, doc2) key — per pair, "
        "surface-form and semantic signals plus which fired (both / "
        "text_only / vector_only). Composition of two scale-path "
        "operators; the join runs on pair keys, both inputs already "
        "candidate-pruned"
    ),
)
def dedup_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from findb_spark.ops.vector import semantic_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tp = minhash_lsh_pairs(docs, threshold=0.4)
    vp = semantic_dedup_pairs(emb, threshold=0.4).select(
        F.col("v1"), F.col("v2"), F.col("cos_sim")
    )
    j = tp.join(
        vp, (F.col("doc1") == F.col("v1")) & (F.col("doc2") == F.col("v2")), "full_outer"
    )
    verdict = (
        F.when(F.col("doc1").isNotNull() & F.col("v1").isNotNull(), F.lit("both"))
        .when(F.col("doc1").isNotNull(), F.lit("text_only"))
        .otherwise(F.lit("vector_only"))
    )
    return j.select(
        F.coalesce("doc1", "v1").alias("doc1"),
        F.coalesce("doc2", "v2").alias("doc2"),
        "jaccard",
        "cos_sim",
        verdict.alias("verdict"),
    )


@register(
    "dedup_chunk_exact",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
x AS (
  SELECT doc_id, toks,
         unnest(range(CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS i
  FROM t
),
c AS (
  SELECT doc_id,
         array_to_string(toks[(i * 16 + 1):(i * 16 + 16)], ' ') AS chunk
  FROM x
),
d AS (SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM c GROUP BY chunk)
SELECT c.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         / COUNT(*) AS dup_frac
FROM c JOIN d USING (chunk)
GROUP BY c.doc_id
""",
    category="dedup",
    description=(
        "Sub-document chunk-level dedup profile (RefinedWeb "
        "duplicate-line-fraction analog): 16-token windows, per-doc "
        "duplicated-chunk fraction via inverted-index document frequency"
    ),
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'exact' names the JOIN KEY, not an identity contract (round-13
    site note): chunks dedup on exact chunk TEXT here (oracle-exact);
    the documented 100 TB ``xxhash64`` pre-hash turns it into a
    duplication statistic with a ~n²/2⁶⁴ birthday term by the
    ops/dedup.py header policy — NOT one of the md5-width exact-identity
    sites the round-12 hash-width audit rewrote."""
    return chunk_dup_stats(load_table(spark, sf_dir, "documents"), chunk_tokens=16)


@register(
    "dedup_select_canonical",
    f"""
WITH RECURSIVE {_CLUSTERS_CTES},
asg AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
best AS (
  SELECT cluster_id,
         MIN_BY(doc_id, (2097152 - n_chars) * 4294967296 + doc_id)
           AS canonical_doc_id
  FROM asg GROUP BY cluster_id
)
SELECT a.cluster_id,
       b.canonical_doc_id,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN a.doc_id = b.canonical_doc_id
                     THEN a.n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       CAST(SUM(CASE WHEN a.doc_id != b.canonical_doc_id
                     THEN a.n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
FROM asg a JOIN best b USING (cluster_id)
GROUP BY a.cluster_id, b.canonical_doc_id
""",
    category="dedup",
    description=(
        "Quality-aware canonical selection per duplicate cluster: keep "
        "the LONGEST member (ties -> smallest doc_id) instead of the "
        "arbitrary min-id — the representative-picking step curation "
        "pipelines run after clustering, with kept/dropped char "
        "accounting per cluster"
    ),
)
def dedup_select_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment (iterative connected components) -> per-cluster
    argmax by a quality key (n_chars here; swap in any scoring column) ->
    kept/dropped accounting.  One extra map-side-combined aggregate and
    one broadcast-friendly join over the assignment — the canonical pick
    adds no new shuffle class at any corpus size.

    Cross-engine argmax: Spark max_by(doc_id, struct(n_chars, -doc_id))
    == DuckDB min_by over an exact int composite ((2^21 - n_chars) *
    2^32 + doc_id): n_chars < 2^21 and doc_id < 2^32 in the driver data
    (composite < 2^53, no int64 overflow),
    so the composite is collision-free and orders by (longer, then
    smaller id)."""
    from pyspark.sql import functions as F

    from findb_spark.ops.graph import dedup_cluster_assignment

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.4).select("doc1", "doc2")
    asg = dedup_cluster_assignment(docs, pairs).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    # asg (|docs| fixed-width rows) feeds the per-cluster argmax AND the
    # accounting join; without truncation the iterative cluster
    # assignment re-derives per consumer
    asg = asg.localCheckpoint(eager=False)
    best = asg.groupBy("cluster_id").agg(
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_nd")),
        ).alias("canonical_doc_id")
    )
    j = asg.join(best, "cluster_id")
    is_canon = F.col("doc_id") == F.col("canonical_doc_id")
    return j.groupBy("cluster_id", "canonical_doc_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(is_canon, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        F.sum(F.when(~is_canon, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("dropped_chars"),
    )


def _calibration_sql() -> str:
    from findb_spark.ops.dedup import N_PERM

    match = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(N_PERM)
    )

    def fxm(expr: str) -> str:
        return (
            f"CAST(SUM(CAST(FLOOR(({expr}) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)"
            f" / 1000000.0 / COUNT(*)"
        )

    return f"""
WITH {_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
),
vp AS (
  SELECT doc1, doc2, inter / (sa.sz + sb.sz - inter) AS jaccard
  FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
),
m AS (
  SELECT p.jaccard, ({match}) / {N_PERM}.0 AS est
  FROM vp p JOIN sigs a ON p.doc1 = a.doc_id JOIN sigs b ON p.doc2 = b.doc_id
)
SELECT COUNT(*) AS n_pairs,
       {fxm('est')} AS mean_est,
       {fxm('jaccard')} AS mean_exact,
       {fxm('abs(est - jaccard)')} AS mean_abs_err
FROM m
"""


@register(
    "dedup_minhash_calibration",
    _calibration_sql(),
    category="dedup",
    description=(
        "Sketch calibration: MinHash-estimated Jaccard (matching signature "
        "fraction, k=16) vs the exact value over every verified LSH pair — "
        "the estimator-quality report that justifies skipping exact "
        "verification at corpus scale; fixed-point means, deterministic"
    ),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the sketch?  Per verified pair: estimate = fraction of
    equal signature components (E[est] = true Jaccard, Broder '97), error
    = |est - exact|.  The corpus-level means quantify when a pipeline can
    drop the exact-verify join and trust the sketch (err ~ 1/sqrt(k)).
    One broadcast-size join of the pair list back to the signature table
    — adds no new shuffle class over minhash_lsh_pairs itself."""
    from pyspark.sql import functions as F

    from findb_spark.ops.dedup import N_PERM, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.4)
    sigs = minhash_signatures(docs)
    a = sigs.select(
        F.col("doc_id").alias("doc1"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_PERM)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc2"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_PERM)],
    )
    matches = None
    for i in range(N_PERM):
        t = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        matches = t if matches is None else matches + t
    m = (
        pairs.join(a, "doc1")
        .join(b, "doc2")
        .select("jaccard", (matches / float(N_PERM)).alias("est"))
    )

    def fxm(c, alias):
        return (
            F.sum(F.floor(c * 1000000.0 + F.lit(0.5))).cast("double")
            / 1000000.0
            / F.count("*")
        ).alias(alias)

    return m.agg(
        F.count("*").alias("n_pairs"),
        fxm(F.col("est"), "mean_est"),
        fxm(F.col("jaccard"), "mean_exact"),
        fxm(F.abs(F.col("est") - F.col("jaccard")), "mean_abs_err"),
    )


@register(
    "dedup_pair_triangles",
    f"""
WITH {_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
),
e AS (
  SELECT doc1 AS a, doc2 AS b
  FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
node_t AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles,
       (SELECT CAST(COALESCE(MAX(n_triangles), 0) AS BIGINT) FROM node_t)
         AS max_node_triangles
""",
    category="dedup",
    description=(
        "Triangle counting over the verified near-dup pair graph "
        "(ordered 3-way edge self-join a<b<c — each triangle counted "
        "once): duplicate-community density beyond what connected "
        "components expose; dense triangle neighborhoods mark template "
        "families vs chains of marginal pairs"
    ),
)
def dedup_pair_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics on the duplicate graph: triangles via DEGREE
    orientation (`ops.graph.triangles_oriented`, Suri-Vassilvitskii
    WWW'11) — each edge oriented low-(degree,id) -> high, wedges
    enumerated at the unique minimum of every triangle, closed against
    the oriented edge set.  Per-key join fan-out is the oriented
    out-degree (O(sqrt(m)) on any graph), so a low-id hub in a skewed
    near-dup graph cannot concentrate one join task the way an
    id-ordered 3-way self-join would.  Output: edge count, triangle
    count, and the max per-node triangle participation."""
    from pyspark.sql import functions as F

    from findb_spark.ops.graph import triangles_oriented

    docs = load_table(spark, sf_dir, "documents")
    e = minhash_lsh_pairs(docs, threshold=0.4).select(
        F.col("doc1").alias("a"), F.col("doc2").alias("b")
    )
    tri = triangles_oriented(e)
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        e.agg(F.count("*").cast("bigint").alias("n_edges"))
        .crossJoin(tri.agg(F.count("*").cast("bigint").alias("n_triangles")))
        .crossJoin(
            nodes.agg(
                F.coalesce(F.max("n_triangles"), F.lit(0))
                .cast("bigint")
                .alias("max_node_triangles")
            )
        )
    )


@register(
    "dedup_substring_runs",
    f"""
WITH t AS (SELECT doc_id, {shingles_duck('text', 5)} AS sh FROM documents),
x AS (
  SELECT doc_id, sh, unnest(range(1, len(sh) + 1)) AS pos
  FROM t WHERE len(sh) >= 1
),
ph AS (SELECT doc_id, pos, {hash48_duck('sh[pos]')} AS h FROM x),
occ AS (SELECT h, COUNT(*) AS occ FROM ph GROUP BY h),
f AS (SELECT doc_id, pos, (occ >= 2) AS dup FROM ph JOIN occ USING (h)),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
  FROM f GROUP BY doc_id
),
runs AS (
  SELECT doc_id, MAX(run_len) AS max_run FROM (
    SELECT doc_id, g, COUNT(*) AS run_len FROM (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM f WHERE dup
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT d.doc_id, d.n_windows, d.n_dup_windows,
       CAST(d.n_dup_windows AS DOUBLE) / d.n_windows AS dup_frac,
       COALESCE(r.max_run, 0) AS max_run
FROM per_doc d LEFT JOIN runs r USING (doc_id)
""",
    category="dedup",
    description=(
        "Exact-substring dedup profile at 5-token-window granularity "
        "(Lee et al. arXiv:2107.06499 reformulated distributed): per doc, "
        "the fraction of token windows duplicated anywhere in the corpus "
        "and the longest consecutive duplicated run — the verbatim shared "
        "span length substring dedup would cut; suffix-array matching "
        "becomes a hash-occurrence join (explode + 8-byte-key count + "
        "join back), linear in corpus tokens with no pairwise expansion"
    ),
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.dedup import substring_run_stats

    return substring_run_stats(load_table(spark, sf_dir, "documents"), n=5)


@register(
    "dedup_cdc_chunks",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
x AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM t),
tk AS (SELECT doc_id, pos, toks[pos] AS tok FROM x),
fl AS (
  SELECT doc_id, pos, tok,
         CASE WHEN {hash48_duck('tok')} % 16 = 0 THEN 1 ELSE 0 END AS b
  FROM tk
),
ch AS (
  SELECT doc_id, pos, tok,
         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS chunk_id
  FROM fl
),
agg AS (
  SELECT doc_id, chunk_id,
         string_agg(tok, ' ' ORDER BY pos) AS chunk,
         COUNT(*) AS n_toks
  FROM ch GROUP BY doc_id, chunk_id
),
dfreq AS (SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM agg GROUP BY chunk)
SELECT a.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS dup_frac,
       MAX(a.n_toks) AS max_chunk_tokens
FROM agg a JOIN dfreq d USING (chunk)
GROUP BY a.doc_id
""",
    category="dedup",
    description=(
        "Content-defined chunking dedup profile (FastCDC/LBFS at token "
        "granularity): chunk boundaries fall after tokens whose hash is "
        "0 mod 16, so an insertion re-chunks only its own chunk and every "
        "other chunk's dedup key survives — the alignment-robust "
        "complement to the fixed-window chunk profile; one explode + one "
        "per-doc running sum + chunk-key document-frequency join, linear, "
        "no pairwise form"
    ),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.dedup import cdc_chunk_stats

    return cdc_chunk_stats(load_table(spark, sf_dir, "documents"), gear_mod=16)


@register(
    "graph_clustering_coeff",
    f"""
WITH {_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
),
e AS (
  SELECT doc1 AS a, doc2 AS b
  FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
node_t AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
cc AS (
  SELECT deg.node, deg.d,
         CASE WHEN deg.d >= 2
              THEN CAST(2 * COALESCE(node_t.t, 0) AS DOUBLE)
                   / (deg.d * (deg.d - 1))
              ELSE CAST(0 AS DOUBLE) END AS coeff
  FROM deg LEFT JOIN node_t ON deg.node = node_t.node
)
SELECT CAST(LEAST(FLOOR(coeff * 10), 9) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CAST(FLOOR(coeff * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000 / COUNT(*) AS avg_coeff
FROM cc GROUP BY bucket
""",
    category="dedup",
    description=(
        "Local clustering coefficient over the verified near-dup pair "
        "graph, summarized as a 10-bucket histogram with per-bucket mean: "
        "2*triangles(v)/(deg(v)*(deg(v)-1)) separates clique-like "
        "template families (coeff ~1) from chain/star neighborhoods "
        "(coeff ~0) that connected components cannot distinguish"
    ),
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the degree-oriented triangle enumeration
    (ops.graph.triangles_oriented — per-key fan-out bounded by oriented
    out-degree) with the degree relation; the triangle SET is
    orientation-independent, so node participation counts match the
    oracle's id-ordered enumeration exactly.  Coefficients are a single
    double divide over exact integer counts; histogram + fxp bucket
    means keep the output bounded at any graph size."""
    from pyspark.sql import functions as F

    from findb_spark.ops.graph import triangles_oriented

    docs = load_table(spark, sf_dir, "documents")
    e = minhash_lsh_pairs(docs, threshold=0.4).select(
        F.col("doc1").alias("a"), F.col("doc2").alias("b")
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    tri = triangles_oriented(e)
    node_t = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    cc = deg.join(node_t, "node", "left").select(
        F.expr(
            "CASE WHEN d >= 2"
            " THEN CAST(2 * COALESCE(t, 0) AS DOUBLE) / (d * (d - 1))"
            " ELSE CAST(0 AS DOUBLE) END"
        ).alias("coeff")
    )
    return cc.groupBy(
        F.least(F.floor(F.col("coeff") * 10), F.lit(9)).cast("int").alias("bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        (
            F.sum(F.floor(F.col("coeff") * 1000000 + F.lit(0.5)).cast("bigint"))
            .cast("double")
            / 1000000
            / F.count("*")
        ).alias("avg_coeff"),
    )


@register(
    "graph_source_modularity",
    f"""
WITH {_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
),
e AS (
  SELECT doc1 AS a, doc2 AS b
  FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
),
es AS (
  SELECT da.source AS sa, db.source AS sb
  FROM e JOIN documents da ON e.a = da.doc_id
         JOIN documents db ON e.b = db.doc_id
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM es),
intra AS (
  SELECT sa AS source, CAST(COUNT(*) AS BIGINT) AS intra_edges
  FROM es WHERE sa = sb GROUP BY sa
),
degs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS degree_sum FROM (
    SELECT sa AS source FROM es UNION ALL SELECT sb FROM es
  ) GROUP BY source
),
per AS (
  SELECT d.source, COALESCE(i.intra_edges, 0) AS intra_edges, d.degree_sum
  FROM degs d LEFT JOIN intra i ON d.source = i.source
),
q AS (
  SELECT CAST(SUM(per.intra_edges) AS BIGINT) AS sum_intra,
         SUM(CAST(per.degree_sum AS DECIMAL(18,0))
             * CAST(per.degree_sum AS DECIMAL(18,0))) AS sum_d2,
         MAX(m.m) AS m
  FROM per CROSS JOIN m
)
SELECT per.source, per.intra_edges, per.degree_sum,
       CAST(q.sum_intra AS DOUBLE) / q.m
         - CAST(q.sum_d2 AS DOUBLE) / (CAST(q.m AS DOUBLE) * q.m * 4)
         AS q_modularity
FROM per CROSS JOIN q
""",
    category="dedup",
    description=(
        "Newman modularity of the near-dup pair graph against the doc "
        "SOURCE partition: per-source intra-edge counts and degree sums "
        "plus the global Q = sum(e_s/m - (D_s/2m)^2) — answers 'do "
        "near-duplicates concentrate within sources?' in one exact "
        "integer statistic (Q ~ 0: duplication is cross-source "
        "contamination; Q near 1: per-source template families)"
    ),
)
def graph_source_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity without communities-by-search: the partition is a doc
    ATTRIBUTE, so Q needs only the verified pair relation joined twice
    to the source map, one union for degrees, and exact order-
    independent sums.  Volume-unbounded moments made overflow-safe
    (round-12, same class as events_burstiness): the old single-sum
    numerator sum(4*m*e_s - D_s^2) is quadratic in the edge count — 4*m*
    intra trips ANSI int64 overflow near 1.5e9 near-dup pairs, a
    realistic volume for template-heavy corpora at 100 TB.  Restructured
    via Q = sum(e_s)/m - sum(D_s^2)/(4m^2): sum(e_s) is int64-safe
    (<= m); sum(D_s^2) accumulates in exact DECIMAL (18,0 inputs ->
    37,0 products -> 38,0 sum — order-independent unlike a double sum,
    safe past 1e15 edges); the final scalar tree is written identically
    on both engines, so values < 2^53 (every testable SF) stay
    bit-exact.  Complements dedup_cross_source (which lists the
    offending pairs) with the canonical summary statistic."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    e = (
        minhash_lsh_pairs(docs, threshold=0.4)
        .select("doc1", "doc2")
        .join(src.withColumnRenamed("doc_id", "doc1").withColumnRenamed("source", "sa"), "doc1")
        .join(src.withColumnRenamed("doc_id", "doc2").withColumnRenamed("source", "sb"), "doc2")
    )
    # e (the source-labeled pair relation, |pairs| rows) feeds the edge
    # count, the intra-edge aggregate AND both halves of the degree
    # union; without truncation each consumer re-joins the source map
    # (a fresh documents scan per reference — the plan audit counted 15)
    e = e.localCheckpoint(eager=False)
    m = e.agg(F.count("*").cast("bigint").alias("m"))
    intra = (
        e.where("sa = sb")
        .groupBy(F.col("sa").alias("source"))
        .agg(F.count("*").cast("bigint").alias("intra_edges"))
    )
    degs = (
        e.select(F.col("sa").alias("source"))
        .unionAll(e.select(F.col("sb").alias("source")))
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("degree_sum"))
    )
    per = degs.join(intra, "source", "left").select(
        "source",
        F.coalesce(F.col("intra_edges"), F.lit(0)).cast("bigint").alias("intra_edges"),
        "degree_sum",
    )
    # per (|sources| rows) feeds the Q numerator and the final select
    per = per.localCheckpoint(eager=False)
    return _modularity_q(per, m)


def _modularity_q(per: DataFrame, m: DataFrame) -> DataFrame:
    """The Q aggregation over the (source, intra_edges, degree_sum)
    relation plus the 1-row edge-count aggregate — the production
    expression path, separated as the overflow-pin seam: the synthetic
    trigger (tests/test_scale_defect_pins.py) feeds it edge counts at
    the OLD single-sum form's int64 overflow scale, which real test-SF
    corpora cannot reach (a 1.5e9-pair relation would be needed)."""
    from pyspark.sql import functions as F

    q = per.crossJoin(F.broadcast(m)).agg(
        F.sum("intra_edges").cast("bigint").alias("sum_intra"),
        F.sum(
            F.col("degree_sum").cast("decimal(18,0)")
            * F.col("degree_sum").cast("decimal(18,0)")
        ).alias("sum_d2"),
        F.max("m").alias("m"),
    )
    return per.crossJoin(F.broadcast(q)).select(
        "source",
        "intra_edges",
        "degree_sum",
        F.expr(
            "CAST(sum_intra AS DOUBLE) / m"
            " - CAST(sum_d2 AS DOUBLE) / (CAST(m AS DOUBLE) * m * 4)"
        ).alias("q_modularity"),
    )


@register(
    "dedup_split_leakage",
    f"""
WITH {_SH_CTE},
{_SIGS_CTE},
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id
),
{_SIZES_CTE},
inter AS (
  SELECT doc1, doc2, COUNT(*) AS inter
  FROM cand JOIN hh a ON doc1 = a.doc_id
            JOIN hh b ON doc2 = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
),
e AS (
  SELECT doc1, doc2
  FROM inter JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
),
sp AS (
  SELECT doc_id,
         CASE WHEN {hash48_duck('text')} % 10 < 8 THEN 'train' ELSE 'eval' END
           AS split
  FROM documents
)
SELECT CASE WHEN s1.split = s2.split THEN s1.split
            ELSE 'leak' END AS pair_class,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM e JOIN sp s1 ON e.doc1 = s1.doc_id
       JOIN sp s2 ON e.doc2 = s2.doc_id
GROUP BY pair_class
""",
    category="dedup",
    description=(
        "Train/eval split-leakage audit: the deterministic hash split "
        "(text_hash_split's gate) crossed with LSH-verified near-dup "
        "pairs — pairs straddling the split boundary ('leak') are "
        "eval-set contamination that inflates benchmark scores; the "
        "counts quantify it before training ever starts"
    ),
)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QA gate every pretraining pipeline needs between dedup and
    split: near-dup detection (banded LSH, exact Jaccard verify) and
    split assignment (pushdown-friendly hash gate) compose into one
    3-row answer — train-train / eval-eval / LEAK pair counts.  The fix
    for leaks is split-by-cluster (dedup_clusters' component id as the
    split key), which this audit then verifies as leak-free."""
    from pyspark.sql import functions as F

    from findb_spark.functions.hashing import hash48

    docs = load_table(spark, sf_dir, "documents")
    e = minhash_lsh_pairs(docs, threshold=0.4).select("doc1", "doc2")
    sp = docs.select(
        "doc_id",
        F.when(hash48(F.col("text")) % 10 < 8, "train")
        .otherwise("eval")
        .alias("split"),
    )
    j = (
        e.join(
            sp.select(F.col("doc_id").alias("doc1"), F.col("split").alias("s1")),
            "doc1",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc2"), F.col("split").alias("s2")),
            "doc2",
        )
    )
    return j.groupBy(
        F.when(F.col("s1") == F.col("s2"), F.col("s1"))
        .otherwise("leak")
        .alias("pair_class")
    ).agg(F.count("*").cast("bigint").alias("n_pairs"))
