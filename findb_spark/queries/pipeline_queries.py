"""Training-data-pipeline query specs beyond the round-1 surface:
corpus-level boilerplate span detection, weighted sampling, and a
recursive-CTE hierarchy rollup (Spark 4 WITH RECURSIVE front end).

Reference capability these extend: the reference engine has no text or
sampling surface at all (SURVEY §2.2); these are BASELINE.json-mandate
operators for LLM corpus curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from findb_spark.functions.hashing import hash48, hash48_duck
from findb_spark.ops.text import shingles_duck, shingles_of
from findb_spark.plans.broadcast import never_broadcast
from findb_spark.registry import register
from findb_spark.session import load_table

_SPAN_N = 5  # tokens per span
_BOILER_DF = 3  # span is boilerplate when it appears in >= this many docs


@register(
    "text_boilerplate_spans",
    f"""
WITH t AS (SELECT doc_id, list_distinct({shingles_duck('text', _SPAN_N)}) AS sh
           FROM documents),
e AS (SELECT doc_id, {hash48_duck('s')} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM t)),
df AS (SELECT h, COUNT(*) AS df FROM e GROUP BY h),
b AS (SELECT h FROM df WHERE df >= {_BOILER_DF}),
per AS (
  SELECT e.doc_id, COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler
  FROM e LEFT JOIN b ON e.h = b.h GROUP BY e.doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_spans, 0) AS n_spans,
       COALESCE(per.n_boiler, 0) AS n_boiler,
       CASE WHEN COALESCE(per.n_spans, 0) = 0 THEN 0.0
            ELSE CAST(per.n_boiler AS DOUBLE) / per.n_spans END AS boiler_ratio
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
""",
    category="text",
    description=(
        "Corpus-level boilerplate detection: distinct 5-token spans shared by "
        ">=3 documents (the C4/CCNet duplicated-line removal analog), per-doc "
        "boilerplate span fraction"
    ),
)
def text_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate span scan, the C4 'remove lines seen in multiple docs'
    pass re-expressed for span-granular corpora.

    Scale design (100 TB): the span explode is a pure map (no shuffle);
    the doc-frequency count is ONE hash aggregation with map-side combine
    on 48-bit hashes (16 B/key, not the span text). The boilerplate set —
    spans with df >= threshold — is USUALLY tiny by Zipf, but that is a
    heuristic, not a bound: a mass-duplicated corpus (exactly what a
    dedup pipeline ingests) can make it corpus-proportional, so it joins
    back via the never_broadcast merge pin rather than a forced
    broadcast (the 256x Generate-mis-estimate class — an aggregate over
    an explode carries no honest size estimate). Only per-doc stats
    (3 numbers/doc) reach the final (doc-keyed, perfectly parallel)
    aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    spans = (
        docs.select("doc_id", F.split("text", " ").alias("_t"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles_of(F.col("_t"), _SPAN_N))).alias("s"),
        )
        .select("doc_id", hash48(F.col("s")).alias("h"))
    )
    dfreq = spans.groupBy("h").agg(F.count("*").alias("df"))
    boiler = dfreq.where(F.col("df") >= _BOILER_DF).select("h", F.lit(1).alias("_b"))
    per = (
        spans.join(never_broadcast(boiler), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.col("_b"), F.lit(0))).alias("n_boiler"),
        )
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
        F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.col("n_boiler").cast("double") / F.col("n_spans"))
        .alias("boiler_ratio"),
    )


_SAMPLE_K = 100
_U48 = float((1 << 48) + 1)


@register(
    "sample_weighted",
    f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         ln(({hash48_duck("CAST(doc_id AS VARCHAR)")} + 1) / {_U48}) / n_chars
           AS k
  FROM documents
)
SELECT doc_id, lang, n_chars
FROM keyed ORDER BY k DESC, doc_id LIMIT {_SAMPLE_K}
""",
    category="text",
    description=(
        "Weighted sampling without replacement (Efraimidis-Spirakis A-ES "
        "exponential keys, weight = n_chars) — deterministic hash-derived "
        "uniforms, reproducible on any engine"
    ),
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sample: top-k documents by the A-ES key
    ``ln(u)/w`` (equivalent to ``u^(1/w)``), with the uniform ``u``
    derived from ``hash48(doc_id)`` instead of an RNG so the sample is
    reproducible across engines, reruns, and partitionings.

    Scale design: the key is a pure per-row expression (codegen, no
    Python); top-k is Spark's TakeOrderedAndProject — per-partition
    heaps, only k rows per partition cross the wire, no global sort.
    The float key never appears in the checked output (only the selected
    rows do), so cross-engine ln() ULP differences cannot flip the hash
    unless two keys collide within ~1e-15 — impossible for the hash-
    separated uniforms here.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (hash48(F.col("doc_id").cast("string")) + 1) / F.lit(_U48)
    key = F.ln(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "lang", "n_chars", key.alias("k"))
        .orderBy(F.desc("k"), "doc_id")
        .limit(_SAMPLE_K)
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "sql_recursive_rollup",
    """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS node, p_partkey AS pk,
         CAST(p_retailprice AS DECIMAL(18,2)) AS price
  FROM part
  UNION ALL
  SELECT node // 10, pk, price FROM anc WHERE node > 0
)
SELECT node, COUNT(*) AS n_desc, CAST(SUM(price) AS DOUBLE) AS subtree_retail
FROM anc WHERE node < 100 GROUP BY node
""",
    category="sql",
    description=(
        "Recursive CTE (SQL:1999 WITH RECURSIVE, Spark 4 front end): "
        "hierarchy rollup over the implicit decimal part-key tree "
        "(parent = key/10) — descendant counts and subtree retail totals"
    ),
)
def sql_recursive_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative/hierarchical SQL front-end coverage: Spark 4.1 executes
    WITH RECURSIVE natively (UnionLoop iterations under AQE), which the
    reference engine (no SQL at all — SURVEY §4.1) cannot express.

    The part 'category tree' is implicit: node k's parent is k div 10,
    so the closure walk is bounded by the key's decimal depth (~6
    levels). Money goes through DECIMAL(18,2) per the registry parity
    rules; the final cast to DOUBLE matches the oracle's type.
    """
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_rcte_v")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT p_partkey AS node, p_partkey AS pk,
                 CAST(p_retailprice AS DECIMAL(18,2)) AS price
          FROM part_rcte_v
          UNION ALL
          SELECT node DIV 10, pk, price FROM anc WHERE node > 0
        )
        SELECT node, COUNT(*) AS n_desc,
               CAST(SUM(price) AS DOUBLE) AS subtree_retail
        FROM anc WHERE node < 100 GROUP BY node
        """
    )


@register(
    "pipeline_corpus_curation",
    f"""
WITH toks AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
kept AS (SELECT doc_id, lang, n_tokens FROM toks WHERE n_tokens >= 20),
sh AS (
  SELECT doc_id, unnest(list_distinct({shingles_duck('text')})) AS shingle
  FROM documents
),
shh AS (SELECT doc_id, {hash48_duck('shingle')} AS shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dup2 AS (
  SELECT DISTINCT doc2 FROM inter
  JOIN sizes sa ON doc1 = sa.doc_id JOIN sizes sb ON doc2 = sb.doc_id
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.4
),
survivors AS (
  SELECT k.* FROM kept k WHERE NOT EXISTS (SELECT 1 FROM dup2 d WHERE d.doc2 = k.doc_id)
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM survivors GROUP BY lang
""",
    category="pipeline",
    description=(
        "End-to-end corpus curation in ONE declarative plan: length/quality "
        "gate -> greedy near-dup removal (drop the higher-id doc of every "
        "verified Jaccard pair, keeping the canonical lower id) -> "
        "per-language doc/token budget. The composition a training-data "
        "pipeline runs nightly; every stage is an already-verified operator"
    ),
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy near-dup removal note: dropping doc2 of every pair is the
    standard 'keep first seen' policy (canonical = smallest doc_id). The
    transitive-component variant is `dedup_clusters_apply`; this one
    composes without an iterative step, so the whole pipeline stays a
    single Catalyst plan — filter and dedup fuse into the same shuffles
    the standalone operators use."""
    from findb_spark.ops.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    kept = toks.where(F.col("n_tokens") >= 20)
    dup2 = jaccard_pairs(docs, threshold=0.4).select("doc2").distinct()
    survivors = kept.join(dup2, kept.doc_id == dup2.doc2, "left_anti")
    return survivors.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@register(
    "corpus_mixture_weights",
    """
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             COUNT(*) AS n_sources FROM s)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
       CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens) AS mixture_weight
FROM s CROSS JOIN t
""",
    category="pipeline",
    description=(
        "Domain-mixture rebalancing weights: per-source token share and "
        "the sampling weight that equalizes token contribution across "
        "sources (the DoReMi/Pile-style mixture-tuning primitive) — two "
        "tiny aggregates + a broadcast of the 1-row total"
    ),
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token counts -> sampling weight = uniform_target /
    actual_share.  Exact ints + single double divisions keep cross-engine
    hash parity; the totals row is a broadcast crossJoin (1 row).  At 100
    TB this is one map-side-combined aggregate over the corpus — the
    cheapest possible statistic that drives mixture-weighted sampling
    (pair with sample_weighted's deterministic A-ES gates)."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("n_tokens"),
    )
    t = s.agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total_tokens")).alias("token_share"),
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_sources") * F.col("n_tokens"))
        ).alias("mixture_weight"),
    )


@register(
    "pipeline_pretrain_mix",
    f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         {hash48_duck("CAST(doc_id AS VARCHAR) || ':' || source")} AS gate_h
  FROM documents
),
s AS (
  SELECT source, CAST(SUM(tokens) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source
),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             COUNT(*) AS n_sources FROM s),
-- per-source keep probability (basis points): uniform-token target,
-- capped at 1.0 — exact int floor of a single-division double
w AS (
  SELECT source,
         LEAST(CAST(10000 AS BIGINT),
               CAST(FLOOR(10000.0 * (CAST(total_tokens AS DOUBLE)
                                     / (n_sources * n_tokens))) AS BIGINT)) AS p_bp
  FROM s CROSS JOIN t
),
kept AS (
  SELECT tok.doc_id, tok.source, tok.tokens
  FROM tok JOIN w USING (source)
  WHERE tok.gate_h % 10000 < w.p_bp
),
c AS (
  SELECT source, doc_id, tokens,
         {hash48_duck("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         SUM(tokens) OVER (PARTITION BY source,
                           {hash48_duck("CAST(doc_id AS VARCHAR)")} % 8
                           ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM kept
),
p AS (
  SELECT source, shard,
         CAST((cum - tokens) // 2048 AS BIGINT) AS pack_id,
         tokens
  FROM c
)
SELECT source,
       COUNT(*) AS n_docs_kept,
       CAST(SUM(tokens) AS BIGINT) AS tokens_kept,
       COUNT(DISTINCT (shard, pack_id)) AS n_packs
FROM p GROUP BY source
""",
    category="pipeline",
    description=(
        "Pretraining batch-mix pipeline in ONE Catalyst plan: per-source "
        "mixture weights (uniform-token target) -> deterministic hash-gate "
        "downsampling at the computed per-source rate -> sharded "
        "context-window sequence packing of the survivors — the "
        "curate-mix-pack loop a training-data job runs nightly"
    ),
)
def pipeline_pretrain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weights drive SAMPLING here (not just reporting): keep
    probability per source = min(1, total/(n_sources*tokens_s)),
    quantized to basis points and applied as a content-hash gate — fully
    deterministic, reproducible on any engine, no RNG.  Survivors pack
    into 2048-token context windows per (source, shard) running offset.

    Scale shape: two corpus scans (token count + gate, then the packing
    window), one broadcast of the per-source weight table, windows
    partitioned by (source, shard) so no global ordering bottleneck
    exists at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("tokens"),
        hash48(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
        ).alias("gate_h"),
    )
    # tok feeds the per-source totals (twice, via s -> t and s -> w) AND
    # the keep-gate join; without truncation the text-splitting token
    # count runs three times.  tok is 4 fixed-width columns per doc — no
    # text payload — so pinning it is far cheaper than one rescan.
    tok = tok.localCheckpoint(eager=False)
    s = tok.groupBy("source").agg(F.sum("tokens").cast("bigint").alias("n_tokens"))
    t = s.agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    w = s.crossJoin(F.broadcast(t)).select(
        "source",
        F.least(
            F.lit(10000).cast("bigint"),
            F.floor(
                10000.0
                * (
                    F.col("total_tokens").cast("double")
                    / (F.col("n_sources") * F.col("n_tokens"))
                )
            ).cast("bigint"),
        ).alias("p_bp"),
    )
    kept = tok.join(F.broadcast(w), "source").where(
        F.col("gate_h") % 10000 < F.col("p_bp")
    )
    shard = hash48(F.col("doc_id").cast("string")) % 8
    win = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = kept.withColumn("shard", shard).withColumn("cum", F.sum("tokens").over(win))
    p = c.select(
        "source",
        "shard",
        F.floor((F.col("cum") - F.col("tokens")) / 2048).alias("pack_id"),
        "tokens",
    )
    return p.groupBy("source").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("tokens").cast("bigint").alias("tokens_kept"),
        F.countDistinct("shard", "pack_id").alias("n_packs"),
    )
