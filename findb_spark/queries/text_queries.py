"""Text-analysis query specs over ``documents`` (BASELINE.json LLM-pipeline
mandate: token counting, quality scoring, language ID, fingerprinting)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from findb_spark.functions.hashing import hash48_duck
from findb_spark.ops.text import (
    STOPWORDS,
    LANG_MARKERS,
    fingerprint,
    language_id,
    quality_score,
    regex_token_count,
    shingles_duck,
    token_stats,
)
from findb_spark.plans.broadcast import never_broadcast
from findb_spark.registry import register
from findb_spark.session import load_table, local_relation_df

_TOKS = "string_split(text, ' ')"


@register(
    "text_token_stats",
    f"""
SELECT doc_id,
       len({_TOKS}) AS n_tokens,
       len(list_distinct({_TOKS})) AS n_unique_tokens,
       (length(text) - (len({_TOKS}) - 1)) / len({_TOKS}) AS avg_token_len,
       len(list_distinct({_TOKS})) / len({_TOKS}) AS type_token_ratio
FROM documents
""",
    category="text",
    description="Per-document token statistics (JVM-side split/array ops, no UDFs)",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"))


_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)


@register(
    "text_quality",
    f"""
SELECT doc_id, lang,
       len({_TOKS}) AS n_tokens,
       len(list_filter({_TOKS}, t -> t IN ({_STOP_LIST}))) / len({_TOKS}) AS stopword_ratio,
       len(list_distinct({_TOKS})) / len({_TOKS}) AS uniq_ratio,
       CASE WHEN len({_TOKS}) < 20 THEN 'short'
            WHEN len({_TOKS}) <= 80 THEN 'medium'
            ELSE 'long' END AS len_band
FROM documents
""",
    category="text",
    description="Heuristic document quality features (stopword/uniqueness ratios, length bands)",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"))


def _marker_score(lang: str) -> str:
    lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({_TOKS}, t -> t IN ({lst})))"


@register(
    "text_language_id",
    f"""
SELECT doc_id, lang,
       {_marker_score('en')} AS score_en,
       {_marker_score('fr')} AS score_fr,
       {_marker_score('de')} AS score_de,
       CASE WHEN {_marker_score('en')} >= {_marker_score('fr')}
             AND {_marker_score('en')} >= {_marker_score('de')} THEN 'en'
            WHEN {_marker_score('fr')} >= {_marker_score('de')} THEN 'fr'
            ELSE 'de' END AS pred_lang
FROM documents
""",
    category="text",
    description="Marker-word language identification with deterministic argmax",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_subtoken_count",
    """
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subtokens,
       length(text) AS n_chars
FROM documents
""",
    category="text",
    description="Regex-based sub-token (BPE-ish) counting",
)
def text_subtoken_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return regex_token_count(load_table(spark, sf_dir, "documents"))


@register(
    "text_hash_split",
    f"""
WITH s AS (
  SELECT doc_id, n_chars,
         CASE WHEN {hash48_duck('text')} % 10 < 8 THEN 'train'
              WHEN {hash48_duck('text')} % 10 = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split
""",
    category="text",
    description="Deterministic hash-based train/val/test split (reproducible sampling, no RNG)",
)
def text_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.functions.hashing import hash48

    docs = load_table(spark, sf_dir, "documents")
    h = hash48(F.col("text")) % 10
    split = (
        F.when(h < 8, "train").when(h == 8, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@register(
    "text_levenshtein",
    """
SELECT a.p_partkey AS p1, b.p_partkey AS p2,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE a.p_size >= 45 AND b.p_size >= 45
  AND levenshtein(a.p_name, b.p_name) <= 20
""",
    category="text",
    description="String-similarity join (edit distance within brand blocks)",
)
def text_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") >= 45)
    a = part.select(
        F.col("p_partkey").alias("p1"), F.col("p_brand").alias("b1"), F.col("p_name").alias("n1")
    )
    b = part.select(
        F.col("p_partkey").alias("p2"), F.col("p_brand").alias("b2"), F.col("p_name").alias("n2")
    )
    return (
        a.join(b, (F.col("b1") == F.col("b2")) & (F.col("p1") < F.col("p2")))
        .select("p1", "p2", F.levenshtein("n1", "n2").alias("edit_dist"))
        .where(F.col("edit_dist") <= 20)
    )


@register(
    "text_fingerprint",
    f"""
SELECT doc_id,
       {hash48_duck('text')} AS text_hash,
       list_min(list_transform({shingles_duck('text')}, s ->
         CAST(list_sum([ (strpos('0123456789abcdef', md5(s)[i:i]) - 1)
                         * (16.0 ** (12 - i)) for i in range(1, 13) ]) AS BIGINT)
       )) AS min_shingle_hash
FROM documents
""",
    category="text",
    description="Document fingerprinting: whole-text hash48 + 1-permutation MinHash over 3-gram shingles",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"))


@register(
    "text_udtf_sentences",
    """
SELECT doc_id,
       CAST(generate_subscripts(parts, 1) - 1 AS INT) AS sentence_idx,
       unnest(parts) AS sentence
FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents)
""",
    category="text",
    description="Python UDTF (Spark 4 table-function extension point) splitting documents into sentences via LATERAL join",
)
def text_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's UDTF extension point: a user-defined *table* function
    consumed through a SQL LATERAL join. Row-expanding Python logic that
    doesn't fit mapInPandas' 1:1-batch shape goes here; for anything
    vectorizable prefer explode/split (the oracle shows this exact query
    IS SQL-expressible — the UDTF form exists to pin the extension
    mechanism itself)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sentence_idx int, sentence string")
    class SplitSentences:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            for i, s in enumerate(text.split(". ")):
                yield doc_id, i, s

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_udtf_v")
    return spark.sql(
        "SELECT s.doc_id, s.sentence_idx, s.sentence "
        "FROM documents_udtf_v, LATERAL split_sentences(doc_id, text) s"
    )


@register(
    "text_tfidf_top_terms",
    """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf,
         CAST(tf.tf AS DOUBLE) * (CAST(n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE))
           AS score
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, tok) AS rnk FROM scored)
SELECT doc_id, tok, tf, score, rnk FROM r WHERE rnk <= 3
""",
    category="text",
    description="Top-3 distinguishing terms per document by tf-idf (ratio idf — no transcendentals, so scores are bit-identical cross-engine)",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf with ``idf = (N+1)/(df+1)`` instead of the usual log form:
    ranking is order-equivalent per document (log is monotone), and the
    score stays a pure rational of exact integers — deterministic across
    engines, where ``ln`` differs by ULPs between libm implementations."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    # corpus size as a broadcast 1-row aggregate inside the SAME plan (an
    # eager docs.count() here would run a separate full-scan job at
    # plan-build time — mirrors the oracle's CROSS JOIN n)
    n = docs.agg(F.count("*").alias("_n_docs"))
    # df is vocabulary-proportional over an explode-derived child -> pin
    scored = tf.join(never_broadcast(df), "tok").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "tok",
        "tf",
        (
            F.col("tf").cast("double")
            * ((F.col("_n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return scored.select(
        "doc_id", "tok", "tf", "score", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= 3)


@register(
    "text_repetition",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       list_max(list_transform(list_distinct(toks),
                               x -> len(list_filter(toks, y -> y = x))))
         / len(toks) AS top_token_share,
       CASE WHEN len(toks) < 2 THEN 0.0
            ELSE (len(toks) - 1
                  - len(list_distinct(list_transform(range(1, len(toks)),
                                                     i -> toks[i] || ' ' || toks[i+1]))))
                 / (len(toks) - 1) END AS dup_bigram_ratio
FROM t
""",
    category="text",
    description=(
        "Repetition-based quality gate: most-frequent-token share + duplicated "
        "word-bigram fraction per document (array-native, zero-shuffle)"
    ),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.text import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


@register(
    "sample_stratified",
    f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {hash48_duck("CAST(doc_id AS VARCHAR) || ':' || lang")} % 100 <
      CASE WHEN lang = 'en' THEN 20 ELSE 60 END
""",
    category="text",
    description=(
        "Deterministic stratified sampling: per-language keep rates (downsample "
        "the dominant language) via doc-keyed hash gates — reproducible on any "
        "engine, no RNG, no sampleBy seed drift"
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: keep 20% of English docs, 60% of every
    other language. The gate is ``hash48(doc_id ':' lang) % 100 < rate`` —
    a pure per-row filter (pushdown-friendly, embarrassingly parallel, and
    stable under reruns/backfills, unlike ``df.sampleBy`` whose output
    depends on seed + partitioning)."""
    from findb_spark.functions.hashing import hash48

    docs = load_table(spark, sf_dir, "documents")
    gate = hash48(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang"))
    ) % 100
    rate = F.when(F.col("lang") == "en", 20).otherwise(60)
    return docs.where(gate < rate).select("doc_id", "lang", "source", "n_chars")


@register(
    "text_pack_sequences",
    f"""
WITH t AS (
  SELECT doc_id, {hash48_duck('text')} % 8 AS shard,
         len(string_split(text, ' ')) AS tokens
  FROM documents
),
c AS (
  SELECT shard, doc_id, tokens,
         SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT shard, CAST((cum - tokens) // 2048 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS pack_tokens
FROM c GROUP BY shard, pack_id
""",
    category="text",
    description=(
        "Context-window sequence packing: assign docs to fixed token-budget "
        "packs (2048) by running token offset, per hash shard"
    ),
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for LLM pretraining batches: documents are
    laid end-to-end per shard (deterministic doc_id order) and a document
    belongs to the pack where its first token lands (floor(start_offset /
    budget) — the streaming-concatenation packing most data loaders use).

    Scale design: the running sum is windowed PER SHARD (the same
    hash-gate sharding as text_hash_split), so no global single-partition
    window exists at any corpus size — each shard's window is an
    independent partition of the shuffle, and packs are reproducible
    because the shard hash and doc order are content/key-deterministic."""
    from findb_spark.functions.hashing import hash48

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (hash48(F.col("text")) % 8).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("tokens").over(w))
    return (
        c.select(
            "shard",
            F.floor((F.col("cum") - F.col("tokens")) / 2048).alias("pack_id"),
            "tokens",
        )
        .groupBy("shard", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("tokens").alias("pack_tokens"))
    )


@register(
    "text_contamination",
    f"""
WITH toks AS (
  SELECT doc_id, source, {shingles_duck('text', 5)} AS sh5 FROM documents
),
sh AS (SELECT doc_id, source, {hash48_duck('s')} AS h
       FROM (SELECT doc_id, source, unnest(list_distinct(sh5)) AS s FROM toks)),
eval_sh AS (SELECT DISTINCT h FROM sh WHERE source = 'src0'),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_shared
  FROM sh t JOIN eval_sh e USING (h)
  WHERE t.source <> 'src0'
  GROUP BY t.doc_id
),
scored AS (
  SELECT d.doc_id, d.source, COALESCE(hits.n_shared, 0) AS n_shared
  FROM documents d LEFT JOIN hits USING (doc_id)
  WHERE d.source <> 'src0'
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_shared >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       MAX(n_shared) AS max_shared
FROM scored GROUP BY source
""",
    category="text",
    description=(
        "Train/eval contamination scan: per-source count of training docs "
        "sharing >= 3 distinct 5-gram shingles with the benchmark subset "
        "(source src0), via broadcast semi-join on 48-bit shingle hashes"
    ),
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination pass a pretraining pipeline runs before training:
    treat one source (src0) as the held-out benchmark, and flag any other
    document sharing >= 3 distinct 5-gram shingles with it.

    Scale design: the eval shingle set is the SMALL side by construction
    (benchmarks are thousands of docs, corpora are billions), so it is
    explicitly broadcast — the corpus-side scan joins against an in-memory
    hash set with zero shuffle of the corpus, and everything upstream of
    the per-doc count is a pure map."""
    from findb_spark.functions.hashing import hash48
    from findb_spark.ops.text import shingles_of

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("_t")
    ).select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(shingles_of(F.col("_t"), 5))).alias("s"),
    ).select("doc_id", "source", hash48(F.col("s")).alias("h"))
    eval_sh = sh.where(F.col("source") == "src0").select("h").distinct()
    hits = (
        sh.where(F.col("source") != "src0")
        .join(F.broadcast(eval_sh), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    scored = (
        docs.where(F.col("source") != "src0")
        .join(never_broadcast(hits), "doc_id", "left")  # doc-proportional side
        .select(
            "source", F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared")
        )
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_shared") >= 3, 1).otherwise(0)).alias("n_contaminated"),
        F.max("n_shared").alias("max_shared"),
    )


@register(
    "text_bigram_novelty",
    f"""
WITH bg AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform({shingles_duck('text', 2)},
                                             s -> {hash48_duck('s')}))) AS bh
  FROM documents
),
dfreq AS (SELECT bh, COUNT(*) AS df FROM bg GROUP BY bh)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(df) AS DOUBLE) / COUNT(*) AS mean_df,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS unique_share
FROM bg JOIN dfreq USING (bh)
GROUP BY doc_id
""",
    category="text",
    description=(
        "Corpus-grounded bigram novelty per doc (df stats of its word "
        "transitions — the log-free bigram-LM fluency skeleton; exact "
        "integer sums, joins on 48-bit hashes)"
    ),
)
def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.text import bigram_novelty

    return bigram_novelty(load_table(spark, sf_dir, "documents"))


@register(
    "text_token_rarity",
    """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CAST(FLOOR(1000000.0 * n_docs / df + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 / COUNT(*) AS mean_rarity
FROM tok JOIN dfreq USING (tok) CROSS JOIN nd
GROUP BY doc_id
""",
    category="text",
    description=(
        "Per-document mean token rarity (inverse document frequency, "
        "fixed-point): a log-free unigram-LM surprisal analog for quality "
        "gating — high scores flag gibberish/rare-token docs, low scores "
        "flag boilerplate"
    ),
)
def text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary document frequencies -> per-doc mean rarity
    N_docs/df(token), fixed-point (floor(1e6*r+0.5) int sum, two exact
    double divides) so Spark and DuckDB agree bit-for-bit.

    Scale shape: one explode + df aggregate (map-side combine on the
    token key), one token-key join back, one per-doc aggregate — the
    tf-idf inverted-index shape; no driver loops, no UDFs.  Uses
    N_docs/df rather than -log2 p because IEEE-754 guarantees correctly
    rounded divide/sqrt but NOT log — a 1-ulp libm difference would break
    cross-engine hash parity."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    dfreq = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    rarity_fxp = F.floor(
        F.lit(1000000.0) * F.col("n_docs") / F.col("df") + F.lit(0.5)
    ).cast("bigint")
    return (
        tok.join(never_broadcast(dfreq), "tok")  # vocab-proportional side
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum(rarity_fxp).cast("double") / 1000000.0 / F.count("*")).alias(
                "mean_rarity"
            ),
        )
    )


_CMS_D = 4  # hash rows
_CMS_W = 1024  # counters per row


def _cms_cells_sql() -> str:
    parts = []
    for j in range(_CMS_D):
        h = hash48_duck("tok || ':" + str(j) + "'")
        parts.append(f"SELECT {j} AS j, {h} % {_CMS_W} AS col FROM tok")
    rows = "\nUNION ALL\n".join(parts)
    return f"cells AS (SELECT j, col, COUNT(*) AS c FROM ({rows}) GROUP BY j, col)"


@register(
    "text_heavy_hitters_cms",
    f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
exact AS (
  SELECT tok, COUNT(*) AS exact_n FROM tok GROUP BY tok
  ORDER BY exact_n DESC, tok LIMIT 20
),
{_cms_cells_sql()},
probes AS (
  SELECT e.tok, e.exact_n, p.j,
         {hash48_duck("e.tok || ':' || CAST(p.j AS VARCHAR)")} % {_CMS_W} AS col
  FROM exact e CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) p
),
est AS (
  SELECT pr.tok, pr.exact_n, MIN(c.c) AS cms_n
  FROM probes pr JOIN cells c ON pr.j = c.j AND pr.col = c.col
  GROUP BY pr.tok, pr.exact_n
)
SELECT tok, CAST(exact_n AS BIGINT) AS exact_n, CAST(cms_n AS BIGINT) AS cms_n
FROM est
""",
    category="text",
    description=(
        "Count-min sketch heavy hitters (Cormode-Muthukrishnan '05): "
        f"{_CMS_D}x{_CMS_W} counter cells bound sketch memory regardless "
        "of vocabulary size; per-token estimate = min over hash rows, "
        "always >= the exact count.  The top-20 exact tokens are probed "
        "against the sketch so the driver certifies the estimate "
        "deterministically (hash48 rows — no RNG)"
    ),
)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-memory frequency sketch for corpora whose vocabulary
    cannot be aggregated exactly: counters are d x w cells (a few KB)
    updated by pure hash projection — one map-side-combined aggregate
    whose output size is INDEPENDENT of corpus and vocabulary size.  The
    estimate min-over-rows never undercounts (tests/oracle see cms_n >=
    exact_n).  Candidates here come from the exact top-20 (so the oracle
    can certify values); a production heavy-hitter pass pairs the sketch
    with per-partition candidate heaps instead of the exact aggregate."""
    from findb_spark.functions.hashing import hash48

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    exact = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(20)
    )
    # single pass over the token relation: all d sketch-row updates are
    # computed as one array projection and posexplode'd to (j, col) — one
    # scan of documents for the cells, not d (the d-way union of the same
    # relation re-reads it d times)
    cells = (
        tok.select(
            F.posexplode(
                F.array(
                    *[
                        hash48(F.concat(F.col("tok"), F.lit(f":{j}"))) % _CMS_W
                        for j in range(_CMS_D)
                    ]
                )
            ).alias("j", "col")
        )
        .groupBy("j", "col")
        .agg(F.count("*").alias("c"))
    )
    probes = exact.crossJoin(
        spark.range(_CMS_D).select(F.col("id").cast("int").alias("j"))
    ).select(
        "tok",
        "exact_n",
        "j",
        (
            hash48(F.concat(F.col("tok"), F.lit(":"), F.col("j").cast("string")))
            % _CMS_W
        ).alias("col"),
    )
    est = (
        probes.join(cells, ["j", "col"])
        .groupBy("tok", "exact_n")
        .agg(F.min("c").alias("cms_n"))
    )
    return est.select("tok", "exact_n", F.col("cms_n").cast("bigint").alias("cms_n"))


@register(
    "text_bpe_merge_candidates",
    """
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
x AS (
  SELECT toks, unnest(range(len(toks) - 1)) AS i
  FROM t WHERE len(toks) >= 2
),
p AS (SELECT toks[i + 1] AS w1, toks[i + 2] AS w2 FROM x),
c AS (SELECT w1, w2, COUNT(*) AS n_pairs FROM p GROUP BY w1, w2)
SELECT w1, w2, n_pairs FROM c
ORDER BY n_pairs DESC, w1, w2 LIMIT 20
""",
    category="text",
    description=(
        "BPE/WordPiece merge-candidate counting (the inner loop of "
        "tokenizer training, Sennrich ACL'16): adjacent-pair frequencies "
        "over the corpus, top-20 merge candidates with deterministic "
        "ties — one explode + one map-side-combined aggregate per merge "
        "round; iterating rounds re-runs the same plan on re-segmented "
        "tokens"
    ),
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-pair statistics: the merge-selection step of
    byte-pair-encoding tokenizer training.  Pairs come from zipping each
    token array against its own 1-shifted slice (pure codegen array ops,
    no Python), so the only shuffle is the pair-count aggregate — the
    shape survives any corpus size because pair cardinality is bounded
    by vocabulary^2 and the aggregate combines map-side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pairs = docs.where(F.size(toks) >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
                F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
            )
        ).alias("pr")
    )
    c = (
        pairs.select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pairs"))
    )
    return c.orderBy(F.desc("n_pairs"), "w1", "w2").limit(20)


_CHUNK_W = 32  # tokens per chunk (context-window size)
_CHUNK_S = 24  # stride (8-token overlap between consecutive chunks)


@register(
    "text_chunk_windows",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), {_CHUNK_S})) AS start
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(start // {_CHUNK_S} AS BIGINT) AS chunk_idx,
       CAST(start AS BIGINT) AS start_tok,
       CAST(LEAST({_CHUNK_W}, len(toks) - start) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, start + 1, start + {_CHUNK_W}), ' ')
         AS chunk_text
FROM s
""",
    category="text",
    description=(
        f"Overlapping token-window chunking ({_CHUNK_W}-token windows, "
        f"stride {_CHUNK_S}): the context-window segmentation step of a "
        "pretraining / RAG ingestion pipeline — each document explodes "
        "into deterministic overlapping chunks with stable (doc_id, "
        "chunk_idx) identity for downstream embedding or packing"
    ),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking as pure codegen array algebra: one split, one bounded
    sequence of window starts, one posexplode, one slice — a NARROW plan
    (zero shuffles, no UDFs), so it streams at parquet-scan speed at any
    corpus size; chunk fan-out per document is len/stride.  This is the
    segmentation half of context packing (`text_pack_sequences` is the
    bin-packing half)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = docs.select("doc_id", toks.alias("toks")).where(F.size("toks") > 0)
    s = t.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_S))
        ).alias("chunk_idx", "start"),
    )
    return s.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("start_tok"),
        F.least(F.lit(_CHUNK_W), F.size("toks") - F.col("start"))
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start") + 1, F.lit(_CHUNK_W)), " "
        ).alias("chunk_text"),
    )


def _bpe_round_ctes(r: int) -> str:
    """One BPE training round as SQL CTEs: pair stats over s{r-1}, top-1
    merge t{r}, greedy left-to-right application -> s{r}.  MATERIALIZED
    per the iterated-relation rule (each round references the previous
    one several times; inlining re-expands 3^rounds)."""
    p = r - 1
    return f"""
c{r} AS MATERIALIZED (
  SELECT sym AS ml, nxt AS mr, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT wid, freq, sym,
           LEAD(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
    FROM s{p}
  ) WHERE nxt IS NOT NULL GROUP BY sym, nxt
),
t{r} AS MATERIALIZED (
  SELECT ml, mr, cnt FROM c{r} ORDER BY cnt DESC, ml, mr LIMIT 1
),
d{r} AS MATERIALIZED (
  SELECT wid, freq, sym,
         ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS pd,
         LEAD(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
  FROM s{p}
),
k{r} AS MATERIALIZED (
  SELECT wid, pd FROM (
    SELECT wid, pd, pd - MIN(pd) OVER (PARTITION BY wid, grp) AS delta
    FROM (
      SELECT d.wid, d.pd,
             d.pd - ROW_NUMBER() OVER (PARTITION BY d.wid ORDER BY d.pd) AS grp
      FROM d{r} d CROSS JOIN t{r} t
      WHERE d.sym = t.ml AND d.nxt = t.mr
    )
  ) WHERE delta % 2 = 0
),
s{r} AS MATERIALIZED (
  SELECT d.wid, d.freq, d.pd AS pos,
         CASE WHEN k.pd IS NOT NULL THEN d.sym || t.mr ELSE d.sym END AS sym
  FROM d{r} d CROSS JOIN t{r} t
  LEFT JOIN k{r} k ON d.wid = k.wid AND d.pd = k.pd
  LEFT JOIN k{r} kp ON d.wid = kp.wid AND d.pd = kp.pd + 1
  WHERE kp.pd IS NULL
)"""


_BPE_ROUNDS = 3


@register(
    "text_bpe_train_rounds",
    """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
wf AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM tok WHERE w != ''
  GROUP BY w ORDER BY freq DESC, w LIMIT 200
),
s0 AS MATERIALIZED (
  SELECT wid, freq, pos, substr(wid, CAST(pos AS INT), 1) AS sym FROM (
    SELECT w AS wid, freq,
           CAST(unnest(range(1, length(w) + 1)) AS BIGINT) AS pos
    FROM wf)
),"""
    + ",".join(_bpe_round_ctes(r) for r in range(1, _BPE_ROUNDS + 1))
    + """
"""
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, ml AS merge_left, mr AS merge_right,"
        f" cnt AS pair_weight FROM t{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    ),
    category="text",
    description=(
        "BPE tokenizer TRAINING, three full merge rounds as relational "
        "algebra (Sennrich ACL'16): char-split the top-200 word-frequency "
        "dictionary, count frequency-weighted adjacent symbol pairs, pick "
        "the top merge (deterministic ties), apply it greedily "
        "left-to-right (non-overlapping, via the gaps-and-islands "
        "even-offset rule), re-segment, repeat — rounds 2 and 3 certify "
        "that round 1's merge was APPLIED correctly, not just selected"
    ),
)
def text_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative tokenizer training with zero Python in the data path:
    each round is lead-window pair stats -> a 1-row top-merge collect
    (bounded by contract) -> two window passes implementing greedy
    non-overlap (consecutive candidate runs keep even offsets) -> a
    localCheckpoint'ed re-segmented symbol relation (the iterated
    self-reference rule: without truncation the lineage re-expands
    3^rounds).  The word dictionary is bounded (top-200 by frequency, "
    "the BPE vocab-budget knob), so per-round state is O(dict), not
    O(corpus); the corpus is scanned exactly once."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("w")).where("w != ''")
    wf = (
        tok.groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(200)
    )
    s = (
        wf.select(
            F.col("w").alias("wid"),
            "freq",
            F.posexplode(F.expr("split(w, '(?!^)(?=.)')")).alias("_i", "sym"),
        )
        .select("wid", "freq", (F.col("_i") + 1).cast("bigint").alias("pos"), "sym")
        .localCheckpoint(eager=True)
    )
    wseq = Window.partitionBy("wid").orderBy("pos")
    out_rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = s.select(
            "wid", "freq", "sym", F.lead("sym").over(wseq).alias("nxt")
        ).where(F.col("nxt").isNotNull())
        top = (
            pairs.groupBy(F.col("sym").alias("ml"), F.col("nxt").alias("mr"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "ml", "mr")
            .limit(1)
            .collect()
        )
        if not top:
            break
        ml, mr, cnt = top[0]["ml"], top[0]["mr"], top[0]["cnt"]
        out_rows.append((r, ml, mr, cnt))
        d = s.select(
            "wid",
            "freq",
            "sym",
            F.row_number().over(wseq).cast("bigint").alias("pd"),
            F.lead("sym").over(wseq).alias("nxt"),
        )
        cand = d.where((F.col("sym") == ml) & (F.col("nxt") == mr)).select(
            "wid",
            "pd",
            (
                F.col("pd")
                - F.row_number().over(Window.partitionBy("wid").orderBy("pd"))
            ).alias("grp"),
        )
        keep = (
            cand.withColumn(
                "delta",
                F.col("pd")
                - F.min("pd").over(Window.partitionBy("wid", "grp")),
            )
            .where(F.col("delta") % 2 == 0)
            .select("wid", "pd")
        )
        kshift = keep.select(
            F.col("wid").alias("_wid2"), (F.col("pd") + 1).alias("_pd_next")
        ).withColumn("_x", F.lit(1))
        s = (
            d.join(keep.withColumn("_m", F.lit(1)), ["wid", "pd"], "left")
            .join(
                kshift,
                (F.col("wid") == F.col("_wid2"))
                & (F.col("pd") == F.col("_pd_next")),
                "left",
            )
            .where(F.col("_x").isNull())
            .select(
                "wid",
                "freq",
                F.col("pd").alias("pos"),
                F.when(F.col("_m") == 1, F.concat(F.col("sym"), F.lit(mr)))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .localCheckpoint(eager=True)
        )
    return local_relation_df(
        spark,
        out_rows,
        "round int, merge_left string, merge_right string, pair_weight bigint",
    )


@register(
    "text_readability_ari",
    """
WITH per AS (
  SELECT doc_id,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '), w -> w != ''))
              AS BIGINT) AS n_words,
         CAST(GREATEST(len(list_filter(string_split(text, '. '), s -> s != '')),
                       1) AS BIGINT) AS n_sents
  FROM documents
),
sc AS (
  SELECT doc_id, n_chars, n_words, n_sents,
         CAST(4.71 AS DOUBLE) * (CAST(n_chars AS DOUBLE) / n_words)
           + CAST(0.5 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sents)
           - CAST(21.43 AS DOUBLE) AS ari
  FROM per WHERE n_words > 0
)
SELECT CAST(LEAST(GREATEST(FLOOR(ari), -4), 30) AS BIGINT) AS ari_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS sum_words,
       CAST(SUM(CAST(FLOOR(ari * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 10000 / COUNT(*) AS avg_ari
FROM sc GROUP BY ari_band
""",
    category="text",
    description=(
        "Automated Readability Index per doc, banded: ARI = "
        "4.71*(chars/words) + 0.5*(words/sentences) - 21.43 from exact "
        "char/word/sentence counts (whitespace words, '. ' sentence "
        "splits) — the classic rational-arithmetic quality score "
        "(grade-level screen) used in corpus filtering, with per-band "
        "doc counts and fxp mean"
    ),
)
def text_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring stays entirely in codegen: counts are integer,
    the score is three shared float literals and two divides per row
    (bit-deterministic), the output is a bounded band histogram.  One
    scan, one map-side-combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "doc_id",
        F.length(F.regexp_replace("text", " ", "")).cast("bigint").alias("n_chars"),
        F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast(
            "bigint"
        ).alias("n_words"),
        F.greatest(
            F.size(F.filter(F.split("text", "\\. "), lambda s: s != "")), F.lit(1)
        )
        .cast("bigint")
        .alias("n_sents"),
    )
    sc = per.where("n_words > 0").select(
        "n_words",
        F.expr(
            "CAST(4.71 AS DOUBLE) * (CAST(n_chars AS DOUBLE) / n_words)"
            " + CAST(0.5 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sents)"
            " - CAST(21.43 AS DOUBLE)"
        ).alias("ari"),
    )
    return sc.groupBy(
        F.least(F.greatest(F.floor("ari"), F.lit(-4)), F.lit(30))
        .cast("bigint")
        .alias("ari_band")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("sum_words"),
        (
            F.sum(F.floor(F.col("ari") * 10000 + F.lit(0.5)).cast("bigint"))
            .cast("double")
            / 10000
            / F.count("*")
        ).alias("avg_ari"),
    )
