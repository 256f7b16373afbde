"""Deduplication operators over ``documents`` — exact, n-gram Jaccard,
MinHash+LSH, SimHash (BASELINE.json LLM-pipeline mandate).

Scale design (100 TB posture):

- Exact dedup is a hash-groupBy — one shuffle on the text hash, map-side
  combinable.
- Jaccard candidate generation joins on *shared shingles* (inverted-index
  join), never all-pairs: cost is sum over shingles of df^2, which stays
  linear when shingle document-frequency is bounded. High-frequency
  shingles (df > cap) are droppable stop-shingles at scale.
- MinHash-LSH: k=16 permutations, 4 bands x 4 rows -> candidate pairs only
  for docs sharing a band key; verification re-computes exact Jaccard on
  candidates only. The signature pass is one explode + groupBy (shuffle on
  doc_id), the banding pass a groupBy on (band_id, band_key).
- SimHash: 48-bit signatures from token hashes. Pairing here is exact
  (all-pairs with doc_id ordering) for oracle parity at test scale;
  `simhash_banded_pairs` is the scale path (prefix-band blocking, standard
  pigeonhole guarantee: hamming <= 3 bands-1 distance always shares a band).

Hash-width policy (round 12): operators whose CONTRACT is exact identity
(exact_dedup_stats and the exact-dup flags/apply paths) key on the FULL
128-bit md5 — a 48-bit key silently merges distinct texts past the
birthday bound (~2^24 distinct values), i.e. millions of false merges at
1e11 docs.  The APPROXIMATE families (MinHash/shingle inverted index,
SimHash, CDC gear boundaries, boilerplate spans, sampling gates) keep
functions.hashing.hash48: a collision there perturbs an already-
probabilistic statistic by far less than the family's own error term,
and the narrow int64 key halves shuffle width.  Both widths are
md5-derived, so the DuckDB oracle reproduces every signature
bit-for-bit.

Persist lifetime: these operators persist small reused intermediates
(doc_id + ints, MEMORY_AND_DISK) and return LAZY DataFrames, so they
cannot unpersist before the caller executes — an eager unpersist would
reintroduce the multi-evaluation the persist exists to prevent.  The
cached blocks follow the engine's one rule, stated in
:func:`findb_spark.session.release_caches`: a rewritten ``documents``
table refreshes them on its next read, and ``release_caches`` drops them
between sweeps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from findb_spark.plans.broadcast import never_broadcast

from findb_spark.functions.hashing import MERSENNE31, hash48, permutation_params
from findb_spark.ops.text import shingles_of

N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
PERM_PARAMS = permutation_params(N_PERM)


def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Corpus-level exact-duplicate profile via text-digest groupBy.

    Identity is the FULL 128-bit md5 (round 12): a 48-bit key silently
    merges distinct texts once the corpus outgrows the birthday bound —
    ~1.8e7 false merges at 1e11 docs (n²/2^49) — which corrupts an
    operator whose contract is EXACT; at 128 bits the expected count is
    ~4e-17 at the same volume.  Both engines compute the identical
    lowercase-hex digest, and only counts reach the output.  hash48
    remains the key for the APPROXIMATE families (MinHash, shingle
    inverted index, CDC gear, sampling gates) where a collision only
    perturbs an already-probabilistic statistic."""
    h = docs.select("doc_id", F.md5(F.col("text")).alias("h"))
    clusters = h.groupBy("h").agg(
        F.count("*").alias("cluster_size"), F.min("doc_id").alias("canonical_doc_id")
    )
    return clusters.agg(
        F.count("*").alias("n_distinct_texts"),
        F.sum("cluster_size").alias("n_docs"),
        F.sum(F.when(F.col("cluster_size") > 1, F.col("cluster_size") - 1).otherwise(0)).alias(
            "n_duplicate_docs"
        ),
        F.max("cluster_size").alias("max_cluster_size"),
    )


def chunk_dup_stats(docs: DataFrame, chunk_tokens: int = 16) -> DataFrame:
    """Sub-document (chunk-level) exact dedup — the paragraph/line-level
    duplication profile LLM curation pipelines gate on (RefinedWeb's
    duplicate-line-fraction filter, arXiv:2306.01116 §3; documents here
    carry no newlines, so fixed ``chunk_tokens``-token windows stand in
    for paragraphs).

    Per doc: total chunks, chunks whose exact text occurs in >= 2 distinct
    documents, and the duplicated fraction (raw ints + one double divide —
    cross-engine exact).

    Scale shape: explode to (doc_id, chunk), aggregate document frequency
    per chunk (map-side combine), join back, re-aggregate per doc — the
    standard inverted-index profile, shuffling on the chunk key.  The join
    key here is the raw chunk text for oracle exactness; at 100 TB
    pre-hash it (``F.xxhash64``) so the shuffle moves 8-byte keys, with a
    ~n²/2⁶⁴ birthday false-positive rate that a curation gate tolerates."""
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
                ),
            )
        ).alias("chunk"),
    )
    dfreq = chunks.groupBy("chunk").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.sum((F.col("nd") >= 2).cast("int")).cast("bigint")
    # sort-merge (never_broadcast) pin: dfreq is distinct-chunk-proportional (near-linear
    # in corpus for unique text) and chunks is explode-derived — never
    # broadcast either side (the 256x Generate-mis-estimate class)
    return (
        chunks.join(dfreq.transform(never_broadcast), "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            (dup.cast("double") / F.count("*")).alias("dup_frac"),
        )
    )


def shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sharr): per-doc distinct shingle array. Tokens materialized
    in a lower projection so the shingle lambda doesn't re-split the text
    per element (see ops.text.shingles_of)."""
    return docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("_t")
    ).select("doc_id", F.array_distinct(shingles_of(F.col("_t"), n)).alias("sharr"))


def hashed_shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, harr): per-doc distinct shingles as 48-bit hashes — the ONE
    shared, persisted scan of the corpus text for the whole dedup suite.

    The inverted-index join (:func:`jaccard_pairs`), the PPJoin prefix
    filter (:func:`jaccard_pairs_prefix`), :func:`containment_pairs`, the
    MinHash signature builder and every banded verifier all consume this
    relation. Spark's CacheManager substitutes cached relations by
    CANONICALIZED plan equality across separate calls (round-7 measured
    fact, see minhash_lsh_pairs), so whichever consumer runs first pays
    the tokenize+shingle+hash pass once and every later consumer — even
    one built from an independent ``load_table`` call over the same
    parquet — reads the cached fixed-width int64 arrays, orders of
    magnitude smaller than the text. Sizes come free as ``F.size(harr)``
    (``transform`` preserves length), so no consumer needs the string
    form."""
    from pyspark.storagelevel import StorageLevel

    return (
        shingle_arrays(docs, n)
        .select(
            "doc_id", F.transform(F.col("sharr"), lambda s: hash48(s)).alias("harr")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _jaccard_from_inter(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(doc1, doc2, inter) + per-doc sizes -> thresholded Jaccard pairs."""
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc1") == F.col("sa.doc_id"))
        .join(sb, F.col("doc2") == F.col("sb.doc_id"))
        .select(
            "doc1",
            "doc2",
            (
                F.col("inter")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _verify_pairs(cand: DataFrame, arrs: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc1, doc2) pairs: fetch
    both documents' hashed distinct-shingle arrays and intersect them
    in-expression — two hash joins on doc ids, zero extra shuffles (the
    4-stage join-through-the-inverted-index + groupBy + two size joins it
    replaces). ``arrs``: (doc_id, harr). Shared by every banded/prefix
    candidate generator so the formula lives in one place."""
    # sort-merge (never_broadcast) pin: the arrays side is corpus-proportional (~150
    # int64s per doc) while Catalyst's estimate for the persisted arrs
    # relation tracks the column-pruned parquet bytes — at mid scales the
    # estimate sits under autoBroadcastJoinThreshold while the actual
    # broadcast build would be GiB-sized (the same Generate/explode
    # mis-estimate class the 256x smoke caught in jaccard_pairs). A
    # doc_id-partitioned shuffle holds at any corpus size.
    a1 = arrs.transform(never_broadcast).select(
        F.col("doc_id").alias("doc1"), F.col("harr").alias("_a1")
    )
    a2 = arrs.transform(never_broadcast).select(
        F.col("doc_id").alias("doc2"), F.col("harr").alias("_a2")
    )
    scored = (
        cand.join(a1, "doc1")
        .join(a2, "doc2")
        .select(
            "doc1",
            "doc2",
            F.size(F.array_intersect("_a1", "_a2")).alias("inter"),
            F.size("_a1").alias("_s1"),
            F.size("_a2").alias("_s2"),
        )
    )
    return scored.select(
        "doc1",
        "doc2",
        (F.col("inter") / (F.col("_s1") + F.col("_s2") - F.col("inter"))).alias(
            "jaccard"
        ),
    ).where(F.col("jaccard") >= threshold)


def _shingle_intersections(docs: DataFrame, n: int) -> tuple[DataFrame, DataFrame]:
    """``(inter, sizes)``: ``inter`` (doc1, doc2, inter) counts the
    shingles every pair doc1 < doc2 shares, through the shared-shingle
    inverted-index self-join; ``sizes`` (doc_id, sz) is each document's
    distinct-shingle count."""
    # join/aggregate on 48-bit shingle hashes, not ~20-char strings: smaller
    # shuffle rows and integer hash tables (the oracle joins on the same
    # hash, so any collision affects both engines identically). The hashed
    # arrays are the suite-shared persisted relation — the md5-per-shingle
    # pass runs once per session, not once per dedup query.
    arrs = hashed_shingle_arrays(docs, n)
    sh = arrs.select("doc_id", F.explode(F.col("harr")).alias("shingle"))
    sizes = arrs.select("doc_id", F.size("harr").alias("sz"))
    # PIN the inverted-index self-join to a sort-merge join: both sides
    # are corpus-proportional (exploded shingles), but the optimizer's
    # pre-materialization estimate for the persisted arrs relation can
    # land under autoBroadcastJoinThreshold and pick a broadcast — which
    # OOMs the moment the corpus outgrows driver memory (caught by the
    # 256x scale smoke: a ~1 GiB broadcast build at 1.28M docs). The
    # spillable shingle-partitioned sort-merge holds at any scale.
    a, b = sh.transform(never_broadcast).alias("a"), sh.transform(never_broadcast).alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count("*").alias("inter"))
    )
    return inter, sizes


def jaccard_pairs(docs: DataFrame, threshold: float = 0.4, n: int = 3) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity, candidates
    generated via the shared-shingle inverted-index join. The right form
    while sum(df^2) over shingles stays manageable; `jaccard_pairs_prefix`
    is the lossless prefix-filtered form for corpora where common shingles
    make this quadratic."""
    from pyspark.storagelevel import StorageLevel

    inter, sizes = _shingle_intersections(docs, n)
    # the verified pair relation persists (module convention, same
    # rationale as minhash_lsh_pairs): it is the smallest relation in the
    # pipeline and the most re-consumed — split-leakage checks, curation
    # filters (pipeline_pretrain_mix) and quality cross-checks all
    # re-derive the identical plan, so the CacheManager serves them from
    # one materialization instead of re-running the inverted-index join.
    return _jaccard_from_inter(inter, sizes, threshold).persist(
        StorageLevel.MEMORY_AND_DISK
    )


def jaccard_pairs_prefix(docs: DataFrame, threshold: float = 0.4, n: int = 3) -> DataFrame:
    """Scale path: exact Jaccard pairs with **prefix-filtered** candidate
    generation (the SSJoin/PPJoin family): order each document's shingles
    by ascending global document frequency (rarest first, ties by hash)
    and index only the first ``|S| - ceil(t*|S|) + 1``. A pair with
    Jaccard >= t must share >= ceil(t*|S|) shingles and therefore shares
    at least one *prefix* element — lossless for the threshold — while
    the high-df shingles that make the naive co-shingle join quadratic
    never enter the candidate join. Verification recomputes the exact
    intersection on candidates only, so results are identical to
    `jaccard_pairs`.

    Costs one extra aggregate (df) + one groupBy (per-doc df-sorted
    shingle array) over (doc_id, hash) int pairs — linear — which only
    pays off once sum(df^2) dominates; at driver scale the naive join is
    faster, so this variant is the documented 100 TB form (same
    relationship as simhash_banded_pairs to simhash_pairs)."""
    # hash the shingle arrays ONCE up front: every downstream stage —
    # df counting, prefix ranking, candidate join, verification intersect —
    # works on fixed-width longs, never the ~20-char shingle strings.
    # Built from the suite-shared persisted relation: when any other dedup
    # query ran first in the session, the corpus scan is a cache hit here.
    from pyspark.storagelevel import StorageLevel

    arrs = hashed_shingle_arrays(docs, n)
    hh = arrs.select("doc_id", F.explode(F.col("harr")).alias("shingle"))

    # CAPPED document-frequency order, broadcast-joined. The prefix filter
    # is lossless for ANY consistent global total order of shingles
    # (pigeonhole over the first |S|-ceil(t|S|)+1 elements of a fixed
    # order); df-ascending is purely a candidate-minimizing heuristic, and
    # the payoff is concentrated in the high-df HEAD of the Zipfian
    # distribution (stop-shingles are what make co-shingle joins
    # quadratic). So: count df only for the top-64Ki most frequent
    # shingles — a <=1 MiB relation at ANY corpus size — broadcast it, and
    # let the tail default to df=1 (ordered among themselves by hash).
    # This removes the full hh-by-shingle join shuffle the exact-df form
    # needs, at every scale, and is skew-immune (broadcast joins cannot
    # skew; the df aggregate itself is map-side partial). Exactness is
    # untouched: candidates remain a superset, verification is exact.
    dfreq = (
        hh.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > 1)
        .orderBy(F.desc("_df"), "shingle")
        .limit(1 << 16)
    )
    # per-doc df-ascending shingle order in ONE doc_id aggregate:
    # array_sort(collect_list(struct(df, shingle))) is deterministic
    # regardless of collect order and replaces the row_number window +
    # the separate size/prefix-length join (two stages -> one)
    # _rceil: epsilon-relaxed ceil. ceil(t*s) in IEEE-754 doubles
    # OVER-estimates whenever the true product is an exact integer but the
    # float product lands epsilon above it (t=0.4, s=5: float 0.4*5 =
    # 2.0000000000000004 -> ceil 3, true 2) — which would shorten the
    # prefix / tighten the filters below the lossless bound and silently
    # DROP qualifying pairs. Subtracting 1e-9 inside the ceil can only
    # lower the bound by at most 1 (under-prune: a few extra candidates,
    # discarded by the exact verification) — lossless is preserved for
    # every threshold.
    def _rceil(x):
        return F.ceil(x - F.lit(1e-9))

    sz = F.size("_sorted")
    plen = (sz - _rceil(F.lit(threshold) * sz) + 1).cast("int")
    pref = (
        hh.join(F.broadcast(dfreq), "shingle", "left")
        .withColumn("_df", F.coalesce("_df", F.lit(1)))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "shingle"))).alias("_sorted"))
        .select(
            "doc_id",
            sz.alias("_sz"),
            F.posexplode(
                F.slice(F.transform(F.col("_sorted"), lambda s: s["shingle"]), F.lit(1), plen)
            ).alias("_pos", "shingle"),
        )
        .select("doc_id", "shingle", (F.col("_pos") + 1).alias("_rnk"), "_sz")
    )
    # sort-merge (never_broadcast) pin: pref is posexplode-derived (fan-out ~0.6x the
    # per-doc shingle count), and Catalyst does not model Generate
    # fan-out in sizeInBytes — a mid-scale corpus can sit in the window
    # where the estimate is under the broadcast threshold while the
    # actual exploded relation is GiB-sized (256x-smoke finding class)
    x, y = pref.transform(never_broadcast).alias("x"), pref.transform(never_broadcast).alias("y")
    # Lossless candidate filters from the PPJoin family:
    # - length filter: J >= t forces t*|A| <= |B| <= |A|/t, so wildly
    #   different-sized docs never pair (the doc_id< ordering is arbitrary,
    #   so apply both directions via the symmetric t*max <= min form);
    # - position filter: J >= t needs overlap >= ceil(t/(1+t)*(|A|+|B|));
    #   a shared prefix element at ranks (i, j) caps the remaining overlap
    #   at 1 + min(|A|-i, |B|-j) because both arrays are sorted by the same
    #   global (df, hash) order. The FIRST shared element of any qualifying
    #   pair always passes both caps, so keeping every passing element is a
    #   superset of the qualifying pairs.
    lenok = (
        _rceil(F.lit(threshold) * F.greatest(F.col("x._sz"), F.col("y._sz")))
        <= F.least(F.col("x._sz"), F.col("y._sz"))
    )
    minov = _rceil(
        F.lit(threshold / (1 + threshold)) * (F.col("x._sz") + F.col("y._sz"))
    )
    ub = 1 + F.least(
        F.col("x._sz") - F.col("x._rnk"), F.col("y._sz") - F.col("y._rnk")
    )
    cand = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & lenok
            & (ub >= minov),
        )
        .select(F.col("x.doc_id").alias("doc1"), F.col("y.doc_id").alias("doc2"))
        .distinct()
    )
    # |A ∩ B| over the 48-bit hash arrays is exactly what the oracle's
    # hash-equality join counts. The verified pair relation persists
    # (module convention, same rationale as minhash_lsh_pairs / the
    # inverted-index form above): smallest relation, most re-consumed.
    return _verify_pairs(cand, arrs, threshold).persist(
        StorageLevel.MEMORY_AND_DISK
    )


def containment_pairs(docs: DataFrame, threshold: float = 0.5, n: int = 3) -> DataFrame:
    """Asymmetric shingle-containment pairs: C(A in B) = |A ∩ B| / |A|.

    Jaccard misses subset relationships — a short document quoted whole
    inside a long one has tiny Jaccard but containment ~1.0, and that
    quote-inclusion shape is exactly what a training-data pipeline must
    catch (the long doc re-teaches the short one). Emits both directions
    per unordered pair (cont1 = containment of doc1 in doc2's direction
    |A∩B|/|A|, cont2 = |A∩B|/|B|) and keeps pairs where EITHER clears the
    threshold.

    Same inverted-index candidate join as :func:`jaccard_pairs` (cost
    sum(df^2) over shingles — bounded by stop-shingle capping at corpus
    scale); the asymmetric scores are pure projection on the counted
    intersection, so the plan is identical to the Jaccard form."""
    inter, sizes = _shingle_intersections(docs, n)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc1") == F.col("sa.doc_id"))
        .join(sb, F.col("doc2") == F.col("sb.doc_id"))
        .select(
            "doc1",
            "doc2",
            (F.col("inter") / F.col("sa.sz")).alias("cont1"),
            (F.col("inter") / F.col("sb.sz")).alias("cont2"),
        )
        .where((F.col("cont1") >= threshold) | (F.col("cont2") >= threshold))
    )


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """k=16 MinHash signature per document (columns mh0..mh15).

    Array-native: shingle hashes are computed once into an array column
    (one md5 per shingle), then each permutation is an ``array_min`` over a
    cheap affine transform — no explode, no groupBy, zero shuffles (the
    explode+16-min-aggregates formulation shuffles every shingle row).

    Documents shorter than the shingle width have no shingles and
    therefore NO signature row (array_min over an empty array would be an
    all-NULL non-signature; the DuckDB oracle's GROUP BY emits no row for
    them either, and banding must exclude them regardless — see
    :func:`_band_keys`)."""
    harr = hashed_shingle_arrays(docs, n).where(F.size("harr") > 0)
    # server-parsed SQL strings, not the Column DSL (round 14; the
    # fxp_dot_expr precedent): 16 x transform(lambda) built ~0.55 s of
    # py4j round-trip chatter per call — ONE expr string per permutation
    # parses to the identical affine-transform/array_min tree (integer
    # ops, bit-equal; CAST pins the a/b literals to BIGINT exactly as
    # F.lit promoted them against the bigint hash).
    mins = [
        F.expr(
            f"array_min(transform(harr, h -> "
            f"(CAST({a} AS BIGINT) * (h % {MERSENNE31}) + CAST({b} AS BIGINT))"
            f" % {MERSENNE31}))"
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(PERM_PARAMS)
    ]
    return harr.select("doc_id", *mins)


def _band_keys(sigs: DataFrame) -> DataFrame:
    # invariant guard: minhash_signatures emits no row for shingle-less
    # docs, so mh0 is never NULL here — but a NULL signature slipping in
    # (a differently-built sigs input) would concat_ws to a SHARED empty
    # band key and make every such doc pair a candidate (quadratic), so
    # the filter stays as defense.
    bands = []
    for j in range(N_BANDS):
        cols = [F.col(f"mh{j * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        bands.append(
            F.struct(F.lit(j).alias("band_id"), F.concat_ws("_", *cols).alias("bk"))
        )
    return (
        sigs.where(F.col("mh0").isNotNull())
        .select("doc_id", F.explode(F.array(*bands)).alias("band"))
        .select("doc_id", "band.band_id", "band.bk")
    )


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.4, n: int = 3) -> DataFrame:
    """MinHash-LSH candidate pairs, verified with exact Jaccard: candidates
    = pairs agreeing on at least one of 4 bands of 4 rows."""
    # persist the tiny reused intermediates (doc_id + ints — orders of
    # magnitude smaller than the text): the band self-join and the
    # verification branches would otherwise recompute the shingle/signature
    # DAG up to 6x. MEMORY_AND_DISK so a 100 TB corpus degrades to disk
    # spill instead of OOM.
    from pyspark.storagelevel import StorageLevel

    sigs = minhash_signatures(docs, n).persist(StorageLevel.MEMORY_AND_DISK)
    bands = _band_keys(sigs)
    # sort-merge (never_broadcast) pin: the band relation is corpus-proportional (4 rows
    # per doc) and Generate fan-out is invisible to Catalyst's size
    # estimate — never let the band self-join broadcast a side (the
    # 256x-smoke mis-estimate class; a band-key-partitioned shuffle
    # holds at any corpus size)
    x = bands.transform(never_broadcast).alias("x")
    y = bands.transform(never_broadcast).alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc1"), F.col("y.doc_id").alias("doc2"))
        .distinct()
    )
    arrs = hashed_shingle_arrays(docs, n)
    # the verified pair set itself persists too: it is the smallest
    # relation in the pipeline (bounded by near-dup density, not corpus
    # size) and the most re-consumed — clustering, triangle listing,
    # neighbor stats and the bench all re-derive the IDENTICAL plan, so
    # Spark's cache manager (which matches canonicalized plans across
    # calls) serves every later consumer from the first materialization
    # instead of re-running the shingle/signature DAG per consumer.
    return _verify_pairs(cand, arrs, threshold).persist(
        StorageLevel.MEMORY_AND_DISK
    )


SIMHASH_BITS = 48


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """48-bit SimHash per document from token hashes (frequency-weighted).

    PERSISTED (the ``hashed_shingle_arrays`` convention): every consumer
    self-joins this relation (x/y sides of the pair generators) and the
    exact + banded pair queries share it, so without a persist the
    explode + 48-conditional-sum aggregation over the corpus text runs
    once PER SIDE PER CONSUMER.  The relation is one int64 per document
    — orders of magnitude smaller than the text."""
    from pyspark.storagelevel import StorageLevel

    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select("doc_id", hash48(F.col("tok")).alias("h"))
    # server-parsed SQL strings, not the Column DSL (round 14; the
    # fxp_dot_expr / minhash_signatures precedent): 48 when/shiftright
    # Column builds plus the 48-term sig chain cost ~1.0 s of py4j
    # round-trip chatter per call — the expr strings parse to the
    # identical CASE/shiftright/sum trees (integer ops, bit-equal).
    bit_sums = [
        F.expr(
            f"SUM(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    sig = F.expr(
        "CAST(("
        + " + ".join(
            f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(SIMHASH_BITS)
        )
        + ") AS BIGINT)"
    )
    return sums.select("doc_id", sig.alias("simhash")).persist(
        StorageLevel.MEMORY_AND_DISK
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance — exact all-pairs
    formulation (oracle-parity form; see `simhash_banded_pairs` for scale)."""
    sigs = simhash_signatures(docs)
    x, y = sigs.alias("x"), sigs.alias("y")
    ham = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        x.join(y, F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc1"),
            F.col("y.doc_id").alias("doc2"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_banded_pairs(docs: DataFrame, max_hamming: int = 3, n_bands: int = 4) -> DataFrame:
    """Scale path: block on ``n_bands`` equal bit-slices of the signature —
    any pair with hamming <= n_bands - 1 shares at least one identical band
    (pigeonhole), so recall is exact for ``max_hamming <= n_bands - 1``
    while cost drops from all-pairs to per-band-bucket joins.

    Band width is what makes this scale: the defaults (hamming <= 3, 4
    bands of 12 bits) follow Manku et al., "Detecting Near-Duplicates for
    Web Crawling" (WWW'07) — k=3 over wide blocks — giving 2^12 buckets
    per band, so expected bucket occupancy (and thus in-bucket pair cost)
    stays ~n/4096 per band. A loose threshold like hamming <= 10 would
    force >= 11 bands of <= 4 bits (16 buckets): in-bucket pairs then
    approach all-pairs cost AND the 'near-dup' output itself degenerates
    (at 48 bits, 10 flipped bits is within noise range of unrelated
    documents)."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding with {n_bands} bands is only recall-exact for "
            f"hamming <= {n_bands - 1}; got max_hamming={max_hamming}"
        )
    sigs = simhash_signatures(docs)
    width = SIMHASH_BITS // n_bands
    bands = [
        F.struct(
            F.lit(j).alias("band_id"),
            F.shiftright(F.col("simhash"), j * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bk"),
        )
        for j in range(n_bands)
    ]
    bdf = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "simhash", "band.band_id", "band.bk")
    # sort-merge (never_broadcast) pin: same corpus-proportional band-side rationale as
    # minhash_lsh_pairs (Generate fan-out unmodeled in stats)
    x = bdf.transform(never_broadcast).alias("x")
    y = bdf.transform(never_broadcast).alias("y")
    ham = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    # hamming predicate inside the join: prunes non-near pairs before the
    # dedup-across-bands distinct instead of after it
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("x.doc_id").alias("doc1"),
            F.col("y.doc_id").alias("doc2"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def minhash_lsh_pairs_incremental(
    docs: DataFrame,
    new_pred: Column,
    threshold: float = 0.4,
    n: int = 3,
) -> DataFrame:
    """Incremental near-dup detection: verified pairs **touching the new
    batch only** (``new_pred`` marks newly-arrived docs). Candidate
    generation joins the NEW docs' bands against the full corpus bands, so
    per-increment cost is O(|new| x bucket occupancy) — the corpus is
    never self-joined. This is the daily-ingest shape of a crawl pipeline:
    the full LSH run amortizes to one pass at bootstrap, then every
    increment pays only for what arrived.

    Output is identical to filtering the full :func:`minhash_lsh_pairs`
    result to pairs with >= 1 new endpoint (band agreement is symmetric,
    so every such pair is reachable from the new side's bands)."""
    from pyspark.storagelevel import StorageLevel

    flagged = docs.select("doc_id", new_pred.alias("_new"), "text")
    sigs = minhash_signatures(flagged, n).persist(StorageLevel.MEMORY_AND_DISK)
    bands = _band_keys(sigs).join(
        flagged.select("doc_id", "_new"), "doc_id"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nb = bands.where(F.col("_new"))
    # sort-merge (never_broadcast) pin on the NEW side: spillable shuffle
    # join — scale-safe even when new_pred marks a large fraction, and
    # never lets a mis-estimate broadcast the corpus-proportional
    # full-bands side (256x-smoke class)
    x, y = nb.transform(never_broadcast).alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc1"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc2"),
        )
        .distinct()
    )
    arrs = hashed_shingle_arrays(flagged, n)
    return _verify_pairs(cand, arrs, threshold)


def substring_run_stats(docs: DataFrame, n: int = 5) -> DataFrame:
    """Per-document duplicated-substring profile at n-gram-window
    granularity — the window-level approximation of exact-substring
    training-data dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499): a position's n-token
    window is *duplicated* when the identical window occurs at >= 2
    positions corpus-wide (other docs or elsewhere in the same doc), and
    consecutive duplicated positions chain into runs — a long run is a
    long verbatim shared span, the removal target of substring dedup.

    Output per doc (docs shorter than ``n`` tokens have no windows and
    are absent): ``n_windows``, ``n_dup_windows``, ``dup_frac``,
    ``max_run`` (longest consecutive duplicated-position run, 0 if none).

    Scale shape (100 TB posture): one explode to (doc_id, pos, h48),
    one map-side-combinable occurrence count on the 8-byte window hash,
    one equi-join back on the hash, then per-doc aggregation — the run
    window only scans each doc's own duplicated positions. Everything is
    linear in corpus token count; no pairwise expansion exists anywhere
    (the suffix-array of the batch formulation is replaced by the
    hash-occurrence join, the standard distributed reformulation).

    Hash width (round-13 site note, module-header policy): keying on
    hash48 is DELIBERATE — this is a duplication *statistic*, not an
    identity contract.  A birthday collision marks one window falsely
    duplicated (never merges documents); expected perturbed fraction is
    ~W/2^48 of all windows (~0.4% at 10^12 distinct windows), orders
    below the window-approximation error this family already accepts vs
    true substring dedup.  Exact-identity contracts use full md5."""
    from pyspark.storagelevel import StorageLevel

    # (scan widening measured and rejected here, round 13: the shingle+
    # hash map work is only ~100-190 ms single-task at bench scale, and
    # the added round-robin exchange + 32-task scheduling cost MORE than
    # it saved — wall 0.69 s -> 1.01 s.  The heavy stages are the
    # occurrence join and the run window, already hash-parallel.)
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    # doc_id + pos + 8-byte hash: persisted so the corpus text is scanned
    # and shingled exactly ONCE — both the occurrence count and the join
    # probe side read the cached relation (module persist convention).
    pos = (
        toks.select(
            "doc_id", F.posexplode(shingles_of(F.col("toks"), n)).alias("pos", "sh")
        )
        .select("doc_id", "pos", hash48(F.col("sh")).alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    occ = pos.groupBy("h").agg(F.count("*").alias("occ"))
    # doc_id + pos + bool: tiny; reused by the per-doc count and the run
    # chain below.  sort-merge (never_broadcast) pin: BOTH sides are corpus-token-
    # proportional (pos is posexplode-derived — fan-out invisible to
    # Catalyst's estimate — and occ is its per-hash aggregate), so a
    # broadcast is wrong at any non-trivial scale; caught OOMing at 256x
    # by the scale smoke, same class as the jaccard_pairs finding.
    flagged = pos.join(occ.transform(never_broadcast), "h").select(
        "doc_id", "pos", (F.col("occ") >= 2).alias("dup")
    )
    # Round-13 single-pass doc side (guide §2.4): per_doc + runs used to be
    # two separate consumers of a persisted ``flagged`` (two doc_id
    # exchanges, two sorts, a second window pass, and a final SMJ to
    # stitch them).  One ordered window (partitionBy doc_id) now computes
    # the run grouping key inline — ``rn = running SUM(dup)`` equals
    # ROW_NUMBER() among dup rows for dup rows, so ``g = pos - rn``
    # reproduces the old dup-filtered row_number chaining exactly (between
    # two runs, pos advances more than rn, so g strictly increases: runs
    # never collide) — and BOTH aggregation levels pipeline on the same
    # hash(doc_id) partitioning (groupBy(doc_id, g) and groupBy(doc_id)
    # are each satisfied by it: no further exchange).  Plan shrank from
    # 10 Exchanges / 2 cached passes to a linear 3-Exchange pipeline with
    # no flagged persist; results bit-identical (oracle re-verified at
    # sf0.001/0.01/0.1).
    wd = Window.partitionBy("doc_id").orderBy("pos")
    rn = F.sum(F.col("dup").cast("long")).over(wd)
    lvl1 = (
        flagged.withColumn("g", F.when(F.col("dup"), F.col("pos") - rn))
        .groupBy("doc_id", "g")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("dup").cast("long")).alias("dcnt"),
        )
    )
    return (
        lvl1.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_windows"),
            F.sum("dcnt").alias("n_dup_windows"),
            F.max(F.when(F.col("g").isNotNull(), F.col("cnt"))).alias("_mr"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            (F.col("n_dup_windows").cast("double") / F.col("n_windows")).alias(
                "dup_frac"
            ),
            F.coalesce(F.col("_mr"), F.lit(0)).cast("long").alias("max_run"),
        )
    )


def cdc_chunk_stats(docs: DataFrame, gear_mod: int = 16) -> DataFrame:
    """Content-defined chunking dedup profile (the FastCDC/LBFS idea at
    token granularity): a chunk boundary falls AFTER every token whose
    hash is ``0 mod gear_mod``, so boundaries are decided by content, not
    position — inserting or deleting tokens re-chunks only the affected
    chunk, while every other chunk's text (and therefore its dedup hash)
    is unchanged.  Fixed-width windows (``chunk_dup_stats``) lose
    alignment after one insertion; CDC is the standard fix in dedup
    storage systems and near-dup curation pipelines alike.

    Per doc: chunk count, chunks whose exact text occurs in >= 2 distinct
    docs, duplicated fraction, and the largest chunk size (expected chunk
    length is ``gear_mod`` tokens; the max pins the pathological-run
    tail).

    Scale shape: one explode to (doc_id, pos, tok), one per-doc running
    sum (window, no self-join) to assign chunk ids, one groupBy to
    rebuild chunk text, one map-side-combinable document-frequency
    aggregate on the chunk key, one join back.  All linear; the join key
    is raw chunk text for oracle exactness — pre-hash with ``xxhash64``
    at 100 TB exactly as documented on ``chunk_dup_stats``.

    Hash width (round-13 site note, module-header policy): the gear
    hash48 decides only BOUNDARY placement — a collision shifts one
    chunk boundary (perturbing chunk lengths by ~1/gear_mod of one
    window, the same class of error the expected-length randomness
    already carries), and never merges identities: the dedup key itself
    stays exact chunk text.  Exact-identity contracts use full md5."""
    # Round-13 all-array chunk assembly (guide §2.3/§2.4): the previous
    # form posexploded EVERY token, ran a per-doc running-sum window over
    # them (one full-token exchange + sort) and rebuilt chunk text with a
    # collect_list/array_sort groupBy.  Boundary positions are a pure
    # per-document computation, so the chunks are now assembled inside
    # the row with array lambdas (transform/filter/zip_with/slice) and
    # only the CHUNKS (~|tokens|/gear_mod rows) ever explode — the first
    # shuffle the query pays is the chunk document-frequency aggregate.
    # Semantics unchanged (boundary AFTER every token whose hash is
    # 0 mod gear_mod; a trailing boundary creates no empty chunk — the
    # zip_with filter drops the zero-length tail exactly like the old
    # running-sum form, which never created a chunk id without tokens);
    # verified equal row-for-row at sf0.1 and bit-exact vs the oracle at
    # sf0.001/0.01/0.1.  Measured: steady build+run 1.88 s -> 1.48 s,
    # cold 6.1 s -> 2.4 s, and the full-token exchange is gone (the
    # 100 TB win: shuffle starts at chunk granularity, 16x fewer rows).
    toks = F.col("toks")
    bpos = F.filter(
        F.transform(
            toks,
            lambda tok, i: F.when((hash48(tok) % gear_mod) == 0, i + 1),
        ),
        lambda x: x.isNotNull(),
    )
    starts = F.concat(F.array(F.lit(0)), bpos)
    ends = F.concat(bpos, F.array(F.size(toks)))
    carr = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            F.array_join(F.slice(toks, s + 1, e - s), " ").alias("chunk"),
            (e - s).cast("long").alias("n_toks"),
        ),
    )
    # (scan widening measured and rejected here too, round 13: it spread
    # the 943 ms single-task assembly across 32 tasks, but per-task fixed
    # cost + array-row exchange churn cost 3.5-7 CPU-s and GC spikes for
    # ~0.2 s of wall — see OPTIMIZATION_r13.md "widening experiment")
    agg = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select(
            "doc_id",
            F.explode(F.filter(carr, lambda c: c["n_toks"] > 0)).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk").alias("chunk"),
            F.col("c.n_toks").alias("n_toks"),
        )
    )
    # agg feeds BOTH the chunk document-frequency aggregate and the join
    # back; without truncation the explode + per-token window + rebuild
    # groupBy (the expensive 3-stage pipeline above) runs twice.  The
    # chunk relation is ~|tokens|/gear_mod rows — a 16x reduction over
    # the exploded tokens it is built from.
    agg = agg.localCheckpoint(eager=False)
    dfreq = agg.groupBy("chunk").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.sum((F.col("nd") >= 2).cast("long"))
    # sort-merge (never_broadcast) pin: dfreq is distinct-chunk-proportional — same
    # never-broadcast rationale as chunk_dup_stats (256x-smoke class)
    return (
        agg.join(dfreq.transform(never_broadcast), "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            (dup.cast("double") / F.count("*")).alias("dup_frac"),
            F.max("n_toks").alias("max_chunk_tokens"),
        )
    )
