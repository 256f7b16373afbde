"""Unit tests for the LLM-pipeline operator libraries (dedup, vector,
multimodal) — semantics beyond what the oracle-parity sweep pins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from findb_spark.asof import asof_join
from findb_spark.ops.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_banded_pairs,
    simhash_pairs,
)
from findb_spark.ops.multimodal import attach_payload, decode_metadata
from findb_spark.ops.vector import (
    ann_lsh_topk,
    cosine_expr,
    cosine_topk,
    ivf_topk,
    pq_search,
)
from findb_spark.session import load_table


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (2, "the quick brown fox jumps over the lazy dog again and once", "en"),  # near-dup of 1
        (3, "completely different words about spark query engines at scale", "en"),
        (4, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING, lang STRING")


def test_jaccard_finds_near_and_exact_dups(docs):
    pairs = {(r.doc1, r.doc2): r.jaccard for r in jaccard_pairs(docs, 0.4).collect()}
    assert pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_lsh_agrees_with_exact_jaccard_on_strong_pairs(docs):
    lsh = {(r.doc1, r.doc2) for r in minhash_lsh_pairs(docs, 0.4).collect()}
    # exact duplicates always share every band
    assert (1, 4) in lsh


def test_simhash_banded_matches_exact_within_guarantee(docs):
    import pytest

    # default Manku parameters: hamming <= 3, 4 x 12-bit bands
    exact = {(r.doc1, r.doc2, r.hamming) for r in simhash_pairs(docs, 3).collect()}
    banded = {(r.doc1, r.doc2, r.hamming) for r in simhash_banded_pairs(docs, 3).collect()}
    assert banded == exact
    assert (1, 4, 0) in exact  # identical docs -> identical signatures
    # looser threshold still exact when bands are widened to match
    exact10 = {(r.doc1, r.doc2, r.hamming) for r in simhash_pairs(docs, 10).collect()}
    banded10 = {
        (r.doc1, r.doc2, r.hamming)
        for r in simhash_banded_pairs(docs, 10, n_bands=12).collect()
    }
    assert banded10 == exact10
    # banding that can't guarantee the threshold is refused, not silently lossy
    with pytest.raises(ValueError):
        simhash_banded_pairs(docs, 10, n_bands=4)


def test_cosine_topk_self_is_nearest(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # the fixed-point self-cosine is 1 up to rounding, so the query would
    # be its own nearest neighbour: the search must leave it out
    self_cos = q.select(cosine_expr("qv", "qv").alias("c")).first().c
    assert abs(self_cos - 1.0) < 1e-9
    top = cosine_topk(emb, q, k=3).orderBy("rnk").collect()
    assert [r.rnk for r in top] == [1, 2, 3]
    assert all(r.vec_id != 0 for r in top)


_BAD_ARGUMENTS = {
    "cosine_topk_k0": lambda emb, q: cosine_topk(emb, q, k=0),
    "ann_lsh_topk_k0": lambda emb, q: ann_lsh_topk(emb, q, k=0),
    "ann_lsh_multiprobe_k-1": lambda emb, q: ann_lsh_topk(
        emb, q, k=-1, multiprobe=True
    ),
    "ivf_topk_k0": lambda emb, q: ivf_topk(emb, k=0),
    # the check comes before the codebook is read
    "pq_search_shortlist_below_k": lambda emb, q: pq_search(
        emb, None, k=5, shortlist=4
    ),
    "asof_join_negative_tolerance": lambda emb, q: asof_join(
        emb.sparkSession.createDataFrame([(1, 5)], "asset_id BIGINT, qts BIGINT"),
        emb.sparkSession.createDataFrame(
            [(1, 1, 1.0)], "asset_id BIGINT, ts BIGINT, value DOUBLE"
        ),
        tolerance=-1,
    ),
}


@pytest.mark.parametrize("case", sorted(_BAD_ARGUMENTS))
def test_bad_arguments_raise_value_error(spark, sf_dir, case):
    """Arguments no search or join can answer (a top-k with k < 1, a PQ
    shortlist shorter than k, a negative as-of tolerance) raise
    ``ValueError`` when the call is made, before any Spark job runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    with pytest.raises(ValueError):
        _BAD_ARGUMENTS[case](emb, q)


def test_ann_lsh_subset_of_bucket(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    rows = ann_lsh_topk(emb, q, k=5).collect()
    assert all(r.rnk <= 5 for r in rows)
    assert all(r.vec_id != r.query_id for r in rows)


def test_multimodal_decode_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = decode_metadata(attach_payload(docs))
    rows = out.collect()
    assert len(rows) == 20
    assert out.columns == ["doc_id", "n_bytes", "width", "height", "channels", "format"]
    assert all(r.n_bytes == 16 for r in rows)  # md5 payload
    assert all(16 <= r.width < 656 and 16 <= r.height < 496 for r in rows)
    assert all(1 <= r.channels <= 3 for r in rows)


def test_jaccard_prefix_equals_inverted_index(docs):
    from findb_spark.ops.dedup import jaccard_pairs, jaccard_pairs_prefix

    naive = sorted(map(tuple, jaccard_pairs(docs, threshold=0.2).collect()))
    pref = sorted(map(tuple, jaccard_pairs_prefix(docs, threshold=0.2).collect()))
    assert naive == pref and len(naive) > 0


def test_ann_recall_improves_with_probes(spark, sf_dir):
    """Recall@5 vs the exact top-k: the nprobe dial must buy recall
    monotonically, and probing all K clusters must equal brute force
    (recall 1.0) — the IVF exactness anchor. The driver's synthetic
    embeddings are unclustered, so an untrained fixed-K codebook's recall
    tracks the probed fraction (~nprobe/K); absolute recall targets belong
    to trained codebooks on clustered data, the probe ladder is what the
    operator owes. Multiprobe LSH must not lose candidates vs its single
    bucket."""
    from pyspark.sql import functions as F

    from findb_spark.ops.vector import IVF_K, ann_lsh_topk, cosine_topk, ivf_topk
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=5).collect()}

    def recall(found):
        return len(exact & found) / len(exact)

    r1 = recall({(r.query_id, r.vec_id) for r in ivf_topk(emb, k=5, nprobe=1).collect()})
    r16 = recall(
        {(r.query_id, r.vec_id) for r in ivf_topk(emb, k=5, nprobe=16).collect()}
    )
    rfull = recall(
        {(r.query_id, r.vec_id) for r in ivf_topk(emb, k=5, nprobe=IVF_K).collect()}
    )
    assert r1 <= r16 <= rfull
    assert rfull == 1.0

    single = {(r.query_id, r.vec_id) for r in ann_lsh_topk(emb, q, k=5).collect()}
    multi = {
        (r.query_id, r.vec_id)
        for r in ann_lsh_topk(emb, q, k=5, multiprobe=True).collect()
    }
    assert recall(multi) >= recall(single)


def test_lsh_incremental_equals_filtered_full(docs):
    from findb_spark.ops.dedup import minhash_lsh_pairs_incremental

    full = {
        (r.doc1, r.doc2, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(docs, 0.4).collect()
    }
    want = {t for t in full if t[0] % 2 == 0 or t[1] % 2 == 0}
    got = {
        (r.doc1, r.doc2, round(r.jaccard, 9))
        for r in minhash_lsh_pairs_incremental(
            docs, F.col("doc_id") % 2 == 0, 0.4
        ).collect()
    }
    assert got == want and len(want) > 0


def test_ppm_resize_real_roundtrip(spark, sf_dir):
    """REAL image path: encode P6 -> resize (nearest) -> decode; resized
    pixels must equal direct nearest-neighbor sampling of the formula."""
    import numpy as np

    from findb_spark.functions.media_codec import (
        decode_ppm,
        image_pixels,
        resize_nearest,
    )
    from findb_spark.ops.multimodal import attach_ppm_payload, resize_ppm_images

    docs = load_table(spark, sf_dir, "documents").limit(10)
    out = resize_ppm_images(attach_ppm_payload(docs), 4, 3).collect()
    assert len(out) == 10
    for r in out:
        assert (r.width, r.height) == (4, 3)
        got = decode_ppm(bytes(r.payload))
        want = resize_nearest(image_pixels(r.doc_id), 4, 3)
        assert np.array_equal(got, want)


def test_wav_decode_real(spark, sf_dir):
    """REAL audio path: RIFF bytes decode back to the formula samples."""
    import numpy as np

    from findb_spark.functions.media_codec import audio_samples, decode_wav
    from findb_spark.ops.multimodal import attach_wav_payload

    rows = attach_wav_payload(
        load_table(spark, sf_dir, "documents").limit(5)
    ).collect()
    for r in rows:
        rate, s = decode_wav(bytes(r.payload))
        assert rate == 8000
        assert np.array_equal(s, audio_samples(r.doc_id))


def test_kmeans_lloyd_improves_mean_cosine(spark, sf_dir):
    """Lloyd iterations over the IVF codebook must not degrade cluster
    quality: mean member-to-centroid cosine rises sharply on the first
    refinement and stays non-decreasing (to fixed-point tolerance) after.
    Deterministic init -> this is a regression pin, not a flaky bound."""
    from pyspark.sql import functions as F

    from findb_spark.ops.vector import (
        assign_to_centroids,
        ivf_centroids,
        kmeans_refine_centroids,
    )
    from findb_spark.session import load_table

    # cache scoped to this test: a leaked full-table InMemoryRelation would
    # substitute into later plans (cache manager matches analyzed subplans)
    # and defeat column pruning, breaking test_quantize_reads_only_needed_columns
    emb = load_table(spark, sf_dir, "embeddings").cache()
    try:
        def mean_cos(asg, cents):
            j = asg.join(cents, asg.cluster == cents.cent_id).select(
                cosine_expr("embedding", "cvec").alias("c")
            )
            return j.agg(F.avg("c")).collect()[0][0]

        cents = ivf_centroids(emb)
        asg = assign_to_centroids(emb, cents)
        scores = [mean_cos(asg, cents)]
        for _ in range(2):
            cents = kmeans_refine_centroids(asg)
            asg = assign_to_centroids(emb.select("vec_id", "embedding"), cents)
            scores.append(mean_cos(asg, cents))
        assert scores[1] > scores[0] + 0.05  # first Lloyd step is a big win
        assert scores[2] >= scores[1] - 1e-9  # then monotone (deterministic)
    finally:
        emb.unpersist()


def test_kmeans_profile_covers_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    from findb_spark.ops.vector import kmeans_cluster_profile
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    prof = kmeans_cluster_profile(emb)
    agg = prof.agg(F.sum("n_vecs"), F.count("*")).collect()[0]
    assert agg[0] == emb.count()  # every vector lands in exactly one cluster
    assert agg[1] <= 64


def test_pq_codes_dense_and_complete(spark, sf_dir):
    """Every corpus vector gets exactly PQ_M codes, each in 1..PQ_K —
    after training too (empty codewords keep their init values, so the
    code space never develops holes that would misalign ADC tables)."""
    from pyspark.sql import functions as F

    from findb_spark.ops.vector import (
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        pq_codebook,
        pq_encode_arrow,
        pq_train,
    )
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_train(emb, pq_codebook(emb))
    assert cb.shape == (PQ_M, PQ_K, PQ_SUBDIM)
    codes = pq_encode_arrow(emb, cb)
    assert codes.count() == emb.count()
    bounds = codes.agg(
        *[F.min(f"c{m}").alias(f"lo{m}") for m in range(PQ_M)],
        *[F.max(f"c{m}").alias(f"hi{m}") for m in range(PQ_M)],
    ).first()
    for m in range(PQ_M):
        assert 1 <= bounds[f"lo{m}"] and bounds[f"hi{m}"] <= PQ_K


def _pq_shortlist_recall(spark, sf_dir, shortlist, train):
    from pyspark.sql import functions as F

    from findb_spark.ops.vector import cosine_topk, pq_adc_topk, pq_codebook, pq_train
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=5).collect()}
    cb = pq_codebook(emb)
    if train:
        cb = pq_train(emb, cb)
    sl = {
        (r.query_id, r.vec_id)
        for r in pq_adc_topk(emb, codebook=cb, k=shortlist).collect()
    }
    assert len(exact) > 0
    return len(exact & sl) / len(exact)


def test_pq_trained_shortlist_recall(spark, sf_dir):
    """The deployed PQ shape is shortlist + exact rerank, so shortlist
    recall IS end recall.  Trained codebook, shortlist 50/500: demand
    >= 0.6 (measured 0.73; random baseline is 0.1) and that one Lloyd
    round does not hurt the untrained sample codebook."""
    trained = _pq_shortlist_recall(spark, sf_dir, shortlist=50, train=True)
    untrained = _pq_shortlist_recall(spark, sf_dir, shortlist=50, train=False)
    assert trained >= 0.6, f"trained shortlist recall {trained}"
    assert trained >= untrained - 1e-9, (trained, untrained)


def test_pq_search_matches_exact_on_shortlist_and_is_deterministic(spark, sf_dir):
    """pq_search's reranked scores must be the EXACT cosine values (same
    fixed-point formula as cosine_topk) and stable under re-execution."""
    from pyspark.sql import functions as F

    from findb_spark.ops.vector import cosine_topk, pq_codebook, pq_search, pq_train
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact_sim = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in cosine_topk(emb, q, k=500).collect()
    }
    cb = pq_train(emb, pq_codebook(emb))
    r1 = sorted(map(tuple, pq_search(emb, cb, k=5).collect()))
    r2 = sorted(map(tuple, pq_search(emb, cb, k=5).collect()))
    assert r1 == r2
    for query_id, vec_id, cos_sim, _rnk in r1:
        assert cos_sim == exact_sim[(query_id, vec_id)]


def test_ivf_pq_candidates_stay_in_probed_cluster(spark, sf_dir):
    """IVF-PQ must only surface candidates from the query's own coarse
    cluster (nprobe=1) — the candidate-bounding contract — and be
    deterministic across executions."""
    from findb_spark.ops.vector import (
        assign_to_centroids,
        ivf_centroids,
        ivf_pq_topk,
        pq_codebook,
        pq_train,
    )
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    clusters = {
        r.vec_id: r.cluster
        for r in assign_to_centroids(emb, ivf_centroids(emb)).collect()
    }
    cb = pq_train(emb, pq_codebook(emb))
    r1 = sorted(map(tuple, ivf_pq_topk(emb, cb, k=5).collect()))
    r2 = sorted(map(tuple, ivf_pq_topk(emb, cb, k=5).collect()))
    assert r1 == r2 and len(r1) > 0
    for query_id, vec_id, _adc, _rnk in r1:
        assert clusters[vec_id] == clusters[query_id]


def test_pq_on_corpus_smaller_than_pq_k(spark, sf_dir):
    """On a corpus of fewer than PQ_K vectors the init codebook holds one
    codeword per vector, so the encode, training and ADC kernels must take
    the code range from the codebook, not from PQ_K.  With the shortlist
    covering the whole corpus, pq_search equals the exact top-k."""
    from findb_spark.ops.vector import (
        PQ_M,
        PQ_SUBDIM,
        ivf_pq_topk,
        pq_codebook,
        pq_encode_arrow,
        pq_search,
        pq_train,
    )
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)
    cb = pq_train(emb, pq_codebook(emb))
    assert cb.shape == (PQ_M, 10, PQ_SUBDIM)
    codes = pq_encode_arrow(emb, cb).collect()
    assert sorted(r.vec_id for r in codes) == list(range(10))
    assert all(1 <= r[f"c{m}"] <= 10 for r in codes for m in range(PQ_M))
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = sorted(map(tuple, cosine_topk(emb, q, k=5).collect()))
    assert len(exact) == 15
    assert sorted(map(tuple, pq_search(emb, cb, k=5).collect())) == exact
    ivf_pq_topk(emb, cb, k=5).collect()


def test_pq_specs_train_only_in_the_memo(spark, sf_dir, monkeypatch):
    """The engine trains a PQ codebook in one place,
    ``_trained_pq_codebook``: once it is warm, building and running the
    IVF-PQ and PQ-search specs must not train again."""
    from findb_spark.ops import vector
    from findb_spark.queries import vector_queries as vq
    from findb_spark.registry import all_specs

    vq._trained_pq_codebook(spark, sf_dir)

    def train(*args, **kwargs):
        raise AssertionError("PQ codebook trained outside _trained_pq_codebook")

    monkeypatch.setattr(vector, "pq_train", train)
    monkeypatch.setattr(vector, "pq_codebook", train)
    for name in ("vec_ivf_pq", "vec_pq_search"):
        assert all_specs()[name].fn(spark, sf_dir).count() > 0, name


def test_chunk_dup_stats_tail_and_exact_dup_edges(spark):
    """Chunk windows: tail chunks shorter than the window still count;
    an exact duplicate pair has dup_frac 1.0; a unique doc has 0.0."""
    rows = [
        (1, " ".join(f"w{i}" for i in range(40))),  # 3 chunks (16+16+8)
        (2, " ".join(f"w{i}" for i in range(40))),  # exact dup of 1
        (3, " ".join(f"u{i}" for i in range(20))),  # unique, 2 chunks
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    from findb_spark.ops.dedup import chunk_dup_stats

    got = {r.doc_id: (r.n_chunks, r.n_dup_chunks, r.dup_frac)
           for r in chunk_dup_stats(docs, chunk_tokens=16).collect()}
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (3, 3, 1.0)
    assert got[3] == (2, 0, 0.0)


def _codebook_df(spark, cb):
    """The codebook array as the (code, sw0..sw{PQ_M-1}) relation the
    Column-form specs (fxp_l2_sub) cross-join against."""
    from findb_spark.ops.vector import PQ_M
    from findb_spark.session import local_relation_df

    rows = [
        (code0 + 1, *[cb[m, code0].tolist() for m in range(PQ_M)])
        for code0 in range(cb.shape[1])
    ]
    return local_relation_df(
        spark,
        rows,
        "code int, " + ", ".join(f"sw{m} array<double>" for m in range(PQ_M)),
    )


def test_pq_numpy_normalization_bit_equal_to_column_form(spark, sf_dir):
    """Every PQ kernel unit-normalizes RAW embeddings in numpy (exact int64
    self-dot, one IEEE sqrt, one divide per element).  The result must be
    BIT-identical to the JVM Column form ``_normalized`` for every corpus
    vector — the codebook, the encode and the ADC tables all rest on it."""
    import numpy as np

    from findb_spark.ops.vector import _normalized, _unit_rows
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    raw = sorted(emb.select("vec_id", "embedding").collect())
    spec = sorted(_normalized(emb).collect())
    assert [r.vec_id for r in raw] == [r.vec_id for r in spec]
    got = _unit_rows([r.embedding for r in raw])
    want = np.array([r.nv for r in spec], dtype=np.float64)
    assert got.view(np.int64).tolist() == want.view(np.int64).tolist()


def test_pq_encode_kernels_bit_equal(spark, sf_dir):
    """The numpy-over-Arrow encode kernel (pq_encode_arrow, which
    normalizes RAW embeddings inside the kernel) must agree BIT-FOR-BIT
    with the fxp_l2_sub Column form over the JVM-normalized corpus (the
    executable spec — crossJoin against the broadcast codebook +
    composite min aggregate).  Same IEEE-754 double ops + exact int64
    sums on both, so any divergence is a kernel bug, not noise."""
    from pyspark.sql import functions as F

    from findb_spark.ops.vector import (
        PQ_M,
        _normalized,
        fxp_l2_sub,
        pq_codebook,
        pq_encode_arrow,
        pq_train,
    )
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    nv = _normalized(emb)
    cb = pq_train(emb, pq_codebook(emb))

    j = nv.crossJoin(F.broadcast(_codebook_df(spark, cb)))
    dists = j.select(
        "vec_id",
        *[
            (fxp_l2_sub(F.col("nv"), F.col(f"sw{m}"), m) * 128 + F.col("code")).alias(
                f"d{m}"
            )
            for m in range(PQ_M)
        ],
    )
    agg = dists.groupBy("vec_id").agg(
        *[F.min(f"d{m}").alias(f"d{m}") for m in range(PQ_M)]
    )
    spec = {
        r["vec_id"]: tuple(r[f"d{m}"] % 128 for m in range(PQ_M))
        for r in agg.collect()
    }
    arrow_fused = {
        r["vec_id"]: tuple(r[f"c{m}"] for m in range(PQ_M))
        for r in pq_encode_arrow(emb, cb).collect()
    }
    assert len(spec) == emb.count()
    assert spec == arrow_fused


def test_cosine_topk_bit_equal_to_numpy_model(spark, sf_dir):
    """The one exact-cosine scorer (every vector search ranks through it)
    against a numpy fixed-point model: the dot is the int64 sum of
    ``floor(x*y*1e12 + 0.5)``, the norms come from ``_fxp_norm``, and
    ``cos_sim`` is ``(dot/1e12) / (n_corpus * n_query)``.  Scores must be
    bit-equal and ranks identical, over all 64 dims and over the 16-dim
    prefix ``vec_truncated_topk`` scores."""
    import numpy as np

    from findb_spark.ops.vector import (
        FXP_SCALE,
        _cosine_topk,
        _cross_pairs,
        _fxp_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    scale, k = float(FXP_SCALE), 7
    for dim in (64, 16):
        m = mat[:, :dim]
        nrm = _fxp_norm(m)
        want = set()
        for qid in (0, 1, 2):
            (i,) = np.nonzero(ids == qid)[0]
            dots = np.floor(m * m[i] * scale + 0.5).astype(np.int64).sum(axis=1)
            cos = (dots.astype(np.float64) / scale) / (nrm * nrm[i])
            cand = sorted(
                (-c, int(v)) for c, v in zip(cos.tolist(), ids.tolist()) if v != qid
            )[:k]
            want |= {(qid, v, -c, r) for r, (c, v) in enumerate(cand, start=1)}
        got = {
            tuple(r)
            for r in _cosine_topk(emb, q, k, _cross_pairs, dim=dim).collect()
        }
        assert len(want) == 3 * k
        assert got == want, dim


def test_local_relation_df(spark):
    """session.local_relation_df must produce a true LocalRelation
    (LocalTableScan — zero tasks, no Python-RDD evaluation) with
    BIT-EXACT values across the Arrow channel, for tuple rows, dict
    rows, nested double arrays, and the empty-relation edge."""
    import io
    import struct
    from contextlib import redirect_stdout

    from findb_spark.session import local_relation_df

    bits = lambda x: struct.unpack("<q", struct.pack("<d", x))[0]
    awkward = [0.1 + 0.2, -0.0, 1e-308, 123456789.123456789, 2.0**53 - 1]
    rows = [(1, awkward, "a"), (2, [x * -1.0 for x in awkward], "b")]
    df = local_relation_df(
        spark, rows, "id bigint, v array<double>, s string"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "LocalTableScan" in buf.getvalue()
    got = sorted(df.collect(), key=lambda r: r.id)
    for r, (i, v, s) in zip(got, rows):
        assert r.id == i and r.s == s
        assert [bits(x) for x in r.v] == [bits(x) for x in v]
    # dict rows, matched to the schema by name
    d2 = local_relation_df(
        spark, [{"code": 2, "w": [1.5]}, {"code": 1, "w": [-2.5]}],
        "code int, w array<double>",
    )
    assert sorted(map(tuple, d2.collect())) == [(1, [-2.5]), (2, [1.5])]
    # empty is an empty relation of the same schema
    assert local_relation_df(spark, [], "x bigint").count() == 0


def test_local_relation_df_empty_runs_no_job(spark, count_jobs):
    """An empty ``local_relation_df`` is a ``LocalRelation`` too: its
    collect runs no Spark job.  ``createDataFrame([], schema)`` is an
    RDD scan whose collect ran jobs and took over a second."""
    from pyspark.sql.types import StructType

    from findb_spark.session import local_relation_df

    schema = "asset_id bigint, date int, ts bigint, value double"
    df = local_relation_df(spark, [], schema)
    assert df.schema == StructType.fromDDL(schema)
    assert count_jobs(df.collect) == ([], 0)


def test_map_rows_emits_zero_one_or_many_rows_per_input(spark):
    """``map_rows`` calls the row function with Python values in the
    input's column order and emits every tuple it returns: none drops
    the row, one is a decode, three expand it.  A ``binary`` column
    crosses both ways, and an empty input gives an empty relation of the
    declared schema."""
    from pyspark.sql.types import StructType

    from findb_spark.session import map_rows

    schema = "k BIGINT, i INT, blob BINARY"

    def rows_of(k, n, blob):
        assert isinstance(k, int) and isinstance(n, int) and isinstance(blob, bytes)
        return [(k, i, blob + bytes([i])) for i in range(n)]

    df = spark.createDataFrame(
        [(1, 0, b"a"), (2, 1, b"bb"), (3, 3, b"\x00\xff")], "k BIGINT, n INT, blob BINARY"
    )
    out = map_rows(df, rows_of, schema)
    assert out.schema == StructType.fromDDL(schema)
    assert sorted(map(tuple, out.collect())) == [
        (2, 0, bytearray(b"bb\x00")),
        (3, 0, bytearray(b"\x00\xff\x00")),
        (3, 1, bytearray(b"\x00\xff\x01")),
        (3, 2, bytearray(b"\x00\xff\x02")),
    ]
    # every row dropped, and no input rows at all
    dropped = map_rows(df, lambda *_: [], schema)
    empty = map_rows(df.where(F.lit(False)), rows_of, schema)
    for d in (dropped, empty):
        assert d.schema == StructType.fromDDL(schema)
        assert d.collect() == []


def test_pq_luts_driver_matches_column_form(spark, sf_dir):
    """The ADC-table kernel (_luts_driver — what pq_adc_topk and
    ivf_pq_topk ship as a literal broadcast relation) must be
    BIT-IDENTICAL to the Column-form specification: fxp_l2_sub between
    JVM-normalized queries and every codeword (integer entries, so
    equality is exact)."""
    from pyspark.sql import functions as F

    from findb_spark.ops.vector import (
        PQ_M,
        _luts_driver,
        _normalized,
        fxp_l2_sub,
        pq_codebook,
        pq_train,
    )
    from findb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_train(emb, pq_codebook(emb))
    q_rows = (
        emb.where(F.col("vec_id") < 3).select("vec_id", "embedding").collect()
    )
    got = sorted(_luts_driver(q_rows, cb))
    q = _normalized(emb).where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("nv").alias("qv")
    )
    dists = q.crossJoin(F.broadcast(_codebook_df(spark, cb))).select(
        "query_id",
        "code",
        *[fxp_l2_sub(F.col("qv"), F.col(f"sw{m}"), m).alias(f"d{m}") for m in range(PQ_M)],
    )
    tables: dict[int, list[list[int]]] = {}
    for r in sorted(dists.collect(), key=lambda r: (r["query_id"], r["code"])):
        t = tables.setdefault(int(r["query_id"]), [[] for _ in range(PQ_M)])
        for m in range(PQ_M):
            t[m].append(int(r[f"d{m}"]))
    spec = sorted((qid, *t) for qid, t in tables.items())
    assert len(got) == 3
    assert got == spec


def test_substring_run_stats_runs_and_fractions(spark):
    """Hand-computable corpus for the window-level substring-dedup profile:
    doc 1 and 2 share a verbatim 8-token prefix (4 consecutive duplicated
    5-token windows -> max_run 4); doc 3 shares nothing; doc 4 is a
    4-token doc (< n) and must be absent."""
    from findb_spark.ops.dedup import substring_run_stats

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, shared + " one two three"),
        (2, shared + " four five six"),
        (3, "totally unrelated words that never repeat anywhere at all"),
        (4, "too short for windows"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in substring_run_stats(docs, n=5).collect()}
    assert set(out) == {1, 2, 3}
    # 11 tokens -> 7 windows; windows starting in the shared prefix
    # (positions 1-4 of the 8-token span) are duplicated across docs 1/2
    for d in (1, 2):
        assert out[d].n_windows == 7
        assert out[d].n_dup_windows == 4
        assert out[d].max_run == 4
        assert out[d].dup_frac == pytest.approx(4 / 7)
    assert out[3].n_dup_windows == 0 and out[3].max_run == 0


def test_cdc_chunks_survive_insertion_fixed_windows_do_not(spark):
    """The property content-defined chunking exists for: inserting one
    token re-chunks only the chunk it lands in (boundaries are content
    hashes, not positions), so almost every chunk key still matches the
    original doc — while fixed-width windows lose alignment for the
    entire tail after the insertion point."""
    import random

    from findb_spark.ops.dedup import cdc_chunk_stats, chunk_dup_stats

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    words = [rng.choice(vocab) for _ in range(240)]
    inserted = words[:120] + ["zzz"] + words[120:]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(inserted))],
        "doc_id BIGINT, text STRING",
    )
    cdc = {r.doc_id: r for r in cdc_chunk_stats(docs, gear_mod=16).collect()}
    assert cdc[1].n_chunks > 5  # boundaries actually fire
    # at most the chunk containing the insertion (split into two on the
    # inserted-token-is-boundary edge) differs
    for d in (1, 2):
        assert cdc[d].n_dup_chunks >= cdc[d].n_chunks - 2
        assert cdc[d].dup_frac > 0.7
    fixed = {r.doc_id: r for r in chunk_dup_stats(docs, chunk_tokens=16).collect()}
    # fixed windows: every window after the insertion point shifts by one
    # token and stops matching — CDC must beat them on the same pair
    for d in (1, 2):
        assert cdc[d].dup_frac > fixed[d].dup_frac


def test_cluster_silhouette_bounds_and_assignment_consistency(spark):
    """Silhouette invariants on the real sf0.001 embeddings: one row per
    vector, s in [-1, 1] up to float rounding (a vector that IS a
    centroid computes cos(self, self) one ulp off 1.0 through the
    fixed-point sqrt, nudging s past 1 by ~2e-16 — deterministic, not a
    bug), and the reported cluster is
    EXACTLY the ivf_assign cluster — the metric must grade the same
    partition the ANN/semantic-dedup operators use."""
    from findb_spark.ops.vector import cluster_silhouette, ivf_assign

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sil = {r.vec_id: r for r in cluster_silhouette(emb).collect()}
    assigned = {r.vec_id: r.cluster for r in ivf_assign(emb).collect()}
    assert set(sil) == set(assigned)
    for vid, r in sil.items():
        assert -1.0 - 1e-12 <= r.sil <= 1.0 + 1e-12
        assert r.cluster == assigned[vid], vid


def test_power_iteration_recovers_dominant_direction(spark):
    """On data with a planted dominant axis, 3 fixed-point power-iteration
    rounds must align with numpy's exact top eigenvector of X'X
    (|cos| > 0.999), and the output must be unit-L2."""
    import numpy as np

    from findb_spark.ops.vector import power_iteration_top_dir

    rng = np.random.default_rng(7)
    d = 16
    axis = rng.standard_normal(d)
    axis /= np.linalg.norm(axis)
    x = (
        rng.standard_normal((200, 1)) * 0.9 * axis[None, :]
        + 0.05 * rng.standard_normal((200, d))
    )
    rows = [(i, [float(v) for v in x[i]]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = power_iteration_top_dir(emb, rounds=3).collect()
    v = np.zeros(d)
    for r in got:
        v[int(r.dim)] = r.loading_ppm / 1e6
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    evals, evecs = np.linalg.eigh(x.T @ x)
    top = evecs[:, int(np.argmax(evals))]
    assert abs(float(v @ top)) > 0.999


def test_image_boxblur_matches_naive_stencil(spark):
    """The separable two-pass kernel must equal the naive 9-sum // 9 on a
    known image, interior-only coordinates."""
    import numpy as np

    from findb_spark.functions.media_codec import image_pixels
    from findb_spark.ops.multimodal import attach_ppm_payload, image_boxblur_cells

    docs = spark.createDataFrame(
        [(3, "x", "en", "s", 1), (7, "y", "en", "s", 1)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    out = image_boxblur_cells(attach_ppm_payload(docs)).collect()
    got = {(r.doc_id, r.r, r.c): (r.red, r.green, r.blue) for r in out}
    for doc_id in (3, 7):
        px = image_pixels(doc_id).astype(np.int64)
        h, w, _ = px.shape
        for r in range(1, h - 1):
            for c in range(1, w - 1):
                want = tuple(
                    int(px[r - 1 : r + 2, c - 1 : c + 2, ch].sum() // 9)
                    for ch in range(3)
                )
                assert got[(doc_id, r, c)] == want
    # interior-only: no border coordinates emitted
    assert all(r >= 1 and c >= 1 for (_, r, c) in got)


def test_png_codec_lossless_all_filters():
    """decode(encode(px)) == px; the r % 5 filter schedule means every
    image with h >= 5 exercises all five RFC 2083 filter types."""
    import numpy as np

    from findb_spark.functions.media_codec import decode_png, encode_png, png_pixels

    for doc_id in (0, 1, 7, 62, 123, 5000):
        px = png_pixels(doc_id)
        assert px.shape[0] >= 5  # all filters appear
        assert np.array_equal(decode_png(encode_png(px)), px)


def test_png_decode_rejects_corruption():
    """A CRC-verified decoder must reject a tampered IDAT byte and a bad
    signature — the failure modes a real ingest pipeline sees."""
    import numpy as np
    import pytest as _pytest

    from findb_spark.functions.media_codec import decode_png, encode_png, png_pixels

    good = encode_png(png_pixels(3))
    bad = bytearray(good)
    bad[40] ^= 0xFF  # inside IHDR/IDAT region -> CRC mismatch
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with _pytest.raises(ValueError, match="PNG"):
        decode_png(b"P6\n1 1\n255\n" + bytes(3))
    # truncated stream (no IHDR parsed) also refuses
    with _pytest.raises(ValueError):
        decode_png(good[:8])
    # stream cut mid-chunk: declared length runs past the payload end
    idat = good.find(b"IDAT")
    with _pytest.raises(ValueError, match="truncated"):
        decode_png(good[: idat + 8])
    assert np.array_equal(decode_png(good), png_pixels(3))


def test_png_spark_decode_matches_formula(spark, sf_dir):
    """REAL compressed-image path through Spark: mapInPandas decode of the
    DEFLATE payloads reproduces the closed-form pixel features."""
    from findb_spark.functions.media_codec import png_pixels
    from findb_spark.ops.multimodal import attach_png_payload, decode_png_metadata

    docs = load_table(spark, sf_dir, "documents").limit(8)
    for r in decode_png_metadata(attach_png_payload(docs)).collect():
        px = png_pixels(r.doc_id).astype("int64")
        assert (r.width, r.height) == (px.shape[1], px.shape[0])
        assert r.sum_pixels == int(px.sum())
        assert r.sum_sq == int((px * px).sum())


def test_mulaw_g711_standard_vectors_and_bound():
    """G.711 mu-law pins: canonical code points, midpoint decode, the
    half-step error bound, and decode monotonicity over all 65536 inputs."""
    import numpy as np

    from findb_spark.functions.media_codec import decode_mulaw, encode_mulaw

    # canonical extremes (Sun/CCITT formulation): 0 -> 0xFF, +max -> 0x80,
    # -max -> 0x00; zero decodes back to exactly 0
    assert encode_mulaw(np.array([0], np.int16)) == b"\xff"
    assert encode_mulaw(np.array([32635], np.int16)) == b"\x80"
    assert encode_mulaw(np.array([-32635], np.int16)) == b"\x00"
    assert decode_mulaw(b"\xff")[0] == 0
    x = np.arange(-32768, 32768, dtype=np.int16)
    y = decode_mulaw(encode_mulaw(x)).astype(np.int64)
    err = np.abs(y - x.astype(np.int64))
    in_range = np.abs(x.astype(np.int64)) <= 32635
    # segment e has step 2^(e+3); midpoint decode keeps |err| <= 4 * 2^e,
    # which tops out at 512 in segment 7
    assert err[in_range].max() <= 512
    assert np.all(np.diff(y) >= 0)  # companding law is monotone


def test_jpeg_codec_roundtrip_matches_integer_pipeline():
    """The real JFIF entropy layer (Huffman + zigzag + DC prediction +
    byte stuffing) is lossless around the quantized levels: decoding the
    byte stream must reproduce the pure integer-pipeline prediction
    bit-exactly, for all three content modes."""
    import numpy as np

    from findb_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
        jpeg_forward_levels,
        jpeg_pixels,
        jpeg_reconstruct,
    )

    for doc_id in (0, 1, 2, 3, 4, 5, 62, 123, 5001):
        px = jpeg_pixels(doc_id)
        payload = encode_jpeg(px)
        assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
        want = jpeg_reconstruct(jpeg_forward_levels(px))
        assert np.array_equal(decode_jpeg(payload), want), doc_id


def test_jpeg_entropy_paths_all_exercised():
    """The 3-mode corpus must hit every structural entropy path: EOB,
    ZRL (16-zero runs) and nonzero-run (run,size) codes — otherwise the
    oracle certifies only the easy half of the Huffman layer."""
    from findb_spark.functions.jpeg_codec import ZIGZAG, jpeg_forward_levels, jpeg_pixels

    eob = zrl = run_codes = 0
    for doc_id in range(30):
        lv = jpeg_forward_levels(jpeg_pixels(doc_id))
        for br in range(lv.shape[0]):
            for bc in range(lv.shape[1]):
                zz = lv[br, bc].reshape(64)[ZIGZAG]
                run = 0
                for k in range(1, 64):
                    if int(zz[k]) == 0:
                        run += 1
                        continue
                    while run > 15:
                        zrl += 1
                        run -= 16
                    if run:
                        run_codes += 1
                    run = 0
                if run:
                    eob += 1
    assert eob > 0 and zrl > 0 and run_codes > 0


def test_jpeg_decode_rejects_corruption():
    import pytest as _pytest

    from findb_spark.functions.jpeg_codec import decode_jpeg, encode_jpeg, jpeg_pixels

    good = encode_jpeg(jpeg_pixels(7))
    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00" + good)
    with _pytest.raises(ValueError, match="EOI"):
        decode_jpeg(good[:-2])
    # an unstuffed 0xFF inside entropy data must be rejected, not decoded
    scan = good.rfind(b"\xff\xda")
    bad = bytearray(good)
    bad[scan + 10 : scan + 12] = b"\xff\xc0"
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    # SOS referencing a DHT table id that was never declared: ValueError
    # with a message, not a bare KeyError (SOS body: Ns, comp id, Td/Ta)
    undecl = bytearray(good)
    undecl[scan + 6] = 0x33
    with _pytest.raises(ValueError, match="undeclared Huffman"):
        decode_jpeg(bytes(undecl))


def test_jpeg_spark_features_match_codec(spark, sf_dir):
    import numpy as np

    from findb_spark.functions.jpeg_codec import decode_jpeg, encode_jpeg, jpeg_pixels
    from findb_spark.ops.multimodal import attach_jpeg_payload, jpeg_roundtrip_features

    docs = load_table(spark, sf_dir, "documents").limit(6)
    for r in jpeg_roundtrip_features(attach_jpeg_payload(docs)).collect():
        src = jpeg_pixels(r.doc_id).astype(np.int64)
        dec = decode_jpeg(encode_jpeg(jpeg_pixels(r.doc_id))).astype(np.int64)
        assert (r.width, r.height) == (src.shape[1], src.shape[0])
        assert r.sum_decoded == int(dec.sum())
        assert r.sum_abs_err == int(np.abs(dec - src).sum())


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([(1, float("nan"))], "id bigint, x double"),
        ([(1, 2.0), (None, 3.0)], "id bigint, x double"),
        ([(1, [0.5, float("nan")])], "id bigint, v array<float>"),
    ],
)
def test_local_relation_df_rejects_lossy_numerics(spark, rows, schema):
    """NaN in a floating column (or inside a float array) would silently
    become NULL, and None in an integral column float64, through the
    Arrow channel."""
    from findb_spark.session import local_relation_df

    with pytest.raises(ValueError, match="None \\(integral\\) or NaN"):
        local_relation_df(spark, rows, schema)


def test_local_relation_df_keeps_null_floats_and_big_ints(spark):
    """None in floating and decimal columns is not lossy: SQL NULL on both
    paths. Integers above 2**53 in a None-free column stay exact."""
    from decimal import Decimal

    from findb_spark.session import local_relation_df

    rows = [(2**60 + 1, None, None), (2, 2.5, Decimal("1.25"))]
    schema = "id bigint, x double, d decimal(10,2)"
    got = local_relation_df(spark, rows, schema).collect()
    assert got == spark.createDataFrame(rows, schema).collect()
    assert got[0].id == 2**60 + 1 and got[0].x is None and got[0].d is None
