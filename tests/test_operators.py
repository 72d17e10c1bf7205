"""Operator-level tests: dedup family, similarity (incl. LSH recall),
text stats, sessionization, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mitoscape_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_exact_dedup_known_duplicates(spark):
    from mitoscape_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "c")], ["k", "v"]
    )
    assert exact_dedup(df).count() == 3
    assert exact_dedup(df, ["k"]).count() == 2


def test_minhash_identical_docs_collide(spark):
    from mitoscape_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different words appear in this other document here"),
        ],
        ["doc_id", "text"],
    )
    pairs = minhash_candidate_pairs(minhash_signatures(docs)).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(1, 2)]


def test_ngram_jaccard_bounds(spark):
    from mitoscape_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f"),  # identical → jaccard 1.0
            (3, "a b c d x y"),  # shares 2 of 4 shingles with 1
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert out[(1, 2)] == pytest.approx(1.0)
    assert 0 < out[(1, 3)] < 1


def test_simhash_similar_docs_close(spark):
    from mitoscape_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),  # 1 token differs
            (3, "one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    h = {r.doc_id: int(r.simhash) for r in simhash(docs).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(h[1], h[2]) <= hamming(h[1], h[3])
    assert all(0 <= v < 2**16 for v in h.values())


def test_topk_cosine_exact_self_similarity(spark, emb):
    from mitoscape_spark.operators.similarity import topk_cosine

    query = emb.where(F.col("vec_id") == 1).head()["embedding"]
    out = topk_cosine(emb, list(query), k=5).collect()
    # the query vector itself must rank first with cos ≈ 1
    assert out[0].id == 1
    assert out[0].cos == pytest.approx(1.0, abs=1e-6)
    assert len(out) == 5
    assert all(out[i].cos >= out[i + 1].cos for i in range(4))


def test_lsh_recall_against_bruteforce(spark, emb):
    from mitoscape_spark.operators.similarity import (
        SignRandomProjectionLSH,
        topk_cosine,
    )

    query = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    exact = {
        r.id for r in topk_cosine(
            emb.where(F.col("vec_id") != 0), query, k=10
        ).collect()
    }
    # near-orthogonal corpus: top-10 sit at cosine ≈0.3 where one
    # hyperplane agrees with p≈0.6 → 4 planes, 16 tables ⇒ recall ≈0.9
    lsh = SignRandomProjectionLSH(dim=64, n_planes=4, n_tables=16)
    approx = {
        r.id
        for r in lsh.topk(
            emb.where(F.col("vec_id") != 0), query, k=10
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall} too low"


def test_lsh_bucketize_matches_numpy_reference(spark, emb):
    """Round-12 single-fold kernel: bucketize's posexplode over the
    one-pass dots array must reproduce every (id, table, bucket) of an
    independent numpy sign-bit derivation (seeded corpus — dots are
    O(1)-scale, so cross-library sign flips are not a practical risk)."""
    import numpy as np

    from mitoscape_spark.operators.similarity import SignRandomProjectionLSH

    lsh = SignRandomProjectionLSH(dim=64, n_planes=4, n_tables=3, seed=5)
    got = {(r.id, r.table, r.bucket) for r in lsh.bucketize(emb).collect()}
    want = set()
    for r in emb.collect():
        v = np.asarray(r.embedding, dtype=float)
        for t in range(lsh.n_tables):
            b = sum(
                int(float(lsh.planes[t, p] @ v) >= 0) << p
                for p in range(lsh.n_planes)
            )
            want.add((r.vec_id, t, b))
    assert got == want


def test_lang_id_profiles(spark):
    from mitoscape_spark.operators.textstats import lang_id

    docs = spark.createDataFrame(
        [
            (1, "the cat sat of the mat and a dog"),
            (2, "le chat est dans la maison et un chien"),
            (3, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_quality_monotone_in_length(spark):
    from mitoscape_spark.operators.textstats import quality_scores

    docs = spark.createDataFrame(
        [(1, "short"), (2, "the " * 60 + "end")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.quality for r in quality_scores(docs).collect()}
    assert out[2] > out[1]


def test_repetition_scores_known_values(spark):
    from mitoscape_spark.operators.textstats import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),      # 3/4 dup tokens, "a a" is every bigram
            (2, "a b c d"),      # no dup tokens, 3 distinct bigrams
            (3, "solo"),         # single token: no bigrams at all
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.dup_token_frac, r.top_bigram_frac)
        for r in repetition_scores(docs).collect()
    }
    assert out[1] == (0.75, 1.0)
    assert out[2] == (0.0, round(1 / 3, 6))
    assert out[3] == (0.0, 0.0)


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    from mitoscape_spark.operators.sessionize import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    events = spark.createDataFrame(
        [
            (1, ts(0), 1.0),
            (1, ts(3), 1.0),  # same session (gap 3 < 5)
            (1, ts(20), 1.0),  # new session
            (2, ts(0), 1.0),
        ],
        ["user_id", "ts", "value"],
    )
    rows = sessionize(events, "5 minutes").orderBy(
        "user_id", "session_start"
    ).collect()
    assert [(r.user_id, r.n_events) for r in rows] == [(1, 2), (1, 1), (2, 1)]
    # session end = last event + gap
    assert rows[0].session_end == ts(8)


def test_multimodal_features_deterministic(spark, docs):
    from mitoscape_spark.sources.multimodal import (
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, docs.limit(20))
    feats = extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r.features) == 16
        assert sum(r.features) == pytest.approx(1.0, abs=1e-9)
    again = extract_features(synthetic_media(spark, docs.limit(20))).collect()
    assert sorted((r.media_id, tuple(r.features)) for r in feats) == sorted(
        (r.media_id, tuple(r.features)) for r in again
    )


def test_stdlib_codecs_roundtrip():
    """WAV/PPM/BMP encode → decode is exact (pure-Python, no Spark)."""
    import numpy as np

    from mitoscape_spark.sources.multimodal import (
        decode_bmp,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_ppm,
        encode_wav,
        stdlib_codec,
    )

    samples = ((np.arange(300, dtype=np.int64) * 977) % 65536 - 32768).astype(
        "<i2"
    )
    wav = encode_wav(samples, 8000)
    assert np.array_equal(
        decode_wav(wav), ((samples.astype(np.int32) + 32768) >> 8).astype("u1")
    )

    rgb = bytes((i * 31) % 256 for i in range(5 * 3 * 3))  # 5x3 image
    ppm = encode_ppm(5, 3, rgb)
    assert decode_ppm(ppm).shape == (3, 5, 3)
    assert decode_ppm(ppm).tobytes() == rgb
    bmp = encode_bmp(5, 3, rgb)
    assert decode_bmp(bmp).shape == (3, 5, 3)
    assert decode_bmp(bmp).tobytes() == rgb  # BGR+padding round back to RGB

    # sniffing dispatch agrees with the direct decoders
    assert np.array_equal(stdlib_codec(wav, "audio"), decode_wav(wav))
    assert np.array_equal(
        stdlib_codec(ppm, "image"), decode_ppm(ppm).reshape(-1)
    )
    with pytest.raises(ValueError, match="no stdlib codec"):
        stdlib_codec(b"\x89PNG1234", "image")


def test_decode_media_stdlib_end_to_end(spark, docs):
    """decode_media's default codec really decodes: WAV/PPM/BMP media
    generated distributed, decoded distributed, features deterministic
    and distinct from the raw byte-histogram of the payload."""
    import numpy as np

    from mitoscape_spark.sources.multimodal import (
        decode_media,
        extract_features,
        stdlib_codec,
        synthetic_decodable_media,
    )

    media = synthetic_decodable_media(spark, docs.limit(21))
    decoded = decode_media(media).collect()
    assert len(decoded) == 21
    assert {r.modality for r in decoded} == {"audio", "image"}
    for r in decoded:
        assert len(r.features) == 16
        assert sum(r.features) == pytest.approx(1.0, abs=1e-9)
    # decoded features differ from the raw container-byte histogram
    # (headers/padding/BGR shuffle the bytes) for the image formats
    raw = {r.media_id: r.features for r in extract_features(media).collect()}
    diffs = sum(
        1 for r in decoded if not np.allclose(r.features, raw[r.media_id])
    )
    assert diffs > 0
    # deterministic across re-generation
    again = decode_media(
        synthetic_decodable_media(spark, docs.limit(21))
    ).collect()
    assert sorted((r.media_id, tuple(r.features)) for r in decoded) == sorted(
        (r.media_id, tuple(r.features)) for r in again
    )


def test_decode_media_unsupported_format_fails_loudly(spark, docs):
    from pyspark.errors.exceptions.captured import PythonException

    from mitoscape_spark.sources.multimodal import decode_media, synthetic_media

    # synthetic_media payloads are md5-derived bytes, not a real format
    with pytest.raises(PythonException, match="no stdlib codec"):
        decode_media(synthetic_media(spark, docs.limit(1))).collect()


def test_alignment_parquet_roundtrip(spark, tmp_path):
    from mitoscape_spark.pipeline import fixtures
    from mitoscape_spark.sources.bam import (
        read_alignments_parquet,
        write_alignments_parquet,
    )

    src = fixtures.to_spark(spark, fixtures.mt_alignments_pdf(20)).select(
        "read_name", "chrom", "start", "mapq", "attributes", "seq", "md",
        "primary_alignment", "read_paired", "proper_pair", "mate_mapped",
        "supplementary",
    ).withColumn("start", F.col("start").cast("long")) \
     .withColumn("mapq", F.col("mapq").cast("int"))
    path = str(tmp_path / "aln.parquet")
    write_alignments_parquet(src, path)
    back = read_alignments_parquet(spark, path)
    assert back.count() == src.count()
    assert back.schema["read_name"].dataType.typeName() == "string"


def test_point_interval_join_matches_naive(spark, emb):
    from mitoscape_spark.operators.intervals import point_interval_join

    events = load_table(spark, SF, "events")
    intervals = events.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("w_start"),
        (F.unix_timestamp("ts") + 3600).alias("w_end"),
    )
    points = events.select("user_id", F.unix_timestamp("ts").alias("p_ts"))
    bucketed = (
        point_interval_join(
            points, intervals,
            point_col="p_ts", start_col="w_start", end_col="w_end",
            equi_keys=["user_id"], bucket_width=3600, closed="right",
        )
        .groupBy("event_id").agg(F.count(F.lit(1)).alias("n"))
    )
    e1, e2 = events.alias("e1"), events.alias("e2")
    naive = (
        e1.join(
            e2,
            (F.col("e1.user_id") == F.col("e2.user_id"))
            & (F.col("e2.ts") > F.col("e1.ts"))
            & (
                F.unix_timestamp("e2.ts")
                <= F.unix_timestamp("e1.ts") + 3600
            ),
        )
        .groupBy(F.col("e1.event_id").alias("event_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r.event_id: r.n for r in bucketed.collect()}
    expected = {r.event_id: r.n for r in naive.collect()}
    assert got == expected


def test_interval_overlap_join_dedups_pairs(spark):
    from mitoscape_spark.operators.intervals import interval_overlap_join

    # interval pairs spanning multiple buckets must appear exactly once
    left = spark.createDataFrame(
        [(1, 0, 250), (2, 400, 450)], ["l_id", "ls", "le"]
    )
    right = spark.createDataFrame(
        [(10, 100, 600), (20, 260, 300)], ["r_id", "rs", "re"]
    )
    rows = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_width=100
    ).select("l_id", "r_id").collect()
    got = sorted((r.l_id, r.r_id) for r in rows)
    # (1,10): overlap [100,250]; (2,10): overlap [400,450]; (1,20)/(2,20): none
    assert got == [(1, 10), (2, 10)]


def test_ivf_recall_against_bruteforce(spark, emb):
    from mitoscape_spark.operators.similarity import IVFFlatIndex, topk_cosine

    query = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    corpus = emb.where(F.col("vec_id") != 0)
    exact = {r.id for r in topk_cosine(corpus, query, k=10).collect()}
    index = IVFFlatIndex(n_centroids=8, n_probe=4).fit(emb)
    approx = {r.id for r in index.topk(corpus, query, k=10).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall} too low"


def test_ivf_assignment_covers_corpus(spark, emb):
    from mitoscape_spark.operators.similarity import IVFFlatIndex

    index = IVFFlatIndex(n_centroids=4, n_probe=4).fit(emb)
    assigned = index.assign(emb)
    assert assigned.count() == emb.count()
    cells = assigned.groupBy("centroid").count().collect()
    assert all(0 <= r.centroid < 4 for r in cells)
    # probing every cell == exact search
    query = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    from mitoscape_spark.operators.similarity import topk_cosine

    corpus = emb.where(F.col("vec_id") != 0)
    exact = [r.id for r in topk_cosine(corpus, query, k=5).collect()]
    full_probe = [r.id for r in index.topk(corpus, query, k=5).collect()]
    assert exact == full_probe


def test_ivf_distributed_kmeans_quantizer(spark, emb):
    from mitoscape_spark.operators.similarity import IVFFlatIndex, topk_cosine

    index = IVFFlatIndex(n_centroids=4, n_probe=4, n_iter=5).fit_distributed(emb)
    assert index.centroids.shape == (4, len(emb.head()["embedding"]))
    # centers are unit-normalized (spherical k-means convention)
    norms = (index.centroids**2).sum(axis=1) ** 0.5
    assert abs(norms - 1.0).max() < 1e-9
    # every vector lands in a valid cell; full probe == exact search
    assigned = index.assign(emb)
    assert assigned.count() == emb.count()
    query = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    corpus = emb.where(F.col("vec_id") != 0)
    exact = [r.id for r in topk_cosine(corpus, query, k=5).collect()]
    full_probe = [r.id for r in index.topk(corpus, query, k=5).collect()]
    assert exact == full_probe


def test_connected_components_merges_chains(spark):
    from mitoscape_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 6)], ["doc_a", "doc_b"]
    )
    comp = {
        r.id: r.component for r in connected_components(pairs).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == 4
    assert comp[6] == comp[7] == 6


def test_dedup_keep_canonical(spark):
    from mitoscape_spark.operators.dedup import dedup_keep_canonical

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 9)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["doc_a", "doc_b"]
    )
    kept = sorted(
        r.doc_id for r in dedup_keep_canonical(docs, pairs).collect()
    )
    # 2,3 fold into 1; 6 folds into 5; 4,7,8 untouched
    assert kept == [1, 4, 5, 7, 8]


def test_minhash_to_dedup_end_to_end(spark):
    from mitoscape_spark.operators.dedup import (
        dedup_keep_canonical,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "the quick brown fox jumps over the lazy dog today"),
            (4, "completely different words appear in this other document here"),
        ],
        ["doc_id", "text"],
    )
    pairs = minhash_candidate_pairs(minhash_signatures(docs))
    kept = sorted(r.doc_id for r in dedup_keep_canonical(docs, pairs).collect())
    assert kept == [1, 4]


def test_frame_sample_windows_payload(spark, docs):
    from mitoscape_spark.sources.multimodal import frame_sample, synthetic_media

    media = synthetic_media(spark, docs.limit(5), modality="video")
    # synthetic meta says 1 frame; override to 8 to exercise sampling
    media = media.withColumn(
        "meta",
        F.struct(
            F.col("meta.width"), F.col("meta.height"),
            F.col("meta.sample_rate"),
            F.lit(8).alias("n_frames"), F.col("meta.format"),
        ),
    )
    frames = frame_sample(media, every_n=2).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    assert set(len(v) for v in by_media.values()) == {4}  # frames 0,2,4,6
    for rows in by_media.values():
        assert [r.frame_idx for r in sorted(rows, key=lambda r: r.frame_idx)] == [0, 2, 4, 6]
        widths = {len(bytes(r.frame)) for r in rows}
        assert len(widths) == 1  # equal windows


def test_grouped_robust_zscore(spark):
    from mitoscape_spark.operators.grouped import grouped_robust_zscore

    df = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (1, 3.0), (1, 100.0), (2, 5.0), (2, 5.0)],
        ["k", "v"],
    )
    rows = grouped_robust_zscore(df, "k", "v").collect()
    by_k = {}
    for r in rows:
        by_k.setdefault(r.k, []).append(r)
    # group 1: median 2.5, MAD 1.0 → outlier 100 has a huge z
    zs = {r.v: r.robust_z for r in by_k[1]}
    assert zs[100.0] > 10
    assert abs(zs[2.0]) < 1
    # constant group → MAD 0 → null z
    assert all(r.robust_z is None for r in by_k[2])


def test_grouped_robust_zscore_null_values_stay_null(spark):
    """A NULL in value_col must surface as SQL NULL z-scores, never a
    double NaN — the Arrow grouped map converts NaN back to null with a
    mask (round-8 review: pa.array(np.array([nan])) keeps a literal NaN
    where the old pandas Series→Arrow path produced null, a silent
    oracle divergence)."""
    from mitoscape_spark.operators.grouped import grouped_robust_zscore

    df = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (1, None), (1, 9.0)], ["k", "v"]
    )
    out = grouped_robust_zscore(df, "k", "v")
    # NaN median poisons the whole group -> every z must be NULL
    rows = out.collect()
    assert all(r.robust_z is None for r in rows)
    # and they must be SQL NULLs, not NaNs: isnan() on a NaN would be true
    assert out.where(F.isnan("robust_z")).count() == 0


def test_ensure_min_parallelism_pass_through_and_spread(spark):
    """Exchange-free narrow plans below the core count repartition UP;
    plans that already contain an exchange pass through untouched (the
    probe would otherwise execute upstream shuffle stages twice under
    AQE — round-8 review)."""
    from mitoscape_spark.plans import ensure_min_parallelism

    narrow = spark.range(0, 100, 1, 2).selectExpr("id", "id * 2 AS y")
    spread = ensure_min_parallelism(narrow)
    assert spread.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 4
    )
    wide = spark.range(0, 100, 1, 2).groupBy((F.col("id") % 10)).count()
    assert ensure_min_parallelism(wide) is wide  # identical object: no-op


def test_ensure_min_parallelism_probes_through_broadcast(spark):
    """A BroadcastExchange must NOT short-circuit the probe: the
    stream side of a broadcast join can still be a one-task scan —
    exactly the degenerate case the helper exists to rescue (round-8
    advice item 4). Only SHUFFLE exchanges pass through."""
    from mitoscape_spark.plans import ensure_min_parallelism

    dim = spark.range(0, 10).select(F.col("id").alias("k"))
    stream = spark.range(0, 1000, 1, 1).withColumn("k", F.col("id") % 10)
    joined = stream.join(F.broadcast(dim), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan
    out = ensure_min_parallelism(joined)
    assert out is not joined, "broadcast-only plan was wrongly passed through"
    assert out.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 4
    )


def test_ensure_min_parallelism_reused_broadcast_not_shuffle(spark):
    """A ReusedExchange node wrapping a BROADCAST exchange must not
    read as a shuffle and short-circuit the probe (round-9 advice
    item 2) — while genuine shuffle text, including a ReusedExchange
    line that restates a reused SHUFFLE child, still must."""
    from mitoscape_spark.plans import _SHUFFLE_EXCHANGE

    assert not _SHUFFLE_EXCHANGE.search("BroadcastExchange HashedRelation")
    assert not _SHUFFLE_EXCHANGE.search(
        "ReusedExchange [k#5L], BroadcastExchange HashedRelation"
    )
    assert _SHUFFLE_EXCHANGE.search("Exchange hashpartitioning(k#3L, 32)")
    assert _SHUFFLE_EXCHANGE.search(
        "ReusedExchange [k#5L], Exchange hashpartitioning(k#3L, 32)"
    )
    # end-to-end: same broadcast dim joined twice — whether or not this
    # Spark build prints the second side as ReusedExchange, the plan is
    # broadcast-only and the one-task stream side must repartition UP
    from mitoscape_spark.plans import ensure_min_parallelism

    dim = spark.range(0, 10).select(F.col("id").alias("k"))
    stream = spark.range(0, 1000, 1, 1).withColumn("k", F.col("id") % 10)
    joined = stream.join(F.broadcast(dim), "k").join(
        F.broadcast(dim.withColumnRenamed("k", "k2")),
        F.col("k") == F.col("k2"),
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert not _SHUFFLE_EXCHANGE.search(plan), plan
    out = ensure_min_parallelism(joined)
    assert out is not joined, "broadcast-only plan was wrongly passed through"
    assert out.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 4
    )


def test_samtext_python_datasource(spark, tmp_path):
    from mitoscape_spark.sources.sam import register_sam_source

    sam = "\n".join([
        "@HD\tVN:1.6\tSO:coordinate",
        "@SQ\tSN:chrM\tLN:16569",
        # flag 99 = paired|proper|mate-mapped|first-in-pair (0x1|0x2|0x20|0x40)
        "r1\t99\tchrM\t5\t60\t10M\t=\t105\t200\t====A=====\tFFFFFFFFFF\tNM:i:1\tMD:Z:4A5",
        # flag 355 = 99|0x100 secondary
        "r1\t355\tchrM\t900\t0\t10M\t=\t105\t200\t==========\tFFFFFFFFFF\tNM:i:0\tMD:Z:10",
        # flag 2147 includes 0x800 supplementary
        "r2\t2147\tchrM\t42\t37\t10M\t=\t142\t200\t==========\tFFFFFFFFFF\tNM:i:0\tMD:Z:10",
        # unmapped mate: flag 9 = paired|mate-unmapped
        "r3\t9\t*\t0\t0\t*\t*\t0\t0\t*\tFFFFFFFFFF",
    ])
    p = tmp_path / "reads.sam"
    p.write_text(sam + "\n")
    register_sam_source(spark)
    df = spark.read.format("samtext").load(str(p))
    rows = {(r.read_name, r.start): r for r in df.collect()}
    assert len(rows) == 4
    r1 = rows[("r1", 5)]
    assert r1.chrom == "chrM" and r1.mapq == 60 and r1.md == "4A5"
    assert r1.primary_alignment and r1.read_paired and r1.proper_pair
    assert r1.mate_mapped and not r1.supplementary
    assert not rows[("r1", 900)].primary_alignment
    assert rows[("r2", 42)].supplementary
    r3 = rows[("r3", 0)]
    assert r3.chrom is None and r3.seq is None and not r3.mate_mapped
    # the ingest feeds the MD parse downstream
    from pyspark.sql import functions as F

    from mitoscape_spark.functions.md_parser import md_variants_udf

    v = (
        df.where(F.col("md").isNotNull() & F.col("primary_alignment"))
        .select(
            "read_name",
            md_variants_udf(
                F.col("md"), F.col("seq"), (F.col("start") - 1).cast("long")
            ).alias("variants"),
        )
        .orderBy("read_name")
        .collect()
    )
    assert v[0].variants == ["9A"]  # pos 5 (1-based) + read offset 4 → 9A


def test_sketch_stats_tolerance(spark):
    from mitoscape_spark.queries.extensions import ext_sketch_stats

    sketch = {
        r.l_returnflag: r for r in ext_sketch_stats(spark, SF).collect()
    }
    li = load_table(spark, SF, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd"),
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        )
        .collect()
    }
    for flag, s in sketch.items():
        e = exact[flag]
        # theta sketch stores raw hashes below nominal capacity → EXACT
        assert s.nd_parts == e.nd, (flag, s.nd_parts, e.nd)
        # GK sketch at accuracy=100000 is <1 rank off; interpolated
        # percentile() may sit between elements, so allow half a step
        assert abs(s.p50 - e.p50) <= 0.5, (flag, s.p50, e.p50)


def test_chunk_documents_overlap_and_short_docs(spark):
    from mitoscape_spark.operators.textstats import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b")],
        ["doc_id", "text"],
    )
    rows = chunk_documents(docs, chunk_size=4, overlap=1).orderBy(
        "doc_id", "chunk_idx"
    ).collect()
    got = [(r.doc_id, r.chunk_idx, r.chunk, r.n_tokens) for r in rows]
    assert got == [
        (1, 0, "t0 t1 t2 t3", 4),
        (1, 1, "t3 t4 t5 t6", 4),  # overlap 1: t3 repeats
        (1, 2, "t6 t7 t8 t9", 4),
        (2, 0, "a b", 2),  # short doc → one short chunk
    ]


def test_asof_join_semantics(spark):
    import datetime as dt

    from mitoscape_spark.operators.asof import asof_join

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 100, t(5)), (1, 101, t(10)), (2, 200, t(5)), (3, 300, t(5))],
        ["k", "lid", "lt"],
    )
    right = spark.createDataFrame(
        [
            (1, t(5), 11, 5.0),    # exactly at left time → inclusive match
            (1, t(7), 12, 7.0),
            (2, t(6), 21, 6.0),    # after the only left row → no match
            (2, t(3), 20, 3.0),
            (2, t(3), 22, 3.5),    # same ts: greatest tiebreak (22) wins
        ],
        ["k", "rt", "rid", "val"],
    )
    rows = {
        (r.k, r.lid): (r.rid, r.val)
        for r in asof_join(
            left, right, on="k", left_time="lt", right_time="rt",
            payload=["rid", "val"], tiebreak="rid",
        ).collect()
    }
    assert rows[(1, 100)] == (11, 5.0)   # inclusive at-time match
    assert rows[(1, 101)] == (12, 7.0)   # latest ≤ t
    assert rows[(2, 200)] == (22, 3.5)   # tie resolved to max rid
    assert rows[(3, 300)] == (None, None)  # no right rows at all


def test_asof_join_null_timestamps_never_match(spark):
    """pandas merge_asof parity on nulls (round-3 advice): a right row
    with NULL time is never 'nearest'; a left row with NULL time
    matches nothing — in BOTH directions."""
    import datetime as dt

    from mitoscape_spark.operators.asof import asof_join

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 100, t(5)), (1, 101, None), (2, 200, t(5))],
        "k int, lid int, lt timestamp",
    )
    right = spark.createDataFrame(
        [(1, None, 10, 0.0), (1, t(2), 11, 2.0), (2, None, 20, 0.0)],
        "k int, rt timestamp, rid int, val double",
    )
    for direction, want in (
        # backward: lid=100 matches rid=11 (t2 ≤ t5); the null-time
        # right rows (rid 10/20) must not surface anywhere; null-time
        # left (lid=101) matches nothing
        ("backward", {(1, 100): (11, 2.0), (1, 101): (None, None),
                      (2, 200): (None, None)}),
        # forward: nothing at/after t5; null-time left still nothing
        ("forward", {(1, 100): (None, None), (1, 101): (None, None),
                     (2, 200): (None, None)}),
    ):
        rows = {
            (r.k, r.lid): (r.rid, r.val)
            for r in asof_join(
                left, right, on="k", left_time="lt", right_time="rt",
                payload=["rid", "val"], tiebreak="rid",
                direction=direction,
            ).collect()
        }
        assert rows == want, direction


def test_fuzzy_pairs_blocking_and_bounds(spark):
    from mitoscape_spark.operators.fuzzy import fuzzy_pairs

    df = spark.createDataFrame(
        [
            (1, "red widget"),
            (2, "red widgets"),   # dist 1, same block
            (3, "red gadget"),    # widget→gadget: 2 substitutions
            (4, "blue widget"),   # different block — never compared
            (5, "red widget"),    # exact dup — excluded (min_distance=1)
        ],
        ["id", "name"],
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_pairs(df, "id", "name").collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2
    assert (1, 4) not in got and (2, 4) not in got
    assert (1, 5) not in got  # exact duplicates excluded


def test_fuzzy_pairs_text_level_kernel_matches_naive(spark):
    """Round-11 rewrite: the DP runs per distinct (block, text) pair
    and id pairs are expanded back by joins. On a corpus with heavy
    text duplication the result must equal the naive id-level blocked
    self-join exactly — including every id pair of every duplicated
    text — and min_distance=0 must additionally emit the same-text
    id pairs the default excludes."""
    import itertools

    from pyspark.sql import functions as F

    from mitoscape_spark.operators.fuzzy import fuzzy_pairs

    names = ["red widget", "red widgets", "red gadget", "red wadget"]
    rows = [(i, names[i % 4]) for i in range(40)]  # 10 ids per name
    df = spark.createDataFrame(rows, "id long, name string")

    def naive(min_d):
        out = set()
        for (i, na), (j, nb) in itertools.combinations(rows, 2):
            if na.split(" ")[0] != nb.split(" ")[0]:
                continue
            d = _levenshtein(na, nb)
            if min_d <= d <= 3 and i != j:
                out.add((min(i, j), max(i, j), d))
        return out

    def _levenshtein(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (cs != ct),
                    )
                )
            prev = cur
        return prev[-1]

    got = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_pairs(df, "id", "name").collect()
    }
    assert got == naive(1)
    got0 = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_pairs(df, "id", "name", min_distance=0).collect()
    }
    assert got0 == naive(0)


def test_fuzzy_dedup_canonical_matches_generic_path(spark):
    """Round-11 fusion: fuzzy_dedup_keep_canonical decides clusters on
    the text graph (+ same-id bridges) and must keep exactly the rows
    the generic fuzzy_pairs → dedup_keep_canonical composition keeps.
    The corpus exercises every equivalence-proof branch: heavy text
    duplication (many ids per text), a transitive text chain, an
    isolated duplicated text (no fuzzy edge — ALL its ids survive), a
    text alone in its block, and one id carried under two texts whose
    components must merge through the bridge."""
    from mitoscape_spark.operators.dedup import dedup_keep_canonical
    from mitoscape_spark.operators.fuzzy import (
        fuzzy_dedup_keep_canonical,
        fuzzy_pairs,
    )

    rows = (
        # chain: widget —1— widgets —2— wadgets (same block "red")
        [(i, "red widget") for i in range(0, 6)]
        + [(i, "red widgets") for i in range(6, 10)]
        + [(i, "red wadgets") for i in range(10, 13)]
        # isolated duplicated text: no name within dist 3 in block
        # "blue" — every id must survive
        + [(i, "blue completely different") for i in range(13, 16)]
        # singleton block
        + [(16, "green gizmo")]
        # bridge: id 2 ALSO appears under "teal thing" — a DIFFERENT
        # block whose cluster (teal thing —1— teal thingy) has no fuzzy
        # edge to the chain; only the shared id merges the two
        # components, exercising the same-id bridge
        + [(2, "teal thing"), (17, "teal thingy"), (18, "teal thingy")]
    )
    df = spark.createDataFrame(rows, "id long, name string")

    pairs = fuzzy_pairs(df, "id", "name").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    want = sorted(
        (r.id, r.name)
        for r in dedup_keep_canonical(df, pairs, id_col="id").collect()
    )
    got = sorted(
        (r.id, r.name)
        for r in fuzzy_dedup_keep_canonical(df, "id", "name").collect()
    )
    assert got == want
    # the isolated duplicated text's ids all survive on both paths
    surviving = {i for i, _ in got}
    assert {13, 14, 15} <= surviving
    # min_distance=0 is the generic path's job
    with pytest.raises(ValueError):
        fuzzy_dedup_keep_canonical(df, "id", "name", min_distance=0)


# ---- randomized model tests (seeded; Spark called once per config,
# not once per example — hypothesis driving hundreds of rapid Spark
# jobs destabilizes the shared local JVM) -----------------------------


def test_chunk_reconstruction_property(spark):
    """Dropping each chunk's first `overlap` tokens (except chunk 0)
    and concatenating must reproduce the original token stream — over a
    seeded grid of (doc length, chunk_size, overlap) in ONE Spark call
    per config."""
    import random

    from mitoscape_spark.operators.textstats import chunk_documents

    rng = random.Random(42)
    for chunk_size, overlap in [(2, 0), (4, 1), (8, 7), (12, 3)]:
        docs = [
            (i, " ".join(f"w{i}_{j}" for j in range(rng.randint(1, 50))))
            for i in range(20)
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        rows = chunk_documents(df, chunk_size, overlap).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, text in docs:
            rebuilt: list[str] = []
            for r in sorted(by_doc[doc_id], key=lambda r: r.chunk_idx):
                ctoks = r.chunk.split(" ")
                rebuilt.extend(ctoks if r.chunk_idx == 0 else ctoks[overlap:])
            assert rebuilt == text.split(" "), (doc_id, chunk_size, overlap)


def test_connected_components_matches_union_find(spark):
    """Distributed min-label propagation vs a driver-side union-find
    reference over seeded random graphs (chains, stars, cliques arise
    naturally at these densities)."""
    import random

    from mitoscape_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for n_edges in [1, 5, 12, 30]:
        edges = list(
            {
                (a, b)
                for a, b in (
                    (rng.randint(0, 15), rng.randint(0, 15))
                    for _ in range(n_edges)
                )
                if a != b
            }
        )
        if not edges:
            continue
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        expected = {x: find(x) for x in parent}
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        # both routes must agree with the reference: the default route
        # (small graph -> bounded driver union-find finisher) and the
        # forced distributed star rounds
        got_driver = {
            r.id: r.component
            for r in connected_components(pairs).collect()
        }
        got_dist = {
            r.id: r.component
            for r in connected_components(
                pairs, driver_finish_max_edges=0
            ).collect()
        }
        assert got_driver == expected, f"driver path, n_edges={n_edges}"
        assert got_dist == expected, f"star path, n_edges={n_edges}"


def test_lsh_neardup_pairs_subset_with_recall(spark, emb):
    from mitoscape_spark.operators.dedup import embedding_near_duplicates
    from mitoscape_spark.operators.similarity import lsh_near_duplicate_pairs

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_duplicates(emb, threshold=0.3).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in lsh_near_duplicate_pairs(
            emb, threshold=0.3, n_planes=3, n_tables=12
        ).collect()
    }
    assert approx <= exact  # exact-cosine filter ⇒ no false positives
    recall = len(approx & exact) / max(len(exact), 1)
    assert recall >= 0.5, f"LSH near-dup recall {recall} too low"


def test_grouped_minmax_scale_arrow_matches_window(spark, sf_smoke):
    """applyInArrow grouped map must agree with the window-function
    formulation of per-group min-max scaling."""
    from pyspark.sql import Window

    from mitoscape_spark.catalog import load_table
    from mitoscape_spark.operators.grouped import grouped_minmax_scale_arrow

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id", "value"
    )
    got = {
        r.event_id: r.scaled
        for r in grouped_minmax_scale_arrow(ev, "user_id", "value").collect()
    }
    w = Window.partitionBy("user_id")
    exp_df = ev.select(
        "event_id",
        F.when(
            F.max("value").over(w) != F.min("value").over(w),
            F.round(
                (F.col("value") - F.min("value").over(w))
                / (F.max("value").over(w) - F.min("value").over(w)),
                4,
            ),
        ).alias("scaled"),
    )
    expected = {r.event_id: r.scaled for r in exp_df.collect()}
    assert set(got) == set(expected)
    for k in expected:
        if expected[k] is None:
            assert got[k] is None
        else:
            assert got[k] == pytest.approx(expected[k], abs=1e-9)


# ------------------------------------------------------- round-2 guards


def test_minhash_hot_bucket_guard_star_semantics(spark):
    """Duplicate-heavy corpus: 1000 identical docs all share one
    (band, band_key) bucket per band — uncapped, that self-join is
    499,500 pairs in ONE task. With the cap, the oversized bucket emits
    a star (999 pairs) whose connectivity — the thing the dedup
    keep-set consumes — is identical."""
    from mitoscape_spark.operators.dedup import (
        dedup_keep_canonical,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    dup_text = "the same exact duplicated body of text repeated verbatim"
    rows = [(i, dup_text) for i in range(1000)]
    # token-disjoint singletons (shared shingles could legitimately
    # collide a band and add pairs, which isn't what this test probes)
    rows += [
        (2000 + i, " ".join(f"w{i}{j}" for j in range(8))) for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_candidate_pairs(
        minhash_signatures(docs), max_bucket_size=16
    )
    # star topology: linear in cluster size (999), not quadratic (499500)
    assert pairs.count() == 999
    kept = sorted(
        r.doc_id for r in dedup_keep_canonical(docs, pairs).collect()
    )
    assert kept == [0] + [2000 + i for i in range(5)]


def test_minhash_bucket_cap_keeps_exact_keep_set(spark):
    """Capped and uncapped pair generation must yield the same dedup
    keep-set (star pairs preserve components)."""
    from mitoscape_spark.operators.dedup import (
        dedup_keep_canonical,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, "cluster one text shared by this group") for i in range(20)]
    rows += [(100 + i, "another cluster of equal documents here") for i in range(20)]
    rows += [(500, "a lone document unlike any other in this corpus set")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs)
    keep = lambda pairs: sorted(  # noqa: E731
        r.doc_id for r in dedup_keep_canonical(docs, pairs).collect()
    )
    assert keep(
        minhash_candidate_pairs(sigs, max_bucket_size=4)
    ) == keep(minhash_candidate_pairs(sigs))


def test_blocked_gemm_rejects_non_integral_ids(spark):
    """String ids previously cast to NULL in the block modulo and the
    operators returned an EMPTY result with no error — now they raise."""
    import pytest as _pytest

    from mitoscape_spark.operators.dedup import (
        embedding_near_duplicates,
        sparse_near_duplicates,
    )

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    with _pytest.raises(TypeError, match="integral id"):
        embedding_near_duplicates(emb, threshold=0.9)
    postings = spark.createDataFrame(
        [("a", 0, 1.0), ("b", 0, 1.0)], "id string, idx int, w double"
    )
    with _pytest.raises(TypeError, match="integral id"):
        sparse_near_duplicates(postings, n_dims=4, threshold=0.9)


def test_blocked_gemm_negative_ids_pmod(spark):
    """pmod blocking: negative ids (e.g. from xxhash64) land in valid
    blocks and every qualifying pair is still found."""
    from mitoscape_spark.operators.dedup import embedding_near_duplicates

    emb = spark.createDataFrame(
        [(-7, [1.0, 0.0]), (-3, [1.0, 0.01]), (5, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_duplicates(
            emb, threshold=0.99, n_blocks=4
        ).collect()
    }
    assert got == {(-7, -3)}


def test_auto_n_blocks_bounded():
    """Derived block count keeps per-block bytes at/under target as the
    corpus grows (until the hard cap), and never drops below the
    parallelism floor."""
    from mitoscape_spark.operators.dedup import _auto_n_blocks

    target = 64 << 20
    for total in [0, 1, 10**6, 10**9, 10**10, 10**11, 5 * 10**13]:
        b = _auto_n_blocks(total, target_block_bytes=target)
        assert b >= 4
        if b < 1024:  # below the cap the target must hold
            assert total / b <= target
    # monotone non-decreasing in corpus size
    sizes = [10**6, 10**8, 10**9, 10**10, 10**11]
    blocks = [_auto_n_blocks(s) for s in sizes]
    assert blocks == sorted(blocks)


def test_resize_images_real_resample(spark, docs):
    """resize_images decodes PPM/BMP, nearest-neighbor resamples, and
    re-encodes; audio rows pass through byte-identical."""
    from mitoscape_spark.sources.multimodal import (
        decode_ppm,
        resize_images,
        synthetic_decodable_media,
    )

    media = synthetic_decodable_media(spark, docs.limit(9))
    out = {r.media_id: r for r in resize_images(media, 4, 4).collect()}
    src = {r.media_id: r for r in media.collect()}
    assert set(out) == set(src)
    for mid, r in out.items():
        if r.modality == "image":
            px = decode_ppm(bytes(r.payload))
            assert px.shape == (4, 4, 3)
            assert r.meta.width == 4 and r.meta.height == 4
            # nearest-neighbor: every output pixel exists in the source
            src_px = {
                tuple(p)
                for row in _decode_any(bytes(src[mid].payload))
                for p in row
            }
            assert {tuple(p) for row in px for p in row} <= src_px
        else:
            assert bytes(r.payload) == bytes(src[mid].payload)


def _decode_any(raw: bytes):
    from mitoscape_spark.sources.multimodal import decode_bmp, decode_ppm

    return decode_ppm(raw) if raw[:2] == b"P6" else decode_bmp(raw)


def test_winnow_fingerprints_local_match_guarantee(spark):
    """Winnowing guarantee: any shared token run of length >= k+w-1
    (here 6) produces at least one shared fingerprint, even when the
    rest of the documents are completely different; docs with no
    overlap share nothing."""
    from mitoscape_spark.operators.textstats import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"seven eight nine ten {shared} eleven"),
            (3, "totally unrelated words without any common tokens here"),
        ],
        "doc_id long, text string",
    )
    fps = {
        d: {r.fp for r in rows}
        for d, rows in __import__("itertools").groupby(
            sorted(
                winnow_fingerprints(docs, k=3, window=4).collect(),
                key=lambda r: r.doc_id,
            ),
            key=lambda r: r.doc_id,
        )
    }
    assert fps[1] & fps[2], "shared 6-token run must share a fingerprint"
    assert not fps[1] & fps[3] and not fps[2] & fps[3]


def test_bigram_lm_scores_rank_typical_below_atypical(spark):
    """A document made of corpus-frequent transitions must score lower
    NLL than one whose transitions appear nowhere else; docs with < 2
    tokens emit no row."""
    from mitoscape_spark.operators.textstats import bigram_lm_scores

    common = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, common) for i in range(10)]
        + [(100, common), (200, "zq xv qqk wpl zzt ykm"), (300, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    assert 300 not in out  # single token: no transitions
    assert out[100].n_bigrams == 5 and out[200].n_bigrams == 5
    assert out[100].nll < out[200].nll


def test_connected_components_star_matches_propagation(spark):
    """Star-based CC must label a seeded random graph identically to
    min-label propagation (shallow components, both converge)."""
    import random

    from mitoscape_spark.operators.dedup import (
        connected_components,
        connected_components_propagation,
    )

    # dense enough that component diameters stay well under
    # propagation's 20-round budget (sparse graphs are exactly where
    # propagation fails — test_connected_components_long_chain covers
    # that regime for the star variant)
    rng = random.Random(42)
    pairs = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(400)
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    # force the distributed star path: this test compares the two
    # DISTRIBUTED variants (the driver finisher has its own tests)
    star = {
        (r.id, r.component)
        for r in connected_components(
            df, driver_finish_max_edges=0
        ).collect()
    }
    prop = {
        (r.id, r.component)
        for r in connected_components_propagation(df).collect()
    }
    assert star == prop and star


def test_connected_components_long_chain(spark):
    """A 1500-link path: diameter-bound propagation cannot converge in
    a sane round budget, the O(log n) star variant labels the whole
    chain with its minimum in ~11 rounds."""
    from mitoscape_spark.operators.dedup import connected_components

    n = 1500
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    # driver_finish_max_edges=0 forces the distributed star rounds —
    # this test exists to exercise exactly that path
    labels = connected_components(
        chain, max_iterations=30, driver_finish_max_edges=0
    ).collect()
    assert len(labels) == n + 1
    assert {r.component for r in labels} == {0}


def test_connected_components_threshold_routes_paths(spark, monkeypatch):
    """Above-threshold edge sets must take the distributed star path —
    the driver finisher is a bounded small-graph shortcut, never the
    scale path (round-9 verdict item 2)."""
    from mitoscape_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )

    def _boom(edges):
        raise AssertionError("driver finisher ran above its threshold")

    monkeypatch.setattr(D, "_driver_union_find_labels", _boom)
    # 3 distinct edges > threshold 2 -> distributed path, finisher absent
    comp = {
        r.id: r.component
        for r in D.connected_components(
            pairs, driver_finish_max_edges=2
        ).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1 and comp[4] == comp[5] == 4
    # at/below threshold the finisher IS the route
    called = {}

    def _spy(edges):
        called["yes"] = True
        return D.__dict__["connected_components_propagation"](
            edges, id_a="u", id_b="v"
        ).select("id", "component")

    monkeypatch.setattr(D, "_driver_union_find_labels", _spy)
    D.connected_components(pairs, driver_finish_max_edges=3).collect()
    assert called.get("yes")


def test_connected_components_driver_finisher_string_ids(spark):
    """The finisher must preserve non-integral id types and label with
    the component minimum, exactly like the star fixpoint."""
    from mitoscape_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "doc_a string, doc_b string"
    )
    out = connected_components(pairs)
    assert dict(out.dtypes) == {"id": "string", "component": "string"}
    comp = {r.id: r.component for r in out.collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_byte_bound_routes_fat_string_ids(spark, monkeypatch):
    """The gate is byte-aware, not just row-aware: few edges with FAT
    string ids must take the distributed path — a row-count-only gate
    would collect GB-scale Python strings to the driver (round-9
    review finding)."""
    from mitoscape_spark.operators import dedup as D

    # the gate compares an estimate with the budget, so a 64 KiB budget
    # and 4 edges x 2 ids x 16 KiB chars x 4 overhead factor ≈ 512 KiB
    # estimated driver peak exercise the same branch as GiB-scale ids
    # against the real budget
    monkeypatch.setattr(D, "CC_DRIVER_MAX_BYTES", 64 * 1024)
    fat = "k" * (16 * 1024)
    pairs = spark.createDataFrame(
        [
            (fat + "1", fat + "2"),
            (fat + "2", fat + "3"),
            (fat + "3", fat + "4"),
            (fat + "4", fat + "5"),
        ],
        "doc_a string, doc_b string",
    )

    def _boom(edges):
        raise AssertionError("driver finisher ran above the byte bound")

    monkeypatch.setattr(D, "_driver_union_find_labels", _boom)
    comp = {
        r.id[-1]: r.component[-1]
        for r in D.connected_components(pairs).collect()
    }
    assert comp == {"1": "1", "2": "1", "3": "1", "4": "1", "5": "1"}


def test_cap_per_key_deterministic_cap(spark):
    """cap_per_key keeps at most N rows per key, keeps small keys
    whole, and is deterministic across invocations."""
    from mitoscape_spark.operators.sampling import cap_per_key

    rows = [(i, f"src{i % 3}") for i in range(40)] + [(100, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    capped = cap_per_key(df, "source", 5, "doc_id")
    got = capped.groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in got}
    assert counts == {"src0": 5, "src1": 5, "src2": 5, "rare": 1}
    again = cap_per_key(df, "source", 5, "doc_id")
    assert {r.doc_id for r in capped.collect()} == {
        r.doc_id for r in again.collect()
    }
    # different salt = different (still deterministic) selection
    other = cap_per_key(df, "source", 5, "doc_id", salt="x")
    assert {r.doc_id for r in other.collect()} != set() 


def test_audio_spectral_features_sine_peak(spark):
    """A pure sine concentrates energy in the band containing its
    frequency; spectral features must find it there and be
    deterministic across runs."""
    import numpy as np

    from mitoscape_spark.sources.multimodal import (
        audio_spectral_features,
        encode_wav,
    )

    sr, n = 8000, 2048
    t = np.arange(n) / sr
    # 2000 Hz = Nyquist/2 -> rFFT bin 64 of 129 -> band 3 of 8 (linear)
    sine = (np.sin(2 * np.pi * 2000 * t) * 30000).astype(np.int16)
    quiet = (np.sin(2 * np.pi * 125 * t) * 3000).astype(np.int16)
    rows = [
        (1, "audio", bytearray(encode_wav(sine, sr))),
        (2, "audio", bytearray(encode_wav(quiet, sr))),
        (3, "audio", bytearray(b"notawav")),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, payload binary"
    )
    out = {
        r["media_id"]: r for r in audio_spectral_features(media).collect()
    }
    assert out[1]["n_frames"] == 2048 // 256
    e1 = out[1]["band_energy"]
    # 2000 Hz -> rFFT bin 64 of 129 -> linear band 3 of 8
    assert len(e1) == 8 and e1.index(max(e1)) == 3
    # 125 Hz -> bin 4 -> band 0
    e2 = out[2]["band_energy"]
    assert e2.index(max(e2)) == 0
    # undecodable payload -> nulls, batch survives
    assert out[3]["band_energy"] is None

    # determinism
    again = {
        r["media_id"]: r["band_energy"]
        for r in audio_spectral_features(media).collect()
    }
    assert again[1] == e1


def test_pq_recall_against_bruteforce(spark, emb):
    from mitoscape_spark.operators.similarity import PQIndex, topk_cosine

    corpus = emb.where(F.col("vec_id") != 0)
    query = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    exact = {r.id for r in topk_cosine(corpus, query, k=10).collect()}

    pq = PQIndex(m=16, k=32, n_iter=8).fit(emb)
    codes = pq.encode(corpus)
    approx = pq.topk(codes, query, k=10).collect()
    recall = len(exact & {r.id for r in approx}) / len(exact)
    # 16 subspaces x 32 centroids on 64-dim: coarse but localizing
    assert recall >= 0.5, f"PQ recall {recall} too low"
    # scores are descending and rounded
    assert all(
        approx[i]["score"] >= approx[i + 1]["score"]
        for i in range(len(approx) - 1)
    )


def test_pq_codes_shape_and_determinism(spark, emb):
    from mitoscape_spark.operators.similarity import PQIndex

    pq = PQIndex(m=8, k=16).fit(emb)
    a = {r["id"]: r["codes"] for r in pq.encode(emb).collect()}
    b = {r["id"]: r["codes"] for r in pq.encode(emb).collect()}
    assert a == b
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())


def test_pq_rejects_indivisible_dim(spark, emb):
    from mitoscape_spark.operators.similarity import PQIndex

    with pytest.raises(ValueError, match="not divisible"):
        PQIndex(m=7).fit(emb)


def test_prefix_filtered_jaccard_equals_full_index(spark, docs):
    """PPJoin-style prefix filtering must return EXACTLY the full
    inverted-index result (prefix principle completeness), while
    posting fewer shingles."""
    from mitoscape_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    corpus = docs.limit(100)
    for t in (0.1, 0.3):
        full = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(corpus, threshold=t).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs_prefix(corpus, threshold=t).collect()
        }
        assert pref == full, f"threshold {t}: prefix != full"


def test_prefix_filtered_jaccard_rejects_zero_threshold(spark, docs):
    from mitoscape_spark.operators.dedup import ngram_jaccard_pairs_prefix

    with pytest.raises(ValueError, match="threshold"):
        ngram_jaccard_pairs_prefix(docs, threshold=0.0)


def test_containment_finds_quote_in_long_doc_jaccard_misses(spark):
    """The asymmetric case containment exists for: a short doc quoted
    verbatim inside a 10×-longer one has containment 1.0 but Jaccard
    ≈ 0.1 — ngram_containment_pairs must link it, and the same-
    threshold Jaccard path must (correctly, per its own semantics)
    not."""
    from mitoscape_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(12))
    filler = " ".join(f"w{i}" for i in range(120))
    docs = spark.createDataFrame(
        [
            (1, quote),                      # the short original
            (2, filler + " " + quote),       # quotes all of doc 1
            (3, "totally different text about nothing at all here"),
        ],
        "doc_id long, text string",
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    assert set(cont) == {(1, 2)}
    assert cont[(1, 2)] == 1.0  # every shingle of doc 1 is in doc 2
    jac = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) not in jac


def test_knn_join_equals_bruteforce_multiblock(spark):
    """Exact kNN join across a FORCED multi-block execution (n_blocks=7
    over 60 vectors) must reproduce the brute-force per-row top-k under
    the (round-6 cos DESC, nbr id) order — including planted near-dup
    ties in the rounding band — and never emit a self-match."""
    import numpy as np

    from mitoscape_spark.operators.similarity import knn_join

    rng = np.random.default_rng(23)
    base = rng.normal(size=(50, 16))
    dups = base[:10] + rng.normal(scale=1e-7, size=(10, 16))  # tie band
    vecs = np.vstack([base, dups])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {}
    for r in knn_join(df, k=3, n_blocks=7).collect():
        got.setdefault(r.id, []).append((r.nbr, r.cos))
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(unit @ unit.T, 6)
    want = {}
    for i in range(len(vecs)):
        cand = sorted(
            ((-sims[i, j], j) for j in range(len(vecs)) if j != i)
        )[:3]
        want[i] = [(j, -negc) for negc, j in cand]
    for i in want:
        assert sorted(got[i]) == sorted(want[i]), i
        assert all(n != i for n, _ in got[i])


def test_knn_join_ivf_recall_and_full_probe_exactness(spark, emb):
    """IVF kNN join: probing ALL cells must equal the exact knn_join
    byte-for-byte (candidate generation is then complete and both rank
    identically); partial probing keeps recall high."""
    from mitoscape_spark.operators.similarity import (
        IVFFlatIndex,
        knn_join,
        knn_join_ivf,
    )

    exact = {}
    for r in knn_join(emb, k=5).collect():
        exact.setdefault(r.id, set()).add(r.nbr)
    # full probe == exact
    idx_full = IVFFlatIndex(n_centroids=8, n_probe=8).fit(emb)
    full = {}
    for r in knn_join_ivf(emb, k=5, index=idx_full).collect():
        full.setdefault(r.id, set()).add(r.nbr)
    assert full == exact
    # partial probe: aggregate recall stays high
    idx = IVFFlatIndex(n_centroids=8, n_probe=4).fit(emb)
    approx = {}
    for r in knn_join_ivf(emb, k=5, index=idx).collect():
        approx.setdefault(r.id, set()).add(r.nbr)
    hits = sum(len(exact[i] & approx.get(i, set())) for i in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.6, f"recall {hits/total:.2f}"


def test_knn_join_ivf_score_blocking_is_exact(spark, emb):
    """A pathologically small score_block_bytes forces the per-cell
    GEMM through many query-row chunks; the result must be
    byte-identical to the effectively-unblocked default (top-k-per-
    query is row-independent, so chunking may not change a single
    pair). Guards the round-11 bounded-memory fix: without blocking, a
    mis-sized quantizer (constant n_centroids on a grown corpus)
    materializes a |queries|x|cell| float64 matrix — 20 GB and a
    kernel OOM at the 100x probe scale (PERF.md §26)."""
    from mitoscape_spark.operators.similarity import (
        IVFFlatIndex,
        knn_join_ivf,
    )

    idx = IVFFlatIndex(n_centroids=8, n_probe=4).fit(emb)
    one_shot = sorted(
        (r.id, r.nbr, r.cos)
        for r in knn_join_ivf(emb, k=5, index=idx).collect()
    )
    # 1 KB budget => chunks of max(1, 1024 // (8*|cell|)) = 1 query row
    blocked = sorted(
        (r.id, r.nbr, r.cos)
        for r in knn_join_ivf(
            emb, k=5, index=idx, score_block_bytes=1024
        ).collect()
    )
    assert blocked == one_shot


def test_incremental_embedding_pairs_equals_from_scratch_delta(spark, emb):
    """incremental_embedding_pairs(corpus, new) must equal
    embedding_near_duplicates(corpus ∪ new) − (corpus-only pairs) —
    the same contract the MinHash incremental twin pins."""
    from mitoscape_spark.operators.dedup import (
        embedding_near_duplicates,
        incremental_embedding_pairs,
    )

    corpus = emb.where(F.col("vec_id") < 300)
    new = emb.where(F.col("vec_id") >= 300)
    got = {
        (r.id_a, r.id_b)
        for r in incremental_embedding_pairs(
            corpus, new, threshold=0.35
        ).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in embedding_near_duplicates(emb, threshold=0.35).collect()
    }
    old = {
        (r.id_a, r.id_b)
        for r in embedding_near_duplicates(corpus, threshold=0.35).collect()
    }
    assert got == full - old and got


def test_incremental_embedding_pairs_refed_docs_emit_nothing(spark, emb):
    """Re-feeding corpus docs as the 'new' batch must produce an EMPTY
    delta — their pairs were emitted by earlier batches."""
    from mitoscape_spark.operators.dedup import incremental_embedding_pairs

    corpus = emb.where(F.col("vec_id") < 300)
    refed = corpus.limit(50)
    assert (
        incremental_embedding_pairs(corpus, refed, threshold=0.35).count()
        == 0
    )


def test_incremental_embedding_pairs_refed_changed_vector_uses_new(spark):
    """A re-fed id whose vector CHANGED between corpus and batch must be
    scored with the new-batch vector deterministically (round-4 advice:
    dropDuplicates over corpus∪new picked one nondeterministically).
    (Pairs with BOTH endpoints in the corpus stay suppressed by the
    delta contract, so the lookup only matters for re-fed-id × new-id
    pairs.)  Corpus copy of id=1 is orthogonal to new id=3; the batch
    copy of id=1 is parallel to it — the (1,3) pair appears at cos≈1
    iff the batch vector won the lookup."""
    from mitoscape_spark.operators.dedup import incremental_embedding_pairs

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        [(1, [0.0, 1.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = incremental_embedding_pairs(corpus, new, threshold=0.9).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 3)}
    assert all(abs(r.cos - 1.0) < 1e-6 for r in rows)


def test_containment_equals_bruteforce(spark, docs):
    """Asymmetric prefix filter completeness: candidates from
    prefix(smaller) ⋈ full postings must reproduce the brute-force
    containment pairs exactly at multiple thresholds."""
    from mitoscape_spark.operators.dedup import (
        ngram_containment_pairs,
        shingles,
    )

    corpus = docs.limit(100)
    sets = {}
    for r in shingles(corpus).collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    for t in (0.5, 0.8):
        want = {}
        ids = sorted(sets)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = ids[i], ids[j]
                c = round(
                    len(sets[a] & sets[b]) / min(len(sets[a]), len(sets[b])),
                    6,
                )
                if c >= t:
                    want[(a, b)] = c
        got = {
            (r.doc_a, r.doc_b): r.containment
            for r in ngram_containment_pairs(corpus, threshold=t).collect()
        }
        assert got == want, f"threshold {t}"


def test_ivfpq_composed_recall(spark, emb):
    from mitoscape_spark.operators.similarity import IVFPQIndex, topk_cosine

    corpus = emb.where(F.col("vec_id") != 0)
    query = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    exact = {r.id for r in topk_cosine(corpus, query, k=10).collect()}

    idx = IVFPQIndex(n_centroids=8, n_probe=6, m=16, k=32).fit(emb)
    index = idx.encode(corpus)
    # the index table is cell-tagged + compressed codes
    assert set(index.columns) == {"id", "codes", "centroid"}
    got = idx.topk(index, query, k=10).collect()
    recall = len(exact & {r.id for r in got}) / len(exact)
    # probing 6/8 cells with coarse PQ: both approximations stack
    assert recall >= 0.4, f"IVFPQ recall {recall} too low"


def test_ivfpq_probe_prunes_cells(spark, emb):
    from mitoscape_spark.operators.similarity import IVFPQIndex

    idx = IVFPQIndex(n_centroids=8, n_probe=2, m=8, k=16).fit(emb)
    index = idx.encode(emb).cache()
    query = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    import numpy as np

    qv = np.asarray(query) / max(np.linalg.norm(query), 1e-12)
    probe = set(
        int(c)
        for c in np.argsort(-(idx.ivf.centroids @ qv))[: idx.ivf.n_probe]
    )
    scanned = index.where(F.col("centroid").isin(list(probe)))
    assert 0 < scanned.count() < index.count()  # real pruning happened


def test_embedding_neardup_null_vectors_excluded_not_misattributed(spark):
    from mitoscape_spark.operators.dedup import embedding_near_duplicates

    rows = [
        (0, [1.0, 0.0]),
        (1, None),          # failed embed: must not shift later ids
        (2, [1.0, 0.0]),    # true near-dup of 0
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r.id_a, r.id_b) for r in
             embedding_near_duplicates(df, threshold=0.99).collect()}
    assert pairs == {(0, 2)}


def test_sparse_neardup_zero_norm_doc_dropped_not_crash(spark):
    from mitoscape_spark.operators.dedup import sparse_near_duplicates

    rows = [
        (0, 0, 1.0), (0, 1, 1.0),
        (1, 0, 1.0), (1, 1, 1.0),     # duplicate of 0
        (2, 3, 0.0),                  # zero-norm doc
    ]
    df = spark.createDataFrame(rows, "id long, idx int, w double")
    pairs = sparse_near_duplicates(
        df, n_dims=4, threshold=0.9
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_sparse_neardup_prune_is_exact_against_brute_force(spark):
    """Round-12 prune exactness (VERDICT r11 item 1): the block-level /
    doc-level max-component bounds and the shared-support compaction
    must never drop a qualifying pair. Adversarial shapes:
    - disjoint-support pairs (intersection compaction skips the task),
    - a spread-out doc whose bound prunes it against one-hot docs,
    - near-threshold pairs just above AND just below the cut,
    - random seeded postings with positive and negative weights,
    all compared against a full-dimensional numpy brute force."""
    import numpy as np

    from mitoscape_spark.operators.dedup import sparse_near_duplicates

    rng = np.random.default_rng(7)
    n_dims, t = 64, 0.6
    vecs: dict[int, np.ndarray] = {}
    nid = 0

    def add(v):
        nonlocal nid
        vecs[nid] = np.asarray(v, dtype=float)
        nid += 1

    # one-hot docs on disjoint dims (cos exactly 0 across them)
    for d in range(4):
        v = np.zeros(n_dims)
        v[d] = 2.0
        add(v)
    # uniform spread over 32 dims: max cos vs any one-hot is
    # 1/sqrt(32) ≈ 0.177 < t — the doc-level bound prunes it
    add(np.ones(n_dims) * (np.arange(n_dims) < 32))
    # near-threshold pairs: cos(a, b) = cos(2θ) around t
    for eps in (-1e-4, 1e-4, -1e-2, 1e-2):
        th = 0.5 * np.arccos(t + eps)
        v1, v2 = np.zeros(n_dims), np.zeros(n_dims)
        v1[10], v1[11] = np.cos(th), np.sin(th)
        v2[10], v2[11] = np.cos(th), -np.sin(th)
        add(v1)
        add(v2)
    # random sparse docs, signed weights
    for _ in range(40):
        v = np.zeros(n_dims)
        nnz = rng.integers(2, 8)
        v[rng.choice(n_dims, nnz, replace=False)] = rng.normal(size=nnz)
        add(v)

    want = set()
    for i in vecs:
        for j in vecs:
            if i < j:
                ni, nj = np.linalg.norm(vecs[i]), np.linalg.norm(vecs[j])
                if ni > 0 and nj > 0:
                    c = float((vecs[i] / ni) @ (vecs[j] / nj))
                    if c >= t:
                        want.add((i, j))

    rows = [
        (i, int(d), float(w))
        for i, v in vecs.items()
        for d, w in zip(np.nonzero(v)[0], v[np.nonzero(v)[0]])
    ]
    df = spark.createDataFrame(rows, "id long, idx int, w double")
    got = {
        (r.id_a, r.id_b)
        for r in sparse_near_duplicates(
            df, n_dims=n_dims, threshold=t, n_blocks=5
        ).collect()
    }
    assert got == want


def test_connected_components_n_edges_hint_both_routes(spark):
    """Round-12 probe-skip hint: a caller-certified edge count must
    route identically to the probe — small hint → driver finisher, big
    hint → distributed star rounds — with identical labels."""
    from mitoscape_spark.operators.dedup import connected_components

    pairs = [(1, 2), (2, 3), (10, 11), (5, 5), (3, 1)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    want = {
        (r.id, r.component) for r in connected_components(df).collect()
    }
    small = {
        (r.id, r.component)
        for r in connected_components(df, n_edges=4).collect()
    }
    big = {
        (r.id, r.component)
        for r in connected_components(df, n_edges=10_000_000).collect()
    }
    assert small == want and big == want


def test_connected_components_propagation_raises_on_nonconvergence(spark):
    import pytest as _pytest

    from mitoscape_spark.operators.dedup import (
        connected_components_propagation,
    )

    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_propagation(df, max_iterations=3)


def test_asof_join_row_atomicity_with_null_payload_fields(spark):
    # the NEAREST right row has a NULL field: the result must carry that
    # NULL, never resurrect the older row's value for just that column
    import datetime as dt

    from mitoscape_spark.operators.asof import asof_join

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    left = spark.createDataFrame([(1, 9, t(10))], ["k", "lid", "lt"])
    right = spark.createDataFrame(
        [(1, t(3), 30, 3.0), (1, t(8), 80, None)], ["k", "rt", "rid", "val"]
    )
    row = asof_join(
        left, right, on="k", left_time="lt", right_time="rt",
        payload=["rid", "val"],
    ).head()
    assert (row.rid, row.val) == (80, None)  # atomic: both from the t(8) row


def test_asof_join_forward_direction(spark):
    import datetime as dt

    from mitoscape_spark.operators.asof import asof_join

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 100, t(5)), (1, 101, t(9))], ["k", "lid", "lt"]
    )
    right = spark.createDataFrame(
        [(1, t(5), 11), (1, t(7), 12), (1, t(20), 13)], ["k", "rt", "rid"]
    )
    rows = {
        (r.k, r.lid): r.rid
        for r in asof_join(
            left, right, on="k", left_time="lt", right_time="rt",
            payload=["rid"], direction="forward",
        ).collect()
    }
    assert rows[(1, 100)] == 11  # inclusive at-time
    assert rows[(1, 101)] == 13  # nearest following

def test_asof_join_tolerance(spark):
    import datetime as dt

    from mitoscape_spark.operators.asof import asof_join

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 100, t(10)), (1, 101, t(4))], ["k", "lid", "lt"]
    )
    right = spark.createDataFrame([(1, t(3), 30)], ["k", "rt", "rid"])
    rows = {
        r.lid: r.rid
        for r in asof_join(
            left, right, on="k", left_time="lt", right_time="rt",
            payload=["rid"], tolerance=2 * 86400.0,  # 2 days in seconds
        ).collect()
    }
    assert rows[101] == 30   # 1 day gap: within tolerance
    assert rows[100] is None  # 7 day gap: nulled


def test_knn_join_k_exceeding_corpus_returns_all_neighbors(spark):
    """k larger than the corpus: every row returns all n-1 neighbors
    (no self, no padding, no crash)."""
    import numpy as np

    from mitoscape_spark.operators.similarity import knn_join

    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    got = {}
    for r in knn_join(df, k=50, n_blocks=3).collect():
        got.setdefault(r.id, set()).add(r.nbr)
    assert set(got) == set(range(10))
    for i, nbrs in got.items():
        assert nbrs == set(range(10)) - {i}


def test_containment_threshold_one_exact_subsets_only(spark):
    """threshold=1.0: only true subset/equal shingle sets pair —
    boundary of the prefix bound (prefix length n - n + 1 = 1)."""
    from mitoscape_spark.operators.dedup import ngram_containment_pairs

    base = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, base),                       # 4 shingles (3-grams)
            (2, "intro words " + base),      # superset of doc 1's set
            (3, base.replace("gamma", "x")), # overlaps, not a subset
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(docs, threshold=1.0).collect()
    }
    assert set(got) == {(1, 2)} and got[(1, 2)] == 1.0


def test_winnow_shared_run_guarantee(spark):
    """Winnowing's core theorem (Schleimer et al.): two documents
    sharing a token run of length ≥ window + k − 1 MUST share at
    least one fingerprint — so the shared-fp pair join cannot miss a
    long-enough quote, regardless of where it sits in either doc."""
    from mitoscape_spark.operators.textstats import winnow_fingerprints

    k, window = 3, 4
    # shared run of exactly window + k - 1 = 6 tokens
    shared = "q1 q2 q3 q4 q5 q6"
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 a3 " + shared + " a4 a5"),
            (2, "b1 " + shared + " b2 b3 b4 b5 b6"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),  # no shared run
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=k, window=window)
    sets = {}
    for r in fps.collect():
        sets.setdefault(r.doc_id, set()).add(r.fp)
    assert sets[1] & sets[2]           # guarantee: quote is caught
    assert not (sets[1] & sets[3])     # and no phantom matches


def test_knn_classify_matches_bruteforce_vote(spark):
    """knn_classify (broadcast-queries × blocked-corpus GEMM) must
    reproduce the brute-force top-k majority vote under the same
    deterministic (round-6 cos DESC, nbr) rank and (votes DESC, label)
    tie-break — including a query id that also exists in the corpus
    (self-masked)."""
    import numpy as np

    from mitoscape_spark.operators.similarity import knn_classify

    rng = np.random.default_rng(7)
    cvecs = rng.normal(size=(60, 12))
    labels = [int(i % 4) for i in range(60)]
    corpus = spark.createDataFrame(
        [
            (i, [float(x) for x in v], labels[i])
            for i, v in enumerate(cvecs)
        ],
        "vec_id long, embedding array<double>, label int",
    )
    # queries: 5 fresh vectors + one id colliding with corpus id 3
    qvecs = rng.normal(size=(5, 12))
    qrows = [(100 + i, [float(x) for x in v]) for i, v in enumerate(qvecs)]
    qrows.append((3, [float(x) for x in cvecs[3]]))
    queries = spark.createDataFrame(
        qrows, "vec_id long, embedding array<double>"
    )
    got = {
        r["qid"]: (r["pred_label"], r["votes"])
        for r in knn_classify(corpus, queries, k=7, n_blocks=5).collect()
    }
    cu = cvecs / np.linalg.norm(cvecs, axis=1, keepdims=True)
    for qid, qv in qrows:
        q = np.asarray(qv)
        sims = np.round(cu @ (q / np.linalg.norm(q)), 6)
        order = sorted(
            (i for i in range(60) if i != qid),
            key=lambda i: (-sims[i], i),
        )[:7]
        votes: dict[int, int] = {}
        for i in order:
            votes[labels[i]] = votes.get(labels[i], 0) + 1
        pred = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert got[qid] == (pred[0], pred[1]), qid


def test_knn_classify_validates_k(spark, emb):
    import pytest

    from mitoscape_spark.operators.similarity import knn_classify

    with pytest.raises(ValueError, match="k must be"):
        knn_classify(emb, emb, k=0)


def test_boilerplate_fractions_planted_template(spark):
    """Docs sharing a planted template phrase score a positive
    corpus-level boilerplate fraction; a fully-unique doc scores 0;
    docs shorter than the shingle width are absent."""
    from mitoscape_spark.operators.textstats import boilerplate_fractions

    template = "copyright acme corp all rights reserved"
    rows = [
        (1, f"{template} alpha beta gamma delta"),
        (2, f"{template} epsilon zeta eta theta"),
        (3, f"{template} iota kappa lam mu"),
        (4, "completely unique content with no shared phrasing at all"),
        (5, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in boilerplate_fractions(docs, n=3, min_docs=3).collect()
    }
    assert set(got) == {1, 2, 3, 4}  # doc 5: < 3 tokens, no shingles
    # the template contributes 4 shared 3-gram shingles to each of 1-3
    for d in (1, 2, 3):
        assert got[d]["n_common"] == 4, got[d]
        assert 0 < got[d]["boilerplate_frac"] < 1
    assert got[4]["n_common"] == 0
    assert got[4]["boilerplate_frac"] == 0.0


def test_literal_pq_pruning_and_determinism(spark, emb):
    """The literal (data-independent) quantizer state used by the
    ext_ann_*_literal oracle queries: deterministic per seed, and the
    IVF probe pruning is REAL — the pruned ADC scan must score a
    strict subset of the corpus while the un-pruned PQ scan scores
    everything."""
    from mitoscape_spark.operators.similarity import (
        IVFPQIndex,
        PQIndex,
        literal_ivf_centroids,
        literal_pq_codebooks,
    )

    books = literal_pq_codebooks(8, 16, 64, seed=1234)
    assert books.shape == (8, 16, 8)
    assert (books == literal_pq_codebooks(8, 16, 64, seed=1234)).all()
    assert (books != literal_pq_codebooks(8, 16, 64, seed=1235)).any()
    cents = literal_ivf_centroids(8, 64, seed=4321)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    with pytest.raises(ValueError, match="not divisible"):
        literal_pq_codebooks(7, 16, 64, seed=1)

    corpus = emb.where(F.col("vec_id") != 0)
    query = list(emb.where(F.col("vec_id") == 0).head()["embedding"])

    pq = PQIndex(m=8, k=16)
    pq.codebooks = books
    flat = pq.topk(pq.encode(corpus), query, k=10).collect()

    idx = IVFPQIndex(n_centroids=8, n_probe=3, m=8, k=16)
    idx.ivf.centroids = cents
    idx.pq.codebooks = books
    index = idx.encode(corpus)
    pruned = idx.topk(index, query, k=10).collect()

    n_corpus = corpus.count()
    n_scanned = index.where(
        F.col("centroid").isin(
            [int(c) for c in np.argsort(-(cents @ _unitq(query)))[:3]]
        )
    ).count()
    assert 0 < n_scanned < n_corpus  # pruning really excludes cells
    # identical ADC math: any id appearing in both rankings has the
    # same score; the pruned ranking may differ (that IS the tradeoff)
    flat_scores = {r.id: r.score for r in flat}
    for r in pruned:
        if r.id in flat_scores:
            assert r.score == flat_scores[r.id]


def _unitq(query):
    q = np.asarray(query, dtype=np.float64)
    return q / max(np.linalg.norm(q), 1e-12)


def test_decode_invariants_matches_decode_and_nulls(spark, docs):
    """decode_invariants runs the same stdlib codec as decode_media:
    counts/checksums agree with a driver-side re-decode, and
    undecodable or NULL payloads yield NULL stats instead of errors."""
    from mitoscape_spark.sources.multimodal import (
        decode_invariants,
        stdlib_codec,
        synthetic_decodable_media,
    )

    media = synthetic_decodable_media(spark, docs.limit(9))
    got = {r.media_id: r for r in decode_invariants(media).collect()}
    for r in media.collect():
        arr = stdlib_codec(bytes(r.payload), r.modality).astype(np.int64)
        g = got[r.media_id]
        assert g.n_decoded == len(arr)
        assert g.byte_sum == int(arr.sum())
        assert g.n_lt16 == int((arr < 16).sum())
        assert g.fmt == r.meta["format"]

    bad = spark.createDataFrame(
        [
            (100, "image", bytearray(b"\x89PNG not stdlib"), None),
            (101, "image", None, None),
        ],
        "media_id long, modality string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,"
        "n_frames:int,format:string>",
    )
    rows = {r.media_id: r for r in decode_invariants(bad).collect()}
    assert len(rows) == 2
    for mid in (100, 101):
        assert rows[mid].n_decoded is None
        assert rows[mid].byte_sum is None
