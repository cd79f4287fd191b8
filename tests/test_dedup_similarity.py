"""Dedup + similarity + text-quality operators (training-data plane)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),      # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),      # near dup
        (3, "completely different content about spark engines"),
        (4, "spark engines process completely different content"),
        (5, "unrelated text entirely about databases and queries"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, dup_docs):
    from docs_indexer_spark.operators.dedup import exact_duplicates

    groups = {r["text_hash"]: r for r in exact_duplicates(dup_docs).collect()}
    dup_groups = [g for g in groups.values() if g["n_docs"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["n_docs"] == 2
    assert dup_groups[0]["keep_doc_id"] == 0


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    from docs_indexer_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(dup_docs, num_hashes=16)
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sigs, bands=8).collect()
    }
    assert (0, 1) in pairs  # exact dups always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup should band-collide
    assert (3, 5) not in pairs  # unrelated docs shouldn't


def test_minhash_signature_deterministic(spark, dup_docs):
    from docs_indexer_spark.operators.dedup import minhash_signatures

    s1 = {r["doc_id"]: r["sig"] for r in minhash_signatures(dup_docs).collect()}
    s2 = {r["doc_id"]: r["sig"] for r in minhash_signatures(dup_docs).collect()}
    assert s1 == s2
    assert s1[0] == s1[1]  # identical text → identical signature


def test_simhash_hamming(spark, dup_docs):
    from docs_indexer_spark.operators.dedup import simhash64

    sims = {r["doc_id"]: r["simhash"] for r in simhash64(dup_docs).collect()}
    assert sims[0] == sims[1]
    ham02 = bin(sims[0] ^ sims[2]).count("1")
    ham05 = bin(sims[0] ^ sims[5]).count("1")
    assert ham02 < ham05  # near dup closer than unrelated


@pytest.mark.parametrize("hash_family", ["xx", "md5"])
@pytest.mark.parametrize("max_hamming", [3, 7])
def test_simhash_banded_equals_all_pairs(spark, hash_family, max_hamming):
    """The pigeonhole-banded equi-join must return EXACTLY the pair set of
    the naive all-pairs formulation (recall is guaranteed by construction;
    precision by the exact-hamming verify)."""
    from docs_indexer_spark.operators.dedup import simhash64, simhash_near_dup_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 300)
    )
    sims = simhash64(docs, hash=hash_family).persist()
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_dup_pairs(sims, max_hamming=max_hamming).collect()
    }
    a = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    naive = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .collect()
    }
    sims.unpersist()
    assert banded == naive
    assert len(naive) > 0  # fixture must exercise the operator


def test_minhash_hash_families_agree_on_exact_dups(spark, dup_docs):
    """xx and md5 signature families differ in values but must both give
    identical signatures to identical texts."""
    from docs_indexer_spark.operators.dedup import minhash_signatures

    for fam in ("xx", "md5"):
        sigs = {
            r["doc_id"]: r["sig"]
            for r in minhash_signatures(dup_docs, num_hashes=8, hash=fam).collect()
        }
        assert sigs[0] == sigs[1], fam
        assert sigs[0] != sigs[3], fam


def test_ngram_jaccard(spark, dup_docs):
    from docs_indexer_spark.operators.dedup import ngram_jaccard

    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 5)], "doc_a long, doc_b long"
    )
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard(dup_docs, pairs).collect()
    }
    assert jac[(0, 1)] == 1.0
    assert 0.0 < jac[(0, 2)] < 1.0
    assert jac[(0, 5)] == 0.0


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    rows = []
    for i in range(50):
        if i < 5:  # tight cluster around base
            v = base + 0.01 * rng.standard_normal(16)
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark, embeddings):
    from docs_indexer_spark.operators.similarity import cosine_topk

    rows = embeddings.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = vecs[0]
    want = sorted(
        (
            (int(i), float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))))
            for i, v in vecs.items()
        ),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    got = [
        (int(r["vec_id"]), float(r["cosine"]))
        for r in cosine_topk(embeddings, [float(x) for x in q], k=5).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-6


def test_lsh_ann_recall(spark, embeddings):
    from docs_indexer_spark.operators.similarity import (
        cosine_topk,
        lsh_bucket_neighbors,
    )

    rows = embeddings.collect()
    q = [float(x) for x in rows[0]["embedding"]]
    exact = {r["vec_id"] for r in cosine_topk(embeddings, q, k=5).collect()}
    ann = {
        r["vec_id"]
        for r in lsh_bucket_neighbors(
            embeddings, q, k=5, bits=8, max_hamming=1
        ).collect()
    }
    # the tight cluster shares the query's bucket → recall on the cluster
    assert len(exact & ann) >= 3


def test_ivf_topk_recall_with_trained_centroids(spark, embeddings):
    from docs_indexer_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        ivf_train_kmeans,
    )

    rows = embeddings.collect()
    q = [float(x) for x in rows[0]["embedding"]]
    exact = {r["vec_id"] for r in cosine_topk(embeddings, q, k=5).collect()}
    cents = ivf_train_kmeans(embeddings, n_centroids=6, iters=6, sample=64)
    got = {
        r["vec_id"]
        for r in ivf_topk(embeddings, q, cents, k=5, nprobe=2).collect()
    }
    # the tight 5-vector cluster lands in one trained list → high recall
    assert len(exact & got) >= 4


def test_ivf_assign_is_exact_argmax(spark, embeddings):
    import numpy as np

    from docs_indexer_spark.operators.similarity import ivf_assign, ivf_centroids

    cents = ivf_centroids(16, 5, seed=11)
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(embeddings, cents).collect()
    }
    for r in embeddings.collect():
        v = np.array(r["embedding"], dtype=np.float64)
        assert got[r["vec_id"]] == int(np.argmax(cents @ v))


def test_embedding_near_duplicates(spark, embeddings):
    from docs_indexer_spark.operators.similarity import embedding_near_duplicates

    pairs = embedding_near_duplicates(embeddings, threshold=0.95, bits=6).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # the 5-vector cluster has C(5,2)=10 pairs; LSH at 6 bits should keep most
    cluster_pairs = {(a, b) for a in range(5) for b in range(5) if a < b}
    assert len(found & cluster_pairs) >= 6
    assert all(r["cosine"] >= 0.95 for r in pairs)


def test_text_quality_cols(spark):
    from docs_indexer_spark.functions.text_quality import (
        lang_id_col,
        quality_score_col,
        token_count_col,
    )

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox is running with the hounds for fun"),
            (1, "der hund ist mit der katze und das haus"),
            (2, "!!! ??? ..."),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            token_count_col("text").alias("n"),
            quality_score_col("text").alias("q"),
            lang_id_col("text").alias("lang"),
        ).collect()
    }
    assert rows[0]["n"] == 11
    assert rows[0]["lang"] == "en"
    assert rows[1]["lang"] == "de"
    assert rows[2]["lang"] == "und"
    assert rows[2]["q"] == 0.0
    assert rows[3]["n"] == 0


def _make_bmp(pixels: np.ndarray) -> bytes:
    """Independent 24-bit BMP writer (bottom-up, BGR, padded rows)."""
    import struct

    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    img = bytearray()
    for row in pixels[::-1]:
        line = row[:, ::-1].tobytes()  # RGB → BGR
        img += line + b"\x00" * (stride - len(line))
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(img), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return bytes(header + img)


def test_bmp_decode_roundtrip():
    from docs_indexer_spark.operators.dedup import exact_duplicates  # noqa: F401
    from docs_indexer_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(3)
    pixels = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    decoded = decode_image(_make_bmp(pixels))
    assert decoded.shape == (5, 7, 3)
    assert (decoded == pixels).all()


def test_ppm_decode_roundtrip():
    from docs_indexer_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(4)
    pixels = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    payload = b"P6\n# comment\n6 4\n255\n" + pixels.tobytes()
    decoded = decode_image(payload)
    assert (decoded == pixels).all()


def test_wav_decode_and_audio_features(spark):
    import io
    import wave

    from docs_indexer_spark.operators.multimodal import (
        decode_audio,
        extract_audio_features,
    )

    rate = 8000
    t = np.arange(rate)  # 1 second
    tone = (0.5 * np.sin(2 * np.pi * 440 * t / rate) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(tone.tobytes())
    payload = buf.getvalue()

    samples, got_rate = decode_audio(payload)
    assert got_rate == rate and samples.shape == (rate, 1)
    assert abs(float(np.abs(samples).max()) - 0.5) < 1e-3

    media = spark.createDataFrame(
        [(7, "audio", bytearray(payload), ("audio/wav", 0, 0, 1000))],
        "doc_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    row = extract_audio_features(media).collect()[0]
    assert row["duration_sec"] == 1.0
    assert row["sample_rate"] == rate
    # a 440 Hz sine crosses zero ~880 times/sec → zcr ≈ 880/8000
    assert abs(row["zero_crossing_rate"] - 0.11) < 0.01
    # RMS of a 0.5-amplitude sine = 0.5/sqrt(2)
    assert abs(row["rms"] - 0.3536) < 0.001


def test_resize_image_nearest():
    from docs_indexer_spark.operators.multimodal import resize_image

    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    out = resize_image(img, (2, 3))
    assert out.shape == (2, 3, 3)
    assert (out[0, 0] == img[0, 0]).all()


def test_multimodal_plumbing(spark):
    from docs_indexer_spark.operators.multimodal import (
        decode_image,
        extract_features,
        sample_frames,
    )

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"fakejpegbytes-1"), ("image/jpeg", 8, 8, None)),
            (2, "image", bytearray(b"fakejpegbytes-2"), ("image/jpeg", 8, 8, None)),
            (3, "video", bytearray(b"fakemp4"), ("video/mp4", 0, 0, 3500)),
        ],
        "doc_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    feats = {r["doc_id"]: r for r in extract_features(media, fake=True).collect()}
    assert len(feats[1]["feature"]) == 16
    assert feats[1]["feature"] != feats[2]["feature"]  # content-seeded
    # deterministic across runs
    again = {r["doc_id"]: r for r in extract_features(media, fake=True).collect()}
    assert feats[1]["feature"] == again[1]["feature"]

    frames = sample_frames(media, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image(b"x", fake=False)


def test_winnowing_guarantee_and_density(spark):
    """Winnowing (Schleimer et al. 2003): two documents sharing a token
    run of length >= k + window - 1 MUST share at least one fingerprint;
    selected fingerprints are a strict subset of all shingle hashes."""
    from docs_indexer_spark.operators.dedup import (
        winnow_candidate_pairs,
        winnow_fingerprints,
        with_word_shingles,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = k+window-1
    rows = [
        (0, "intro words then " + shared + " and a very different tail"),
        (1, shared + " opens this one with other following content here"),
        (2, "completely unrelated text about graphs trees and cycles"),
        (3, "tiny doc"),          # < k tokens → single whole-doc shingle
        (4, ""),                  # empty → no fingerprints
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs, k=3, window=4).persist()
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # guarantee: docs 0 and 1 share the 6-token run → >=1 common fp
    assert by_doc[0] & by_doc[1]
    # density: fingerprints are a subset of the shingle hashes
    import pyspark.sql.functions as F
    sh = with_word_shingles(docs.filter(F.col("doc_id") == 0), "text", 3,
                            out_col="s", keep=["doc_id"])
    all_hashes = {
        r["h"]
        for r in sh.select(F.explode("s").alias("x"))
        .select(F.xxhash64("x").alias("h")).collect()
    }
    assert by_doc[0] < all_hashes, "winnowing must select a strict subset"
    # short doc fingerprints, empty doc does not
    assert 3 in by_doc and 4 not in by_doc

    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in winnow_candidate_pairs(fps).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 1
    assert not any(2 in p for p in pairs)
    fps.unpersist()


def test_winnowing_md5_plane_matches_xx_structure(spark):
    """The md5 (SQL-parity) and xx (production) planes select the same
    NUMBER of fingerprints per doc on identical windows whenever no
    window tie differs — weaker than hash identity (different families),
    but pins that both planes run the same selection logic."""
    from docs_indexer_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 20
    )
    a = winnow_fingerprints(docs, hash="xx").groupBy("doc_id").count()
    b = winnow_fingerprints(docs, hash="md5").groupBy("doc_id").count()
    ca = {r["doc_id"]: r["count"] for r in a.collect()}
    cb = {r["doc_id"]: r["count"] for r in b.collect()}
    assert set(ca) == set(cb)
    import numpy as np
    ratios = [cb[d] / ca[d] for d in ca]
    assert 0.5 < float(np.median(ratios)) < 2.0


def test_simhash_vectorized_identical_to_native(spark):
    """The Arrow bit-count kernel and the 64-aggregate native formulation
    are the same arithmetic (integer sums, order-independent) — outputs
    must be bit-identical for BOTH hash families."""
    from docs_indexer_spark.operators.dedup import simhash64

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fam in ["xx", "md5"]:
        a = {r["doc_id"]: r["simhash"]
             for r in simhash64(docs, hash=fam, vectorized=True).collect()}
        b = {r["doc_id"]: r["simhash"]
             for r in simhash64(docs, hash=fam, vectorized=False).collect()}
        assert a == b and a, fam


def test_simhash_list_kernel_rejects_null_hash_rows():
    """A null hash-array row would misalign the flattened offsets and
    corrupt every later doc's simhash in the batch; the kernel raises."""
    import pyarrow as pa

    from docs_indexer_spark.operators.dedup import _simhash_list_kernel

    hs = pa.array([[1, 2, 3], None, [4, 5]], pa.list_(pa.int64()))
    ids = pa.array([1, 2, 3], pa.int64())
    batch = pa.RecordBatch.from_arrays([ids, hs], names=["_id", "_hs"])
    with pytest.raises(ValueError, match="null hash rows"):
        list(_simhash_list_kernel([batch]))
    ok = pa.RecordBatch.from_arrays(
        [ids, pa.array([[1, 2, 3], [], [4, 5]], pa.list_(pa.int64()))],
        names=["_id", "_hs"],
    )
    out = pa.Table.from_batches(list(_simhash_list_kernel([ok])))
    assert out.column("_id").to_pylist() == [1, 3]


def test_rp_kernel_signatures_identical_to_native(spark):
    """The Arrow RP-signature kernel accumulates dimension-by-dimension —
    the same float64 order as the native zip_with fold — so near-dup
    pairs AND cosines must be bit-identical at the gate parameters."""
    from docs_indexer_spark.operators.similarity import embedding_near_duplicates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(threshold=0.3, bits=10, tables=3, seed=42)
    a = sorted((r["id_a"], r["id_b"], r["cosine"])
               for r in embedding_near_duplicates(emb, vectorized=True, **kw).collect())
    b = sorted((r["id_a"], r["id_b"], r["cosine"])
               for r in embedding_near_duplicates(emb, vectorized=False, **kw).collect())
    assert a == b and a


def test_empty_inputs_yield_empty_results(spark):
    """Dedup/similarity operators on empty relations return empty results
    (no crash on the .first() dim probe or the Arrow kernels)."""
    from docs_indexer_spark.operators.dedup import simhash64, winnow_fingerprints
    from docs_indexer_spark.operators.similarity import embedding_near_duplicates

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_near_duplicates(empty_emb).count() == 0
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert winnow_fingerprints(empty_docs).count() == 0
    assert simhash64(empty_docs).count() == 0


def test_ivf_index_persisted_partition_pruned(spark, tmp_path):
    """The persisted IvfIndex (assignment partitioned by centroid_id)
    returns IDENTICAL results to the fused ivf_topk and reads only the
    probed lists' files (partition pruning)."""
    from docs_indexer_spark.operators.similarity import (
        IvfIndex,
        ivf_centroids,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(64, 8, seed=7)
    q = [1.0] * 64
    idx = IvfIndex.build(emb, cents, str(tmp_path / "ivf"))
    got = [(r["vec_id"], round(r["cosine"], 9))
           for r in idx.topk(q, k=10, nprobe=3).collect()]
    want = [(r["vec_id"], round(r["cosine"], 9))
            for r in ivf_topk(emb, q, cents, k=10, nprobe=3).collect()]
    assert got == want and got
    # partition pruning: centroid_id is a PARTITION column, so the probe
    # filter appears as a PartitionFilters entry in the scan (directory
    # pruning — unprobed lists' files are never opened)
    plan = (
        idx.topk(q, k=10, nprobe=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters"
    )[1][:120]


def test_rawv_roundtrip_and_frame_sampling(spark):
    """RAWV video: encode → decode identity, and the Spark frame-sampling
    kernel emits the right frames/timestamps/features."""
    import numpy as np

    from docs_indexer_spark.operators.multimodal import (
        decode_rawv,
        encode_rawv,
        sample_frames_decoded,
    )

    rng = np.random.default_rng(3)
    frames = rng.integers(0, 256, size=(50, 4, 6, 3), dtype=np.uint8)
    payload = encode_rawv(frames, fps=25)
    got, fps = decode_rawv(payload)
    assert fps == 25 and np.array_equal(got, frames)

    media = spark.createDataFrame(
        [(1, "video", bytearray(payload),
          {"mime": "video/x-rawv", "width": 6, "height": 4,
           "duration_ms": 2000})],
        "doc_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    rows = sample_frames_decoded(media, every_ms=1000).collect()
    # 50 frames @25fps = 2 s; sampling every 1000 ms → frames 0 and 25
    assert [(r["frame_idx"], r["frame_ts_ms"]) for r in
            sorted(rows, key=lambda r: r["frame_idx"])] == [(0, 0), (25, 1000)]
    for r in rows:
        want = frames[r["frame_idx"]].reshape(-1, 3).mean(axis=0) / 255.0
        assert np.allclose(r["mean_rgb"], want, atol=1e-6)
    # compressed video stays a stub
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        decode_rawv(b"\x00\x00\x00 ftypisom....")


def test_lsh_bucket_neighbors_vectorized_identical(spark, embeddings):
    from docs_indexer_spark.operators.similarity import lsh_bucket_neighbors

    rows = embeddings.collect()
    q = [float(x) for x in rows[0]["embedding"]]
    a = [(r["vec_id"], r["cosine"])
         for r in lsh_bucket_neighbors(embeddings, q, k=5, bits=8,
                                       vectorized=True).collect()]
    b = [(r["vec_id"], r["cosine"])
         for r in lsh_bucket_neighbors(embeddings, q, k=5, bits=8,
                                       vectorized=False).collect()]
    assert a == b and a


def test_connected_components_chain_and_representatives(spark):
    """Chain graph (worst case for label propagation — needs multiple
    rounds) + isolated pair + untouched singleton; dedup_representatives
    keeps exactly one doc per cluster plus all unpaired docs."""
    from docs_indexer_spark.operators.dedup import (
        connected_components,
        dedup_representatives,
    )

    # components: {1,2,3,4,5} (a chain), {10,11}; 20 is in no pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "doc_a long, doc_b long",
    )
    comp = {r["node"]: r["comp"]
            for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 5, 10, 11, 20]],
        "doc_id long, text string",
    )
    kept = {r["doc_id"]
            for r in dedup_representatives(docs, pairs).collect()}
    assert kept == {1, 10, 20}


def test_connected_components_star_equivalence_and_long_chain(spark):
    """large-star/small-star (Kiveris et al. 2014) must (a) agree with
    min-label propagation on an arbitrary mixed graph, (b) converge on a
    path graph whose diameter far exceeds label propagation's default
    round budget — the O(log n)-vs-O(diameter) case it exists for — and
    (c) label propagation must now FAIL LOUDLY (not return a wrong
    partition) when it exhausts max_iter before converging."""
    import random

    import pytest as _pytest

    from docs_indexer_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        dedup_representatives,
    )

    # (a) random mixed graph: cliques + chains + isolated pair
    rng = random.Random(7)
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    base = 100
    for _ in range(40):  # random edges among 100..139
        a, b = rng.sample(range(base, base + 40), 2)
        edges.append((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got_label = {r["node"]: r["comp"]
                 for r in connected_components(pairs).collect()}
    got_star = {r["node"]: r["comp"]
                for r in connected_components_star(pairs).collect()}
    assert got_star == got_label

    # (b) path graph of length 60: diameter 60 >> max_iter=20 rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    star = {r["node"]: r["comp"]
            for r in connected_components_star(chain).collect()}
    assert set(star) == set(range(61)) and set(star.values()) == {0}

    # (c) label propagation on the same chain: must raise, not lie
    with _pytest.raises(RuntimeError, match="still changing"):
        connected_components(chain, max_iter=5)

    # representatives through the star path
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 10, 11, 99]],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup_representatives(
        docs, spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                    "doc_a long, doc_b long"),
        algorithm="star",
    ).collect()}
    assert kept == {1, 10, 99}


# ---------------------------------------------------------------------------
# substring-level exact dedup (Lee et al. 2022 ExactSubstr, window algebra)
# ---------------------------------------------------------------------------


def _spans(spark, rows, l=4, **kw):
    from docs_indexer_spark.operators.dedup import duplicate_substring_spans

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = duplicate_substring_spans(df, l=l, **kw).collect()
    return sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in got
    )


def test_substring_spans_cross_doc_exact_boundaries(spark):
    """A 6-token run shared by two docs (l=4) must produce exactly one
    span per doc covering exactly the run — token-exact boundaries."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three"),
        (2, f"{shared} four five six"),
    ]
    # doc 1: run at tokens [2, 8); windows at pos 2,3,4 → 3 windows
    # doc 2: run at tokens [0, 6); windows at pos 0,1,2
    assert _spans(spark, rows) == [
        (1, 2, 8, 3),
        (2, 0, 6, 3),
    ]


def test_substring_spans_within_doc_and_keep_first(spark):
    """Within-document repetition counts (as in the paper); keep_first
    leaves the globally-first occurrence uncovered."""
    phrase = "red orange yellow green"
    rows = [(7, f"{phrase} blue indigo {phrase}")]
    # tokens: phrase at [0,4) and [6,10); l=4 → one window each
    assert _spans(spark, rows) == [(7, 0, 4, 1), (7, 6, 10, 1)]
    assert _spans(spark, rows, keep_first=True) == [(7, 6, 10, 1)]


def test_substring_spans_merge_overlapping_windows(spark):
    """An 8-token duplicated run yields 5 overlapping l=4 windows that
    must merge into ONE maximal span, not five."""
    run = "a1 a2 a3 a4 a5 a6 a7 a8"
    rows = [(1, f"x {run}"), (2, f"{run} y")]
    assert _spans(spark, rows) == [(1, 1, 9, 5), (2, 0, 8, 5)]


def test_substring_spans_no_duplicates_empty(spark):
    rows = [(1, "p q r s t"), (2, "u v w x y")]
    assert _spans(spark, rows) == []


def test_substring_spans_hash_families_agree(spark):
    rows = [
        (1, "m1 m2 m3 m4 m5 tail1 tail2"),
        (2, "head m1 m2 m3 m4 m5"),
    ]
    assert _spans(spark, rows, hash="xx") == _spans(spark, rows, hash="md5")


def test_ngram_contamination_planted_overlap(spark):
    """A corpus doc that quotes an 8-token benchmark passage is flagged
    with the exact distinct-gram count; clean docs are absent; docs
    shorter than n emit no grams."""
    from docs_indexer_spark.operators.dedup import ngram_contamination

    passage = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    bench = spark.createDataFrame(
        [(100, f"intro {passage} outro"), (101, "totally different words here")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, f"prefix text {passage} suffix text"),  # quotes the passage
            (2, "no overlap at all in this document body"),
            (3, "short doc"),  # < n tokens
        ],
        "doc_id long, text string",
    )
    out = ngram_contamination(docs, bench, n=8).collect()
    assert len(out) == 1
    row = out[0]
    assert row["doc_id"] == 1
    # "intro <passage> outro" vs "prefix text <passage> suffix text":
    # only the passage's own single 8-gram is shared
    assert row["n_grams_hit"] == 1 and row["n_bench_docs"] == 1


def test_ngram_contamination_plan_broadcasts_bench(spark):
    from docs_indexer_spark.operators.dedup import ngram_contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    plan = ngram_contamination(corpus, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_encode_adc_exact_on_codebook_points(spark):
    """A vector assembled from codebook entries must encode to exactly
    those codes, and its ADC score must equal the true inner product
    (zero quantization error on codebook points)."""
    import numpy as np

    from docs_indexer_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(3)
    x = rng.standard_normal((500, 64))
    books = pq_train(x, m=8, ks=16, iters=4, seed=5)
    picks = [3, 7, 0, 15, 9, 1, 12, 6]
    vec = np.concatenate([books[s, picks[s]] for s in range(8)])
    other = rng.standard_normal(64)
    emb = spark.createDataFrame(
        [(1, [float(v) for v in vec]), (2, [float(v) for v in other])],
        "vec_id long, embedding array<double>",
    )
    codes = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    assert codes[1] == picks
    q = rng.standard_normal(64)
    top = {
        r["vec_id"]: r["adc"]
        for r in pq_adc_topk(pq_encode(emb, books), books, q, k=2).collect()
    }
    assert abs(top[1] - float(vec @ q)) < 1e-9  # exact on codebook points
    # the non-codebook vector is approximated, not exact (sanity that
    # ADC really is a quantized score)
    assert abs(top[2] - float(other @ q)) > 1e-9


def test_ivf_pq_index_end_to_end(spark, tmp_path):
    """IVF-PQ: results equal filtering the probed lists and ADC-scoring
    them directly; the codes scan is partition-pruned; stored rows carry
    codes, not vectors."""
    import numpy as np

    from docs_indexer_spark.operators.similarity import (
        IvfPqIndex,
        ivf_assign,
        ivf_centroids,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sample = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").limit(512).collect()],
        dtype=np.float64,
    )
    cents = ivf_centroids(64, 8, seed=7)
    books = pq_train(sample, m=8, ks=16, iters=4, seed=5)
    idx = IvfPqIndex.build(emb, cents, books, str(tmp_path / "ivfpq"))
    assert "embedding" not in idx.codes.columns  # codes-only storage
    q = [1.0] * 64
    got = [(r["vec_id"], round(r["adc"], 9))
           for r in idx.topk(q, k=10, nprobe=3).collect()]
    # reference: same probes computed directly (no persisted index)
    qv = np.asarray(q); qn = qv / np.linalg.norm(qv)
    probes = [int(c) for c in np.argsort(-(cents @ qn))[:3]]
    cand = ivf_assign(emb, cents).filter(
        F.col("centroid_id").isin(probes)
    ).select("vec_id", F.col("v").alias("embedding"))
    want = [(r["vec_id"], round(r["adc"], 9))
            for r in pq_adc_topk(pq_encode(cand, books), books, q, k=10).collect()]
    assert got == want and got
    plan = idx.topk(q, k=10, nprobe=3)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_lang_id_pred_identical_to_col(spark):
    """The relational lang-ID shape (explode + broadcast marker join +
    argmax) must predict exactly what the per-row HOF column does on the
    real corpus — including zero-hit docs ('und') and cross-language
    marker ties (alphabetical-language tie-break)."""
    from docs_indexer_spark.functions.text_quality import (
        lang_id_col,
        lang_id_pred,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # add adversarial rows: empty, tie between de/nl ("de" marker is in
    # both word sets), null text
    extra = spark.createDataFrame(
        [(9000001, ""), (9000002, "de de de"), (9000003, None)],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    col_rows = {
        r["doc_id"]: r["p"]
        for r in docs.select("doc_id", lang_id_col("text").alias("p")).collect()
    }
    rel_rows = {
        r["doc_id"]: r["pred"] for r in lang_id_pred(docs).collect()
    }
    assert col_rows == rel_rows


def test_cosine_and_ivf_vectorized_identical_to_column(spark):
    """The Arrow cosine/IVF kernels accumulate dimension-by-dimension —
    the same fold order as the native zip_with/aggregate expressions —
    so scores (and therefore ranks) must be BIT-identical to the
    pure-Column paths."""
    from docs_indexer_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [1.0 if i % 3 else -0.5 for i in range(64)]
    a = cosine_topk(emb, q, k=25, vectorized=True).collect()
    b = cosine_topk(emb, q, k=25, vectorized=False).collect()
    assert [(r["vec_id"], r["cosine"]) for r in a] == [
        (r["vec_id"], r["cosine"]) for r in b
    ]
    cents = ivf_centroids(64, 8, 7)
    a = ivf_topk(emb, q, cents, k=25, nprobe=3, vectorized=True).collect()
    b = ivf_topk(emb, q, cents, k=25, nprobe=3, vectorized=False).collect()
    assert [(r["vec_id"], r["cosine"]) for r in a] == [
        (r["vec_id"], r["cosine"]) for r in b
    ]


def test_winnow_vectorized_identical_to_hof(spark):
    """The Arrow sliding-min kernel must produce exactly the HOF path's
    (doc_id, fp) set — including short docs (single global-min fp) and
    both hash families."""
    from docs_indexer_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    extra = spark.createDataFrame(
        [(9000001, "one two"), (9000002, "a b c d e f g"), (9000003, "x")],
        "doc_id long, text string",
    )
    docs = docs.unionByName(extra)
    for fam in ("md5", "xx"):
        a = {
            (r["doc_id"], r["fp"])
            for r in winnow_fingerprints(docs, hash=fam, vectorized=True).collect()
        }
        b = {
            (r["doc_id"], r["fp"])
            for r in winnow_fingerprints(docs, hash=fam, vectorized=False).collect()
        }
        assert a == b and len(a) > 0


def test_dsir_split_identical_to_two_relation_form(spark):
    """dsir_log_weights_split(docs, pred) must equal
    dsir_log_weights(docs.filter(~pred), docs.filter(pred)) row for row."""
    from pyspark.sql import functions as F

    from docs_indexer_spark.functions.text_quality import (
        dsir_log_weights,
        dsir_log_weights_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pred = F.col("doc_id") % 7 == 0
    a = {
        (r["doc_id"], r["n_features"], round(r["log_weight"], 9))
        for r in dsir_log_weights_split(docs, pred, n_buckets=256).collect()
    }
    b = {
        (r["doc_id"], r["n_features"], round(r["log_weight"], 9))
        for r in dsir_log_weights(
            docs.filter(~pred), docs.filter(pred), n_buckets=256
        ).collect()
    }
    assert a == b and len(a) > 0
