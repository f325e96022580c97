"""Semantic tests for the LLM-pipeline operators: since the hash-based
ops have no SQL oracle, these pin their behavior — planted duplicates
must be found, exact scores must match independent Python computation,
and approximate methods must hit recall floors against brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.operators.dedup import (
    incremental_minhash_dedup,
    minhash_lsh_pairs,
    minhash_sig_table,
    ngram_jaccard_pairs,
)
from consume_kafka_avro_data_spark.operators.multimodal import (
    decode_features,
    documents_as_media,
    sample_frames,
)
from consume_kafka_avro_data_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    knn_join,
    srp_lsh_topk,
)
from consume_kafka_avro_data_spark.operators.text import (
    lang_id,
    quality_score,
    tokens,
    winnow_fingerprints,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun near the old barn door"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # 1-token change
FAR = "completely different content about spark query engines and distributed joins"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _py_shingles(text, k=3):
    toks = text.lower().split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_minhash_finds_planted_pairs(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs  # near dup passes LSH + threshold
    # exact-Jaccard verification matches an independent computation
    expect = len(_py_shingles(BASE) & _py_shingles(NEAR)) / len(
        _py_shingles(BASE) | _py_shingles(NEAR)
    )
    assert abs(pairs[(0, 2)] - expect) < 1e-12
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_incremental_dedup_scores_new_against_corpus_only(spark):
    """incremental_minhash_dedup must emit ONLY new×corpus rows: the
    corpus's own internal duplicates never appear (its whole contract),
    every planted shard duplicate is found with the same exact Jaccard
    minhash_lsh_pairs verifies, and an unrelated shard doc never pairs."""
    corpus = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR)], ["doc_id", "text"]
    )  # 1 and 2 are an intra-corpus exact dup — must NOT be emitted
    new = spark.createDataFrame([(10, BASE), (11, FAR)], ["doc_id", "text"])
    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in incremental_minhash_dedup(new, corpus).collect()
    }
    assert (10, 1) in got and got[(10, 1)] == 1.0
    assert (10, 2) in got and got[(10, 2)] == 1.0
    expect = len(_py_shingles(BASE) & _py_shingles(NEAR)) / len(
        _py_shingles(BASE) | _py_shingles(NEAR)
    )
    assert abs(got[(10, 3)] - expect) < 1e-12
    assert not any(n == 11 for n, _ in got)  # unrelated new doc
    assert all(n in (10, 11) for n, _ in got)  # no corpus×corpus rows


def test_ngram_pairs_never_emit_self_pairs_on_duplicate_ids(spark):
    """Duplicate ids in the input (two rows, same doc_id) must not
    produce (x, x) self-pairs from the bucket expansion — the member
    arrays are distinct, matching a strict a < b pair-join predicate."""
    docs = spark.createDataFrame(
        [(0, BASE), (0, BASE), (1, NEAR)], ["doc_id", "text"]
    )
    pairs = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs).collect()}
    assert (0, 0) not in pairs
    assert (0, 1) in pairs


def test_incremental_dedup_hot_bucket_guard(spark):
    """Corpus band buckets over max_bucket_size are dropped from the
    candidate join (same contract as _bucket_candidate_pairs): with the
    cap forced below the planted duplicate count, the exact dup pairs
    disappear instead of OOMing a task."""
    corpus = spark.createDataFrame(
        [(i, BASE) for i in range(1, 5)], ["doc_id", "text"]
    )
    new = spark.createDataFrame([(10, BASE)], ["doc_id", "text"])
    full = incremental_minhash_dedup(new, corpus).collect()
    assert len(full) == 4
    capped = incremental_minhash_dedup(new, corpus, max_bucket_size=3).collect()
    assert capped == []


def test_minhash_signatures_match_python_reference(spark, docs):
    """Each signature component must be the min of the PER-SEED hash:
    a seed that leaked across components would collapse every one onto
    the same hash."""
    import hashlib

    got = {
        r._id: list(r._sim)
        for r in minhash_sig_table(docs, bands=2, rows=4, hash_fn="md5").collect()
    }
    for doc_id, text in [(0, BASE), (3, FAR)]:
        want = [
            min(
                hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:16]
                for s in _py_shingles(text)
            )
            for i in range(8)
        ]
        assert got[doc_id] == want, f"doc {doc_id} signature wrong"
    # seeds must actually differ: components of a multi-shingle doc are
    # a.s. distinct under independent seeds
    assert len(set(got[0])) > 1, "all components equal — seed clobbered"


def test_xxhash_minhash_components_are_seed_distinct(spark, docs):
    sig = (
        minhash_sig_table(docs.where(F.col("doc_id") == 0), bands=2, rows=4)
        .collect()[0]["_sim"]
    )
    assert len(set(sig)) > 1, "all components equal — seed clobbered"


def test_ngram_jaccard_exact_values(docs):
    got = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    expect = len(_py_shingles(BASE) & _py_shingles(NEAR)) / len(
        _py_shingles(BASE) | _py_shingles(NEAR)
    )
    assert got[(0, 1)] == 1.0
    assert abs(got[(0, 2)] - expect) < 1e-12


def test_brute_force_topk_matches_numpy(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    q = mat[0]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))[:10]
    expect = [int(ids[i]) for i in order]
    got = [r.vec_id for r in brute_force_topk(emb, q.tolist(), k=10).collect()]
    assert got == expect


def test_knn_join_shape_and_self_match(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = knn_join(queries, emb, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rows in by_q.items():
        assert len(rows) == 5
        best = min(rows, key=lambda r: r.rank)
        assert best.vec_id == q_id  # self is its own nearest neighbor
        assert best.score == pytest.approx(1.0, abs=1e-9)


def test_srp_lsh_recall_on_planted_neighbors(spark, sf_dir):
    """The testdata embeddings are near-orthogonal (top cosine ≈ 0.35),
    where LSH recall is legitimately poor — so plant true neighbors
    (cos > 0.97) and require the ANN to surface them."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = np.array(emb.where(F.col("vec_id") == 7).collect()[0].embedding, dtype=np.float64)
    rng = np.random.default_rng(1)
    planted = [
        (10_000 + i, (q + rng.standard_normal(64) * 0.05 * np.linalg.norm(q) / 8).tolist())
        for i in range(8)
    ]
    corpus = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted, ["vec_id", "embedding"])
    )
    approx = {r.vec_id for r in srp_lsh_topk(corpus, q.tolist(), k=10).collect()}
    assert 7 in approx  # the query itself always collides with itself
    assert len([v for v in approx if v >= 10_000]) >= 6  # ≥6/8 planted found


def test_embedding_neardup_finds_planted(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal(64).astype(np.float32)
    near = base + rng.standard_normal(64).astype(np.float32) * 0.01
    far = rng.standard_normal(64).astype(np.float32)
    df = spark.createDataFrame(
        [(0, base.tolist()), (1, base.tolist()), (2, near.tolist()), (3, far.tolist())],
        ["vec_id", "embedding"],
    )
    pairs = {(r.id_a, r.id_b): r.cosine for r in embedding_neardup_pairs(df).collect()}
    assert pairs[(0, 1)] == pytest.approx(1.0, abs=1e-12)
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.99
    assert not any(3 in p for p in pairs)


def test_lang_id_handcrafted(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is in the house and it is warm"),
            (1, "der hund ist nicht in das haus und die katze"),
            (2, "el gato es un animal y la casa es grande"),
            (3, "xyzzy plugh qwerty"),  # no stopwords at all
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.pred for r in df.select("doc_id", lang_id(tokens("text")).alias("pred")).collect()}
    assert got == {0: "en", 1: "de", 2: "es", 3: "und"}


def test_quality_score_bounds_and_repetition(spark):
    df = spark.createDataFrame(
        [(0, "a a a a a a a a"), (1, BASE)], ["doc_id", "text"]
    )
    got = {r.doc_id: r.quality for r in quality_score(df).select("doc_id", "quality").collect()}
    assert 0.0 <= got[0] <= 1.0 and 0.0 <= got[1] <= 1.0
    assert got[1] > got[0]  # repetitive junk scores lower


def test_winnow_overlap(spark):
    df = spark.createDataFrame([(0, BASE), (1, BASE + " extra tail"), (2, FAR)], ["doc_id", "text"])
    rows = {r.doc_id: set(r.fp) for r in df.select("doc_id", winnow_fingerprints("text").alias("fp")).collect()}
    overlap_near = len(rows[0] & rows[1]) / len(rows[0] | rows[1])
    overlap_far = len(rows[0] & rows[2]) / len(rows[0] | rows[2])
    assert overlap_near > 0.6 > overlap_far


def test_multimodal_decode_deterministic(spark, docs):
    media = documents_as_media(docs.withColumnRenamed("doc_id", "doc_id"))
    f1 = {r.asset_id: r.features for r in decode_features(media, codec="fake").collect()}
    f2 = {r.asset_id: r.features for r in decode_features(media, codec="fake").collect()}
    assert f1 == f2  # same bytes ⇒ same features
    assert f1[0] == f1[1]  # identical docs ⇒ identical features
    assert len(f1[0]) == 16
    assert abs(float(np.linalg.norm(f1[0])) - 1.0) < 1e-5


def test_wav_codec_roundtrip_and_errors():
    """Real WAV codec: encode→decode identity on samples/rate, malformed
    input raises (the DLQ path), word-aligned odd chunks handled."""
    from consume_kafka_avro_data_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    s = np.array([0, 100, -100, 32767, -32768, 5], dtype=np.int16)
    w = decode_wav(encode_wav(s, sample_rate=16000))
    assert w["sample_rate"] == 16000 and w["channels"] == 1 and w["bits"] == 16
    assert np.array_equal(w["samples"], s)

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"\x00" * 32)
    with pytest.raises(ValueError, match="missing fmt"):
        decode_wav(b"RIFF\x04\x00\x00\x00WAVE")
    # 8-bit PCM unsupported → explicit error, not silence
    bad = bytearray(encode_wav(s))
    bad[34] = 8  # bits-per-sample field
    with pytest.raises(ValueError, match="unsupported WAV"):
        decode_wav(bytes(bad))
    # truncated stream declaring a full-size fmt chunk must raise
    # ValueError (the DLQ contract), never struct.error
    import struct as _st

    truncated = (
        b"RIFF" + _st.pack("<I", 100) + b"WAVEfmt " + _st.pack("<I", 16) + b"\x01" * 8
    )
    with pytest.raises(ValueError, match="fmt chunk too short"):
        decode_wav(truncated)


def test_ppm_codec_roundtrip_resize_and_errors():
    from consume_kafka_avro_data_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    p = decode_ppm(encode_ppm(px))
    assert (p["width"], p["height"]) == (3, 2)
    assert np.array_equal(p["pixels"], px)

    # comment-tolerant header
    with_comment = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(with_comment)["pixels"], px)

    with pytest.raises(ValueError, match="P6"):
        decode_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n3 2\n255\n\x00\x01")


def test_real_codec_dispatch(spark):
    """decode_features(codec='real') dispatches on magic bytes: WAV →
    leading samples, PPM → grayscale histogram, other → byte histogram."""
    from consume_kafka_avro_data_spark.operators.multimodal import (
        encode_ppm,
        encode_wav,
    )

    s = np.array([16384, -16384] + [0] * 14, dtype=np.int16)
    px = np.zeros((2, 2, 3), dtype=np.uint8)  # all-black image
    rows = [
        (0, "audio", bytearray(encode_wav(s)), None),
        (1, "image", bytearray(encode_ppm(px)), None),
        (2, "text", bytearray(b"\x00" * 10), None),
    ]
    media = spark.createDataFrame(
        rows, "asset_id long, modality string, media binary, meta string"
    )
    feats = {r.asset_id: r.features for r in decode_features(media, codec="real").collect()}
    assert feats[0][0] == 0.5 and feats[0][1] == -0.5  # decoded samples
    assert feats[1][0] == 1.0  # all 4 gray pixels land in histogram bin 0
    assert feats[2][0] == 1.0  # all bytes are 0x00 → first byte-bin


def test_frame_sampling_fanout(spark, docs):
    media = documents_as_media(docs)
    frames = sample_frames(media, n_frames=4)
    counts = {r.asset_id: r.n for r in frames.groupBy("asset_id").agg(F.count("*").alias("n")).collect()}
    assert all(v == 4 for v in counts.values())
    # frames reassemble a prefix of the original payload
    blob = bytes(media.where("asset_id = 0").collect()[0].media)
    parts = [bytes(r.frame) for r in frames.where("asset_id = 0").orderBy("frame_no").collect()]
    assert b"".join(parts) == blob[: len(b"".join(parts))]


def test_ivf_topk_recall_and_self_match(spark, sf_dir):
    """IVF ANN: self must be found (its cell is always probed — the
    query IS a member), and planted true neighbors (cos > 0.97, which
    land in the query's cell) must be recalled.  The raw testdata is
    near-orthogonal, where recall against the exact top-10 is
    legitimately seed-dependent — IVF's contract is recall on
    CLUSTERED neighborhoods, so the test plants one."""
    from consume_kafka_avro_data_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = np.array(
        emb.where(F.col("vec_id") == 0).collect()[0]["embedding"], dtype=np.float64
    )
    rng = np.random.default_rng(3)
    planted = [
        (
            20_000 + i,
            (q + rng.standard_normal(64) * 0.05 * np.linalg.norm(q) / 8).tolist(),
        )
        for i in range(8)
    ]
    corpus = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted, ["vec_id", "embedding"])
    )
    got = [
        r.vec_id
        for r in ivf_topk(
            corpus, q.tolist(), k=10, n_centroids=16, nprobe=4
        ).collect()
    ]
    assert got[0] == 0  # self-match
    assert len([v for v in got if v >= 20_000]) >= 6  # planted recalled


def test_ivf_assignment_is_deterministic(spark, sf_dir):
    from consume_kafka_avro_data_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = kmeans_centroids(emb, k=8, seed=7)
    cent2 = kmeans_centroids(emb, k=8, seed=7)
    assert np.allclose(cent, cent2)
    a1 = {r.vec_id: r._ivf_cell for r in ivf_assign(emb, cent).collect()}
    a2 = {r.vec_id: r._ivf_cell for r in ivf_assign(emb, cent).collect()}
    assert a1 == a2
    assert set(a1.values()) <= set(range(1, 9))


def test_signature_tables_equal_hof_columns(docs):
    """The aggregated (codegen) signature tables must be value-identical
    to the compositional HOF Column forms they replaced on the hot path."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        simhash_hex,
        simhash_hex_table,
        tokens_col,
    )
    from consume_kafka_avro_data_spark.operators.text import (
        winnow_fingerprint_counts,
        winnow_fingerprints_md5,
    )

    hofhex = {
        r.doc_id: r.sig
        for r in docs.select(
            "doc_id", simhash_hex(tokens_col("text")).alias("sig")
        ).collect()
    }
    tabhex = {r._id: r._sim for r in simhash_hex_table(docs).collect()}
    assert hofhex == tabhex

    hofw = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(winnow_fingerprints_md5("text")).alias("n")
        ).collect()
    }
    tabw = {
        r.doc_id: r.n_fingerprints
        for r in winnow_fingerprint_counts(docs).collect()
    }
    assert hofw == tabw


def test_hot_bucket_guard_drops_oversized_buckets(spark):
    """The MAX_BUCKET_SIZE guard must drop (not OOM on) buckets bigger
    than the cap — the enforcement the round-1 advisor asked for
    (previously the mitigation lived only in a docstring)."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        _bucket_candidate_pairs,
    )

    rows = [(i, f"m{i}", "hot") for i in range(40)] + [
        (100, "x", "cold"),
        (101, "y", "cold"),
    ]
    blocked = spark.createDataFrame(rows, ["_id", "_sim", "_block"])

    capped = _bucket_candidate_pairs(blocked, max_bucket_size=16)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert pairs == {(100, 101)}  # hot bucket contributed nothing

    # default cap admits both buckets
    full = _bucket_candidate_pairs(blocked)
    assert full.count() == 40 * 39 // 2 + 1


def test_bucket_candidate_id_pairs_light_twin_contract(spark):
    """The r11 payload-free twin (_bucket_candidate_id_pairs) keeps the
    heavy form's contracts: same hot-bucket cap, NULL-safe self-pair
    exclusion, ordered (id_a < id_b) pairs, cross-bucket dedup — and
    its pair SET equals the heavy twin's on the same blocked frame."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        _bucket_candidate_id_pairs,
        _bucket_candidate_pairs,
    )

    rows = (
        [(i, f"m{i}", "hot") for i in range(40)]
        + [(100, "x", "cold"), (101, "y", "cold")]
        # same pair in TWO buckets (must emit once) + a NULL-id self pair
        + [(100, "x", "cold2"), (101, "y", "cold2")]
        + [(None, "n", "nullb"), (None, "n", "nullb"), (7, "s", "nullb")]
    )
    blocked = spark.createDataFrame(rows, "_id long, _sim string, _block string")

    light = _bucket_candidate_id_pairs(blocked, max_bucket_size=16)
    got = {(r.id_a, r.id_b) for r in light.collect()}
    heavy = _bucket_candidate_pairs(blocked, max_bucket_size=16)
    want = {(r.id_a, r.id_b) for r in heavy.collect()}
    assert got == want
    # explicit spellings of the contracts the set equality relies on
    assert (100, 101) in got and (101, 100) not in got  # ordered, deduped
    assert (None, None) not in got  # NULL-safe self-pair exclusion
    assert (None, 7) in got or (7, None) in got  # NULL pairs with others kept
    assert not any(a == b for a, b in got if a is not None)


def test_embedding_neardup_numpy_verify_matches_jvm_cosine(spark):
    """The r11 Arrow/numpy verify pass must be BIT-identical to the JVM
    left-fold cosine on every emitted pair (same strict fold order), and
    the pair set itself must match the pre-r11 heavy form's."""
    import struct

    import numpy as np

    from consume_kafka_avro_data_spark.operators.similarity import cosine

    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    vecs = [
        (0, base.tolist()),
        (1, (base + rng.standard_normal(16) * 0.01).tolist()),
        (2, (base * 0.5 + rng.standard_normal(16) * 0.02).tolist()),
        (3, rng.standard_normal(16).tolist()),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = embedding_neardup_pairs(
        df, cosine_threshold=0.5, dim=16, nbits=4, ntables=6
    ).collect()
    assert got, "planted near-dups must collide and pass the threshold"
    by_id = {i: v for i, v in vecs}
    for r in got:
        jvm = (
            spark.range(1)
            .select(
                cosine(
                    F.lit(np.asarray(by_id[r.id_a])),
                    F.lit(np.asarray(by_id[r.id_b])),
                    dim=16,
                ).alias("c")
            )
            .collect()[0]["c"]
        )
        assert struct.pack("d", r.cosine) == struct.pack("d", jvm)


def test_embedding_neardup_null_id_pair_survives_attach(spark):
    """r12 (r11 advisor, medium): NULL-id pairs survive the whole
    pipeline end-to-end.  _bucket_candidate_id_pairs preserves them by
    contract, but the r11 vector-attach used plain equi-joins, which
    never match NULL — the advisor's repro corpus [(0, v), (NULL, v')]
    at tau=0.9 returned [] where the pre-r11 heavy form emitted the
    pair.  The attach is now null-safe."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rng = np.random.default_rng(3)
    v = rng.standard_normal(8)
    schema = StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("embedding", ArrayType(DoubleType()), True),
        ]
    )
    df = spark.createDataFrame(
        [(0, v.tolist()), (None, (v * 1.000001).tolist())], schema
    )
    got = embedding_neardup_pairs(
        df, cosine_threshold=0.9, dim=8, nbits=2, ntables=4
    ).collect()
    assert len(got) == 1
    ids = (got[0].id_a, got[0].id_b)
    assert None in ids and 0 in ids
    assert got[0].cosine >= 0.9


def test_embedding_neardup_verify_drops_ragged_like_jvm():
    """r12 (r11 advisor, low): the Arrow verify pass must drop a vector
    SHORTER than dim exactly as the JVM unrolled cosine did (element_at
    past the end -> NULL cosine -> fails >= tau) instead of np.stack
    raising on the ragged batch, and must score a LONGER vector on its
    first dim components, also mirroring the element_at chain.  Unit
    test on the generator: the operator's own bucket pass only admits
    exactly-dim vectors, so this guard is its defense-in-depth."""
    import numpy as np
    import pandas as pd

    from consume_kafka_avro_data_spark.operators.similarity import (
        _cosine_verify_gen,
    )

    rng = np.random.default_rng(5)
    v = rng.standard_normal(8)
    pdf = pd.DataFrame(
        {
            "id_a": [0, 0, 1],
            "id_b": [1, 2, 3],
            "_va": [v, v, v * 1.000001],
            "_vb": [
                v * 1.000001,
                v[:5],                                   # short: drop
                np.array(list(v) + [99.0, -99.0]),       # long: first-8
            ],
        }
    )
    out = pd.concat(list(_cosine_verify_gen(8, 0.9)([pdf])), ignore_index=True)
    pairs = set(zip(out["id_a"], out["id_b"]))
    assert (0, 2) not in pairs, "short vector must drop, not crash"
    assert (0, 1) in pairs and (1, 3) in pairs


def test_signature_forms_agree_on_null_and_empty_text(spark):
    """NULL text is canonicalized to '' (→ one empty token) in
    tokens_col, so the HOF Column forms and the explode+aggregate table
    forms must emit the IDENTICAL signature for NULL, '', and whitespace
    docs — the divergence the round-1 advisor caught (HOF forms used to
    emit an all-zero signature for NULL while table forms emitted the
    empty-string signature)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from consume_kafka_avro_data_spark.operators.dedup import (
        simhash_hex,
        simhash_hex_table,
        tokens_col,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    frame = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "real text here")], schema
    )

    hof = {
        r.doc_id: r.shex
        for r in frame.select(
            "doc_id",
            simhash_hex(tokens_col("text")).alias("shex"),
        ).collect()
    }
    tabhex = {r._id: r._sim for r in simhash_hex_table(frame).collect()}
    for i in range(4):
        assert hof[i] == tabhex[i], f"doc {i} diverged"
    # NULL ≡ '' — one convention everywhere
    assert hof[0] == hof[1]
    # the empty-token signature is md5('')'s 16-hex prefix, not all-zero
    assert hof[0] == "d41d8cd98f00b204"


def test_signature_tables_keep_null_and_empty_text(spark):
    """Docs with NULL or empty text must keep their signature row (the
    row-preserving convention of the HOF Column forms) — a bare explode
    would silently drop them from dedup entirely."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        simhash_hex_table,
    )
    from consume_kafka_avro_data_spark.operators.text import (
        winnow_fingerprint_counts,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "hello world hello")], schema
    )
    assert simhash_hex_table(docs).count() == 3
    assert winnow_fingerprint_counts(docs).count() == 3


def test_blocked_allpairs_matches_naive_numpy(spark):
    """blocked_allpairs_cosine over every block-pair decomposition must
    equal the naive O(n²) q20 sweep — same pairs, bit-identical scores."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        blocked_allpairs_cosine,
        quantize_np,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((60, 16))
    vecs[11] = vecs[3] + 0.01 * rng.standard_normal(16)  # planted near-dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    got = {
        (r.id_a, r.id_b): r.cosine
        for r in blocked_allpairs_cosine(df, threshold=0.5, n_blocks=4).collect()
    }

    q = quantize_np(vecs)
    norms = np.sqrt((q * q).sum(axis=1))
    want = {}
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            s = float((q[i] @ q[j]) / (norms[i] * norms[j]))
            if s >= 0.5:
                want[(i, j)] = s
    assert got == want
    assert (3, 11) in got  # the planted pair survives the cut


def test_blocked_allpairs_group_col_restricts_to_within_group(spark):
    """With group_col set, the blocked sweep must produce exactly the
    within-group subset of the global q20 pair set — the blocking step
    of semantic_dedup."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        blocked_allpairs_cosine,
        quantize_np,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((60, 16))
    vecs[11] = vecs[3] + 0.01 * rng.standard_normal(16)  # planted near-dup
    cells = [i % 3 for i in range(len(vecs))]
    cells[11] = cells[3]  # planted near-dup shares its witness's cell
    rows = [
        (i, [float(x) for x in vecs[i]], cells[i]) for i in range(len(vecs))
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "cell"])

    got = {
        (r.id_a, r.id_b): r.cosine
        for r in blocked_allpairs_cosine(
            df, threshold=0.3, n_blocks=4, group_col="cell"
        ).collect()
    }

    q = quantize_np(vecs)
    norms = np.sqrt((q * q).sum(axis=1))
    want = {}
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            if cells[i] != cells[j]:
                continue
            s = float((q[i] @ q[j]) / (norms[i] * norms[j]))
            if s >= 0.3:
                want[(i, j)] = s
    assert got == want
    assert (3, 11) in got


def test_semantic_dedup_prunes_planted_duplicate(spark):
    """semantic_dedup keeps the low-id copy, prunes the high-id copy
    with dup_of pointing at its minimum lower-id witness, and keeps
    everything else; the keep-set equals the naive per-cell sweep."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
        quantize_np,
        semantic_dedup,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((80, 16))
    vecs[42] = vecs[7] * 1.5  # exact-direction duplicate → cosine 1.0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    out = {r.vec_id: r for r in semantic_dedup(df, threshold=0.9, n_centroids=4).collect()}
    assert len(out) == 80
    assert out[7].kept and out[7].dup_of is None
    assert not out[42].kept and out[42].dup_of == 7
    assert out[42].cell == out[7].cell  # same direction → same cell

    # naive reference: same centroids, same cells, same q20 cosines
    cent = kmeans_centroids(df, k=4)
    cells = {
        r.vec_id: r._ivf_cell
        for r in ivf_assign(df.select("vec_id", "embedding"), cent).collect()
    }
    q = quantize_np(vecs)
    norms = np.sqrt((q * q).sum(axis=1))
    for i in range(len(vecs)):
        witnesses = [
            j
            for j in range(i)
            if cells[j] == cells[i]
            and float((q[i] @ q[j]) / (norms[i] * norms[j])) >= 0.9
        ]
        if witnesses:
            assert not out[i].kept and out[i].dup_of == min(witnesses)
        else:
            assert out[i].kept and out[i].dup_of is None


def test_pair_sweeps_never_emit_self_pairs_on_duplicate_ids(spark):
    """A duplicated input id (same id, same vector, twice) must neither
    produce an (x, x) pair from the blocked sweep nor witness itself in
    semantic dedup — the contracts are strict a < b / y.id < x.id."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        blocked_allpairs_cosine,
        semantic_dedup,
    )

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((10, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    rows.append(rows[5])  # duplicate id 5, identical vector
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    pairs = blocked_allpairs_cosine(df, threshold=0.99, n_blocks=2).collect()
    assert all(r.id_a != r.id_b for r in pairs)

    out = {
        r.vec_id: r
        for r in semantic_dedup(df, threshold=0.99, n_centroids=2).collect()
    }
    assert len(out) == 10  # one verdict per distinct id
    assert out[5].kept and out[5].dup_of is None


def test_curation_verdicts_all_four_stages(spark):
    """The curation funnel must route each planted document to its
    stage: low-quality → 'quality' (no witness), exact copy → 'exact'
    (witness = canonical), near-identical embedding among survivors →
    'semantic' (witness = kept twin), everything else → 'kept'.  A
    quality-dropped doc must NOT act as a semantic witness."""
    from consume_kafka_avro_data_spark.queries.curation import (
        curation_verdicts,
    )

    good0 = (
        "the quick brown fox jumps over a lazy dog while seventeen "
        "curious researchers measure corpus quality with careful "
        "deliberate metrics today"
    )
    good3 = (
        "an entirely different sentence about distributed query engines "
        "processing immense datasets across many executor nodes with "
        "columnar formats and adaptive plans"
    )
    good4 = (
        "yet another unique paragraph describing streaming ingestion "
        "pipelines deduplicating documents before training large models "
        "on carefully filtered text corpora"
    )
    bad2 = "zz zz zz"
    docs = spark.createDataFrame(
        [
            (0, good0),
            (1, good0),  # exact copy → pruned by fingerprint, witness 0
            (2, bad2),  # low quality → dropped before any dedup
            (3, good3),  # semantic twin of 0 (via embedding below)
            (4, good4),  # kept
        ],
        ["doc_id", "text"],
    )
    e0 = [1.0, 0.0, 0.0, 0.0]
    e_near0 = [0.999, 0.01, 0.0, 0.0]
    e_orth = [0.0, 1.0, 0.0, 0.0]
    e_other = [0.0, 0.0, 1.0, 0.0]
    emb = spark.createDataFrame(
        [(0, e0), (1, e_other), (2, e_near0), (3, e_near0), (4, e_orth)],
        ["vec_id", "embedding"],
    )
    out = {
        r.doc_id: r
        for r in curation_verdicts(
            docs, emb, qt=0.5, threshold=0.9, n_centroids=2
        ).collect()
    }
    assert len(out) == 5
    assert out[0].stage == "kept" and out[0].witness is None
    assert out[1].stage == "exact" and out[1].witness == 0
    assert out[2].stage == "quality" and out[2].witness is None
    assert out[3].stage == "semantic" and out[3].witness == 0
    assert out[4].stage == "kept" and out[4].witness is None


def test_srp_bucket_table_matches_python_buckets(spark):
    """Every _b{t} column must equal srp_bucket_py's q20 bucket for the
    same vector — the corpus path and the query path share arithmetic."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        _hyperplanes,
        srp_bucket_py,
        srp_bucket_table,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = srp_bucket_table(df, dim=64, nbits=12, ntables=3).collect()
    assert len(out) == 50
    for r in out:
        for t in range(3):
            expect = srp_bucket_py(r.embedding, _hyperplanes(64, 12, t))
            assert r[f"_b{t}"] == expect, (r.vec_id, t)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def _pq_fixture_corpus(spark, n=64, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, dim)).astype(np.float64)
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>"), x


def test_pq_codes_shape_and_range(spark):
    from consume_kafka_avro_data_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    df, _ = _pq_fixture_corpus(spark)
    cb = pq_codebooks(df, m=4, k=8, sample=64)
    assert cb.shape == (4, 8, 4)
    got = pq_encode(df, cb).collect()
    assert len(got) == 64
    for r in got:
        assert len(r.pq_codes) == 4
        assert all(1 <= c <= 8 for c in r.pq_codes)


def test_pq_exact_duplicate_gets_identical_codes_and_score(spark):
    """An exact duplicate vector must encode to the same codes and score
    the same ADC distance — the determinism PQ dedup/rerank relies on."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    df, x = _pq_fixture_corpus(spark)
    dup = spark.createDataFrame(
        [(1000, [float(v) for v in x[3]])], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    corpus = df.unionByName(dup)
    cb = pq_codebooks(corpus, m=4, k=8, sample=64)  # sample excludes id 1000
    codes = {r.vec_id: list(r.pq_codes) for r in pq_encode(corpus, cb).collect()}
    assert codes[1000] == codes[3]
    top = pq_adc_topk(corpus, x[3], cb, k=5).collect()
    by_id = {r.vec_id: r.adc_dist for r in top}
    assert 3 in by_id and 1000 in by_id
    assert by_id[3] == by_id[1000]
    # the query's own quantization error is the minimum distance
    assert top[0].vec_id == 3 and top[1].vec_id == 1000


def test_pq_adc_matches_numpy_reference(spark):
    """ADC distances equal an independent numpy computation of
    sum_i ||q_i - centroid(code_i)||^2 on the q20 grid."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
        quantize_np,
    )

    df, x = _pq_fixture_corpus(spark)
    cb = pq_codebooks(df, m=4, k=8, sample=64)
    q = x[0]
    got = {r.vec_id: r.adc_dist for r in pq_adc_topk(df, q, cb, k=64).collect()}
    codes = {r.vec_id: list(r.pq_codes) for r in pq_encode(df, cb).collect()}
    qq = quantize_np(q)
    sub = 4
    for vid, cs in codes.items():
        want = 0.0
        for i, c in enumerate(cs):
            qc = quantize_np(cb[i][c - 1])
            d = qq[i * sub : (i + 1) * sub] - qc
            want += float((d * d).sum())
        if vid in got:
            assert got[vid] == want


def test_malformed_media_raises_valueerror_contract(spark):
    """Every malformed-media shape must fail inside the ValueError/DLQ
    contract — never a ZeroDivisionError/TypeError/garbage row."""
    import struct as _struct

    from consume_kafka_avro_data_spark.operators.multimodal import (
        decode_ppm,
        decode_wav,
    )

    with pytest.raises(ValueError, match="PPM dimensions"):
        decode_ppm(b"P6\n-3 2\n255\n" + b"\x00" * 64)
    # structurally valid header with sample_rate=0
    fmt = _struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
    wav = (
        b"RIFF" + _struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with pytest.raises(ValueError, match="sample rate"):
        decode_wav(wav)


def test_null_media_rows_yield_null_features(spark):
    """NULL media follows the decode_features convention in the typed
    feature tables too: NULL feature columns, not a crashed task."""
    from consume_kafka_avro_data_spark.operators.multimodal import (
        encode_wav,
        ppm_feature_table,
        wav_feature_table,
    )
    import numpy as np

    wav_bytes = encode_wav(np.array([100, -100], dtype=np.int16))
    media = spark.createDataFrame(
        [(1, wav_bytes), (2, None)], "asset_id LONG, media BINARY"
    )
    rows = {r.asset_id: r for r in wav_feature_table(media).collect()}
    assert rows[1].n_samples == 2
    assert rows[2].n_samples is None and rows[2].rms is None
    rows = {r.asset_id: r for r in ppm_feature_table(
        spark.createDataFrame([(3, None)], "asset_id LONG, media BINARY")
    ).collect()}
    assert rows[3].width is None


def test_text_queries_survive_pathological_documents(spark):
    """Single-token, empty, NULL, and whitespace-run documents must not
    crash or silently diverge: the bigram builder guards its sequence
    (element_at under ANSI aborts on out-of-range), and tokenization is
    the regex+coalesce convention everywhere."""
    from consume_kafka_avro_data_spark.operators.text import (
        quality_features,
        sentiment_score,
        tf_idf,
    )

    docs = spark.createDataFrame(
        [
            (1, "hello"),
            (2, ""),
            (3, None),
            (4, "good\tbad  good\nbad"),
        ],
        "doc_id LONG, text STRING",
    )
    # bigram repetition stats: the exploded builder used by
    # q_repetition_stats (single-token docs emit zero bigrams)
    from pyspark.sql import functions as F

    toks = F.split(F.lower(F.col("text")), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select("doc_id", F.explode(bigrams).alias("g")).collect()
    assert all(r.doc_id == 4 for r in grams)

    # regex+coalesce tokenization: tab/newline split, NULL scored not dropped
    sent = {r.doc_id: (r.n_pos, r.n_neg) for r in sentiment_score(docs).collect()}
    assert sent[4] == (2, 2)
    assert sent[3] == (0, 0)
    qf = {r.doc_id: r.alpha_ratio for r in quality_features(docs).collect()}
    assert qf[2] == 0.0 and qf[3] == 0.0  # guarded division, no NULL
    assert tf_idf(docs).where("doc_id = 4").count() >= 2  # split on \t and \n


def test_auto_n_centroids_scaling_and_cap():
    """k ≈ ⌊√n⌋ grows with the corpus (the fixed-k quadratic-reversion
    fix) and is capped so k·dim·8 bytes of centroids stay driver-sized;
    pure integer math so the DuckDB oracles re-derive the identical k."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        auto_n_centroids,
    )

    assert auto_n_centroids(10_000, 32) == 100
    assert auto_n_centroids(1_000_000, 32) == 1000  # 100× corpus → 10× k
    assert auto_n_centroids(1, 32) == 1
    assert auto_n_centroids(0, 32) == 1
    cap = (1 << 20) // (1024 * 8)
    assert (
        auto_n_centroids(10**18, 1024, max_centroid_bytes=1 << 20) == cap
    )


def test_semantic_dedup_auto_k_keeps_sweep_subquadratic(spark, sf_dir):
    """With n_centroids=None the operator derives k ≈ √n itself; the
    resulting cell layout must cover every vector, use more than one
    cell, never exceed k cells, and keep the Σ|cell|² pair sweep well
    below the n² all-pairs cost."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        auto_n_centroids,
        semantic_dedup,
    )
    from consume_kafka_avro_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    dim = len(emb.select("embedding").head()[0])
    k = auto_n_centroids(n, dim)
    assert k > 1
    out = semantic_dedup(emb, threshold=0.35)
    sizes = [r["n"] for r in out.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")).collect()]
    assert sum(sizes) == n  # one verdict per vector
    assert 1 < len(sizes) <= k
    assert sum(s * s for s in sizes) < n * n / 2  # subquadratic sweep


def test_broadcast_bloom_no_false_negatives_bounded_fps(spark):
    """Every built value must probe true (bloom contract: zero false
    negatives); absent values probe true at roughly the design FP rate
    (generously bounded here), and the probe plan contains no Python
    stage and no join."""
    from consume_kafka_avro_data_spark.operators.bloom import BroadcastBloom

    members = [(f"member-{i}",) for i in range(500)]
    df = spark.createDataFrame(members, ["g"])
    bloom = BroadcastBloom.build(df, "g")

    hits = df.where(bloom.might_contain("g")).count()
    assert hits == 500  # no false negatives, ever

    absent = spark.createDataFrame(
        [(f"absent-{i}",) for i in range(2000)], ["g"]
    )
    fps = absent.where(bloom.might_contain("g")).count()
    assert fps / 2000 < 0.05  # design ≈0.24%; generous ceiling

    plan = (
        df.where(bloom.might_contain("g"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_prefilter_rows_equal_bare_probe_and_fence_in_plan(spark):
    """prefilter (the r11 derived-column probe) must keep exactly the
    rows bare might_contain keeps — same values, same columns — while
    its plan evaluates the probe on a MATERIALIZED attribute: the fence
    projection sits between the derived-column Project and the Filter,
    so the gram-construction expression appears ONCE, not 4k times."""
    from consume_kafka_avro_data_spark.operators.bloom import BroadcastBloom

    members = spark.createDataFrame(
        [(f"w{i} w{i+1}",) for i in range(200)], ["g"]
    )
    bloom = BroadcastBloom.build(members, "g")
    # probe a DERIVED column (concat of two source columns)
    src = spark.createDataFrame(
        [(i, f"w{i}", f"w{i+1}") for i in range(150)]
        + [(900, "nope", "never"), (901, "absent", "gram")],
        ["k", "a", "b"],
    ).select("k", F.concat_ws(" ", "a", "b").alias("g"))
    want = {(r.k, r.g) for r in src.where(bloom.might_contain("g")).collect()}
    got_df = bloom.prefilter(src, "g")
    got = {(r.k, r.g) for r in got_df.collect()}
    assert got == want and {(r.k, r.g) for r in src.collect()} >= got
    assert set(got_df.columns) == {"k", "g"}
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    # the fence keeps the filter ABOVE a projection of the derived
    # column: its defining concat_ws must appear exactly once
    assert plan.count("concat_ws") == 1
    assert "SPARK_PARTITION_ID" in plan


def test_decontaminate_bloom_equals_exact_join_form(spark, sf_dir):
    """The two-phase bloom query must return EXACTLY the rows of the
    broadcast-join form — the bloom is a prefilter, never a source of
    approximation (false positives die in the verify join)."""
    from consume_kafka_avro_data_spark.registry import all_queries

    qs = all_queries()
    exact = {
        (r.doc_id, r.n_shared_grams)
        for r in qs["q_decontaminate"].fn(spark, sf_dir).collect()
    }
    bloom = {
        (r.doc_id, r.n_shared_grams)
        for r in qs["q_decontaminate_bloom"].fn(spark, sf_dir).collect()
    }
    assert bloom == exact and len(bloom) > 0


def test_broadcast_bloom_parameter_guards(spark):
    """Misuse fails loudly AND early: k <= 0 would make might_contain
    return None (a confusing error far from the call site), and a bit
    array past MAX_BITS would ship >16 MB of longs inside every task
    binary — build() refuses before running its distributed pass."""

    from consume_kafka_avro_data_spark.operators.bloom import (
        MAX_BITS,
        BroadcastBloom,
    )

    df = spark.createDataFrame([("x",)], ["g"])
    with pytest.raises(ValueError, match="k must be >= 1"):
        BroadcastBloom.build(df, "g", k=0)
    with pytest.raises(ValueError, match="k must be >= 1"):
        BroadcastBloom([0, 0], m=128, k=0)
    with pytest.raises(ValueError, match="m must be >= 64"):
        BroadcastBloom([], m=0, k=4)
    # sized past the plan-literal bound: refused without a Spark job
    with pytest.raises(ValueError, match="MAX_BITS"):
        BroadcastBloom.build(df, "g", n_bits=MAX_BITS + 64)
    # the documented maximum itself is accepted (bound is inclusive)
    words = [0] * (MAX_BITS // 64)
    BroadcastBloom(words, m=MAX_BITS, k=4)


def test_duplicate_token_spans_merge_and_scrub(spark):
    """Crafted-edge semantics for the ExactSubstr span family, pinned
    independently of the corpus oracle: (a) a within-doc repeat marks
    BOTH occurrences (total occurrence count > 1, not distinct-doc
    count), (b) overlapping windows merge into one maximal span while
    windows crossing the repeat boundary (unique grams) split it,
    (c) an all-unique doc yields no spans."""
    from consume_kafka_avro_data_spark.queries.curation import (
        duplicate_token_spans,
    )

    shared = " ".join(f"w{i}" for i in range(12))  # 12-token dup region
    docs = spark.createDataFrame(
        [
            # doc 0: unique prefix + shared region -> one 12-token span
            (0, "alpha beta gamma " + shared),
            # doc 1: exactly the shared region -> fully covered
            (1, shared),
            # doc 2: the shared region REPEATED in one doc -> both
            # occurrences covered; the boundary-crossing windows
            # (…w11 w0…) are unique grams, so the two spans stay split
            (2, shared + " " + shared),
            # doc 3: all-unique -> no spans at all
            (3, " ".join(f"u{i}" for i in range(15))),
        ],
        "doc_id long, text string",
    )
    spans: dict[int, list[tuple[int, int]]] = {}
    for r in duplicate_token_spans(docs, n=10).collect():
        spans.setdefault(r.doc_id, []).append((r.start_tok, r.end_tok))
    for k in spans:
        spans[k].sort()
    assert spans[0] == [(4, 15)]  # after the 3-token prefix
    assert spans[1] == [(1, 12)]
    assert spans[2] == [(1, 12), (13, 24)]  # both repeats, split
    assert 3 not in spans


def test_scrub_duplicate_spans_keeps_fully_covered_docs(spark):
    """A doc wholly made of duplicated text scrubs to the empty string
    with n_kept = 0 instead of vanishing from the result, and partial
    docs keep their unique tokens in original order."""
    from consume_kafka_avro_data_spark.queries.curation import (
        scrub_duplicate_spans,
    )

    shared = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma " + shared),
            (1, shared),  # fully covered
            (2, " ".join(f"u{i}" for i in range(15))),  # untouched
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.scrubbed, r.n_kept)
           for r in scrub_duplicate_spans(docs, n=10).collect()}
    assert out[0] == ("alpha beta gamma", 3)
    assert out[1] == ("", 0)
    assert 2 not in out  # no spans -> not an affected doc


def test_duplicate_token_spans_keep_first_spares_canonical(spark):
    """keep_first=True never marks the lexicographic-min (doc_id, pos)
    occurrence: the lowest-id doc carrying the shared region survives
    untouched while every later copy is still spanned."""
    from consume_kafka_avro_data_spark.queries.curation import (
        duplicate_token_spans,
    )

    shared = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma " + shared), (1, shared), (2, shared)],
        "doc_id long, text string",
    )
    spans = {
        r.doc_id: (r.start_tok, r.end_tok)
        for r in duplicate_token_spans(docs, n=10, keep_first=True).collect()
    }
    assert 0 not in spans  # canonical occurrence spared
    assert spans[1] == (1, 12) and spans[2] == (1, 12)


def test_corpus_drift_head_cap_and_churn(spark):
    """The TVD fold must cover only the head_k highest-count terms
    (deterministic cnt-then-term rank) while the churn counts span the
    FULL vocab; with head_k large enough the head TVD equals the exact
    hand-computed total-variation distance."""
    from consume_kafka_avro_data_spark.queries.curation import corpus_drift

    # snapshot A = even doc_ids, B = odd.  Vocab: a (4+2), b (2+4),
    # c (2+0, gone), d (0+2, new)  → totals 8 vs 8.
    docs = spark.createDataFrame(
        [
            (0, "a a b c", "en"),
            (2, "a a b c", "en"),
            (1, "b b a d", "en"),
            (3, "b b a d", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    full = {r.lang: r for r in corpus_drift(docs, head_k=100).collect()}
    r = full["en"]
    assert (r.n_terms, r.tokens_a, r.tokens_b) == (4, 8, 8)
    assert (r.n_new, r.n_gone) == (1, 1)
    # exact TVD: 0.5 * (|4/8-2/8| + |2/8-4/8| + |2/8-0| + |0-2/8|) = 0.5
    assert abs(r.head_tvd - 0.5) < 1e-12
    # head_k=2 keeps only the two highest-count terms (a, b — 6 each;
    # tie broken by term) → 0.5 * (0.25 + 0.25)
    capped = {r.lang: r for r in corpus_drift(docs, head_k=2).collect()}
    r2 = capped["en"]
    assert abs(r2.head_tvd - 0.25) < 1e-12
    # churn/totals are NOT affected by the cap
    assert (r2.n_terms, r2.n_new, r2.n_gone) == (4, 1, 1)


def test_duplicate_token_spans_hash_gram_form_equivalent(spark, sf_dir):
    """The hashed-gram shuffle (the 100 TB form: xxhash64(g) replaces
    the ~70 B gram string before the occurrence-count exchange) must
    produce the SAME spans as the exact census on real data, the hash
    must actually be in the plan (the exchange carries 8-byte keys,
    not strings), and the keep-one combination must be REFUSED — a
    collision there could scrub a gram's canonical (sole) copy."""

    from consume_kafka_avro_data_spark.plans import inspect as I
    from consume_kafka_avro_data_spark.queries.curation import (
        duplicate_token_spans,
    )
    from consume_kafka_avro_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = {
        (r.doc_id, r.span_id, r.start_tok, r.end_tok)
        for r in duplicate_token_spans(docs, 10).collect()
    }
    hashed_df = duplicate_token_spans(docs, 10, hash_grams=True)
    hashed = {
        (r.doc_id, r.span_id, r.start_tok, r.end_tok)
        for r in hashed_df.collect()
    }
    assert hashed == exact
    assert "xxhash64" in I.simple_plan(hashed_df).lower()
    with pytest.raises(ValueError, match="keep_first"):
        duplicate_token_spans(docs, 10, keep_first=True, hash_grams=True)


def test_stereo_wav_duration_counts_frames_not_samples(spark):
    """duration_ms is wall-clock, so it must divide interleaved samples
    by the channel count (decode_wav accepts any PCM-16 channel
    layout): a stereo file is not twice as long as the mono file with
    the same frame count.  channels=0 fails inside the ValueError/DLQ
    contract."""
    import struct as _struct

    import numpy as np

    from consume_kafka_avro_data_spark.operators.multimodal import (
        decode_wav,
        wav_feature_table,
    )

    def pcm16(channels, frames, rate):
        data = np.arange(frames * channels, dtype="<i2").tobytes()
        fmt = _struct.pack(
            "<HHIIHH", 1, channels, rate, rate * 2 * channels,
            2 * channels, 16,
        )
        return (
            b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
            + b"data" + _struct.pack("<I", len(data)) + data
        )

    media = spark.createDataFrame(
        [(1, pcm16(1, 500, 1000)), (2, pcm16(2, 500, 1000))],
        "asset_id LONG, media BINARY",
    )
    rows = {r.asset_id: r for r in wav_feature_table(media).collect()}
    assert rows[1].duration_ms == 500  # mono: 500 frames at 1 kHz
    assert rows[2].duration_ms == 500  # stereo: SAME wall-clock length
    assert rows[2].n_samples == 1000  # interleaved total, as documented
    with pytest.raises(ValueError, match="channel count"):
        decode_wav(pcm16(0, 4, 1000))


def test_bucket_pairs_never_emit_self_pairs_on_duplicate_ids(spark):
    """A duplicated input id meets itself in every bucket it lands in;
    the pair expansion must drop (x, x) before it reaches keep-one /
    connected-components as a self-duplicate.  Exercised through the
    SRP path, which (unlike the minhash/simhash *_table forms) does no
    per-id collapse."""
    import numpy as np

    from consume_kafka_avro_data_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    rng = np.random.default_rng(7)
    v1 = rng.normal(size=8).tolist()
    v2 = rng.normal(size=8).tolist()
    emb = spark.createDataFrame(
        [(7, v1), (7, v1), (9, v2)],  # vec_id 7 appears twice
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_neardup_pairs(
        emb, cosine_threshold=0.99, dim=8, nbits=4, seed=3
    ).collect()
    assert all(r.id_a != r.id_b for r in pairs), pairs


def test_blocked_allpairs_accepts_string_ids(spark):
    """The exact pair sweep inherits the source id type — string doc
    ids (the operators/dedup default shape) must work end to end, not
    die in an Arrow long cast."""
    import numpy as np

    from consume_kafka_avro_data_spark.operators.similarity import (
        blocked_allpairs_cosine,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=8)
    emb = spark.createDataFrame(
        [
            ("doc-a", base.tolist()),
            ("doc-b", (base * 2.0).tolist()),  # same direction: cos = 1
            ("doc-c", rng.normal(size=8).tolist()),
        ],
        "doc_id string, embedding array<double>",
    )
    pairs = blocked_allpairs_cosine(
        emb, threshold=0.999, id_col="doc_id", n_blocks=2
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {("doc-a", "doc-b")}


def test_winnow_null_text_equals_empty_text(spark):
    """NULL text follows the corpus-wide coalesce convention in BOTH
    winnowing hash families: identical fingerprints to empty text, no
    [NULL] arrays, and the HOF form agrees with the counts table."""
    from consume_kafka_avro_data_spark.operators.text import (
        winnow_fingerprint_counts,
        winnow_fingerprints,
        winnow_fingerprints_md5,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "identical text body")],
        "doc_id long, text string",
    )
    got = docs.select(
        "doc_id",
        winnow_fingerprints("text").alias("xx"),
        winnow_fingerprints_md5("text").alias("md"),
    ).collect()
    by_id = {r.doc_id: r for r in got}
    assert by_id[1].xx == by_id[2].xx  # NULL ≡ empty, xxhash family
    assert by_id[1].md == by_id[2].md  # NULL ≡ empty, md5 family
    assert None not in by_id[1].xx and None not in by_id[1].md
    counts = winnow_fingerprint_counts(docs).groupBy("doc_id").count()
    tbl = {r.doc_id: r["count"] for r in counts.collect()}
    assert tbl.get(1) == tbl.get(2)  # table form agrees on the convention


def test_bucket_pairs_keep_null_id_partners(spark):
    """The self-pair guard must be null-safe: a plain != is NULL for
    any pair involving a NULL id, silently dropping (NULL, x)
    candidates — NULL ids survive PERMISSIVE decode and are in the
    family's threat model.  (NULL, NULL) self-pairs stay excluded."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(None, text), (5, text), (None, text)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.9).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (None, 5) in got or (5, None) in got  # NULL partner kept
    assert all(
        not (a is None and b is None) for a, b in got
    )  # no NULL self-pair


def test_duplicate_char_spans_pinned_and_robust_to_tokenization(spark):
    """Round-10 char-level ExactSubstr tier (Lee 2021's canonical
    granularity): char_grams=True marks duplicated character n-gram
    windows and merges them by CHAR offset — pinned span-for-span
    against a pure-Python reference on designed docs, including
    punctuation-variant duplicates where the word tier sees NOTHING
    (no n identical consecutive tokens) while the char tier recovers
    the identical stretches on each side of the variant point.  The
    hash_grams form is row-identical; docs shorter than n emit no
    windows (the sequence() descending-fill guard); keep_first +
    hash_grams stays refused."""
    from consume_kafka_avro_data_spark.queries.curation import (
        duplicate_token_spans,
    )

    shared_a = "the manifest swap commits atomically under a rename"
    shared_b = "every reader holds its own snapshot of the generation list"
    # punctuation-variant join: doc 1 glues with '.', doc 2 spaces it
    texts = [
        (1, shared_a + "." + shared_b),
        (2, shared_a + " . " + shared_b),
        (3, "completely unrelated filler prose about unrelated things"),
        (4, "tiny"),  # shorter than n: zero windows, zero spans
    ]
    n = 20
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    # pure-Python reference: count char windows over lower(text),
    # mark >1 occurrences, merge overlapping windows per doc
    from collections import Counter, defaultdict

    cnt = Counter()
    for _, t in texts:
        t = t.lower()
        for i in range(len(t) - n + 1):
            cnt[t[i : i + n]] += 1
    want = set()
    for did, t in texts:
        t = t.lower()
        ps = [
            i + 1
            for i in range(len(t) - n + 1)
            if cnt[t[i : i + n]] > 1
        ]
        start = end = None
        for p in ps:
            if start is None:
                start, end = p, p + n - 1
            elif p <= end:
                end = max(end, p + n - 1)
            else:
                want.add((did, start, end))
                start, end = p, p + n - 1
        if start is not None:
            want.add((did, start, end))
    assert want  # the designed docs DO share char stretches

    got = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in duplicate_token_spans(docs, n=n, char_grams=True).collect()
    }
    assert got == want
    assert not any(d == 4 for d, _, _ in got)
    # the word tier is blind to the punctuation variant: with n=10
    # tokens, no 10 consecutive tokens agree between docs 1 and 2 —
    # the '.' gluing splits the identical text into a 7-token and a
    # 9-token run, both under the window
    word_spans = duplicate_token_spans(docs, n=10).collect()
    assert word_spans == []
    # hashed form: row-identical census (xxhash64 keys, 8 B shuffles)
    hashed = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in duplicate_token_spans(
            docs, n=n, char_grams=True, hash_grams=True
        ).collect()
    }
    assert hashed == want
    # keep_first composes: canonical occurrences unmarked, so doc 1
    # (lexicographic min) keeps its copy and doc 2 is the marked one
    kept = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in duplicate_token_spans(
            docs, n=n, char_grams=True, keep_first=True
        ).collect()
    }
    assert kept and all(d == 2 for d, _, _ in kept)
    import pytest as _pt

    with _pt.raises(ValueError, match="incompatible"):
        duplicate_token_spans(
            docs, n=n, char_grams=True, keep_first=True, hash_grams=True
        )


def test_duplicate_char_spans_length_changing_lowercase(spark):
    """Round-11 advisor fix: lowercasing can LENGTHEN a string
    (U+0130 'İ' lowers to 'i' + combining dot, 1 → 2 chars), so both
    the window bound and the slices must derive from the same
    lower(text) — the pre-fix code counted windows with length(text)
    and silently missed every tail window of the lowered form,
    under-marking duplicates that sit at the end of such a doc.
    Pinned against the pure-Python reference over t.lower() with
    offsets into the lowered string."""
    from collections import Counter

    from consume_kafka_avro_data_spark.queries.curation import (
        duplicate_token_spans,
    )

    n = 20
    shared = "identical tail stretch both documents share verbatim"
    texts = [
        (1, "İİİİİİ " + shared),  # lowered form is 6 chars LONGER
        (2, "plain ascii prefix " + shared),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    # sanity: Python agrees the lowering lengthens (the reference and
    # Spark must lower identically for the pin to mean anything)
    assert len(texts[0][1].lower()) == len(texts[0][1]) + 6

    cnt = Counter()
    lowered = {did: t.lower() for did, t in texts}
    for t in lowered.values():
        for i in range(len(t) - n + 1):
            cnt[t[i : i + n]] += 1
    want = set()
    for did, t in lowered.items():
        ps = [i + 1 for i in range(len(t) - n + 1) if cnt[t[i : i + n]] > 1]
        start = end = None
        for p in ps:
            if start is None:
                start, end = p, p + n - 1
            elif p <= end:
                end = max(end, p + n - 1)
            else:
                want.add((did, start, end))
                start, end = p, p + n - 1
        if start is not None:
            want.add((did, start, end))
    got = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in duplicate_token_spans(docs, n=n, char_grams=True).collect()
    }
    assert got == want
    # the shared stretch runs to each doc's LAST lowered char — the
    # exact windows the pre-fix bound dropped for doc 1
    for did, t in lowered.items():
        assert max(e for d, _, e in want if d == did) == len(t)


def test_scrub_duplicate_char_spans_substring_surgery(spark):
    """Round-11 char-tier scrub parity: scrub_duplicate_spans(
    char_grams=True) rebuilds each spanned doc by substring surgery
    over lower(text) — pinned char-for-char against a pure-Python
    rebuild on the punctuation-variant fixtures, including a
    fully-duplicated doc pair (the loser survives as an empty string
    under keep_first; both empty under remove-all), a doc whose
    lowered form is LONGER than the original ('İ' prefix), and
    hash_grams row-identity."""
    from collections import Counter

    from consume_kafka_avro_data_spark.queries.curation import (
        scrub_duplicate_spans,
    )

    n = 20
    shared_a = "the manifest swap commits atomically under a rename"
    shared_b = "every reader holds its own snapshot of the generation list"
    twin = "this entire document is duplicated verbatim elsewhere ok"
    tail = "identical tail stretch both documents share verbatim"
    texts = [
        (1, shared_a + "." + shared_b),
        (2, shared_a + " . " + shared_b),
        (3, "completely unrelated filler prose about unrelated things"),
        (4, twin),
        (5, twin),
        (6, "İİİİİİ " + tail),
        (7, "plain ascii prefix " + tail),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    def py_spans(keep_first):
        cnt = Counter()
        occ = {}
        lowered = {did: t.lower() for did, t in texts}
        for did in sorted(lowered):
            t = lowered[did]
            for i in range(len(t) - n + 1):
                g = t[i : i + n]
                cnt[g] += 1
                occ.setdefault(g, (did, i + 1))
        spans = {}
        for did, t in lowered.items():
            ps = [
                i + 1
                for i in range(len(t) - n + 1)
                if cnt[t[i : i + n]] > 1
                and not (
                    keep_first and occ[t[i : i + n]] == (did, i + 1)
                )
            ]
            out, start, end = [], None, None
            for p in ps:
                if start is None:
                    start, end = p, p + n - 1
                elif p <= end:
                    end = max(end, p + n - 1)
                else:
                    out.append((start, end))
                    start, end = p, p + n - 1
            if start is not None:
                out.append((start, end))
            if out:
                spans[did] = out
        return lowered, spans

    for keep_first in (False, True):
        lowered, spans = py_spans(keep_first)
        want = {}
        for did, ss in spans.items():
            t = lowered[did]
            kept, prev = [], 0
            for s, e in ss:
                kept.append(t[prev : s - 1])
                prev = e
            kept.append(t[prev:])
            scrubbed = "".join(kept)
            want[did] = (scrubbed, len(scrubbed))
        got = {
            r.doc_id: (r.scrubbed, r.n_kept)
            for r in scrub_duplicate_spans(
                docs, n=n, char_grams=True, keep_first=keep_first
            ).collect()
        }
        assert got == want
        # the twin pair is fully duplicated: remove-all empties both,
        # keep_first spares the canonical doc 4 entirely (no row) and
        # empties doc 5
        if keep_first:
            assert 4 not in got and got[5] == ("", 0)
        else:
            assert got[4] == ("", 0) and got[5] == ("", 0)
        # unrelated doc never appears
        assert 3 not in got
    # hashed form: row-identical rebuild (remove-all policy)
    lowered, spans = py_spans(False)
    got_h = {
        r.doc_id: (r.scrubbed, r.n_kept)
        for r in scrub_duplicate_spans(
            docs, n=n, char_grams=True, hash_grams=True
        ).collect()
    }
    got = {
        r.doc_id: (r.scrubbed, r.n_kept)
        for r in scrub_duplicate_spans(
            docs, n=n, char_grams=True
        ).collect()
    }
    assert got_h == got
