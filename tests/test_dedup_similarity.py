"""Tests for dedup, similarity, text-stats, multimodal, reconcile operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from jurisprudencia_privada_etl_spark.functions.textstats import (
    doc_fingerprint,
    lang_id,
    quality_score,
    subword_count,
    token_count,
)
from jurisprudencia_privada_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_dedup,
    verify_jaccard,
)
from jurisprudencia_privada_etl_spark.operators.multimodal import (
    extract_features,
    resize_images,
    sample_frames,
    synthetic_assets,
)
from jurisprudencia_privada_etl_spark.operators.reconcile import (
    missing_keys,
    orphan_keys,
    split_valid,
)
from jurisprudencia_privada_etl_spark.operators.similarity import (
    _lit_vec,
    brute_force_topk,
    cosine,
    lsh_topk,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"
FAR = "completely different words about database engines and columnar formats"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, NEAR), (2, FAR), (3, BASE), (4, "tiny doc")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_shingles(spark):
    got = spark.range(1).select(shingles(F.lit("a b c d"), 3).alias("s")).first()["s"]
    assert got == ["a b c", "b c d"]
    short = spark.range(1).select(shingles(F.lit("a b"), 3).alias("s")).first()["s"]
    assert short == ["a b"]


def test_exact_dedup(docs):
    out = exact_dedup(docs).orderBy("doc_id").toPandas()
    # doc 3 is an exact copy of doc 0 → dropped; everything else kept
    assert list(out["doc_id"]) == [0, 1, 2, 4]


def test_minhash_candidates_and_verify(docs):
    cand = minhash_lsh_candidates(docs, num_hashes=32, bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs or (1, 3) in pairs  # near dup collides in some band
    verified = verify_jaccard(cand, docs, threshold=0.5)
    vp = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (0, 3) in vp
    assert all(2 not in p and 4 not in p for p in vp)  # FAR/tiny never verified


def test_minhash_dedup_keeps_representatives(docs):
    kept = sorted(r["doc_id"] for r in minhash_dedup(docs, threshold=0.5, num_hashes=32, bands=16).collect())
    assert 0 in kept and 2 in kept and 4 in kept
    assert 3 not in kept  # exact dup dropped


def test_minhash_fast_path_equals_expr_path(docs):
    """The Arrow verify and the est-prefilter (lossless at threshold 1.0)
    return the same survivors as the expression pipeline."""
    from jurisprudencia_privada_etl_spark.operators.dedup import verify_jaccard_pandas

    # vectorized verify == expr verify, pair for pair, on any threshold
    cand = minhash_lsh_candidates(docs, num_hashes=32, bands=16)
    ve = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
          for r in verify_jaccard(cand, docs, threshold=0.3).collect()}
    vp = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
          for r in verify_jaccard_pandas(cand, docs, threshold=0.3).collect()}
    assert ve == vp
    # whole dedup at threshold 1.0: prefiltered+vectorized == default
    base = sorted(r["doc_id"] for r in minhash_dedup(docs, threshold=1.0, num_hashes=32, bands=16).collect())
    fast = sorted(
        r["doc_id"]
        for r in minhash_dedup(
            docs, threshold=1.0, num_hashes=32, bands=16,
            est_margin=0.0, verify_impl="pandas",
        ).collect()
    )
    assert base == fast
    # est_jaccard column exists and is exact for identical docs
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(docs, num_hashes=32, bands=16, with_est=True).collect()
    }
    assert est[(0, 3)] == 1.0  # exact dup pair → every signature component equal


def test_simhash_near_dups_are_close(spark, docs):
    sigs = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash("text").alias("s")).collect()}
    ham = lambda a, b: bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(0, 3) == 0
    assert ham(0, 1) < ham(0, 2)


def test_simhash_dedup(docs):
    kept = sorted(r["doc_id"] for r in simhash_dedup(docs, max_hamming=3).collect())
    assert 3 not in kept and 0 in kept and 2 in kept


def test_ngram_jaccard_pairs(docs):
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert out[(0, 3)] == 1.0
    assert (0, 1) in out and out[(0, 1)] < 1.0
    assert (0, 2) not in out


def test_brute_force_topk(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    q = spark.createDataFrame([(100, [1.0, 0.0])], ["query_id", "embedding"])
    out = brute_force_topk(corpus, q, k=2).orderBy("rank").collect()
    assert [r["vec_id"] for r in out] == [0, 1]
    assert out[0]["cosine"] == pytest.approx(1.0)
    assert out[1]["cosine"] == pytest.approx(0.9 / math.sqrt(0.82), rel=1e-6)


def test_lsh_topk_recalls_self(spark):
    import random

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    q = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(corpus, q, k=1, n_planes=3, dim=8)
    got = {r["query_id"]: r["vec_id"] for r in out.where(F.col("rank") == 1).collect()}
    assert got == {i: i for i in range(5)}  # self is always in own bucket


def test_textstats(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat and it is fine",),
         ("o gato que está em um tapete para a sesta",),
         ("zzz qqq xxx",)],
        ["text"],
    )
    out = df.select(
        lang_id("text").alias("lang"),
        token_count("text").alias("n"),
        subword_count("text").alias("sw"),
        quality_score("text").alias("q"),
        doc_fingerprint("text").alias("fp"),
    ).collect()
    assert out[0]["lang"] == "en"
    assert out[1]["lang"] == "pt"
    assert out[2]["lang"] == "und"
    assert out[0]["n"] == 10
    assert out[0]["sw"] >= out[0]["n"]
    assert 0.0 <= out[2]["q"] < out[0]["q"] <= 1.0
    # fingerprint is order-sensitive
    df2 = spark.createDataFrame([("cat the",), ("the cat",)], ["text"])
    fps = [r["fp"] for r in df2.select(doc_fingerprint("text").alias("fp")).collect()]
    assert fps[0] != fps[1]


def test_multimodal_plumbing(spark):
    assets = synthetic_assets(spark, 30, seed=9)
    feats = extract_features(assets).toPandas()
    assert len(feats) == 30
    assert all(len(f) == 16 for f in feats["features"])
    # deterministic: same input → same features
    feats2 = extract_features(synthetic_assets(spark, 30, seed=9)).toPandas()
    assert feats.sort_values("asset_id")["content_sha"].tolist() == \
        feats2.sort_values("asset_id")["content_sha"].tolist()

    resized = resize_images(assets, 32, 32).toPandas()
    assert all(m["width"] == 32 and m["height"] == 32 for m in resized["meta"])

    frames = sample_frames(assets, every_ms=2000).toPandas()
    n_videos = assets.where(F.col("media_type") == "video").count()
    assert frames["asset_id"].nunique() <= n_videos
    assert (frames["frame_ms"] % 2000 == 0).all()


def test_multimodal_strict_mode_raises(spark):
    assets = synthetic_assets(spark, 3)
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        extract_features(assets, decode_stub_mode="strict").collect()


def test_reconcile_and_dead_letter(spark):
    expected = spark.createDataFrame(
        [("r1", "a.py"), ("r1", "b.py"), ("r1", "c.py")], ["repo", "path"]
    )
    target = spark.createDataFrame([("r1", "a.py"), ("r1", "z.py")], ["repo", "path"])
    miss = {(r["repo"], r["path"]) for r in missing_keys(expected, target).collect()}
    assert miss == {("r1", "b.py"), ("r1", "c.py")}
    orph = {(r["repo"], r["path"]) for r in orphan_keys(target, expected).collect()}
    assert orph == {("r1", "z.py")}

    rows = spark.createDataFrame(
        [("I", "r1", "a.py"), ("X", "r1", "b.py"), ("U", None, "c.py")],
        ["op", "repo", "path"],
    )
    valid, dead = split_valid(rows, required_cols=["repo", "path"])
    assert valid.count() == 1
    errs = {r["error"] for r in dead.collect()}
    assert errs == {"unsupported op", "missing required field: repo"}


# ---------------------------------------------------------------------------
# real codecs (WAV/BMP) + real multimodal kernels
# ---------------------------------------------------------------------------

def test_wav_roundtrip_byte_exact():
    import numpy as np

    from jurisprudencia_privada_etl_spark.functions import codecs

    t = np.arange(800) / 8000.0
    samples = (np.sin(2 * np.pi * 220 * t) * 10000).astype("<i2")
    wav = codecs.encode_wav(samples, sample_rate=8000)
    assert codecs.is_wav(wav)
    decoded, rate, ch = codecs.decode_wav(wav)
    assert rate == 8000 and ch == 1
    assert np.array_equal(decoded[:, 0], samples)
    # re-encode is byte-exact (deterministic container)
    assert codecs.encode_wav(decoded[:, 0], 8000) == wav


def test_bmp_roundtrip_byte_exact():
    import numpy as np

    from jurisprudencia_privada_etl_spark.functions import codecs

    px = (np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3) * 3) % 256
    bmp = codecs.encode_bmp(px)
    assert codecs.is_bmp(bmp)
    assert np.array_equal(codecs.decode_bmp(bmp), px)
    assert codecs.encode_bmp(codecs.decode_bmp(bmp)) == bmp
    # nearest-neighbor resize: upscale 1x1 → constant block
    one = np.full((1, 1, 3), 200, dtype=np.uint8)
    up = codecs.resize_nearest(one, 4, 4)
    assert up.shape == (4, 4, 3) and (up == 200).all()


def test_wav_features_are_real():
    """Features come from the DECODED samples: a pure 200 Hz sine at 8 kHz
    has analytically known rms (1/sqrt(2) of peak) and zcr (2f/rate)."""
    import numpy as np

    from jurisprudencia_privada_etl_spark.functions import codecs

    t = np.arange(8000) / 8000.0
    amp = 16000
    wav = codecs.encode_wav((np.sin(2 * np.pi * 200 * t) * amp).astype("<i2"))
    f = codecs.wav_features(wav, 16)
    assert abs(f[0] - 1.0) < 1e-6                      # duration 1s
    assert abs(f[1] - (amp / 32768.0) / 2**0.5) < 0.01  # rms
    assert abs(f[2] - 400.0 / 8000.0) < 0.01            # zero-crossing rate


def test_avi_roundtrip_and_real_video_path(spark):
    """Uncompressed-DIB AVI is a REAL stdlib-decodable video container:
    byte-exact frame round trip, real features, and sample_frames emits
    one row per timestamp with the sha of the DECODED frame pixels —
    while compressed video still honestly raises in strict mode."""
    import hashlib

    import numpy as np
    import pytest

    from jurisprudencia_privada_etl_spark.functions import codecs
    from jurisprudencia_privada_etl_spark.operators.multimodal import ASSET_SCHEMA

    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, size=(6, 5, 7, 3), dtype=np.uint8)  # 3s @ 2fps
    avi = codecs.encode_avi(frames, fps=2)
    assert codecs.is_avi(avi) and not codecs.is_wav(avi)
    out, fps = codecs.decode_avi(avi)
    assert fps == 2.0 and np.array_equal(out, frames)

    assets = spark.createDataFrame(
        [
            (0, "video", bytearray(avi), (None, None, None, "dib")),
            (1, "video", bytearray(b"BLOB:fake"), (None, None, 2500, "fake")),
        ],
        ASSET_SCHEMA,
    )
    # real sampling: 3000ms @ every 1000ms → frames 0,2,4; sha of DECODED pixels
    got = (
        sample_frames(assets, every_ms=1000, decode_stub_mode="auto")
        .toPandas()
        .sort_values(["asset_id", "frame_ms"])
    )
    real = got[got["asset_id"] == 0]
    assert list(real["frame_ms"]) == [0, 1000, 2000]
    assert list(real["frame_sha"]) == [
        hashlib.sha256(frames[i].tobytes()).hexdigest() for i in (0, 2, 4)
    ]
    assert len(got[got["asset_id"] == 1]) == 3  # fake rows still flow in auto
    # features are REAL for AVI (differ from the sha-derived fake ones)
    auto = extract_features(assets, decode_stub_mode="auto").toPandas().set_index("asset_id")
    fake = extract_features(assets, decode_stub_mode="fake").toPandas().set_index("asset_id")
    assert not np.allclose(auto.loc[0]["features"], fake.loc[0]["features"])
    assert np.allclose(auto.loc[1]["features"], fake.loc[1]["features"])
    # strict: AVI rows decode for real; compressed/unknown video still raises
    only_avi = assets.where("asset_id = 0")
    strict = sample_frames(only_avi, every_ms=1000, decode_stub_mode="strict").toPandas()
    assert len(strict) == 3
    with pytest.raises(Exception, match="ffmpeg"):
        sample_frames(assets, every_ms=1000, decode_stub_mode="strict").collect()


def test_avi_corrupt_payload_and_audio_stream(spark):
    """Two decode edge cases: (1) a payload that SNIFFS as RIFF/AVI but has a
    truncated body falls back to fake frame stamps in auto mode instead of
    failing the job (strict still raises); (2) a valid DIB-video AVI that
    also carries an audio strl (whose strf is a WAVEFORMATEX, not a
    BITMAPINFOHEADER) decodes — the bpp/compression check gates on the
    strh fccType being 'vids'."""
    import struct

    import numpy as np
    import pytest

    from jurisprudencia_privada_etl_spark.functions import codecs
    from jurisprudencia_privada_etl_spark.operators.multimodal import ASSET_SCHEMA

    # --- corrupt: valid sniff header, garbage body
    corrupt = b"RIFF" + struct.pack("<I", 4) + b"AVI " + b"\x00" * 8
    assert codecs.is_avi(corrupt)
    with pytest.raises(ValueError):
        codecs.decode_avi(corrupt)
    assets = spark.createDataFrame(
        [(0, "video", bytearray(corrupt), (None, None, 2500, "x"))], ASSET_SCHEMA
    )
    got = sample_frames(assets, every_ms=1000, decode_stub_mode="auto").toPandas()
    assert len(got) == 3  # fake stamps from duration_ms, job did not fail
    with pytest.raises(Exception):
        sample_frames(assets, every_ms=1000, decode_stub_mode="strict").collect()

    # --- audio+video: splice an 'auds' strl (PCM WAVEFORMATEX strf) into hdrl
    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, size=(4, 3, 4, 3), dtype=np.uint8)
    avi = bytearray(codecs.encode_avi(frames, fps=2))

    def chunk(fcc, payload):
        pad = b"\x00" if len(payload) % 2 else b""
        return fcc + struct.pack("<I", len(payload)) + payload + pad

    wf = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)  # PCM WAVEFORMATEX
    strh_a = chunk(b"strh", struct.pack("<4s4sIHHIIIIIIIIhhhh", b"auds", b"\x00" * 4,
                                        0, 0, 0, 0, 1, 8000, 0, 8000, 2, 0, 0, 0, 0, 0, 0))
    strl_a = chunk(b"LIST", b"strl" + strh_a + chunk(b"strf", wf))
    # insert the audio strl right before the end of the hdrl LIST and fix sizes
    hdrl_pos = avi.index(b"hdrl") - 8  # LIST header start
    (hdrl_size,) = struct.unpack_from("<I", avi, hdrl_pos + 4)
    insert_at = hdrl_pos + 8 + hdrl_size
    avi[insert_at:insert_at] = strl_a
    struct.pack_into("<I", avi, hdrl_pos + 4, hdrl_size + len(strl_a))
    struct.pack_into("<I", avi, 4, struct.unpack_from("<I", avi, 4)[0] + len(strl_a))
    out, fps = codecs.decode_avi(bytes(avi))
    assert fps == 2.0 and np.array_equal(out, frames)


def test_multimodal_real_decode_in_spark(spark):
    """synthetic audio/image assets are REAL WAV/BMP bytes and the auto mode
    decodes them (features differ from the fake sha-derived ones)."""
    import numpy as np

    assets = synthetic_assets(spark, 12, seed=4)
    pdf = assets.toPandas()
    from jurisprudencia_privada_etl_spark.functions import codecs

    for _, r in pdf.iterrows():
        if r["media_type"] == "audio":
            assert codecs.is_wav(bytes(r["data"]))
        elif r["media_type"] == "image":
            assert codecs.is_bmp(bytes(r["data"]))

    auto = extract_features(assets, decode_stub_mode="auto").toPandas().set_index("asset_id")
    fake = extract_features(assets, decode_stub_mode="fake").toPandas().set_index("asset_id")
    for aid, r in auto.iterrows():
        if r["media_type"] in ("audio", "image"):
            assert not np.allclose(r["features"], fake.loc[aid]["features"])
        else:  # video: no stdlib codec → same deterministic fake
            assert np.allclose(r["features"], fake.loc[aid]["features"])
    # audio features: duration is 400 samples @ 8kHz = 0.05 s
    a = auto[auto["media_type"] == "audio"].iloc[0]
    assert abs(a["features"][0] - 0.05) < 1e-6

    # real resize: decoded output pixels are the nearest-neighbor result
    resized = resize_images(assets, 4, 4).toPandas()
    px = codecs.decode_bmp(bytes(resized.iloc[0]["data"]))
    assert px.shape == (4, 4, 3)


def test_simhash_pandas_semantics(spark, docs):
    """Vectorized simhash: same near-dup behavior as the expression form
    (different hash family, equivalent semantics)."""
    from jurisprudencia_privada_etl_spark.operators.dedup import simhash_pandas

    sigs = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash_pandas("text").alias("s")).collect()}
    ham = lambda a, b: bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(0, 3) == 0          # identical docs → identical signature
    assert ham(0, 1) < ham(0, 2)   # near-dup closer than unrelated
    kept = sorted(r["doc_id"] for r in simhash_dedup(docs, max_hamming=3, impl="pandas").collect())
    assert 3 not in kept and 0 in kept and 2 in kept
    # expr impl still available and agrees on the dedup decision
    kept_expr = sorted(r["doc_id"] for r in simhash_dedup(docs, max_hamming=3, impl="expr").collect())
    assert kept == kept_expr


def test_lang_id_pandas_matches_expr(spark):
    from jurisprudencia_privada_etl_spark.functions.textstats import lang_id_pandas

    df = spark.createDataFrame(
        [("the cat sat on the mat and it is fine",),
         ("o gato que está em um tapete para a sesta",),
         ("de la que el en y a los se del",),
         ("zzz qqq xxx",),
         ("",)],
        ["text"],
    )
    both = df.select(
        lang_id("text").alias("expr"), lang_id_pandas("text").alias("pd")
    ).collect()
    for r in both:
        assert r["expr"] == r["pd"], (r["expr"], r["pd"])


def test_multiprobe_lsh_recall_floor(spark):
    """Multi-probe widens the candidate set: recall@5 vs brute force must be
    >= single-bucket recall and clear a 0.9 floor on a seeded corpus."""
    import random

    from jurisprudencia_privada_etl_spark.operators.similarity import mean_recall_at_k

    rng = random.Random(11)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)],
        ["vec_id", "embedding"],
    ).cache()
    q = corpus.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(corpus, q, k=5).cache()
    single = lsh_topk(corpus, q, k=5, n_planes=4, dim=8, n_probe_bits=0)
    multi = lsh_topk(corpus, q, k=5, n_planes=4, dim=8, n_probe_bits=2)
    r_single = mean_recall_at_k(single, exact, 5)
    r_multi = mean_recall_at_k(multi, exact, 5)
    assert r_multi >= r_single
    assert r_multi >= 0.9
    # no duplicate (query, candidate) pairs leak through multi-probe
    n = multi.count()
    assert multi.dropDuplicates(["query_id", "vec_id"]).count() == n
    corpus.unpersist()


def test_ivf_recall_floor(spark):
    """IVF with probe widening clears a recall floor, for both the seeded
    anchor quantizer (the driver query's persisted-index path) and the
    MLlib k-means trainer; probing more lists never hurts recall."""
    import random

    from jurisprudencia_privada_etl_spark.operators.similarity import (
        anchor_centroids,
        ivf_topk,
        mean_recall_at_k,
    )

    rng = random.Random(23)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)],
        ["vec_id", "embedding"],
    ).cache()
    q = corpus.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(corpus, q, k=5).cache()
    anchors = anchor_centroids(8, 8, seed=23)
    narrow = ivf_topk(corpus, q, k=5, n_lists=8, n_probe=2, centroids=anchors)
    wide = ivf_topk(corpus, q, k=5, n_lists=8, n_probe=6, centroids=anchors)
    r_narrow = mean_recall_at_k(narrow, exact, 5)
    r_wide = mean_recall_at_k(wide, exact, 5)
    assert r_wide >= r_narrow
    assert r_wide >= 0.8
    kmeans = ivf_topk(corpus, q, k=5, n_lists=8, n_probe=6, seed=23)
    assert mean_recall_at_k(kmeans, exact, 5) >= 0.8
    corpus.unpersist()
    exact.unpersist()


def test_embedding_dedup(spark):
    """Exact/near duplicate vectors (cosine >= threshold) dropped, keeping
    the min id; dissimilar vectors survive."""
    import random

    from jurisprudencia_privada_etl_spark.operators.similarity import embedding_dedup

    rng = random.Random(3)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(20)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows.append((100, base[0]))                        # exact dup of 0
    rows.append((101, [x * 2.0 for x in base[1]]))     # scaled copy of 1 (cos=1)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = sorted(r["vec_id"] for r in embedding_dedup(df, threshold=0.99, n_planes=4, dim=8).collect())
    assert 100 not in kept and 101 not in kept
    assert 0 in kept and 1 in kept
    assert len(kept) >= 18  # random 8-dim vectors rarely reach cos 0.99


def test_multimodal_auto_survives_spoofed_payloads(spark):
    """'auto' must fall back to fake features on corrupt/spoofed magic bytes
    (anything can start with 'BM'/'RIFF') instead of failing the job."""
    import pandas as pd

    from jurisprudencia_privada_etl_spark.operators.multimodal import (
        ASSET_SCHEMA,
        extract_features,
        resize_images,
    )

    rows = pd.DataFrame(
        {
            "asset_id": [1, 2, 3],
            "media_type": ["image", "audio", "image"],
            "data": [b"BMW sales rose in Q3", b"RIFFxxxxWAVEgarbage", b"BM\x01"],
            "meta": [{"width": 1, "height": 1, "duration_ms": None, "codec": "?"}] * 3,
        }
    )
    assets = spark.createDataFrame(rows, schema=ASSET_SCHEMA)
    out = extract_features(assets, decode_stub_mode="auto").collect()
    assert len(out) == 3 and all(len(r["features"]) == 16 for r in out)
    rz = resize_images(assets, 4, 4, decode_stub_mode="auto").collect()
    assert len(rz) == 2  # image rows pass through undecoded, job alive
    with pytest.raises(Exception):
        extract_features(assets, decode_stub_mode="strict").collect()


def test_cosine_pandas_zero_vector_is_null_not_nan(spark):
    """NaN would sort ABOVE every cosine (Spark NaN-is-largest) and pass
    `>= threshold` — a zero-norm vector must yield NULL instead."""
    from jurisprudencia_privada_etl_spark.operators.similarity import (
        cosine_pandas,
        embedding_dedup,
        lsh_topk,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])], ["vec_id", "embedding"]
    )
    got = df.select(
        "vec_id", cosine_pandas(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("c")
    ).collect()
    vals = {r["vec_id"]: r["c"] for r in got}
    assert vals[2] is None and vals[0] is not None

    # zero vector can never rank above real candidates nor delete bucket-mates
    q = spark.createDataFrame([(100, [1.0, 0.0])], ["query_id", "embedding"])
    top = lsh_topk(df, q, k=3, n_planes=2, dim=2, n_probe_bits=2).orderBy("rank").collect()
    assert [r["vec_id"] for r in top[:2]] == [0, 1]
    kept = sorted(r["vec_id"] for r in embedding_dedup(df, threshold=0.5, n_planes=2, dim=2, n_probe_bits=2).collect())
    assert 2 in kept  # NULL cosine did not count as a duplicate match


def test_dead_letter_requires_keys_in_out_fields(spark):
    from pyspark.sql import types as T

    from jurisprudencia_privada_etl_spark.operators.reconcile import (
        dead_letter_map_in_pandas,
    )

    df = spark.createDataFrame([("r1", "a.py", "x")], ["repo", "path", "content"])
    with pytest.raises(ValueError, match="key columns"):
        dead_letter_map_in_pandas(df, lambda p: p, [T.StructField("content", T.StringType())])


def test_extract_features_passthrough_column(spark):
    """`passthrough` columns ride the Arrow batch verbatim next to the
    decoded features — row-for-row equal to the join the option replaces."""
    from jurisprudencia_privada_etl_spark.operators.multimodal import (
        extract_features,
        synthetic_assets,
    )

    assets = synthetic_assets(spark, 12, seed=7).withColumn(
        "tag", F.sha2(F.lower(F.hex(F.col("data"))), 256)
    )
    through = {
        r["asset_id"]: r["tag"]
        for r in extract_features(assets, passthrough=["tag"]).select(
            "asset_id", "tag"
        ).collect()
    }
    joined = {
        r["asset_id"]: r["tag"]
        for r in extract_features(assets)
        .join(assets.select("asset_id", "tag"), "asset_id")
        .select("asset_id", "tag")
        .collect()
    }
    assert through == joined and len(through) == 12


def test_lit_vec_non_finite_and_signed_zero(spark):
    """NaN and ±Infinity have no SQL numeric literal; they must parse (not
    become ``nanD``/``infD``) and round-trip, as must -0.0."""
    (v,) = spark.range(1).select(
        _lit_vec([float("nan"), float("inf"), float("-inf"), -0.0, 1.5])
    ).first()
    assert math.isnan(v[0])
    assert v[1:3] == [math.inf, -math.inf]
    assert v[3] == 0.0 and math.copysign(1.0, v[3]) == -1.0
    assert v[4] == 1.5
