"""Multimodal plumbing: decode/resize/feature/hash kernels, the
mapInPandas operators, determinism of the synthetic corpus, and the
ahash near-dup path finding every planted group."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.functions.multimodal import (
    _HAS_PIL,
    average_hash,
    decode_image,
    encode_rawrgb,
    image_features,
    resize_nearest,
    to_grayscale,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.media import (
    media_near_dup_pairs,
    with_image_features,
)
from lsh_forest_for_multi_vector_retrieval_spark.sources.media import generate_media


# ---------------------------------------------------------------------------
# kernels (no Spark)
# ---------------------------------------------------------------------------


def test_rawrgb_roundtrip_and_shape():
    rng = np.random.RandomState(0)
    frames = rng.randint(0, 256, size=(2, 4, 6, 3), dtype=np.uint8)
    meta = {"codec": "rawrgb", "n_frames": 2, "height": 4, "width": 6, "channels": 3}
    out = decode_image(encode_rawrgb(frames), meta)
    assert out.shape == (2, 4, 6, 3)
    assert np.array_equal(out, frames)
    # byte-count mismatch is a hard error, not silent truncation
    with pytest.raises(ValueError):
        decode_image(frames.tobytes()[:-1], meta)


def test_compressed_codec_is_stubbed():
    if _HAS_PIL:
        pytest.skip("PIL present; stub not active")
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff", {"codec": "jpeg"})


def test_resize_nearest_known_values():
    # 4x4 single-channel ramp -> 2x2 picks rows/cols 0 and 2
    frame = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    out = resize_nearest(frame, 2, 2)
    assert out[..., 0].tolist() == [[0, 2], [8, 10]]
    # upscale repeats samples
    up = resize_nearest(frame, 8, 8)
    assert up.shape == (8, 8, 1)
    assert up[0, 0, 0] == 0 and up[7, 7, 0] == 15


def test_grayscale_and_features_on_constant_image():
    frames = np.full((1, 8, 8, 3), 100, dtype=np.uint8)
    g = to_grayscale(frames[0])
    assert np.allclose(g, 100.0, atol=1e-4)
    feats = image_features(frames)
    assert feats["chan_mean"] == [100.0, 100.0, 100.0]
    assert feats["chan_std"] == [0.0, 0.0, 0.0]
    assert sum(feats["luma_hist"]) == pytest.approx(1.0)
    assert feats["luma_hist"][3] == pytest.approx(1.0)  # 100 in bin [96,128)


def test_average_hash_invariance_and_sensitivity():
    rng = np.random.RandomState(1)
    base = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
    h0 = average_hash(base)
    # tiny perturbation off the 8x8 sample grid: identical hash
    tweak = base.copy()
    tweak[1, 1] = np.clip(tweak[1, 1].astype(int) + 5, 0, 255)
    assert average_hash(tweak) == h0
    # an unrelated image is far away
    other = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
    d = bin((h0 ^ average_hash(other)) & (2**64 - 1)).count("1")
    assert d > 10


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def media_df(spark):
    df = generate_media(spark, n_groups=6, group_size=3, n_singletons=12, seed=7)
    df.persist().count()
    yield df
    df.unpersist()


def test_generate_media_deterministic_across_partitionings(spark):
    a = generate_media(spark, n_groups=2, group_size=2, n_singletons=3,
                       n_video=1, n_audio=1, partitions=1)
    b = generate_media(spark, n_groups=2, group_size=2, n_singletons=3,
                       n_video=1, n_audio=1, partitions=7)
    pa = {r["media_id"]: bytes(r["payload"]) for r in a.collect()}
    pb = {r["media_id"]: bytes(r["payload"]) for r in b.collect()}
    assert pa == pb


def test_image_features_operator(media_df):
    feats = with_image_features(media_df)
    rows = feats.collect()
    n_visual = media_df.where(F.col("media_type").isin("image", "video")).count()
    assert len(rows) == n_visual
    for r in rows:
        assert len(r["chan_mean"]) == 3 and len(r["luma_hist"]) == 8
        assert all(0.0 <= m <= 255.0 for m in r["chan_mean"])


def test_media_near_dup_pairs_find_all_planted_groups(media_df):
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in media_near_dup_pairs(media_df).collect()
    }
    truth = {
        (a, b)
        for g in range(6)
        for a in range(g * 3, g * 3 + 3)
        for b in range(a + 1, g * 3 + 3)
    }
    missed = truth - pairs
    assert not missed, f"planted near-dup pairs missed: {missed}"
    false_pos = pairs - truth
    assert not false_pos, f"unrelated images within hamming<=3: {false_pos}"


def test_average_hash_small_side():
    """Round-5 review: hash_side other than 8 used to crash on a shape
    mismatch (the bit-packing weights were hard-coded to 64 entries)."""
    rng = np.random.RandomState(3)
    frame = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
    h4 = average_hash(frame, hash_side=4)
    assert 0 <= h4 < (1 << 16)  # 16 bits fit unsigned in an int64
    assert h4 == average_hash(frame, hash_side=4)  # deterministic
    with pytest.raises(ValueError):
        average_hash(frame, hash_side=16)  # 256 bits don't fit one word
    with pytest.raises(ValueError):
        average_hash(frame, hash_side=0)


def test_decode_image_rejects_bad_meta():
    """Round-5 review: NULL or zero meta dimensions must fail fast with a
    diagnosable ValueError, not TypeError/IndexError deep in the kernels."""
    for meta in (
        {"codec": "rawrgb", "height": None, "width": 2, "channels": 3, "n_frames": 1},
        {"codec": "rawrgb", "height": 0, "width": 2, "channels": 3, "n_frames": 1},
        {"codec": "rawrgb", "height": 2, "width": 2, "channels": 0, "n_frames": 1},
    ):
        with pytest.raises(ValueError, match="positive"):
            decode_image(b"", meta)


def test_media_near_dup_pairs_exact_only(media_df):
    """Round-5 review: max_hamming=0 (exact ahash blocking, one 64-bit
    chunk) used to crash — (1<<64)-1 overflows LongType; the shared
    hamming_chunk_cols kernel carries the mask=-1 fix."""
    got = media_near_dup_pairs(media_df, max_hamming=0)
    rows = got.collect()
    # exact-hash pairs are a subset of the hamming<=3 pairs
    loose = {
        (r.doc_a, r.doc_b) for r in media_near_dup_pairs(media_df, max_hamming=3).collect()
    }
    assert {(r.doc_a, r.doc_b) for r in rows} <= loose
    assert all(r.hamming == 0 for r in rows)


def test_with_ahash_matches_full_features(media_df):
    """The dedup hot path's ahash-only stage must produce the same
    (media_id, ahash) rows as the full feature operator."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.media import with_ahash

    slim = with_ahash(media_df)
    full = with_image_features(media_df).select("media_id", "ahash")
    assert slim.exceptAll(full).count() == 0
    assert full.exceptAll(slim).count() == 0
