"""Multimodal kernels: decode / resize / feature-extract / perceptual-hash
for opaque ``binary`` media columns with typed metadata.

Design (training-data-pipeline extension, beyond the reference's text-only
scope): media rows are (payload: binary, typed metadata struct) exactly as a
100 TB multimodal lakehouse table would store them. All Spark-side plumbing
(schemas, mapInPandas batch shape, partitioning) is real and tested; the
*codec* layer is pluggable:

* ``rawrgb`` — a real, deterministic, dependency-free codec (payload
  bytes ARE the uint8 HxWxC tensor). All tests and driver queries use it,
  so every downstream kernel (resize, features, average-hash) runs on real
  pixel math end to end. Audio rows (``rawpcm16``, int16 PCM) ride along
  in the media table; no kernel here decodes them.
* JPEG/PNG — STUBBED: :func:`decode_image` raises ``NotImplementedError``
  for them unless PIL is importable (import-try gate). The stub is the
  decode step ONLY; nothing else is faked.

Kernels are NumPy-per-row inside Arrow batches (same justification as
functions/minhash.py:50-57 — the math is matrix-shaped, the batching
removes serialization overhead, and there is no JVM builtin for pixels).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

try:  # real image codecs, absent in this container
    from PIL import Image as _PIL_Image  # noqa: F401

    _HAS_PIL = True
except Exception:  # pragma: no cover - PIL not installed here
    _HAS_PIL = False

# typed metadata for an opaque media payload — one struct column next to the
# binary, the shape a multimodal lakehouse table would use
MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("codec", T.StringType(), False),  # rawrgb|rawpcm16|jpeg|...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),  # >1 => video
        T.StructField("sample_rate", T.IntegerType(), True),  # audio only
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("media_type", T.StringType(), False),  # image|video|audio
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", MEDIA_META_TYPE, False),
        T.StructField("true_group", T.LongType(), True),  # planted-dup label
    ]
)


# ---------------------------------------------------------------------------
# codecs
# ---------------------------------------------------------------------------


def decode_image(payload: bytes, meta) -> np.ndarray:
    """payload -> uint8 array of shape (n_frames, h, w, c).

    ``rawrgb``: payload bytes are the row-major tensor (real decode — a
    byte-count check plus a zero-copy reshape). Compressed codecs are
    stubbed behind the PIL import-try."""
    codec = meta["codec"]
    if codec == "rawrgb":
        f = int(meta["n_frames"] or 1)
        h, w, c = meta["height"], meta["width"], meta["channels"]
        # fail fast with a diagnosable message: the meta fields are
        # nullable in MEDIA_META_TYPE, and int(None) / a zero dimension
        # would otherwise surface as an opaque TypeError / IndexError
        # deep inside the pixel kernels (round-5 review)
        if any(v is None or int(v) <= 0 for v in (h, w, c)) or f <= 0:
            raise ValueError(
                f"rawrgb meta needs positive height/width/channels/n_frames, "
                f"got {f}x{h}x{w}x{c}"
            )
        h, w, c = int(h), int(w), int(c)
        arr = np.frombuffer(payload, dtype=np.uint8)
        if arr.size != f * h * w * c:
            raise ValueError(
                f"rawrgb payload is {arr.size} bytes, meta says {f}x{h}x{w}x{c}"
            )
        return arr.reshape(f, h, w, c)
    if codec in ("jpeg", "png"):
        if not _HAS_PIL:
            # STUB: compressed image codecs need PIL, absent in this container
            raise NotImplementedError(
                f"codec {codec!r} requires PIL; install pillow or re-encode to rawrgb"
            )
        import io

        img = np.asarray(_PIL_Image.open(io.BytesIO(payload)).convert("RGB"))
        return img[np.newaxis, ...]
    raise NotImplementedError(f"unknown image codec {codec!r}")


def encode_rawrgb(frames: np.ndarray) -> bytes:
    return np.ascontiguousarray(frames, dtype=np.uint8).tobytes()


# ---------------------------------------------------------------------------
# pixel kernels (pure NumPy — vectorized per frame)
# ---------------------------------------------------------------------------


def resize_nearest(frame: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, c) uint8 frame. Index-gather,
    no interpolation: deterministic and dependency-free."""
    h, w = frame.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return frame[rows][:, cols]


def to_grayscale(frame: np.ndarray) -> np.ndarray:
    """ITU-R 601 luma from an (h, w, c) frame -> (h, w) float32."""
    if frame.shape[-1] == 1:
        return frame[..., 0].astype(np.float32)
    rgb = frame[..., :3].astype(np.float32)
    return rgb @ np.array([0.299, 0.587, 0.114], dtype=np.float32)


def average_hash(frame: np.ndarray, hash_side: int = 8) -> int:
    """Perceptual average-hash: resize to hash_side x hash_side (nearest)
    -> grayscale -> threshold at the mean -> pack hash_side^2 bits
    (row-major, MSB first) into a signed int64. (Resize-then-luma,
    matching the code below — the two orders produce different hashes;
    ADVICE round-2.) ``hash_side`` is capped at 8 (64 bits — one packed
    word; the old code hard-coded 64 weights, so any other value crashed
    on a shape mismatch — round-5 review).
    Near-identical images land within small Hamming distance, so the
    SimHash pigeonhole blocking (operators/dedup.py:109) applies as-is."""
    n_bits = hash_side * hash_side
    if not 1 <= n_bits <= 64:
        raise ValueError(f"hash_side must be in [1, 8] (<=64 bits), got {hash_side}")
    g = resize_nearest(frame, hash_side, hash_side)
    g = to_grayscale(g)
    bits = (g > g.mean()).astype(np.uint64).ravel()
    weights = np.left_shift(
        np.uint64(1), np.arange(n_bits - 1, -1, -1, dtype=np.uint64)
    )
    return int(np.int64((bits * weights).sum(dtype=np.uint64)))


def image_features(frames: np.ndarray) -> dict:
    """Per-media feature row: per-channel byte means/stds over all frames
    plus an 8-bin luma histogram (L1-normalized) as a small embedding."""
    pix = frames.reshape(-1, frames.shape[-1]).astype(np.float64)
    luma = to_grayscale(frames.reshape((-1,) + frames.shape[2:]))
    hist, _ = np.histogram(luma, bins=8, range=(0.0, 256.0))
    hist = hist.astype(np.float64)
    hist /= max(hist.sum(), 1.0)
    return {
        "chan_mean": [float(x) for x in pix.mean(axis=0)],
        "chan_std": [float(x) for x in pix.std(axis=0)],
        "luma_hist": [float(x) for x in hist],
        "ahash": average_hash(frames[0]),
    }

