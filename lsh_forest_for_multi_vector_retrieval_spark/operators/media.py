"""Multimodal operators over opaque binary media columns.

The feature extractors are ``mapInPandas`` stages (Arrow batch in, Arrow
batch out) so they pipeline with zero shuffle: at 100 TB each executor
decodes only its own input splits, and the only shuffles in this file are
the ones dedup fundamentally needs (the ahash block join). Column pruning
still applies — each operator selects only (id, payload, meta) before the
Python stage so the scan never drags unused columns through Arrow.

Reference analog: the reference hashes token multisets of *text*
(/root/reference/src/shared/utils.py); these operators produce the same
kinds of per-item signatures (perceptual hash, feature vector) for pixels
so the downstream LSH/verify machinery is shared.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.multimodal import decode_image, image_features
from .pairs import hamming_pairs

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("chan_mean", T.ArrayType(T.DoubleType()), False),
        T.StructField("chan_std", T.ArrayType(T.DoubleType()), False),
        T.StructField("luma_hist", T.ArrayType(T.DoubleType()), False),
        T.StructField("ahash", T.LongType(), False),
    ]
)


def with_image_features(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """(media_id, chan_mean, chan_std, luma_hist, ahash) for every image /
    video row — decode + feature math per Arrow batch, no shuffle."""
    src = media.where(F.col("media_type").isin("image", "video")).select(
        F.col(id_col).alias("media_id"), "payload", "meta"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                frames = decode_image(payload, meta)
                rows.append({"media_id": int(media_id), **image_features(frames)})
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA])

    return src.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ahash", T.LongType(), False),
    ]
)


def with_ahash(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """(media_id, ahash) only — the dedup hot path. ``with_image_features``
    also computes full-resolution float64 per-channel means/stds and a
    luma histogram per row, all of which ``media_near_dup_pairs`` throws
    away; the ahash needs only an 8x8 nearest-neighbor gather + mean
    threshold, so at scale this stage skips nearly all the per-pixel
    floating-point work (round-5 review)."""
    from ..functions.multimodal import average_hash

    src = media.where(F.col("media_type").isin("image", "video")).select(
        F.col(id_col).alias("media_id"), "payload", "meta"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                frames = decode_image(payload, meta)
                rows.append(
                    {"media_id": int(media_id), "ahash": average_hash(frames[0])}
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AHASH_SCHEMA])

    return src.mapInPandas(run, schema=AHASH_SCHEMA)


def media_near_dup_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Image near-duplicate pairs via perceptual average-hash + the same
    pigeonhole chunk blocking as SimHash text dedup (``pairs.hamming_pairs``):
    any pair within Hamming<=3 of the 64-bit ahash shares one of 4 exact
    16-bit chunks, so candidate generation is an equi-join on (chunk_id,
    chunk_val) — bucketed, never all-pairs — and verification is one
    JVM-side ``bit_count`` XOR. Returns (doc_a, doc_b, hamming).

    The (media_id, ahash) table, 16 bytes/image, is eagerly
    localCheckpoint-ed because both self-join sides read it (see
    ``pairs.chunk_self_join``)."""
    sigs = with_ahash(media).localCheckpoint(eager=True)
    return hamming_pairs(sigs, "media_id", "ahash", max_hamming)
