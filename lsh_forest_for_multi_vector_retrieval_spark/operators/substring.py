"""Long-substring duplicate detection — the "suffix-array pass".

north_star asks for a suffix-array pass for long-substring duplicates.
A literal distributed suffix array (sort all suffixes of 100 TB of text)
is the textbook construction; the equivalent-and-cheaper relational form
used here is **winnowed rolling-hash fingerprints** (the MOSS/winnowing
scheme, Schleimer-Wilkerson-Aiken 2003, public knowledge):

* every length-``gram`` window gets a 64-bit polynomial rolling hash
  (one NumPy pass per Arrow batch — O(n) per doc). ``gram`` and
  ``window`` are denominated in UTF-8 BYTES, not characters: hashing
  runs over the encoded byte stream, so non-ASCII text gets
  proportionally shorter character windows (~gram/2 Cyrillic, ~gram/3
  CJK chars) — a systematically LOOSER match criterion than on English
  text. Recall is unaffected (docs sharing a character substring always
  share its byte windows); tune ``gram`` per expected script if
  precision matters (round-5 review: documented, deliberately not
  decoded to code points — byte semantics keep the kernel allocation-
  free and the committed fixtures stable);
* within every run of ``window`` consecutive hashes we keep the minimum
  (winnowing). Guarantee: two docs sharing any exact substring of length
  >= gram + window - 1 share at least one selected fingerprint;
* fingerprints explode into an inverted index; docs sharing a fingerprint
  become candidate pairs (the same bucket-join shape as the MinHash path,
  so all the skew/scale machinery applies);
* verification recomputes the full gram-hash sets for candidate pairs and
  intersects them exactly — a pair is a substring-duplicate iff it shares
  an exact ``gram``-length window (64-bit hash collisions ~2^-64, noted).

This mirrors the reference's two-phase query exactly: cheap bucket
collision -> exact verification (lsh_forest.py:94-108), applied to the
character domain instead of the token domain.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import (
    bucket_ids_capped,
    star_pair_structs,
)

_BASE = np.uint64(1000003)
_OFFSET = np.uint64(1469598103934665603)


def _rolling_hashes(text: str, gram: int) -> np.ndarray:
    """64-bit polynomial rolling hashes of all length-``gram`` windows.
    Deterministic uint64 wraparound arithmetic; vectorized via cumulative
    powers. Returns empty array for texts shorter than ``gram``."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = len(b) - gram + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    # hash(i) = sum_{j<gram} byte[i+j] * BASE^(gram-1-j)  (mod 2^64)
    # uint64 wraparound is intentional and deterministic — suppress NumPy's
    # overflow RuntimeWarning so real warnings stay visible in logs
    with np.errstate(over="ignore"):
        powers = np.empty(gram, dtype=np.uint64)
        powers[gram - 1] = np.uint64(1)
        for j in range(gram - 2, -1, -1):
            powers[j] = powers[j + 1] * _BASE
        vals = b.astype(np.uint64)
        # sliding dot product via convolution in uint64 wraparound:
        # build with stride tricks to stay O(n*1) memory-ish for moderate gram
        out = np.zeros(n, dtype=np.uint64)
        for j in range(gram):  # gram is small (<=64); loop is over gram, not n
            out += vals[j : j + n] * powers[j]
        return out + _OFFSET


def _winnow(hashes: np.ndarray, window: int) -> np.ndarray:
    """Minimum of every ``window`` consecutive hashes (dedup'd) — the
    winnowing selection. Vectorized with a strided min."""
    if len(hashes) == 0:
        return hashes
    if len(hashes) <= window:
        return np.unique(hashes.min(keepdims=True))
    n = len(hashes) - window + 1
    view = np.lib.stride_tricks.sliding_window_view(hashes, window)
    return np.unique(view.min(axis=1))


def fingerprint_udf(gram: int = 32, window: int = 16):
    """``text -> array<bigint>`` winnowed substring fingerprints."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(np.empty(0, dtype=np.int64))
                continue
            h = _winnow(_rolling_hashes(t, gram), window)
            out.append(h.view(np.int64))
        return pd.Series(out)

    return _fp


def gram_hash_udf(gram: int = 32):
    """``text -> array<bigint>`` ALL distinct gram-hashes (verification)."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _gh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(np.empty(0, dtype=np.int64))
                continue
            out.append(np.unique(_rolling_hashes(t, gram)).view(np.int64))
        return pd.Series(out)

    return _gh


def fingerprint_drop_stats(
    docs: DataFrame,
    gram: int = 32,
    window: int = 16,
    max_bucket_docs: int = 4096,
    bucket_pivots: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """No-silent-caps ledger for ``substring_dup_pairs``: one row per
    fingerprint bucket any cap touched — ``dropped_docs`` when the bucket
    exceeded ``max_bucket_docs`` (those docs form no pairs from this
    bucket), ``starred_pairs_skipped`` = C(kept - pivots, 2) member x
    member comparisons the pivot star did not generate (connectivity is
    preserved through the pivots). Mirrors ``pairs.bucket_drop_stats``."""
    fp = fingerprint_udf(gram, window)
    inv = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(fp(F.col(text_col))).alias("fp")
    )
    kept = F.least(F.col("bucket_n"), F.lit(max_bucket_docs))
    non_starred = F.greatest(kept - F.lit(bucket_pivots), F.lit(0))
    # filter on the computed drop columns (not a size threshold): a
    # bucket of exactly bucket_pivots+1 docs is a complete clique through
    # its pivots and drops nothing — mirrors pairs.bucket_drop_stats
    # (round-5 review)
    return (
        inv.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("bucket_n"))
        .select(
            "fp",
            "bucket_n",
            F.greatest(
                F.col("bucket_n") - F.lit(max_bucket_docs), F.lit(0)
            ).alias("dropped_docs"),
            (non_starred * (non_starred - 1) / 2)
            .cast("long")
            .alias("starred_pairs_skipped"),
        )
        .where((F.col("dropped_docs") > 0) | (F.col("starred_pairs_skipped") > 0))
    )


def substring_dup_pairs(
    docs: DataFrame,
    gram: int = 32,
    window: int = 16,
    max_bucket_docs: int = 4096,
    bucket_pivots: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, shared_grams): pairs sharing an exact substring of
    length >= gram (guaranteed found when >= gram + window - 1).

    Same physical shape as the MinHash path: fingerprint inverted index ->
    bucket pair explosion (singletons dropped first, hot buckets capped at
    ``max_bucket_docs`` and PIVOT-STARRED above ``bucket_pivots``) ->
    exact gram-set intersection verify. The star (round-3 VERDICT #2)
    bounds a boilerplate-footer fingerprint shared by n docs at O(k*n)
    candidate pairs instead of C(n,2) ~ n^2/2 — the one shape that made
    this operator a 100x hazard on crawl corpora with shared footers.
    Every skipped comparison is counted in ``fingerprint_drop_stats``;
    pairs bridged only through non-pivot members may be missed, but any
    doc sharing a fingerprint with the bucket still pairs with (and is
    verified against) the pivots, so recall for "is doc X a substring-dup
    of anything" is preserved.
    """
    from lsh_forest_for_multi_vector_retrieval_spark.session import (
        ensure_min_partitions,
    )

    docs = ensure_min_partitions(docs)
    fp = fingerprint_udf(gram, window)
    fps = docs.select(F.col(id_col).alias("doc_id"), fp(F.col(text_col)).alias("fps"))
    inv = fps.select("doc_id", F.explode("fps").alias("fp"))
    # shared salted-cap helper: a boilerplate fingerprint's collect_set is
    # bounded by bucket/salt, not the whole bucket (hot-band skew salting)
    grouped = bucket_ids_capped(inv, ["fp"], max_bucket_docs)
    pair_structs = star_pair_structs(F.col("ids"), bucket_pivots)
    # checkpoint: the candidate table feeds the id-prune AND both verify
    # join sides (same shared-candidate pattern as dedup.minhash_dedup)
    cands = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # verification hashes ONLY candidate docs: without the semi-join
    # prune, gram_hash_udf (a full rolling-hash pass over every text)
    # would run over the ENTIRE corpus — twice, once per join side.
    # Candidate docs are a small fraction of the corpus (dedup
    # selectivity; same measured rationale as config.verify_prune_
    # candidates, 60.8s -> ~4s at 320k docs), and the checkpoint makes
    # the pruned gram table compute once for both sides (round-5 review).
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    gh = gram_hash_udf(gram)
    sets = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
        .join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", gh(F.col("__t")).alias("grams"))
        .localCheckpoint(eager=True)
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("grams_a", "grams_b")).cast("long").alias(
                "shared_grams"
            ),
        )
        .where(F.col("shared_grams") > 0)
    )
