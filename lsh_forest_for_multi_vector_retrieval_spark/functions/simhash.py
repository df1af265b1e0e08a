"""SimHash (64-bit) — Arrow-batched pandas UDF, NumPy-vectorized.

Reference analog: hyperplane LSH ``h(v) = sign(v . w)``
(/root/reference/src/shared/lsh_family.py:19-42, lsh_forest.py:26-32).
For text, the standard Charikar construction replaces the random
hyperplane dot product with the bit-decomposition of feature hashes:
bit_b(simhash) = sign( sum_{shingle s} (2*bit_b(s) - 1) ), which is
exactly a hyperplane sign in the 2^64-dim feature space.

Also provides hyperplane SimHash over dense float vectors (the literal
reference operator H1) for the embeddings table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_BITS = np.arange(64, dtype=np.uint64)


def simhash_np(shingles: np.ndarray) -> np.int64:
    """NumPy oracle: 64-bit SimHash of one shingle-hash set (unweighted)."""
    if len(shingles) == 0:
        return np.int64(0)
    s = shingles.astype(np.int64).view(np.uint64)
    bits = (s[:, None] >> _BITS[None, :]) & np.uint64(1)  # (n, 64)
    votes = 2 * bits.astype(np.int64).sum(axis=0) - len(s)  # sum of +-1
    word = np.uint64(0)
    for b in range(64):
        if votes[b] >= 0:
            word |= np.uint64(1) << np.uint64(b)
    return word.astype(np.int64)


def simhash_udf() -> Column:
    """Factory: ``array<bigint> shingles -> bigint simhash``."""

    # per-row kernels: the (n_shingles, 64) bit matrix of one document is
    # ~75 KB and cache-resident (see minhash.py for the measured rationale)
    bit_row = _BITS[None, :]

    @pandas_udf(T.LongType())
    def _simhash(shingle_col: pd.Series) -> pd.Series:
        out = np.zeros(len(shingle_col), dtype=np.int64)
        for i, x in enumerate(shingle_col):
            # NULL array degrades like the empty array (simhash 0), same
            # convention as minhash_udf (round-5 review)
            n = 0 if x is None else len(x)
            if n == 0:
                continue
            s = np.asarray(x, dtype=np.int64).view(np.uint64)
            bits = ((s[:, None] >> bit_row) & np.uint64(1)).astype(np.int64)
            votes = 2 * bits.sum(axis=0) - n
            word = ((votes >= 0).astype(np.uint64) << _BITS).sum(dtype=np.uint64)
            out[i] = np.int64(word.astype(np.int64))
        return pd.Series(out)

    return _simhash


def hamming_chunk_cols(col: Column, width: int, n_chunks: int) -> Column:
    """``array<bigint>`` of the ``n_chunks`` unsigned ``width``-bit chunks
    of a packed 64-bit signature — the pigeonhole blocking kernel behind
    ``operators.pairs.chunk_blocks`` (SimHash text dedup, ahash media
    dedup, hyperplane ANN).

    The width==64 case (one chunk = exact-hash blocking, e.g.
    ``max_hamming=0`` or ``n_chunks=1``) needs ``mask = -1``:
    ``(1 << 64) - 1`` overflows LongType and py4j ships it as a Decimal
    the bitwiseAND rejects."""
    mask = F.lit(-1 if width == 64 else (1 << width) - 1)
    return F.array(
        *[
            F.shiftrightunsigned(col, c * width).bitwiseAND(mask)
            for c in range(n_chunks)
        ]
    )


def hyperplane_simhash_udf(dim: int, bits: int = 64, seed: int = 42) -> Column:
    """Literal reference H1: seeded random hyperplanes over float vectors.

    ``array<float>[dim] -> bigint`` — one matmul per Arrow batch against a
    (dim, bits) Gaussian matrix drawn once from RandomState(seed)
    (reference draws per-closure, lsh_family.py:30-36; we draw the whole
    matrix up front — same distribution, executor-deterministic).
    """
    if not 1 <= bits <= 64:
        # the signature is packed into ONE 64-bit word; numpy uint64
        # left-shift by >=64 is C-undefined (x86: shift mod 64), so
        # bits>64 would silently alias high bits onto low ones and
        # destroy the LSH property with no error. More bits = more
        # independent tables (distinct seeds), not a wider word.
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    rng = np.random.RandomState(seed)
    w = rng.standard_normal((dim, bits))
    bit_idx = np.arange(bits, dtype=np.uint64)

    @pandas_udf(T.LongType())
    def _hp_simhash(vec_col: pd.Series) -> pd.Series:
        n = len(vec_col)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        # NULL / ragged / wrong-dim rows DEGRADE to a NULL signature
        # (they drop out of chunk blocking downstream) instead of
        # failing the whole Spark task via np.stack — same convention
        # as vectors._stack_pair_batch and the fold cosine path.
        good = np.ones(n, dtype=bool)
        rows = []
        for i, v in enumerate(vec_col):
            a = None if v is None else np.asarray(v, dtype=np.float64)
            if a is None or a.ndim != 1 or a.shape[0] != dim:
                good[i] = False
            else:
                rows.append(a)
        vals = np.zeros(n, dtype=np.int64)
        if rows:
            m = np.stack(rows)  # (n_good, dim)
            proj = m @ w  # (n_good, bits)
            words = ((proj >= 0).astype(np.uint64) << bit_idx[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            vals[good] = words.view(np.int64)
        out = pd.Series(vals, dtype="Int64")
        out[~good] = pd.NA
        return out

    return _hp_simhash
