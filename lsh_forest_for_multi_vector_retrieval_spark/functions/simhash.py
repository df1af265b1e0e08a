"""SimHash (64-bit) — Arrow-batched, NumPy-vectorized UDFs.

Reference analog: hyperplane LSH ``h(v) = sign(v . w)``
(/root/reference/src/shared/lsh_family.py:19-42, lsh_forest.py:26-32).
For text, the standard Charikar construction replaces the random
hyperplane dot product with the bit-decomposition of feature hashes:
bit_b(simhash) = sign( sum_{shingle s} (2*bit_b(s) - 1) ), which is
exactly a hyperplane sign in the 2^64-dim feature space.

Also provides hyperplane SimHash over dense float vectors (the literal
reference operator H1) for the embeddings table.

The text ``simhash_udf`` is a ``pandas_udf`` with a per-row loop, a
measured choice (see ``minhash.py``); ``hyperplane_simhash_udf`` is an
``arrow_udf`` over the vector decoder of ``functions.vectors``, one
matmul per batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf, pandas_udf

from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import _vectors

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
    # ~16 KB of bytes and cache-resident (see minhash.py for the measured
    # rationale). The bits come from the explicit little-endian byte view,
    # so column b of ``unpackbits(..., bitorder="little")`` is bit b of the
    # word on any host, and bit b is set when its +-1 votes sum to >= 0,
    # i.e. 2 * ones >= n

    @pandas_udf(T.LongType())
    def _simhash(shingle_col: pd.Series) -> pd.Series:
        out = np.zeros(len(shingle_col), dtype=np.int64)
        for i, x in enumerate(shingle_col):
            # NULL array degrades like the empty array (simhash 0), same
            # convention as minhash_udf (round-5 review)
            n = 0 if x is None else len(x)
            if n == 0:
                continue
            s = np.asarray(x, dtype="<i8").view(np.uint8).reshape(n, 8)
            ones = np.unpackbits(s, axis=1, bitorder="little").sum(axis=0)
            out[i] = np.packbits(2 * ones >= n, bitorder="little").view("<i8")[0]
        return pd.Series(out)

    return _simhash


def hamming_chunk_cols(name: str, width: int, n_chunks: int) -> Column:
    """``array<bigint>`` of the ``n_chunks`` unsigned ``width``-bit chunks
    of the packed 64-bit signature in column ``name`` — the pigeonhole
    blocking kernel behind ``operators.pairs.chunk_blocks`` (SimHash text
    dedup, ahash media dedup, hyperplane ANN).

    Built as one SQL expression, ``array(shiftrightunsigned(sig, c*width)
    & mask, ...)``: one py4j call instead of four ``F`` calls per chunk
    (lsh_topk builds hundreds of chunks), for the same analyzed plan. The
    width==64 case (one chunk = exact-hash blocking, e.g.
    ``max_hamming=0`` or ``n_chunks=1``) needs ``mask = -1``:
    ``(1 << 64) - 1`` does not fit a bigint literal."""
    mask = -1 if width == 64 else (1 << width) - 1
    sig = "`" + name.replace("`", "``") + "`"
    chunks = (f"shiftrightunsigned({sig}, {c * width}) & {mask}" for c in range(n_chunks))
    return F.expr(f"array({', '.join(chunks)})")


def hyperplanes(dim: int, bits: int = 64, seed: int = 42) -> np.ndarray:
    """The ``(dim, bits)`` Gaussian hyperplane matrix of
    :func:`hyperplane_simhash_udf`, drawn once from RandomState(seed)
    (reference draws per-closure, lsh_family.py:30-36; we draw the whole
    matrix up front — same distribution, executor-deterministic)."""
    if not 1 <= bits <= 64:
        # the signature is packed into ONE 64-bit word; numpy uint64
        # left-shift by >=64 is C-undefined (x86: shift mod 64), so
        # bits>64 would silently alias high bits onto low ones and
        # destroy the LSH property with no error. More bits = more
        # independent tables (distinct seeds), not a wider word.
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    return np.random.RandomState(seed).standard_normal((dim, bits))


def hyperplane_simhash_arrow(vec_col: pa.Array, w: np.ndarray) -> pa.Array:
    """The body of :func:`hyperplane_simhash_udf` over an Arrow vector
    array and a :func:`hyperplanes` matrix; ``lsh_topk`` also calls it on
    the driver for its collected queries."""
    dim, bits = w.shape
    # NULL / ragged / wrong-dim rows DEGRADE to a NULL signature (they
    # drop out of chunk blocking downstream) instead of failing the task
    lens, valid, gather = _vectors(vec_col)
    good = valid & (lens == dim)
    rows = np.flatnonzero(good)
    proj = gather(rows, dim) @ w  # (n_good, bits)
    bit_idx = np.arange(bits, dtype=np.uint64)
    words = ((proj >= 0).astype(np.uint64) << bit_idx[None, :]).sum(axis=1, dtype=np.uint64)
    vals = np.zeros(len(vec_col), dtype=np.int64)
    vals[rows] = words.view(np.int64)
    return pa.array(vals, mask=~good)


def hyperplane_simhash_udf(dim: int, bits: int = 64, seed: int = 42) -> Column:
    """Literal reference H1: seeded random hyperplanes over float vectors.

    ``array<float>[dim] -> bigint`` — one matmul per Arrow batch against
    the :func:`hyperplanes` matrix.

    A NULL, ragged or wrong-dim vector signs NULL. A NULL or NaN element
    makes every projection NaN, and ``NaN >= 0`` is false, so the row
    signs 0; an inf element signs by its infinite projections.
    """
    w = hyperplanes(dim, bits, seed)

    @arrow_udf(T.LongType())
    def _hp_simhash(vec_col: pa.Array) -> pa.Array:
        return hyperplane_simhash_arrow(vec_col, w)

    return _hp_simhash
