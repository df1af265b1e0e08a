"""MinHash signatures — Arrow-batched pandas UDF, NumPy-vectorized.

Reference analog: the per-tree *hash sequences* of sampled LSH closures
(/root/reference/src/shared/lsh_forest.py:60-62 ``hash_seqs``). There the
hash family is data-independent and seeded per forest; here the 128
permutation parameters ``(A, B)`` are drawn once from a seeded generator and
captured in the UDF closure — broadcast to every executor for free via task
serialization, no driver round-trips.

Arithmetic is ``(a*h + b) mod p`` over uint64 with the Mersenne prime
p = 2^61 - 1; uint64 wraparound is deterministic and identical on every
platform/executor, which is the property that matters for dedup (the
north_rule requires reproducible signatures across the cluster). The UDF
reduces mod p with shifts and masks instead of ``%``, bit-identical to the
``minhash_np`` oracle.

Vectorization: per Arrow batch we hash the batch's *unique* shingles once
(a (num_perm, U) matrix) and take per-document segment minima with
``np.minimum.reduceat`` — no per-row Python loops over permutations.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

MERSENNE_61 = np.uint64((1 << 61) - 1)
SHIFT_61 = np.uint64(61)
EMPTY_SIG_FILL = np.int64((1 << 61) - 1)  # sentinel sig for empty docs


PARAM_BLOCK = 128  # the canonical base-signature width (DedupConfig.num_perm)


def minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (A, B) permutation parameters; A odd and nonzero.

    Growth-stable (round-4 ADVICE): the first ``PARAM_BLOCK`` pairs are
    always drawn as one fixed 128-wide block (all A, then all B), and
    permutations BEYOND the block are drawn pairwise-interleaved, one
    (a_i, b_i) per index. The invariant is PREFIX STABILITY for every
    width: ``minhash_params(m)`` is exactly the first m pairs of
    ``minhash_params(n)`` for any m <= n (both sliced from the same
    always-fully-drawn block, then per-index beyond it), so growing
    ``num_perm`` (e.g. ``use_adaptive_bands`` extending signature_len
    128 -> 160, or 64 -> 96) never changes existing parameters —
    base-band signatures in persisted stores (streaming/incremental
    state, resumable checkpoints) stay valid, and fixed-vs-adaptive
    A/Bs compare the same base family. Compatibility note: at exactly
    the canonical ``num_perm == 128`` this reproduces the historical
    all-A-then-all-B draw bit-exactly (every committed fixture and
    recall artifact uses 128 and keeps its hash family); a pre-round-5
    store built with any OTHER width — ``num_perm < 128`` (B values at a
    different stream offset) or ``num_perm > 128`` (rows past 128 now
    per-index instead of the legacy tail layout) — must be re-signed
    (none exist in this repo — guarded by tests/test_signatures.py
    prefix-stability)."""
    rng = np.random.RandomState(seed)
    p = (1 << 61) - 1
    head = min(num_perm, PARAM_BLOCK)
    a_blk = rng.randint(1, p, size=PARAM_BLOCK, dtype=np.uint64) | np.uint64(1)
    b_blk = rng.randint(0, p, size=PARAM_BLOCK, dtype=np.uint64)
    a, b = a_blk[:head], b_blk[:head]
    if num_perm > PARAM_BLOCK:
        # one (a, b) draw pair per index (prefix-stable); B from [0, p)
        # like the block — |1 keeps A odd/nonzero even for a raw 0 draw
        extra = rng.randint(0, p, size=(num_perm - PARAM_BLOCK, 2), dtype=np.uint64)
        a = np.concatenate([a, extra[:, 0] | np.uint64(1)])
        b = np.concatenate([b, extra[:, 1]])
    return a, b


def minhash_np(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """NumPy oracle: signature of one shingle-hash set. Returns int64[num_perm]."""
    if len(shingles) == 0:
        return np.full(len(a), EMPTY_SIG_FILL, dtype=np.int64)
    s = shingles.astype(np.int64).view(np.uint64)
    vals = (a[:, None] * s[None, :] + b[:, None]) % MERSENNE_61
    return vals.min(axis=1).astype(np.int64)


def minhash_udf(num_perm: int = 128, seed: int = 42) -> Column:
    """Factory for the signature UDF: ``array<bigint> -> array<bigint>``.

    Per-row kernels, deliberately: the (num_perm, n_shingles) work matrix
    of one document (~128x150x8B = 150 KB) stays cache-resident, while a
    batch-flattened (num_perm, 600k) layout is DRAM-bound — measured 200x
    slower (0.56s vs 117s per 4096-row Arrow batch). Per-row also bounds
    worker memory to KBs regardless of batch size.

    JVM-only alternatives measured and rejected (sf0.1, 5000 docs, best
    of 3): this UDF 0.49s; explode + groupBy with 128 codegen'd min()
    aggregates 2.28s (pays a shuffle of the exploded shingle rows);
    higher-order F.aggregate per perm 2.49s (HOF lambdas are interpreted
    per element, not codegen'd). The Arrow boundary is cheaper than
    either — the NumPy kernel stays.
    """
    a, b = minhash_params(num_perm, seed)
    a_col, b_col = a[:, None], b[:, None]

    @pandas_udf(T.ArrayType(T.LongType()))
    def _minhash(shingle_col: pd.Series) -> pd.Series:
        empty_sig = np.full(num_perm, EMPTY_SIG_FILL, dtype=np.int64)
        out: list[np.ndarray] = []
        for x in shingle_col:
            # NULL shingle array (external/joined tables — with_shingles
            # itself coalesces NULL text to []) degrades to the empty-doc
            # sentinel instead of len(None) killing the task; same
            # convention as hyperplane_simhash_udf (round-5 review)
            if x is None or len(x) == 0:
                out.append(empty_sig)
                continue
            s = np.asarray(x, dtype=np.int64).view(np.uint64)
            # v mod p without a division: 2^61 = 1 (mod p), so
            # r = (v & p) + (v >> 61) = v (mod p) with r < 2p. Per element
            # the residue is min(r, r - p) in uint64 (r - p wraps above p
            # when r < p), so the row minimum is the smaller of the two
            # row minima. In place: a work matrix and one temporary
            v = a_col * s[None, :]
            v += b_col
            r = v & MERSENNE_61
            v >>= SHIFT_61
            r += v
            low = r.min(axis=1)
            r -= MERSENNE_61
            out.append(np.minimum(low, r.min(axis=1)).astype(np.int64))
        return pd.Series(out)

    return _minhash


def band_hashes_col(
    sig: Column, num_bands: int = 16, rows_per_band: int = 8
) -> Column:
    """Split a signature into bands and hash each — pure Column expr.

    Reference analog: the trie path label of tree *l* at depth *km*
    (lsh_forest.py:110-126) — one band = one tree, the band hash = the
    leaf bucket id. xxhash64 over the slice keeps the key fixed-width
    (8 bytes) for shuffle-volume control (SURVEY §4.2).
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.xxhash64(F.slice(sig, b * rows_per_band + F.lit(1), rows_per_band)),
    )
