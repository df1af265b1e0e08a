"""Property-based tests (hypothesis) for the pure scalar kernels the
distributed operators and the expected-parquet fixtures rest on. No Spark
session — these run in milliseconds and probe the algebraic guarantees the
hand-value tests only spot-check.

Reference analogs: the collision-probability property the reference checks
empirically (notebooks/lsh_forest.ipynb cell 1) and the winnowing guarantee
from Schleimer-Wilkerson-Aiken 2003 §3 (any shared substring of length
>= gram + window - 1 yields a shared fingerprint).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from lsh_forest_for_multi_vector_retrieval_spark.functions.minhash import (
    minhash_np,
    minhash_params,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators import topk
from lsh_forest_for_multi_vector_retrieval_spark.operators.substring import (
    _rolling_hashes,
    _winnow,
)

A64, B64 = minhash_params(64, seed=42)

hash_sets = st.lists(
    st.integers(min_value=0, max_value=(1 << 63) - 1), min_size=1, max_size=80
).map(lambda xs: np.unique(np.asarray(xs, dtype=np.int64)))


@given(hash_sets)
@settings(max_examples=200, deadline=None)
def test_minhash_order_invariance(s):
    """The signature is a set function: any permutation of the shingle
    array yields the identical signature (the distributed path offers no
    ordering guarantees after shuffles)."""
    rng = np.random.RandomState(7)
    perm = rng.permutation(len(s))
    assert np.array_equal(minhash_np(s, A64, B64), minhash_np(s[perm], A64, B64))


@given(hash_sets, hash_sets)
@settings(max_examples=200, deadline=None)
def test_minhash_union_monotonicity(s, t):
    """sig(s ∪ t) == elementwise min(sig(s), sig(t)) — the lattice identity
    that makes MinHash mergeable (streaming/incremental dedup folds new
    batches into history with exactly this property)."""
    u = np.union1d(s, t)
    assert np.array_equal(
        minhash_np(u, A64, B64),
        np.minimum(minhash_np(s, A64, B64), minhash_np(t, A64, B64)),
    )


@given(st.data())
@settings(max_examples=100, deadline=None)
def test_minhash_collision_rate_tracks_jaccard(data):
    """P[sig_i(a) == sig_i(b)] = J(a,b) per permutation; over 64
    permutations the observed rate is Binomial(64, J) — check a generous
    6-sigma band (no flaky tail)."""
    n_shared = data.draw(st.integers(min_value=0, max_value=40))
    n_a = data.draw(st.integers(min_value=1, max_value=40))
    n_b = data.draw(st.integers(min_value=1, max_value=40))
    rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
    need = n_shared + n_a + n_b
    pool = np.unique(rng.randint(0, 1 << 62, size=need * 2, dtype=np.int64))
    rng.shuffle(pool)
    pool = pool[:need]  # w.h.p. 2x oversampling leaves >= need distinct
    n_shared = min(n_shared, max(len(pool) - 2, 0))
    shared, only_a, only_b = (
        pool[:n_shared],
        pool[n_shared : n_shared + n_a],
        pool[n_shared + n_a :],
    )
    a = np.unique(np.concatenate([shared, only_a]))
    b = np.unique(np.concatenate([shared, only_b]))
    j = len(np.intersect1d(a, b)) / len(np.union1d(a, b))
    rate = float(
        (minhash_np(a, A64, B64) == minhash_np(b, A64, B64)).mean()
    )
    sigma = np.sqrt(max(j * (1 - j), 1e-9) / 64)
    assert abs(rate - j) <= 6 * sigma + 1e-12


def _kth_floor(score, dirty, ids, k, margin):
    """The k-th best clean score over distinct ids, minus ``margin``;
    ``-inf`` below k distinct clean ids."""
    best: dict = {}
    for s, d, i in zip(score, dirty, ids):
        if not d:
            best[i] = max(best.get(i, -np.inf), s)
    top = sorted(best.values(), reverse=True)
    return top[k - 1] - margin if len(top) >= k else -np.inf


@given(st.data())
@settings(max_examples=300, deadline=None)
def test_keep_loop_keeps_a_superset_of_each_keys_top_k(data):
    """``topk.keep_loop`` over candidate rows of several keys, split into
    Arrow batches at random: per key it keeps every dirty row and every
    row scoring at least the k-th best clean score over distinct ids of
    all the key's rows, minus the margin — the provable superset of the
    top-k that ``ann._probe_topk`` and ``plaid_topk`` merge — and each
    kept row comes back once, with its key."""
    n = data.draw(st.integers(0, 40))

    def column(elems, dtype):
        return np.array(data.draw(st.lists(elems, min_size=n, max_size=n)), dtype=dtype)

    score = column(st.sampled_from([0.0, 0.5, 1.0]) | st.floats(-2.0, 2.0), float)
    dirty = column(st.booleans(), bool)
    score[dirty & column(st.booleans(), bool)] = np.nan
    ids = column(st.integers(0, 9), np.int64)
    keys = column(st.integers(0, 2), np.int64)
    k = data.draw(st.integers(1, 6))
    margin = data.draw(st.sampled_from([0.0, 1e-6]) | st.floats(0.0, 1.0))
    cuts = sorted(data.draw(st.lists(st.integers(0, n), max_size=6)))
    bounds = [0, *cuts, n]
    batches = [
        pa.record_batch([pa.array(np.arange(a, b)), pa.array(-np.arange(a, b))], ["row", "neg"])
        for a, b in zip(bounds, bounds[1:])
    ]

    def candidates(b):
        rows = b.column(0).to_numpy()
        for key in np.unique(keys[rows]):
            at = np.flatnonzero(keys[rows] == key)
            g = rows[at]
            yield int(key), at, score[g], dirty[g], ids[g]

    pieces, cols = topk.keep_loop(batches, k, margin, candidates)
    kept = np.array([], dtype=np.int64) if cols is None else cols[0].to_numpy()
    assert len(kept) == len(set(kept.tolist())) == sum(p[1] for p in pieces)
    assert np.array_equal(np.repeat([p[0] for p in pieces], [p[1] for p in pieces]), keys[kept])
    if cols is not None:
        assert np.array_equal(cols[1].to_numpy(), -kept)
    for key in np.unique(keys):
        mine = keys == key
        floor = _kth_floor(score[mine], dirty[mine], ids[mine], k, margin)
        must = np.flatnonzero(mine & (dirty | (score >= floor)))
        assert set(must.tolist()) <= set(kept.tolist()), (key, floor)


texts = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=120,
)


@given(texts, texts, texts, st.integers(4, 8), st.integers(2, 8))
@settings(max_examples=200, deadline=None)
def test_winnowing_guarantee_on_planted_substring(prefix, shared, suffix, gram, window):
    """Schleimer-Wilkerson-Aiken §3: if two docs share a substring of
    length >= gram + window - 1, their winnowed fingerprint sets intersect
    — regardless of what surrounds the match. This is the lossless-recall
    claim substring_dup_pairs makes for long duplicates."""
    need = gram + window - 1
    shared = (shared * ((need // max(len(shared), 1)) + 1))[:need] or "x" * need
    doc_a = prefix + shared
    doc_b = shared + suffix
    fa = _winnow(_rolling_hashes(doc_a, gram), window)
    fb = _winnow(_rolling_hashes(doc_b, gram), window)
    assert len(np.intersect1d(fa, fb)) > 0


@given(texts, st.integers(4, 8), st.integers(1, 8))
@settings(max_examples=200, deadline=None)
def test_winnow_is_subsample_of_rolling_hashes(text, gram, window):
    """Soundness: every winnowed fingerprint is one of the doc's own
    rolling hashes (winnowing only subsamples — it can never invent a
    match), and window=1 keeps every distinct hash."""
    h = _rolling_hashes(text, gram)
    w = _winnow(h, window)
    assert set(w.tolist()) <= set(h.tolist())
    assert np.array_equal(_winnow(h, 1), np.unique(h))


# ---------------------------------------------------------------------------
# BPE kernel properties (functions/bpe.py — the pure kernels under both the
# distributed encode UDF and the expected-parquet fixture oracle)

words = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1,
    max_size=12,
)
word_tables = st.lists(
    st.tuples(words, st.integers(min_value=1, max_value=50)),
    min_size=0,
    max_size=30,
).map(lambda rows: list({w: f for w, f in rows}.items()))


@given(word_tables, st.integers(0, 40))
@settings(max_examples=200, deadline=None)
def test_bpe_learn_is_input_order_invariant(table, num_merges):
    """Merge learning is a function of the word->freq MAP (ties broken by
    pair value, never arrival order) — the distributed freq aggregation
    offers no row-order guarantees."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.bpe import (
        learn_bpe_merges,
    )

    assert learn_bpe_merges(table, num_merges) == learn_bpe_merges(
        table[::-1], num_merges
    )


@given(word_tables, st.lists(words, max_size=20), st.integers(0, 40))
@settings(max_examples=200, deadline=None)
def test_bpe_encode_is_lossless(table, text_words, num_merges):
    """Encoding any word — in or out of the training table — with any
    learned merge set reassembles the exact input: merges only ever glue
    adjacent symbols, never rewrite them."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.bpe import (
        END_OF_WORD,
        encode_word,
        learn_bpe_merges,
    )

    ranks = {p: i for i, p in enumerate(learn_bpe_merges(table, num_merges))}
    for w in text_words:
        toks = encode_word(w, ranks)
        assert "".join(toks) == w + END_OF_WORD


@given(word_tables)
@settings(max_examples=100, deadline=None)
def test_bpe_training_words_reach_fixpoint_encoding(table):
    """With every merge learned (no cap), re-encoding a training word
    applies merges in rank order and terminates; the result never splits
    a symbol the learn phase merged at a boundary the word itself
    exercised with count >= 2 — sanity: encode always terminates and
    yields at least one token."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.bpe import (
        encode_word,
        learn_bpe_merges,
    )

    ranks = {p: i for i, p in enumerate(learn_bpe_merges(table, 10_000))}
    for w, _ in table:
        toks = encode_word(w, ranks)
        assert len(toks) >= 1


@given(word_tables, st.integers(0, 40))
@settings(max_examples=200, deadline=None)
def test_bpe_incremental_learn_equals_naive(table, num_merges):
    """learn_bpe_merges (incremental heap form) must be bit-identical to
    the recount-everything reference on any input — same counts, same
    (-count, pair) selection order, same early stop."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.bpe import (
        _learn_bpe_merges_naive,
        learn_bpe_merges,
    )

    assert learn_bpe_merges(table, num_merges) == _learn_bpe_merges_naive(
        table, num_merges
    )
