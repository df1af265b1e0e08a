"""MinHash / SimHash UDFs vs the NumPy oracle + LSH collision properties
(the reference's Monte-Carlo property check, notebooks/lsh_forest.ipynb
cell 1)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.functions.minhash import (
    EMPTY_SIG_FILL,
    minhash_np,
    minhash_params,
    minhash_udf,
)
from lsh_forest_for_multi_vector_retrieval_spark.functions.simhash import (
    hyperplane_simhash_udf,
    simhash_np,
    simhash_udf,
)


@pytest.fixture(scope="module")
def shingle_rows():
    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        n = int(rng.randint(0, 50))
        rows.append((i, rng.randint(-(2**62), 2**62, size=n).tolist()))
    rows.append((99, []))  # empty doc
    return rows


def test_minhash_matches_numpy_oracle(spark, shingle_rows):
    df = spark.createDataFrame(shingle_rows, "doc_id long, shingles array<long>")
    mh = minhash_udf(num_perm=128, seed=42)
    got = {r.doc_id: np.array(r.sig) for r in df.select("doc_id", mh("shingles").alias("sig")).collect()}
    a, b = minhash_params(128, 42)
    for doc_id, sh in shingle_rows:
        expected = minhash_np(np.array(sh, dtype=np.int64), a, b)
        assert np.array_equal(got[doc_id], expected), f"doc {doc_id}"


def test_minhash_empty_doc_sentinel(spark):
    df = spark.createDataFrame([(1, [])], "doc_id long, shingles array<long>")
    mh = minhash_udf(8, 42)
    sig = df.select(mh("shingles").alias("s")).first().s
    assert all(v == EMPTY_SIG_FILL for v in sig)


def test_minhash_similarity_estimate(spark):
    # E[fraction of equal sig positions] = Jaccard (the MinHash property)
    rng = np.random.RandomState(0)
    base = rng.randint(0, 2**60, size=200).tolist()
    # |A|=200, |B|=240, overlap 160 -> union 280 -> jaccard = 160/280 ≈ 0.571
    other = base[:160] + rng.randint(2**60, 2**61, size=80).tolist()
    df = spark.createDataFrame(
        [(0, base), (1, other)], "doc_id long, shingles array<long>"
    )
    mh = minhash_udf(256, 42)
    rows = df.select(mh("shingles").alias("sig")).collect()
    s0, s1 = np.array(rows[0].sig), np.array(rows[1].sig)
    est = (s0 == s1).mean()
    true_j = 160 / 280
    assert abs(est - true_j) < 0.1


def test_simhash_matches_numpy_oracle(spark, shingle_rows):
    df = spark.createDataFrame(shingle_rows, "doc_id long, shingles array<long>")
    sh = simhash_udf()
    got = {r.doc_id: r.h for r in df.select("doc_id", sh("shingles").alias("h")).collect()}
    for doc_id, s in shingle_rows:
        assert got[doc_id] == int(simhash_np(np.array(s, dtype=np.int64))), f"doc {doc_id}"


def test_simhash_near_texts_low_hamming(spark):
    rng = np.random.RandomState(3)
    base = rng.randint(0, 2**61, size=300)
    near = base.copy()
    near[:15] = rng.randint(0, 2**61, size=15)  # 5% changed
    far = rng.randint(0, 2**61, size=300)
    df = spark.createDataFrame(
        [(0, base.tolist()), (1, near.tolist()), (2, far.tolist())],
        "doc_id long, shingles array<long>",
    )
    sh = simhash_udf()
    h = {r.doc_id: r.h for r in df.select("doc_id", sh("shingles").alias("h")).collect()}
    ham_near = bin((h[0] ^ h[1]) & (2**64 - 1)).count("1")
    ham_far = bin((h[0] ^ h[2]) & (2**64 - 1)).count("1")
    assert ham_near < 10
    assert ham_far > 15


def test_hyperplane_simhash_cosine_property(spark):
    # near-collinear vectors collide on most bits; orthogonal ~half
    rng = np.random.RandomState(5)
    v = rng.standard_normal(64)
    v /= np.linalg.norm(v)
    near = v + 0.05 * rng.standard_normal(64)
    near /= np.linalg.norm(near)
    far = rng.standard_normal(64)
    far /= np.linalg.norm(far)
    df = spark.createDataFrame(
        [(0, v.tolist()), (1, near.tolist()), (2, far.tolist())],
        "vec_id long, embedding array<float>",
    )
    hp = hyperplane_simhash_udf(dim=64, bits=64, seed=42)
    h = {r.vec_id: r.h for r in df.select("vec_id", hp("embedding").alias("h")).collect()}
    ham_near = bin((h[0] ^ h[1]) & (2**64 - 1)).count("1")
    ham_far = bin((h[0] ^ h[2]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far


def test_udf_deterministic_across_partitionings(spark, shingle_rows):
    # same results at 1 partition and 8 partitions (executor determinism —
    # the north_rule reproducibility requirement)
    mh = minhash_udf(64, 42)
    df1 = spark.createDataFrame(shingle_rows, "doc_id long, shingles array<long>").coalesce(1)
    df8 = spark.createDataFrame(shingle_rows, "doc_id long, shingles array<long>").repartition(8)
    r1 = {r.doc_id: tuple(r.sig) for r in df1.select("doc_id", mh("shingles").alias("sig")).collect()}
    r8 = {r.doc_id: tuple(r.sig) for r in df8.select("doc_id", mh("shingles").alias("sig")).collect()}
    assert r1 == r8


def test_ngram_shingles_match_expression_form(spark):
    """The NGram-based gram builder (compiled Scala sliding window, the
    production path since round 4) must emit byte-identical shingles to
    the pure-Column-expression form it replaced, for BOTH hash families,
    including the degenerate rows: null text, empty, whitespace-only,
    fewer-than-k tokens (whole-doc single shingle), exactly-k tokens."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.shingles import (
        shingle_hashes_col,
        shingle_strings_col,
        with_shingle_strings,
        with_shingles,
        with_tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one two"),
            (5, "a b c d e"),
            (6, "a b c d e f"),
            (7, "the quick   brown fox jumps over the lazy dog again and again"),
            (8, "Mixed CASE Tokens split OVER  whitespace runs\tand tabs here"),
        ],
        "doc_id long, text string",
    )
    for fam in ("xxhash64", "md5_60"):
        new = with_shingles(docs, k=5, hash_family=fam).select("doc_id", "shingles")
        t = with_tokens(docs)
        old = t.withColumn(
            "shingles",
            F.when(
                F.col("text").isNull() | (F.size(F.col("toks")) == 0),
                F.array().cast("array<bigint>"),
            ).otherwise(shingle_hashes_col(F.col("toks"), 5, fam)),
        ).select("doc_id", "shingles")
        assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0, fam

    new_s = with_shingle_strings(docs, k=5).select("doc_id", "shingle_strs")
    t = with_tokens(docs)
    old_s = t.withColumn(
        "shingle_strs",
        F.when(
            F.col("text").isNull() | (F.size(F.col("toks")) == 0),
            F.array().cast("array<string>"),
        ).otherwise(shingle_strings_col(F.col("toks"), 5)),
    ).select("doc_id", "shingle_strs")
    assert new_s.exceptAll(old_s).count() == 0 and old_s.exceptAll(new_s).count() == 0


def test_minhash_params_growth_stable():
    """Round-4 ADVICE: growing num_perm (use_adaptive_bands extending
    signature_len 128->160) must not change the first 128 (a, b) pairs —
    otherwise persisted signature stores are silently invalidated."""
    for n_small, n_big in ((128, 160), (160, 192), (64, 128), (8, 160)):
        a_s, b_s = minhash_params(n_small, 42)
        a_b, b_b = minhash_params(n_big, 42)
        assert np.array_equal(a_s, a_b[: n_small])
        assert np.array_equal(b_s, b_b[: n_small])
    # and the canonical 128-perm family is pinned (committed fixtures,
    # recall artifacts, and persisted stores all assume it): legacy layout
    import numpy as _np
    rng = _np.random.RandomState(42)
    p = (1 << 61) - 1
    legacy_a = rng.randint(1, p, size=128, dtype=_np.uint64) | _np.uint64(1)
    legacy_b = rng.randint(0, p, size=128, dtype=_np.uint64)
    a, b = minhash_params(128, 42)
    assert np.array_equal(a, legacy_a) and np.array_equal(b, legacy_b)


def test_signature_udfs_degrade_on_null_arrays(spark):
    """Round-5 review: a NULL shingle array (external/joined tables —
    with_shingles itself never produces one) must degrade like the empty
    array instead of len(None) killing the Arrow batch."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.minhash import (
        minhash_udf,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.functions.simhash import (
        simhash_udf,
    )

    df = spark.createDataFrame(
        [(1, [11, 22, 33]), (2, None), (3, [])],
        "doc_id long, shingles array<bigint>",
    )
    mh = minhash_udf(8, 42)
    sh = simhash_udf()
    got = {
        r.doc_id: (r.sig, r.sim)
        for r in df.select(
            "doc_id", mh("shingles").alias("sig"), sh("shingles").alias("sim")
        ).collect()
    }
    assert got[2] == got[3]  # NULL == empty sentinel
    assert got[1][0] != got[2][0]


def test_simhash_udf_matches_oracle_on_edge_rows(spark):
    """The bit-vote kernel equals ``simhash_np`` on web-sized rows and on
    the edges: empty and NULL arrays (0), one shingle (its own bits), and
    tied votes, where a bit set in exactly half the shingles is set."""
    rng = np.random.RandomState(5)
    rows = [
        (i, rng.randint(-(2**63), 2**63 - 1, size=rng.randint(200, 261), dtype=np.int64).tolist())
        for i in range(24)
    ]
    rows += [
        (100, []),
        (101, None),
        (102, [-(2**63)]),  # one shingle: the sign bit alone
        (103, [0, -1]),  # every bit tied
        (104, [0b0110, 0b0101]),  # bits 1 and 2 tied, bit 0 tied, bit 3 unset
        (105, [7, 7, 0, 0, 1 << 62, -1]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<long>")
    got = {r.doc_id: r.h for r in df.select("doc_id", simhash_udf()("shingles").alias("h")).collect()}
    for doc_id, s in rows:
        want = int(simhash_np(np.array(s or [], dtype=np.int64)))
        assert got[doc_id] == want, f"doc {doc_id}"
    assert got[101] == 0
    assert got[102] == -(2**63)
    assert got[103] == -1
    assert got[104] == 0b0111


def test_minhash_udf_reduction_edges(spark):
    """The UDF's shift-and-mask reduction equals ``% p`` where it can go
    wrong: shingles crafted as ``s = (x - b) * a^-1 mod 2^64`` make
    ``a*s + b`` wrap to ``x`` = p-1, p, p+1, 2p and 2^64-1 (residues p-1,
    0, 1, 0 and 7) at chosen permutations."""
    p = (1 << 61) - 1
    targets = [p - 1, p, p + 1, 2 * p, (1 << 64) - 1]
    a, b = minhash_params(128, 42)
    rows, want_at = [], {}
    for x in targets:
        for perm in (0, 63, 127):
            ai, bi = int(a[perm]), int(b[perm])
            s = (x - bi) * pow(ai, -1, 1 << 64) % (1 << 64)
            s = s - (1 << 64) if s >= 1 << 63 else s
            rows.append((len(rows), [s]))
            want_at[len(rows) - 1] = (perm, x % p)
    rows.append((len(rows), [s for _, (s,) in rows]))  # all in one doc
    df = spark.createDataFrame(rows, "doc_id long, shingles array<long>")
    mh = minhash_udf(num_perm=128, seed=42)
    got = {r.doc_id: np.array(r.sig) for r in df.select("doc_id", mh("shingles").alias("sig")).collect()}
    for doc_id, sh in rows:
        want = minhash_np(np.array(sh, dtype=np.int64), a, b)
        assert np.array_equal(got[doc_id], want), f"doc {doc_id}"
    for doc_id, (perm, residue) in want_at.items():
        assert got[doc_id][perm] == residue, f"doc {doc_id}"
