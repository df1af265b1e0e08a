"""ANN (brute-force + LSH), chamfer scoring, forest-vote ranking, metrics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import with_signatures
from lsh_forest_for_multi_vector_retrieval_spark.operators.chamfer import (
    best_document,
    chamfer_distance,
    chamfer_scores,
    rank_documents,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.forest_vote import (
    forest_vote_scores,
    get_top_k,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.metrics import (
    mrr_at_k,
    pair_precision,
    pair_recall,
    recall_at_k,
)
from test_plaid_probe import _conf

SF = "/root/testdata/sf0.001"

# Arrow batches of 3 rows: a vector kernel's batches then cut through
# clean and degenerate rows alike
BATCH_3 = "spark.sql.execution.arrow.maxRecordsPerBatch", "3"


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").persist()
    df.count()
    return df


def test_brute_force_topk_matches_numpy(spark, embeddings):
    pdf = embeddings.orderBy("vec_id").toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray))
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)
    np.fill_diagonal(cos, -np.inf)

    queries = embeddings.where(F.col("vec_id") < 5)
    got = brute_force_topk(embeddings, queries, k=3).collect()
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append((r.rank, r.n_id))
    for q in range(5):
        want = ids[np.argsort(-cos[q])[:3]].tolist()
        have = [n for _, n in sorted(by_q[q])]
        assert have == want, f"q={q}: {have} != {want}"


def test_lsh_topk_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 50)
    bf = brute_force_topk(embeddings, queries, k=10)
    approx = lsh_topk(embeddings, queries, k=10, dim=64, bits=64, n_chunks=16)
    r = recall_at_k(
        approx.select("q_id", "n_id", "cosine"),
        bf.select("q_id", "n_id", "cosine"),
        k=10,
    )
    mean_recall = r.agg(F.avg("recall_at_k")).first()[0]
    # 16 blocks x 4 bits measures ~0.90 on this fixture (true top-10
    # averages cosine 0.30 — hard neighbors); the reference's recursive
    # forest sits at 0.21-0.38 Recall@100 (BASELINE.md)
    assert mean_recall > 0.8, mean_recall


def test_embedding_near_dup_pairs_finds_planted(spark):
    rng = np.random.RandomState(11)
    base = rng.standard_normal(64).astype(np.float32)
    near = base + 0.01 * rng.standard_normal(64).astype(np.float32)
    far = rng.standard_normal(64).astype(np.float32)
    df = spark.createDataFrame(
        [(0, base.tolist()), (1, near.tolist()), (2, far.tolist())],
        "vec_id long, embedding array<float>",
    )
    got = {(r.doc_a, r.doc_b) for r in embedding_near_dup_pairs(df, 0.99).collect()}
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got


def test_chamfer_hand_computed(spark):
    # reference fixture style (chamfer_approximation.ipynb cell 1):
    # doc A = {(1,0),(0,1)}, queries = {(1,0),(1,1)}
    # chamfer(A) = max(1,0) + max(1,1) = 1 + 1 = 2
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0]), (2, [0.0, -1.0])],
        "doc_id long, embedding array<float>",
    )
    qs = spark.createDataFrame(
        [([1.0, 0.0],), ([1.0, 1.0],)], "embedding array<float>"
    )
    got = {r.doc_id: r.chamfer for r in chamfer_scores(docs, qs).collect()}
    assert got[1] == pytest.approx(2.0)
    # doc 2 dots: q1·(-1,0)=-1, q1·(0,-1)=0 -> max 0; q2·(-1,0)=-1, q2·(0,-1)=-1 -> max -1
    assert got[2] == pytest.approx(0.0 + -1.0)


def test_chamfer_distance_hand_computed(spark):
    a = spark.createDataFrame(
        [(1, [0.0, 0.0]), (1, [3.0, 4.0])], "doc_id long, embedding array<float>"
    )
    b = spark.createDataFrame([([0.0, 0.0],)], "embedding array<float>")
    got = chamfer_distance(a, b).first()
    assert got.chamfer_dist == pytest.approx((0.0 + 5.0) / 2)


def test_chamfer_quantized_mode(spark):
    # quantize_digits=6: per-dot round to micro-units -> exact integer
    # max/sum (the oracle-exact mode behind the chamfer_* driver queries)
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0]), (2, [0.0, -1.0])],
        "doc_id long, embedding array<float>",
    )
    qs = spark.createDataFrame(
        [([1.0, 0.0],), ([1.0, 1.0],)], "embedding array<float>"
    )
    got = chamfer_scores(docs, qs, quantize_digits=6)
    assert dict(got.dtypes)["chamfer"] == "bigint"
    vals = {r.doc_id: r.chamfer for r in got.collect()}
    assert vals[1] == 2_000_000 and vals[2] == -1_000_000

    a = spark.createDataFrame(
        [(1, [0.0, 0.0]), (1, [3.0, 4.0])], "doc_id long, embedding array<float>"
    )
    b = spark.createDataFrame([([0.0, 0.0],)], "embedding array<float>")
    got_d = chamfer_distance(a, b, quantize_digits=6).first()
    assert got_d.chamfer_dist == pytest.approx(2.5, abs=1e-6)


def test_rank_and_best_document(spark):
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1)], "doc_id long, chamfer double"
    )
    ranked = {r.doc_id: r.rank for r in rank_documents(scores).collect()}
    assert ranked == {2: 1, 3: 2, 1: 3, 4: 4}  # tie broken by doc_id
    assert best_document(scores).first().doc_id == 2


def test_rank_documents_topk_uses_take_ordered(spark):
    """Round-4 VERDICT #6: with k set, the plan must be a partial top-k
    (TakeOrderedAndProject), not a global single-partition row_number sort
    — and the rows must equal the windowed ranking's first k."""
    scores = spark.createDataFrame(
        [(i, float((i * 37) % 100)) for i in range(1000)],
        "doc_id long, chamfer double",
    )
    got = rank_documents(scores, k=7)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    rows = {(r.doc_id, r.rank) for r in got.collect()}
    full = {
        (r.doc_id, r.rank)
        for r in rank_documents(scores).collect()
        if r.rank <= 7
    }
    assert rows == full


def test_chamfer_deterministic_under_repartition(spark):
    """q_idx/a_idx derivation must not depend on partitioning (round-4
    VERDICT #8: monotonically_increasing_id violated the engine's own
    determinism rule)."""
    rng = np.random.RandomState(7)
    docs = spark.createDataFrame(
        [(int(i % 20), rng.randn(8).tolist()) for i in range(200)],
        "doc_id long, embedding array<float>",
    )
    qs = spark.createDataFrame(
        [(rng.randn(8).tolist(),) for _ in range(5)], "embedding array<float>"
    )
    base = {r.doc_id: r.chamfer for r in chamfer_scores(docs, qs).collect()}
    rep = {
        r.doc_id: r.chamfer
        for r in chamfer_scores(docs.repartition(13), qs.repartition(3)).collect()
    }
    assert base == rep
    d_base = {r.doc_id: r.chamfer_dist for r in chamfer_distance(docs, qs).collect()}
    d_rep = {
        r.doc_id: r.chamfer_dist
        for r in chamfer_distance(docs.repartition(11), qs.coalesce(1)).collect()
    }
    assert d_base == d_rep


def test_forest_vote_ranks_planted_duplicate_first(spark):
    # planted-match correctness (chamfer_approx_planted_match.ipynb cells
    # 2,4-5): the near-duplicate must rank #1 for its query
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import generate_pages

    pages = generate_pages(
        spark, n_clusters=8, cluster_size=2, n_singletons=40, max_mutation=0.05
    )
    cfg = DedupConfig()
    sigs = with_signatures(pages.select("doc_id", "text"), cfg).select(
        "doc_id", "shingles", "sig"
    ).persist()
    # queries = the mutated cluster members (odd ids < 16); their planted
    # base is doc_id-1
    queries = sigs.where((F.col("doc_id") < 16) & (F.col("doc_id") % 2 == 1))
    corpus = sigs.where((F.col("doc_id") % 2 == 0) | (F.col("doc_id") >= 16))
    scores = forest_vote_scores(corpus, queries, cfg)
    top1 = get_top_k(scores, k=1).collect()
    assert len(top1) == 8
    for r in top1:
        assert r.doc_id == r.query_id - 1, f"query {r.query_id} ranked {r.doc_id} first"
        assert r.score == pytest.approx(1.0)  # max-normalized


def test_forest_vote_node_cap_preserves_topk(spark):
    # F5 pivot-cap semantics (reference lsh_forest.py:117-119): excluding
    # trie nodes with > max_node_docs corpus docs before the query join
    # must leave top-k essentially unchanged (mega-nodes carry ~zero score
    # after the popularity IDF), while actually pruning something. A
    # shared boilerplate footer forces depth-1 mega-nodes (the 100-TB
    # skew shape: every page of a site shares chrome).
    from lsh_forest_for_multi_vector_retrieval_spark.operators.forest_vote import (
        prefix_table,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import generate_pages

    boiler = (
        " copyright example site all rights reserved privacy terms of"
        " service cookie notice subscribe to our newsletter follow us"
    )
    # clusters of 6: each query (member 1 of its cluster) has 5 genuine
    # near-dup cluster-mates, so its top-5 is saturated by real matches —
    # the cap may only touch junk-tail candidates, which is precisely the
    # semantics it promises (mega-nodes carry ~zero score)
    n_cl, csz = 25, 6
    pages = generate_pages(
        spark, n_clusters=n_cl, cluster_size=csz, n_singletons=50,
        max_mutation=0.05, seed=11,
    ).withColumn("text", F.concat(F.col("text"), F.lit(boiler * 3)))
    cfg = DedupConfig()
    sigs = with_signatures(pages.select("doc_id", "text"), cfg).select(
        "doc_id", "shingles", "sig"
    ).persist()
    queries = sigs.where(
        (F.col("doc_id") < n_cl * csz) & (F.col("doc_id") % csz == 1)
    )
    corpus = sigs.where(
        (F.col("doc_id") % csz != 1) | (F.col("doc_id") >= n_cl * csz)
    )

    # cap sits in the size gap between content-bearing nodes (<=~42 docs
    # here — measured histogram: <=9 content, 22-42 partial-boilerplate,
    # one 118-doc global-boilerplate node) and the corpus-wide mega-node —
    # mirroring the production default (512) vs real corpora, where the
    # gap is orders of magnitude
    cap = 48
    # the cap must be non-vacuous on this fixture: boilerplate creates
    # nodes holding more than `cap` of the ~175 corpus docs
    node_sizes = (
        prefix_table(corpus, cfg)
        .groupBy("band_id", "depth", "prefix_hash")
        .count()
    )
    assert node_sizes.where(F.col("count") > cap).count() > 0

    capped = {
        (r.query_id, r.doc_id)
        for r in get_top_k(
            forest_vote_scores(corpus, queries, cfg, max_node_docs=cap), k=5
        ).collect()
    }
    uncapped = {
        (r.query_id, r.doc_id)
        for r in get_top_k(
            forest_vote_scores(corpus, queries, cfg, max_node_docs=None), k=5
        ).collect()
    }
    # planted base doc still ranks in top-5 for every query under the cap
    for c in range(n_cl):
        assert (c * csz + 1, c * csz) in capped
    # membership shift < 1% of top-k entries (only boilerplate-only tail
    # matches — near-zero score — may drop out)
    diff = len(capped ^ uncapped)
    assert diff / max(len(uncapped), 1) < 0.01, f"top-k changed: {diff} memberships"
    sigs.unpersist()


def test_depth_weight_schemes_match_reference_formulas(spark):
    """SURVEY S1 (reference ``_depth_weight``, forest_vote.py:156-166):
    exponential gamma^l, linear (l+1)/(L+1) capped at 1, logistic
    1/(1+exp(alpha*(L/2-l)))."""
    import math

    from lsh_forest_for_multi_vector_retrieval_spark.operators.forest_vote import (
        depth_weight_col,
    )

    L, gamma, alpha = 8, 0.8, 0.5
    depths = spark.range(0, L + 2).select(F.col("id").cast("int").alias("d"))
    want = {
        "exponential": lambda d: gamma**d,
        "linear": lambda d: min((d + 1) / (L + 1), 1.0),
        "logistic": lambda d: 1.0 / (1.0 + math.exp(alpha * (L / 2 - d))),
    }
    for scheme, ref in want.items():
        w = depth_weight_col(F.col("d"), scheme, L, gamma, alpha)
        got = dict(depths.select("d", w.alias("w")).collect())
        for d, v in got.items():
            assert v == pytest.approx(ref(d), rel=1e-12), (scheme, d)
    # hand values
    one = spark.range(1)
    assert one.select(
        depth_weight_col(F.lit(2), "exponential", L, gamma, alpha)
    ).first()[0] == pytest.approx(0.64)
    assert one.select(
        depth_weight_col(F.lit(2), "linear", L, gamma, alpha)
    ).first()[0] == pytest.approx(1 / 3)
    assert one.select(
        depth_weight_col(F.lit(4), "logistic", L, gamma, alpha)
    ).first()[0] == pytest.approx(0.5)
    with pytest.raises(ValueError, match="unknown depth-weight scheme"):
        depth_weight_col(F.col("d"), "harmonic", L, gamma, alpha)


def test_forest_vote_popularity_and_weight_floor_hand_scores(spark):
    """Two knobs on a 2-tree, depth-2 fixture, against hand-computed
    scores. Query [1,2 | 5,9]; corpus d1 [1,2 | 5,6], d2 [1,9 | 5,6],
    d3 [7,8 | 7,7] (no shared prefix). First-seen depths: d1 tree0 2
    (node {d1}), d1 tree1 1, d2 trees 0 and 1 at 1 (nodes {d1,d2}).
    With gamma=0.5 the depth weights are w(1)=0.5 and w(2)=0.25."""
    import math

    cfg = DedupConfig(num_perm=4, num_bands=2, rows_per_band=2)
    corpus = spark.createDataFrame(
        [(1, [1, 2, 5, 6]), (2, [1, 9, 5, 6]), (3, [7, 8, 7, 7])],
        "doc_id long, sig array<long>",
    )
    query = spark.createDataFrame([(10, [1, 2, 5, 9])], "doc_id long, sig array<long>")

    def scores(**kw):
        got = forest_vote_scores(corpus, query, cfg, gamma=0.5, beta=0.4, **kw)
        return {r.doc_id: r.score for r in got.collect()}

    # S2 on: contrib = w * log1p(n_docs / node_docs)^beta, n_docs = 3;
    # tree 0 normalizes d1 by d2's contribution, tree 1 ties at 1
    pop = lambda node_docs: math.log1p(3 / node_docs) ** 0.4  # noqa: E731
    d1_tree0 = (0.25 * pop(1)) / (0.5 * pop(2))
    got = scores()
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx((d1_tree0 + 1.0) / 2.0, rel=1e-12)
    assert got[2] == pytest.approx(1.0)
    # use_popularity=False drops the IDF factor: tree 0 is 0.25 / 0.5
    got = scores(use_popularity=False)
    assert got[1] == pytest.approx(0.75) and got[2] == pytest.approx(1.0)
    # weight_floor drops the (query, doc, tree) rows at or below it: d1's
    # depth-2 row (w = 0.25) goes, so d1 scores in tree 1 only
    got = scores(weight_floor=0.25)
    assert got[1] == pytest.approx(0.5) and got[2] == pytest.approx(1.0)
    # a floor at the largest weight leaves nothing
    assert scores(weight_floor=0.5) == {}


def test_pair_recall_precision(spark):
    pred = spark.createDataFrame([(1, 2), (3, 4), (5, 6)], "doc_a long, doc_b long")
    truth = spark.createDataFrame([(1, 2), (3, 4), (7, 8)], "doc_a long, doc_b long")
    assert pair_recall(pred, truth) == pytest.approx(2 / 3)
    assert pair_precision(pred, truth) == pytest.approx(2 / 3)


def test_mrr(spark):
    ranks = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q2", 12, 1), ("q2", 13, 2)],
        "q_id string, n_id long, rank int",
    )
    rel = spark.createDataFrame([("q1", 11), ("q2", 99)], "q_id string, n_id long")
    # q1: first relevant at rank 2 -> 1/2; q2: none -> 0; MRR = 0.25
    assert mrr_at_k(ranks, rel, k=10) == pytest.approx(0.25)


def test_embedding_near_dup_recall_on_planted_fixture(spark):
    # VERDICT r01: embedding_near_dups was vacuously green (0 rows, no
    # planted cosine-dups anywhere). This gates the LSH-blocked operator
    # at recall >= 0.95 against 40 planted pairs at cosine ~0.995
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import (
        brute_force_near_dup_pairs,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.operators.metrics import (
        pair_recall,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.sources.vectors import (
        generate_embeddings,
    )

    emb = generate_embeddings(
        spark, n_base=400, n_dup_pairs=40, dim=64, noise=0.1, seed=42
    ).persist()
    truth = emb.where(F.col("dup_of") >= 0).select(
        F.col("dup_of").alias("doc_a"), F.col("vec_id").alias("doc_b")
    )
    assert truth.count() == 40
    got = embedding_near_dup_pairs(emb, min_cosine=0.95, dim=64, n_chunks=8)
    assert pair_recall(got.select("doc_a", "doc_b"), truth) >= 0.95
    # and the LSH pair set must agree with the exact brute-force twin on
    # what it does return (no false positives above the threshold)
    exact = brute_force_near_dup_pairs(emb, min_cosine=0.95)
    assert pair_recall(got.select("doc_a", "doc_b"), exact.select("doc_a", "doc_b")) >= 0.95
    extra = got.select("doc_a", "doc_b").exceptAll(exact.select("doc_a", "doc_b"))
    assert extra.count() == 0


def _sparse_outlier_corpus(spark):
    """120 vectors in a tight cluster plus one outlier (vec_id 999)
    orthogonal to the cluster center: ``(df, center, outlier)``."""
    rng = np.random.RandomState(7)
    center = rng.standard_normal(64)
    center /= np.linalg.norm(center)
    rows = []
    for i in range(120):
        v = center + 0.05 * rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
    # the sparse-region outlier: orthogonalized against the cluster center
    out = rng.standard_normal(64)
    out -= out.dot(center) * center
    out /= np.linalg.norm(out)
    rows.append((999, out.astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, center, out


def test_lsh_topk_ensure_k_fills_sparse_queries(spark):
    # Q4 ascend fallback (ref utils.py:168-187): a query vector orthogonal
    # to a tight corpus cluster lands in empty leaf buckets; ensure_k must
    # widen (half-width chunks, then root) and return exactly k rows
    df, _, _ = _sparse_outlier_corpus(spark)

    k = 5
    # 4 chunks x 16 bits: very selective blocks — without the fallback the
    # outlier collects (almost) no candidates
    bare = lsh_topk(df, df.where(F.col("vec_id") == 999), k=k, dim=64, n_chunks=4)
    ensured = lsh_topk(
        df, df.where(F.col("vec_id") == 999), k=k, dim=64, n_chunks=4, ensure_k=True
    )
    assert bare.count() < k  # the sparse query really is under-served
    assert ensured.count() == k
    # the root fallback is exact, so the filled rows equal brute-force top-k
    bf = brute_force_topk(df, df.where(F.col("vec_id") == 999), k=k)
    assert {r.n_id for r in ensured.collect()} == {r.n_id for r in bf.collect()}
    # every query saturated when querying the full set
    counts = (
        lsh_topk(df, df, k=k, dim=64, n_chunks=4, ensure_k=True)
        .groupBy("q_id")
        .count()
        .collect()
    )
    assert len(counts) == 121 and all(r["count"] == k for r in counts)


def test_ivf_topk_root_fallback_fills_sparse_queries(spark):
    """ivf_topk's ensure_k root fallback: with a two-cell codebook (the
    cluster center and the outlier's own direction) and nprobe=1, the
    outlier's only probed cell holds no other vector, so without the
    fallback it gets no rows; with it, the exact broadcast scan gives it
    brute-force's top-k while the saturated queries keep k rows."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import ivf_topk

    df, center, out = _sparse_outlier_corpus(spark)
    codebook = [center.tolist(), out.tolist()]
    outlier = df.where(F.col("vec_id") == 999)
    k = 5

    bare = ivf_topk(df, outlier, k=k, centroids=codebook, nprobe=1)
    assert bare.count() < k
    ensured = ivf_topk(
        df, outlier, k=k, centroids=codebook, nprobe=1, ensure_k=True
    ).collect()
    assert len(ensured) == k
    bf = brute_force_topk(df, outlier, k=k).collect()
    assert {r.n_id for r in ensured} == {r.n_id for r in bf}
    counts = (
        ivf_topk(df, df, k=k, centroids=codebook, nprobe=1, ensure_k=True)
        .groupBy("q_id")
        .count()
        .collect()
    )
    assert len(counts) == 121 and all(r["count"] == k for r in counts)


def test_ivf_topk_recall_and_ensure_k(spark, embeddings):
    """IVF strategy: nprobe/n_centroids = 1/2 of the cells still recovers
    most of the true top-10 (cells group by direction, neighbors share
    cells), ensure_k guarantees exactly k rows per query, and the result
    is invariant to physical partitioning (literal codebook + 6dp
    rounding)."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import ivf_topk
    from lsh_forest_for_multi_vector_retrieval_spark.operators.metrics import (
        recall_at_k,
    )

    queries = embeddings.where(F.col("vec_id") < 50)
    bf = brute_force_topk(embeddings, queries, k=10)
    iv = ivf_topk(
        embeddings, queries, k=10, n_centroids=16, nprobe=8, iters=20,
        ensure_k=True, round_digits=6,
    )
    counts = iv.groupBy("q_id").count().collect()
    assert len(counts) == 50 and all(r["count"] == 10 for r in counts)
    r = recall_at_k(
        iv.select("q_id", "n_id", "cosine"),
        bf.select("q_id", "n_id", "cosine"),
        k=10,
    )
    mean_recall = r.agg(F.avg("recall_at_k")).first()[0]
    assert mean_recall > 0.7, mean_recall

    iv2 = ivf_topk(
        embeddings.repartition(13), queries.coalesce(1), k=10,
        n_centroids=16, nprobe=8, iters=20, ensure_k=True, round_digits=6,
    )
    assert iv.exceptAll(iv2).count() == 0
    assert iv2.exceptAll(iv).count() == 0


def test_ivf_pandas_assignment_matches_fold(spark, embeddings):
    """The vectorized GEMM+argmax assignment (production path) returns the
    same top-k as the bit-reproducible fold path on this corpus (ulp ties
    between centroid scores are absent here, so the paths agree exactly)."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import ivf_topk

    queries = embeddings.where(F.col("vec_id") < 20)
    kw = dict(k=10, n_centroids=16, nprobe=4, iters=10, ensure_k=True,
              round_digits=6)
    a = ivf_topk(embeddings, queries, assignment="fold", **kw)
    b = ivf_topk(embeddings, queries, assignment="pandas", **kw)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_ivf_fold_builds_the_codebook_literal_once(spark, embeddings, monkeypatch):
    """``nearest_centroid`` is the one assignment switch: a typo raises
    from it, and on the fold path ``ivf_topk``'s cell and probe share one
    codebook literal (its build is a measured driver cost)."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions import vectors
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import ivf_topk

    codebook = np.random.RandomState(3).standard_normal((8, 64)).tolist()
    with pytest.raises(ValueError, match="assignment must be"):
        vectors.nearest_centroid(codebook, "embedding", "Pandas")

    builds = []
    real = vectors._codebook_literal
    monkeypatch.setattr(
        vectors, "_codebook_literal", lambda c: builds.append(1) or real(c)
    )
    queries = embeddings.where(F.col("vec_id") < 20)
    for assignment in ("fold", "pandas"):
        vectors._centroid_scores_arr.cache_clear()
        builds.clear()
        ivf_topk(embeddings, queries, centroids=codebook, ensure_k=False,
                 assignment=assignment)
        assert len(builds) == 1, assignment


def test_pandas_scoring_matches_fold(spark, embeddings):
    """Round-4 VERDICT Next-#2: the Arrow einsum re-rank (production) must
    return identical top-k / pairs as the interpreted HOF fold (oracle) at
    6dp rounding, for every ANN operator that grew a scoring knob."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import ivf_topk

    queries = embeddings.where(F.col("vec_id") < 20)
    kw = dict(k=10, dim=64, bits=64, n_chunks=16, ensure_k=True, round_digits=6)
    a = lsh_topk(embeddings, queries, scoring="fold", **kw)
    b = lsh_topk(embeddings, queries, scoring="pandas", **kw)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    ikw = dict(k=10, n_centroids=16, nprobe=4, iters=10, ensure_k=True,
               round_digits=6, assignment="pandas")
    ia = ivf_topk(embeddings, queries, scoring="fold", **ikw)
    ib = ivf_topk(embeddings, queries, scoring="pandas", **ikw)
    assert ia.exceptAll(ib).count() == 0 and ib.exceptAll(ia).count() == 0

    pa = embedding_near_dup_pairs(embeddings, min_cosine=0.3, scoring="fold")
    pb = embedding_near_dup_pairs(embeddings, min_cosine=0.3, scoring="pandas")
    ka = {(r.doc_a, r.doc_b) for r in pa.collect()}
    kb = {(r.doc_a, r.doc_b) for r in pb.collect()}
    assert ka == kb and ka  # same pairs, non-empty at this loose threshold

    with pytest.raises(ValueError):
        lsh_topk(embeddings, queries, scoring="Pandas", **kw)


def test_near_dup_pairs_signature_computed_once(spark, embeddings):
    """Round-4 VERDICT #4: both self-join sides must read the eagerly
    checkpointed signature table — the executed plan contains NO Python
    UDF eval (the signature UDF ran once at checkpoint time), killing both
    the double compute and the lazy-plan+AQE accumulator-race shape."""
    out = embedding_near_dup_pairs(embeddings, min_cosine=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_pandas_scoring_null_and_ragged_rows_score_null(spark):
    """Round-5 self-review: the Arrow kernels must DEGRADE like the fold
    on bad rows, not crash the task. The fold's two failure shapes
    differ: a NULL input array makes dot_col fold to NULL and makes
    cosine_col's when(denom > 0) condition NULL, so the otherwise(0.0)
    catches it — cosine 0.0, dot NULL; a ragged length mismatch
    null-pads zip_with so the dot folds to NULL while the norms stay
    finite — cosine NULL, dot NULL. Crucially NULL and never NaN: Spark
    orders NaN above every number, so a NaN score would PASS a
    `score >= threshold` filter that a NULL (or 0.0) correctly fails."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import (
        cosine_col,
        cosine_pandas_udf,
        dot_col,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], [1.0, 0.0]),   # clean
            (1, None, [1.0, 0.0]),         # null left
            (2, [1.0, 0.0], None),         # null right
            (3, [1.0, 0.0, 2.0], [1.0, 0.0]),  # ragged
            (4, [0.0, 0.0], [0.0, 0.0]),   # zero denom -> 0.0, not null
            # cross-row heterogeneity in ONE Arrow batch: equal-shape
            # pairs of a DIFFERENT dim than the rest must SCORE (the
            # per-row fold has no notion of "the batch's dim"), and an
            # empty-empty pair folds to dot 0.0 / cosine 0.0 — neither
            # may crash np.stack
            (5, [0.6, 0.8, 0.0], [0.6, 0.8, 0.0]),  # dim-3 among dim-2
            (6, [], []),                   # empty-empty
            # null ELEMENTS inside otherwise-sound arrays: Arrow hands
            # the kernel NaN for these, and a NaN score would outrank
            # every real one — dot_col folds them to NULL (any NULL
            # product folds the sum to NULL), and the cosine kernel must
            # score 0.0 like cosine_col's NULL-denom otherwise(0.0)
            (7, [1.0, None], [1.0, 0.0]),  # null element left
            (8, [1.0, 0.0], [None, None]),  # null elements right
            # genuine NaN DATA (not a null element): the Arrow kernel
            # cannot tell the two apart (both cross Arrow as NaN), so
            # the FOLD normalizes NaN results to NULL (dot) / 0.0
            # (cosine, via the NULL-denominator otherwise) too — without
            # that, fold scored NaN, which Spark orders ABOVE every
            # number, and the two paths returned different pair sets on
            # NaN-poisoned embeddings
            (9, [1.0, float("nan")], [1.0, 0.0]),
            (10, [float("nan"), float("nan")], [float("nan"), 1.0]),
        ],
        "id long, a array<double>, b array<double>",
    )
    got = (
        df.select(
            "id",
            cosine_pandas_udf()(F.col("a"), F.col("b")).alias("cos_pd"),
            cosine_col(F.col("a"), F.col("b")).alias("cos_fold"),
            dot_col(F.col("a"), F.col("b")).alias("dot_fold"),
        )
        .orderBy("id")
        .collect()
    )
    for r in got:
        # pandas path agrees with the fold row-for-row, including NULLs
        assert (r.cos_pd is None) == (r.cos_fold is None), r
        if r.cos_pd is not None:
            assert abs(r.cos_pd - r.cos_fold) < 1e-12, r
    assert got[0].cos_pd == pytest.approx(1.0)
    assert got[1].cos_pd == 0.0 and got[1].dot_fold is None  # null left
    assert got[2].cos_pd == 0.0 and got[2].dot_fold is None  # null right
    assert got[3].cos_pd is None and got[3].dot_fold is None  # ragged
    assert got[4].cos_pd == 0.0  # zero-denominator convention kept
    assert got[5].cos_pd == pytest.approx(1.0)  # off-dim pair still scores
    assert got[5].dot_fold == pytest.approx(1.0)
    assert got[6].cos_pd == 0.0 and got[6].dot_fold == 0.0  # empty-empty
    assert got[7].cos_pd == 0.0 and got[7].dot_fold is None  # null elem left
    assert got[8].cos_pd == 0.0 and got[8].dot_fold is None  # null elem right
    assert got[9].cos_pd == 0.0 and got[9].dot_fold is None  # genuine NaN
    assert got[10].cos_pd == 0.0 and got[10].dot_fold is None  # all-NaN
    # and the bad rows fail a threshold filter instead of passing as NaN
    kept = df.select(
        "id", cosine_pandas_udf()(F.col("a"), F.col("b")).alias("s")
    ).where(F.col("s") >= 0.5)
    assert [r.id for r in kept.collect()] == [0, 5]
    kept_dot = df.select(
        "id", dot_col(F.col("a"), F.col("b")).alias("s")
    ).where(F.col("s") >= 0.5)
    assert [r.id for r in kept_dot.collect()] == [0, 5]
    # the same rows in one partition, in 3-row Arrow batches: each batch
    # mixes clean and degenerate rows, and the kernel still agrees with
    # the fold row for row
    with _conf(spark, *BATCH_3):
        multi = df.coalesce(1).select(
            "id",
            cosine_pandas_udf()(F.col("a"), F.col("b")).alias("cos_pd"),
            cosine_col(F.col("a"), F.col("b")).alias("cos_fold"),
        ).collect()
    assert len(multi) == len(got)
    for r in multi:
        assert (r.cos_pd is None) == (r.cos_fold is None), r
        if r.cos_pd is not None:
            assert abs(r.cos_pd - r.cos_fold) < 1e-12, r


def test_pandas_centroid_assignment_degrades_like_fold(spark):
    """The production GEMM assignment kernel must tolerate NULL, ragged,
    and empty vectors by assigning cell 0 — exactly what the fold path
    does there (all per-centroid dots NULL -> struct max falls through
    to the lowest-cid tie-break) — instead of crashing np.stack."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import (
        centroid_scores_arr,
        nearest_centroid_pandas_udf,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(0, [0.1, 0.9]), (1, None), (2, [0.5]), (3, []), (4, [0.9, 0.1])],
        "id long, vec array<double>",
    )
    got = (
        df.select(
            "id",
            nearest_centroid_pandas_udf(cents)(F.col("vec")).alias("pd_cell"),
            F.array_max(centroid_scores_arr(cents, "vec"))["cid"].alias(
                "fold_cell"
            ),
        )
        .orderBy("id")
        .collect()
    )
    for r in got:
        assert r.pd_cell == r.fold_cell, r
    assert [r.pd_cell for r in got] == [1, 0, 0, 0, 0]
    # with NULL-element rows too, in one partition of 3-row Arrow batches
    more = df.unionByName(
        spark.createDataFrame(
            [(5, [None, 1.0]), (6, [0.2, 0.8]), (7, [1.0, None]), (8, [0.7, 0.3])],
            "id long, vec array<double>",
        )
    ).coalesce(1)
    with _conf(spark, *BATCH_3):
        multi = more.select(
            "id",
            nearest_centroid_pandas_udf(cents)(F.col("vec")).alias("pd_cell"),
            F.array_max(centroid_scores_arr(cents, "vec"))["cid"].alias("fold_cell"),
        ).collect()
    assert sorted((r.id, r.pd_cell) for r in multi) == sorted((r.id, r.fold_cell) for r in multi)
    assert sorted((r.id, r.pd_cell) for r in multi) == [
        (0, 1), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (6, 1), (7, 0), (8, 0)
    ]


def test_hyperplane_udf_degrades_on_bad_rows(spark):
    """Round-5 review: a NULL / ragged / wrong-dim embedding must yield a
    NULL signature (dropping the row from chunk blocking) instead of
    crashing the whole task via np.stack — the same degrade-not-crash
    convention as vectors._stack_pair_batch. Clean rows must be
    bit-identical to the documented matmul construction."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.simhash import (
        hyperplane_simhash_udf,
    )

    rng = np.random.RandomState(7)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(6)]
    rows += [(100, None), (101, [1.0, 2.0]), (102, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    hp = hyperplane_simhash_udf(dim=8, bits=64, seed=42)
    sigs = {r.vec_id: r.sig for r in df.select("vec_id", hp("embedding").alias("sig")).collect()}
    assert sigs[100] is None and sigs[101] is None and sigs[102] is None
    # clean-row parity with the straight NumPy construction (fixture safety)
    w = np.random.RandomState(42).standard_normal((8, 64))
    m = np.stack([r[1] for r in rows[:6]])
    words = (
        ((m @ w >= 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)[None, :])
        .sum(axis=1, dtype=np.uint64)
        .view(np.int64)
    )
    assert [sigs[i] for i in range(6)] == list(words)
    # a NULL or NaN element makes every projection NaN (sign 0); inf
    # elements sign by their infinite projections. The values are the
    # ones the pandas-UDF kernel gave; they hold in 3-row Arrow batches
    inf = float("inf")
    odd = spark.createDataFrame(
        rows
        + [
            (103, [1.0, None, 0.5, -0.5, 2.0, 0.0, 1.0, -1.0]),
            (104, [None] * 8),
            (105, [inf] + [0.0] * 7),
            (106, [-inf] + [0.0] * 7),
            (107, [inf, -inf, 1.0] + [0.0] * 5),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    with _conf(spark, *BATCH_3):
        odd_sigs = {
            r.vec_id: r.sig for r in odd.select("vec_id", hp("embedding").alias("sig")).collect()
        }
    assert odd_sigs == {
        **sigs,
        103: 0,
        104: 0,
        105: 929293572120908493,
        106: -929293572120908494,
        107: 586736309088813060,
    }
    # dirty corpus end-to-end: ensure_k still returns k rows per clean query
    clean = df.where(F.col("vec_id") < 100)
    res = lsh_topk(df, clean, k=3, dim=8, ensure_k=True, round_digits=6)
    cnt = {r.q_id: r["count"] for r in res.groupBy("q_id").count().collect()}
    assert all(v == 3 for v in cnt.values()), cnt


def test_lsh_blocking_parameter_validation(spark):
    """Round-5 review: bits>64 would silently alias signature bits
    (uint64 shift wraps mod 64) and n_chunks that don't tile the word
    would divide-by-zero or silently exclude bits from blocking."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.simhash import (
        hyperplane_simhash_udf,
    )

    df = spark.createDataFrame([(0, [1.0] * 8)], "vec_id long, embedding array<double>")
    for bad_bits in (0, 65, 128):
        with pytest.raises(ValueError):
            hyperplane_simhash_udf(dim=8, bits=bad_bits)
    with pytest.raises(ValueError):
        lsh_topk(df, df, bits=64, n_chunks=128)  # zero-width chunk
    with pytest.raises(ValueError):
        lsh_topk(df, df, bits=64, n_chunks=7)  # non-tiling
    with pytest.raises(ValueError):
        embedding_near_dup_pairs(df, n_chunks=96)


def test_embedding_near_dup_round_digits_matches_brute_boundary(spark, embeddings):
    """Round-5 review: the LSH near-dup operator must offer the same
    rounded-threshold semantics as its brute oracle twin, or pairs whose
    raw cosine rounds UP to the threshold count as false misses."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import (
        brute_force_near_dup_pairs,
    )

    vecs = embeddings.limit(60)
    # n_chunks=64 -> width 1: every pair shares a block, so the LSH set
    # must EQUAL the brute set under identical rounding
    brute = brute_force_near_dup_pairs(vecs, min_cosine=0.2, round_digits=6)
    lsh = embedding_near_dup_pairs(vecs, min_cosine=0.2, n_chunks=64, round_digits=6)
    bs = {(r.doc_a, r.doc_b) for r in brute.collect()}
    ls = {(r.doc_a, r.doc_b) for r in lsh.collect()}
    assert ls == bs and len(bs) > 0


def test_prefix_table_max_depth_bounds(spark):
    """Round-5 review: max_depth=0 must mean 'zero-depth table' (not
    silently full depth via a falsy-or), and a depth beyond rows_per_band
    must raise instead of slicing prefix hashes across band boundaries."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.forest_vote import (
        prefix_table,
    )

    cfg = DedupConfig()
    sigs = spark.createDataFrame(
        [(i, list(range(cfg.num_bands * cfg.rows_per_band))) for i in range(3)],
        "doc_id long, sig array<long>",
    )
    assert prefix_table(sigs, cfg, max_depth=0).count() == 0
    assert prefix_table(sigs, cfg, max_depth=1).count() == 3 * cfg.num_bands
    with pytest.raises(ValueError):
        prefix_table(sigs, cfg, max_depth=cfg.rows_per_band + 1)
    with pytest.raises(ValueError):
        prefix_table(sigs, cfg, max_depth=-1)


def test_chamfer_distance_quantized_null_parity(spark):
    """Round-5 review: a NULL a-vector folds every distance to NULL; the
    quantized mean must exclude it (count of non-null min_d) exactly as
    the unquantized F.avg does, or the two modes diverge structurally."""
    a = spark.createDataFrame(
        [("d", [1.0, 0.0]), ("d", [0.0, 1.0]), ("d", None)],
        "doc_id string, embedding array<double>",
    )
    b = spark.createDataFrame([([1.0, 0.0],)], "embedding array<double>")
    uq = chamfer_distance(a, b).first().chamfer_dist
    q = chamfer_distance(a, b, quantize_digits=6).first().chamfer_dist
    assert q == pytest.approx(uq, abs=1e-6)


def test_mrr_counts_zero_result_queries(spark):
    """Round-5 review: a judged query for which retrieval returned ZERO
    rows must count in the MRR denominator (reciprocal rank 0), so an
    ensure_k=False run cannot inflate its MRR by dropping hard queries."""
    ranks = spark.createDataFrame(
        [("q1", 10, 1)], "q_id string, n_id long, rank int"
    )
    rel = spark.createDataFrame(
        [("q1", 10), ("q2", 20)], "q_id string, n_id long"
    )
    # q1 hits at rank 1; q2 has no predictions at all -> MRR = (1+0)/2
    assert mrr_at_k(ranks, rel, k=10) == pytest.approx(0.5)


def test_train_codebook_empty_sample_raises():
    """Round-5 review: an empty sample raises a clear ValueError instead
    of np.stack's cryptic 'need at least one array to stack'."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.plaid import (
        train_codebook,
    )

    with pytest.raises(ValueError, match="empty"):
        train_codebook([], k=4)


def test_lsh_topk_single_chunk_equals_brute(spark, embeddings):
    """n_chunks=1 (one 64-bit chunk) exercises the width-64 mask path of
    the shared hamming_chunk_cols kernel inside lsh_topk: every vector
    with the same full signature blocks together; with ensure_k the
    result must equal brute force exactly (root fallback covers the
    rest)."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import (
        brute_force_topk,
    )

    vecs = embeddings.limit(40).persist()
    vecs.count()
    qs = vecs.where(F.col("vec_id") < 4)
    lsh = lsh_topk(vecs, qs, k=5, n_chunks=1, ensure_k=True, round_digits=6)
    brute = brute_force_topk(vecs, qs, k=5)
    got = {(r.q_id, r.rank): r.n_id for r in lsh.collect()}
    want = {(r.q_id, r.rank): r.n_id for r in brute.collect()}
    assert got == want
    vecs.unpersist()
