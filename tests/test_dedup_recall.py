"""The core correctness gate (north_rule): dup-pair recall >= 0.99 and
cluster assignments matching the brute-force oracle's connected components
on a planted near-duplicate corpus (the reference's planted-match pattern,
notebooks/chamfer_approx_planted_match.ipynb cell 2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
    exact_dup_pairs,
    minhash_dedup,
    ngram_jaccard_pairs_exact,
    simhash_dedup_pairs,
)
from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import (
    generate_pages,
    true_dup_pairs_oracle,
)

CFG = DedupConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_pages(
        spark,
        n_clusters=40,
        cluster_size=4,
        n_singletons=200,
        n_exact_dups=20,
        doc_len=120,
        max_mutation=0.06,
        seed=42,
    ).persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_pairs(corpus):
    pdf = corpus.select("doc_id", "text").toPandas()
    return true_dup_pairs_oracle(pdf, threshold=CFG.jaccard_threshold, k=CFG.shingle_size)


@pytest.fixture(scope="module")
def result(corpus):
    res = minhash_dedup(corpus, CFG)
    yield res
    res.unpersist()


def test_dup_pair_recall_ge_099(result, oracle_pairs):
    got = {
        (r.doc_a, r.doc_b) for r in result.verified.select("doc_a", "doc_b").collect()
    }
    assert oracle_pairs, "oracle found no dup pairs — fixture broken"
    recall = len(got & oracle_pairs) / len(oracle_pairs)
    assert recall >= 0.99, f"recall={recall:.4f} ({len(got & oracle_pairs)}/{len(oracle_pairs)})"


def test_verified_pairs_have_no_false_positives(result, corpus, oracle_pairs):
    # every verified pair must truly have jaccard >= threshold (verification
    # is exact, so precision is 1.0 by construction — check it)
    got = {
        (r.doc_a, r.doc_b) for r in result.verified.select("doc_a", "doc_b").collect()
    }
    assert got <= oracle_pairs


def test_cluster_assignments_match_oracle_components(result, oracle_pairs, corpus):
    # oracle components = transitive closure of oracle pairs
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    all_ids = [r.doc_id for r in corpus.select("doc_id").collect()]
    for d in all_ids:
        find(d)
    for a, b in oracle_pairs:
        union(a, b)
    oracle_label = {d: find(d) for d in all_ids}

    got = {r.doc_id: r.cluster_id for r in result.clusters.collect()}
    assert set(got) == set(oracle_label)
    # same partition (labels are min-id in both constructions, so with
    # recall 1.0 they agree exactly; allow the <=1% missed-pair slack by
    # comparing partitions of docs whose pairs were all found)
    mismatches = sum(1 for d in all_ids if got[d] != oracle_label[d])
    assert mismatches / len(all_ids) <= 0.01, f"{mismatches}/{len(all_ids)} docs mislabeled"


def test_exact_dups_land_in_same_cluster(result, corpus):
    # byte-identical copies (jaccard 1.0) must always cluster together
    dup_pairs = exact_dup_pairs(corpus).collect()
    assert dup_pairs
    labels = {r.doc_id: r.cluster_id for r in result.clusters.collect()}
    for r in dup_pairs:
        assert labels[r.doc_a] == labels[r.doc_b]


def test_ngram_exact_operator_equals_oracle(corpus, oracle_pairs):
    got = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs_exact(
            corpus, threshold=CFG.jaccard_threshold, k=CFG.shingle_size
        ).collect()
    }
    assert got == oracle_pairs  # exact operator: recall AND precision 1.0


def test_simhash_pairs_catch_exact_dups(corpus):
    got = simhash_dedup_pairs(corpus, CFG, max_hamming=3)
    exact = exact_dup_pairs(corpus)
    missing = exact.join(got, ["doc_a", "doc_b"], "left_anti").count()
    assert missing == 0  # hamming 0 pairs always blocked together


def test_unpersisted_path_matches_and_checkpoints_pairs(result, corpus):
    """Round-5 review: verifying an UNCACHED candidate plan must not
    re-run the band/bucket chain once per traversal of the verify
    prune — ``verify_pairs`` materializes the slim pair table once
    (eager localCheckpoint). Results identical to the persisted path;
    the verified plan reads a checkpointed RDD scan, not a second band
    chain."""
    from pyspark import StorageLevel

    from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import (
        with_signatures,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
        flagship_bands,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import (
        candidate_pairs,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.operators.verify import (
        verify_pairs,
    )

    # a plan the cache manager cannot match to result's persisted tables
    sigs = with_signatures(corpus, CFG)
    cands = candidate_pairs(flagship_bands(sigs, CFG), CFG)
    assert cands.storageLevel == StorageLevel.NONE
    verified = verify_pairs(cands, sigs, CFG)
    r1 = result.verified.select("doc_a", "doc_b", "jaccard")
    r2 = verified.select("doc_a", "doc_b", "jaccard")
    assert r1.exceptAll(r2).count() == 0
    assert r2.exceptAll(r1).count() == 0
    plan = verified._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan


def test_minhash_dedup_checkpoints_exactly_reused_stages(spark, corpus):
    """``minhash_dedup`` materialises exactly ``REUSED_STAGES`` — the
    stage outputs read twice or more — as eager checkpoints, not caches:
    the cache manager stays empty, block storage holds one more RDD per
    reused stage (checkpoints are not in the cache manager; only the
    block manager's RDD list shows them), and ``unpersist`` drops them
    all."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
        REUSED_STAGES,
    )

    spark.catalog.clearCache()  # earlier tests' caches are not this call's
    cache = spark._jsparkSession.sharedState().cacheManager()
    sc = spark.sparkContext._jsc.sc()

    def stored() -> set[int]:
        return {info.id() for info in sc.getRDDStorageInfo()}

    before = stored()
    try:
        res = minhash_dedup(corpus, CFG)
        assert cache.isEmpty()
        held = {
            getattr(res, n)._jdf.queryExecution().analyzed().rdd().id()
            for n in REUSED_STAGES
        }
        assert stored() - before == held
        assert len(held) == len(REUSED_STAGES) == 3
        assert set(REUSED_STAGES) == {"signatures", "candidates", "verified"}
        res.unpersist()
        assert stored() <= before
    finally:
        corpus.persist()  # the module's other tests read it cached


def test_idempotent_rerun(corpus):
    # same input -> identical verified pairs (determinism across runs;
    # north_rule reproducibility)
    res1 = minhash_dedup(corpus, CFG)
    res2 = minhash_dedup(corpus, CFG)
    r1 = res1.verified.select("doc_a", "doc_b", "jaccard")
    r2 = res2.verified.select("doc_a", "doc_b", "jaccard")
    assert r1.exceptAll(r2).count() == 0
    assert r2.exceptAll(r1).count() == 0
    res1.unpersist()
    res2.unpersist()


def test_mega_cluster_star_capping_keeps_cluster_whole(spark):
    # A 300-doc near-identical mega-cluster (the "empty template page"
    # shape at web scale). With bucket_pivots=16 the pair generator emits
    # the pivot STAR for its mega-buckets: pair count must stay O(k*n)
    # (not C(300,2)=44,850), and — the property a clique truncation
    # violates — connected components must still put ALL 300 docs in ONE
    # cluster, because every member verifies against a low-id pivot.
    from dataclasses import replace

    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import (
        generate_pages,
    )

    corpus = generate_pages(
        spark, n_clusters=1, cluster_size=300, n_singletons=50,
        n_exact_dups=0, doc_len=200, max_mutation=0.01, seed=5,
    ).select("doc_id", "text")
    cfg = replace(CFG, bucket_pivots=16)
    res = minhash_dedup(corpus, cfg)
    n_pairs = res.verified.count()
    assert n_pairs < 16 * 300 * 2, f"star bound exceeded: {n_pairs} pairs"
    labels = {r.doc_id: r.cluster_id for r in res.clusters.collect()}
    assert {labels[i] for i in range(300)} == {0}, "mega-cluster split"
    # singletons untouched
    assert all(labels[i] == i for i in range(300, 350))
    res.unpersist()


def test_ngram_exact_complete_with_hot_shingle(spark):
    # prefix filtering must stay LOSSLESS even when one boilerplate
    # shingle is shared by every document (the 100-TB skew hazard): the
    # hot shingle has max df, sorts last, and never enters a prefix —
    # yet every qualifying pair must still be found
    boiler = "copyright acme corp all rights"  # one shared 5-gram
    rows = []
    # 10 near-dup pairs: doc i and doc i+100 share most content
    for i in range(10):
        base = " ".join(f"tok{i}w{j}" for j in range(40))
        rows.append((i, f"{base} {boiler}"))
        rows.append((i + 100, f"{base} extraword {boiler}"))
    # plus unrelated docs that also carry the boilerplate
    for i in range(200, 230):
        body = " ".join(f"uniq{i}x{j}" for j in range(40))
        rows.append((i, f"{body} {boiler}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs_exact(df, threshold=0.5).collect()
    }
    import pandas as pd

    expected = true_dup_pairs_oracle(
        pd.DataFrame(rows, columns=["doc_id", "text"]), threshold=0.5
    )
    assert got == expected
    assert len(expected) >= 10  # the planted pairs are really there


def test_pair_recall_report_counts_and_float_twin(spark):
    from lsh_forest_for_multi_vector_retrieval_spark.operators.metrics import (
        pair_recall,
        pair_recall_report,
    )

    truth = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], ["doc_a", "doc_b"]
    )
    # 3 hits, 1 miss, 1 false positive, 1 duplicate row (must not double-count)
    pred = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (5, 6), (9, 10)], ["doc_a", "doc_b"]
    )
    row = pair_recall_report(pred, truth).collect()[0]
    assert (row.n_truth, row.n_found, row.n_hit) == (4, 4, 3)
    assert row.recall == 0.75
    assert pair_recall(pred, truth) == 0.75


def test_pair_recall_report_empty_truth_is_one(spark):
    from lsh_forest_for_multi_vector_retrieval_spark.operators.metrics import (
        pair_recall_report,
    )

    truth = spark.createDataFrame([], "doc_a long, doc_b long")
    pred = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    row = pair_recall_report(pred, truth).collect()[0]
    assert (row.n_truth, row.n_found, row.n_hit, row.recall) == (0, 1, 0, 1.0)


def test_exact_dedup_groups_ignores_null_text(spark):
    """Round-5 review: md5(NULL) is NULL and groupBy keeps NULL keys, so
    NULL-text docs used to form one bogus 'exact duplicate' group (and
    exact_dup_pairs disagreed — NULL join keys never match)."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
        exact_dedup_groups,
        exact_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "same"), (5, "same")],
        "doc_id long, text string",
    )
    groups = exact_dedup_groups(docs).collect()
    assert len(groups) == 1 and groups[0].n_docs == 2
    pairs = {(r.doc_a, r.doc_b) for r in exact_dup_pairs(docs).collect()}
    assert pairs == {(4, 5)}  # the two operators agree on NULL handling


def test_simhash_max_hamming_zero(spark):
    """Round-5 review: max_hamming=0 (exact-simhash-only blocking) used
    to crash at plan build — (1<<64)-1 overflows LongType."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
        simhash_dedup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog today"),
         (3, "completely different text about gardening and cooking")],
        "doc_id long, text string",
    )
    got = simhash_dedup_pairs(docs, max_hamming=0).collect()
    assert {(r.doc_a, r.doc_b, r.hamming) for r in got} == {(1, 2, 0)}


def test_ngram_exact_lowercase_knob_matches_engine(spark):
    """Round-5 review: the recall oracle always case-folded; with
    lowercase=False it must shingle case-sensitively like the engine."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
        ngram_jaccard_pairs_exact,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, base), (2, base.upper())], "doc_id long, text string"
    )
    folded = ngram_jaccard_pairs_exact(docs, threshold=0.9, k=3)
    assert folded.count() == 1  # case-folded: identical
    sensitive = ngram_jaccard_pairs_exact(
        docs, threshold=0.9, k=3, lowercase=False
    )
    assert sensitive.count() == 0  # case-sensitive: disjoint shingles
