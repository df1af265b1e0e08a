"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship near-dup pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB twin for every SQL-expressible one.
Column names/types are aligned on both sides (counts cast to bigint,
ratios as exact integer divisions) so the driver's order-insensitive
value-hash matches bit-for-bit.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.functions.text_stats import (
    doc_fingerprints,
    lang_id_scores,
    quality_features,
)
from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import dot_col, norm_col
from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import lsh_topk
from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import (
    bucket_stats,
    band_table,
    with_signatures,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.components import (
    cluster_stats,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
    exact_dedup_groups,
    exact_dup_pairs,
    minhash_dedup,
    ngram_jaccard_pairs_exact,
    simhash_dedup_pairs,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.forest_vote import (
    forest_vote_scores,
    get_top_k,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.metrics import (
    pair_recall_report,
)

CFG = DedupConfig()
# Portable hash family: identical LSH math with a DuckDB-reproducible
# 60-bit md5 shingle hash, so MinHash/SimHash internals get *hash-exact*
# cross-engine oracles (the production default stays xxhash64).
PORTABLE_CFG = DedupConfig(hash_family="md5_60")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _materialize_release(df: DataFrame, res) -> DataFrame:
    """Eagerly materialize a (small) dedup result, then release the
    DedupResult's cached intermediates — the driver harness runs all ~35
    queries in ONE session, so leaving signatures/verified persisted per
    call accumulates cached tables (round-2 VERDICT/ADVICE)."""
    out = df.localCheckpoint(eager=True)
    res.unpersist()
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash-LSH near-dup clustering of sf0.001 documents."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    res = minhash_dedup(docs, CFG)
    # symmetrize before the max: verified is canonicalized doc_a < doc_b,
    # so joining on doc_a alone left every max-id cluster member with a
    # NULL best_jaccard despite being a verified near-dup (round-5 review)
    member_j = res.verified.selectExpr("doc_a as doc_id", "jaccard").unionByName(
        res.verified.selectExpr("doc_b as doc_id", "jaccard")
    )
    out = res.clusters.join(member_j, "doc_id", "left").groupBy(
        "doc_id", "cluster_id"
    ).agg(F.max("jaccard").alias("best_jaccard"))
    return _materialize_release(out, res)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _docs_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture documents contain no byte-identical texts, which made
    the exact-dedup oracles vacuously green (0 rows). Deterministically
    re-publish every 97th doc under a shifted id (a mirror-site analog) so
    the exact-dedup operators have real work; the oracle applies the same
    construction in SQL."""
    d = _docs(spark, sf_dir)
    dups = d.where(F.col("doc_id") % 97 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return d.unionByName(dups)


_DUPED_DOCS_SQL = """
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 97 = 0
)"""


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(_docs_with_exact_dups(spark, sf_dir)).select(
        "text_hash",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
    )


def q_exact_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dup_pairs(_docs_with_exact_dups(spark, sf_dir))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs_exact(_docs(spark, sf_dir), threshold=0.8, k=5)


def q_shingle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lsh_forest_for_multi_vector_retrieval_spark.functions.shingles import (
        with_shingle_strings,
    )

    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    return (
        with_shingle_strings(d)
        .select("doc_id", F.size("shingle_strs").cast("long").alias("n_shingles"))
        # whitespace-only docs have 0 shingles; the oracle's sh CTE drops
        # them (len(t)>=1) — drop on this side too so the twins agree
        .where(F.col("n_shingles") > 0)
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    qf = quality_features(_docs(spark, sf_dir))
    return qf.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "mean_token_len",
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    qf = quality_features(_docs(spark, sf_dir))
    return qf.select(
        "doc_id",
        F.col("n_punct").cast("long").alias("n_punct"),
        "punct_ratio",
        "stopword_ratio",
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = lang_id_scores(_docs(spark, sf_dir))
    return li.select(
        "doc_id",
        F.col("en_hits").cast("long").alias("en_hits"),
        F.col("es_hits").cast("long").alias("es_hits"),
        F.col("de_hits").cast("long").alias("de_hits"),
        F.col("fr_hits").cast("long").alias("fr_hits"),
        "pred_lang",
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(_docs(spark, sf_dir))


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-agg with pushdown (relational-op coverage)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("double")), 2).alias("sum_qty"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("double")
                    * (1 - F.col("l_discount").cast("double"))
                ),
                2,
            ).alias("sum_disc_price"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q_top_nations_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join + agg + order/limit (broadcast the dims)."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            # rounded: double sums are reduction-order-sensitive in the last
            # ulp, so the query itself emits a stable rounded value
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("double")
                    * (1 - F.col("l_discount").cast("double"))
                ),
                2,
            ).alias("revenue"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
        )
    )
    return rev


def q_customer_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 orders per customer by price (S6/R-ops)."""
    from pyspark.sql import Window

    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def q_events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events agg incl. JSON scalar extraction (events.props)."""
    e = _read(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum(F.col("value").cast("double")), 2).alias("total_value"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


def q_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op / anti-join: parts never shipped in 2001+ (EXCEPT shape).
    Date-restricted so the result is non-vacuous at every sf (every part
    has *some* lineitem in the fixture, making the unrestricted query an
    empty — vacuously green — check)."""
    p = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("2001-01-01")
    )
    return p.select("p_partkey").exceptAll(
        li.select(F.col("l_partkey").alias("p_partkey"))
    ).distinct()


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors, rounded to 6dp
    (identical double fold order on both engines)."""
    from pyspark.sql import Window

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                dot_col(F.col("q_vec"), F.col("n_vec"))
                / (norm_col(F.col("q_vec")) * norm_col(F.col("n_vec"))),
                6,
            ).alias("cosine_r"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_r"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("q_id", "n_id", "cosine_r", F.col("rank").cast("long").alias("rank"))
    )


# --- non-SQL-expressible ops (rows-only checks) ---

def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = minhash_dedup(_docs(spark, sf_dir), CFG)
    return _materialize_release(res.verified, res)


def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule headline metric (dup-pair recall, op M1) as a driver
    oracle: recall of the MinHash-LSH pipeline's verified pairs against
    brute-force exact n-gram-Jaccard truth at the same shingle/signature
    config. The DuckDB twin recomputes the ENTIRE candidate pipeline
    independently — 128-perm MinHash over md5_60 shingle hashes in HUGEINT
    SQL, band-key collision candidates, exact-Jaccard verification — so a
    recall regression (a dropped band, a broken hash family, an
    over-aggressive cap) surfaces as a VALUE mismatch in the correctness
    gate, not just a pytest failure. Uses PORTABLE_CFG so the band
    candidates are bit-reproducible cross-engine.
    Reference analog: recall (/root/reference/src/shared/utils.py:79-87)."""
    docs = _docs(spark, sf_dir)
    res = minhash_dedup(docs, PORTABLE_CFG)
    found = _materialize_release(res.verified, res)
    truth = ngram_jaccard_pairs_exact(
        docs, threshold=PORTABLE_CFG.jaccard_threshold, k=PORTABLE_CFG.shingle_size
    )
    return pair_recall_report(found, truth)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = minhash_dedup(_docs(spark, sf_dir), CFG)
    return _materialize_release(res.clusters, res)


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = minhash_dedup(_docs(spark, sf_dir), CFG)
    return _materialize_release(cluster_stats(res.clusters), res)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-blocked SimHash pairs — LOSSLESS for hamming<=3, so the
    brute-force all-pairs DuckDB twin matches row-for-row. Portable hash
    family so the oracle reproduces the exact simhash bits."""
    out = simhash_dedup_pairs(_docs(spark, sf_dir), PORTABLE_CFG, max_hamming=3)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def q_band_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size histogram of the MinHash band table. The oracle recomputes
    the full 128-perm MinHash in SQL (HUGEINT modular math over md5_60
    shingle hashes) and groups by the raw 8-value band slice — same
    partition of docs as xxhash64(slice) w.h.p., hence identical histogram."""
    sigs = with_signatures(_docs(spark, sf_dir).select("doc_id", "text"), PORTABLE_CFG)
    return bucket_stats(band_table(sigs, PORTABLE_CFG))


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-10 for the first 20 vectors. Deterministic end
    to end (seeded hyperplanes, integer chunk blocking, cosine rounded to
    6dp BEFORE ranking, ties by n_id), so the oracle is an expected-parquet
    fixture from an independent pure-Python path (round-3 VERDICT #4)."""
    assert "sf0.01" in sf_dir, (
        f"lsh_ann_topk fixture oracle is precomputed for sf0.01; got "
        f"{sf_dir!r} — regenerate via tools/make_expected_fixtures.py"
    )
    emb = _read(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 20)
    # ensure_k: ascend fallback guarantees exactly k rows per query
    out = lsh_topk(
        emb, qs, k=10, dim=64, bits=64, n_chunks=16, ensure_k=True,
        round_digits=6,
    )
    return out.select(
        "q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-10 for the first 20 vectors — the FAISS
    IVF-flat shape next to lsh_ann_topk's hyperplane blocks: pinned
    deterministic codebook (plaid.sample_codebook), literal-array cell
    assignment, top-nprobe probing, cell probe, exact cosine rounded to
    6dp BEFORE ranking, ties by n_id, ensure_k root fallback.
    Deterministic end to end, so the oracle is an expected-parquet
    fixture from an independent pure-Python emulation."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import ivf_topk

    assert "sf0.01" in sf_dir, (
        f"ivf_ann_topk fixture oracle is precomputed for sf0.01; got "
        f"{sf_dir!r} — regenerate via tools/make_expected_fixtures.py"
    )
    emb = _read(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 20)
    out = ivf_topk(
        emb, qs, k=10, n_centroids=16, nprobe=4, iters=20,
        ensure_k=True, round_digits=6,
    )
    return out.select(
        "q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (window=16) substring-dup pairs. Deterministic integer
    math given the input text, so the oracle is an expected-parquet
    fixture precomputed by an independent pure-Python path
    (tools/make_expected_fixtures.py; regenerated by the tool if testdata
    changes)."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.substring import (
        substring_dup_pairs,
    )

    # the expected-parquet oracle below is precomputed for sf0.01 ONLY;
    # at any other sf_dir the fixture would produce false failures, so
    # fail loudly instead (round-3 ADVICE). The operator itself is
    # sf-agnostic — bench calls it directly at sf0.1.
    assert "sf0.01" in sf_dir, (
        f"substring_pairs fixture oracle is precomputed for sf0.01; got "
        f"{sf_dir!r} — regenerate via tools/make_expected_fixtures.py"
    )
    return substring_dup_pairs(_docs(spark, sf_dir), gram=32, window=16)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked near-dup pairs. Deterministic end to end (seeded
    hyperplanes, integer chunk blocking, exact-cosine threshold on the raw
    double, THEN 6dp rounding for the reported column), so the oracle is
    an expected-parquet fixture from an independent pure-Python path —
    same treatment lsh_ann_topk got (round-3 VERDICT #4). Threshold 0.45
    because the fixture embeddings' closest pairs sit at cosine ~0.45-0.52
    — at 0.9 the query is vacuously empty and proves nothing."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import (
        embedding_near_dup_pairs,
    )

    assert "sf0.01" in sf_dir, (
        f"embedding_near_dups fixture oracle is precomputed for sf0.01; "
        f"got {sf_dir!r} — regenerate via tools/make_expected_fixtures.py"
    )
    emb = _read(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs(emb, min_cosine=0.45, dim=64, n_chunks=16)
    return out.withColumn("cosine", F.round("cosine", 6))


def q_embedding_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force twin of the above: EXACT all-pairs cosine >= 0.45,
    rounded to 6dp on both engines — full hash-match oracle."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import (
        brute_force_near_dup_pairs,
    )

    emb = _read(spark, sf_dir, "embeddings")
    return brute_force_near_dup_pairs(emb, min_cosine=0.45)


def q_substring_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window=1 disables winnowing subsampling, so the operator returns
    EVERY pair sharing an exact 32-char substring with the exact count of
    shared distinct grams — matched by a substr-explosion DuckDB twin.
    (The winnowed window=16 production variant stays rows-only below.)"""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.substring import (
        substring_dup_pairs,
    )

    return substring_dup_pairs(_docs(spark, sf_dir), gram=32, window=1)


def q_plaid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAID centroid-pruned multi-vector retrieval (reference P2-P4,
    notebooks/plaid.ipynb cells 5-8). The fixture embeddings become
    multi-vector docs of 4 tokens each (doc_id = vec_id // 4); the first
    5 docs are the queries. Deterministic end to end: the codebook is
    trained by the pinned driver-side Lloyd kernel over the vec_id-ordered
    sample (plaid.train_codebook — the bounded-sample IVF pattern), scores
    are ordered left folds rounded HALF_UP to 6dp BEFORE ranking, ties by
    doc_id — so the oracle is an expected-parquet fixture from an
    independent pure-Python emulation of the index/prune/score plumbing
    (round-3 VERDICT #2 treatment, same as lsh_ann_topk). The brute-force-
    chamfer parity gate stays in pytest."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.plaid import (
        build_centroids_deterministic,
        plaid_topk,
    )

    assert "sf0.01" in sf_dir, (
        f"plaid_topk fixture oracle is precomputed for sf0.01; got "
        f"{sf_dir!r} — regenerate via tools/make_expected_fixtures.py"
    )
    emb = _read(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 20).select(
        (F.col("vec_id") / 4).cast("long").alias("doc_id"), "vec_id", "embedding"
    )
    queries = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") / 4).cast("long").alias("query_id"), "vec_id", "embedding"
    )
    cents = build_centroids_deterministic(corpus, k=16, iters=20, id_col="vec_id")
    return plaid_topk(
        corpus, queries, cents, k=10, nprobe=4, t_cs=0.0, rerank=20,
        round_digits=6,
    ).select(
        "query_id", "doc_id", "score", F.col("rank").cast("long").alias("rank")
    )


def q_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checked end to end: each document gets a
    deterministic 16x16x3 rawrgb image whose 768 payload bytes are 48
    chained md5 digests of its text; the REAL decode -> feature mapInPandas
    stage (operators/media.py) computes per-channel byte mean/std, and the
    DuckDB twin recomputes them from the same md5 hex. All quantities are
    exact dyadic rationals (sums of <=2^40 over 256 = 2^8 samples), so the
    doubles agree bit-for-bit before the 6dp round."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.media import (
        with_image_features,
    )

    docs = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    payload = F.concat(
        *[F.unhex(F.md5(F.concat(F.col("text"), F.lit(f"x{i}")))) for i in range(48)]
    )
    meta = F.struct(
        F.lit("rawrgb").alias("codec"),
        F.lit(16).alias("width"),
        F.lit(16).alias("height"),
        F.lit(3).alias("channels"),
        F.lit(1).alias("n_frames"),
        F.lit(None).cast("int").alias("sample_rate"),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        meta.alias("meta"),
    )
    feats = with_image_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        *[
            F.round(F.element_at("chan_mean", c + 1), 6).alias(f"mean_{n}")
            for c, n in enumerate("rgb")
        ],
        *[
            F.round(F.element_at("chan_std", c + 1), 6).alias(f"std_{n}")
            for c, n in enumerate("rgb")
        ],
    )


def q_media_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs via perceptual average-hash + pigeonhole Hamming
    blocking over a deterministic planted-group corpus (sources/media.py).
    Oracle: expected-parquet fixture from an independent brute-force
    NumPy path (tools/make_expected_fixtures.py) — float32 luma isn't
    SQL-reproducible, but it IS deterministic, so a precomputed fixture
    gives a full value check; planted-set equality also in pytest."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.media import (
        media_near_dup_pairs,
    )
    from lsh_forest_for_multi_vector_retrieval_spark.sources.media import (
        generate_media,
    )

    media = generate_media(spark, n_groups=8, group_size=3, n_singletons=16, seed=7)
    return media_near_dup_pairs(media).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def forest_vote_pipeline(
    spark: SparkSession, sf_dir: str, cfg: DedupConfig, k: int = 5
) -> DataFrame:
    """Depth-weighted forest voting with planted truth: queries are
    TRUNCATED mirrors of every 31st doc (last ~25 chars dropped, ids
    shifted by 1e6), corpus is the original table — every query matches
    its original at deep prefixes and that doc's near-dup family at
    shallower ones, exercising depth weights and per-tree normalization,
    not just exact-match joins (the old doc_id<20 split produced a single
    surviving row). Scores are rounded to 6dp BEFORE ranking (ties by
    doc_id)."""
    return forest_vote_pipeline_from(
        _docs(spark, sf_dir).select("doc_id", "text"), cfg, k=k
    )


def forest_vote_pipeline_from(
    d: DataFrame, cfg: DedupConfig, k: int = 5
) -> DataFrame:
    """``forest_vote_pipeline`` over an already-loaded (doc_id, text)
    DataFrame — lets tests drive the identical pipeline across input
    repartitionings (determinism audit)."""
    d = d.select("doc_id", "text")
    mirrors = d.where(F.col("doc_id") % 31 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.substring(
            F.col("text"), 1, F.greatest(F.length("text") - 25, F.lit(40))
        ).alias("text"),
    )
    corpus_sigs = with_signatures(d, cfg).select(
        "doc_id", "shingles", "sig"
    ).persist()
    query_sigs = with_signatures(mirrors, cfg).select("doc_id", "shingles", "sig")
    scores = forest_vote_scores(corpus_sigs, query_sigs, cfg)
    out = get_top_k(scores.withColumn("score", F.round("score", 6)), k=k)
    out = out.select(
        "query_id", "doc_id", "score", F.col("rank").cast("long").alias("rank")
    ).localCheckpoint(eager=True)
    # materialized above; release the signature cache (blocking — async
    # unpersist races in-flight stages, round-3 VERDICT #1)
    corpus_sigs.unpersist(blocking=True)
    return out


def q_forest_vote_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forest-vote top-5 over the mirror-query corpus. Portable hash
    family + 6dp pre-rank rounding make it deterministic (stability across
    input repartitionings is pytest-gated), so the oracle is an
    expected-parquet fixture from an independent pure-Python path
    (round-3 VERDICT #6; tools/make_expected_fixtures.py)."""
    assert "sf0.01" in sf_dir, (
        f"forest_vote_topk fixture oracle is precomputed for sf0.01; got "
        f"{sf_dir!r} — regenerate via tools/make_expected_fixtures.py"
    )
    return forest_vote_pipeline(spark, sf_dir, PORTABLE_CFG, k=5)


def q_chamfer_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector chamfer similarity (V2: sum over query vectors of the
    max dot against each doc's vectors — reference utils.py:27-35) in the
    oracle-exact quantized mode: per-dot round to 6dp held as BIGINT
    micro-units, so max/sum are exact integer arithmetic on both engines."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.chamfer import chamfer_scores

    emb = _read(spark, sf_dir, "embeddings")
    docs = emb.select((F.col("vec_id") / 4).cast("long").alias("doc_id"), "embedding")
    qs = emb.where(F.col("vec_id") < 4)
    # vec_id as the query-vector index: same grouping, no unpartitioned
    # window (round-5 VERDICT #2; the oracle SQL already uses vec_id)
    return chamfer_scores(docs, qs, quantize_digits=6, q_idx_col="vec_id").select(
        "doc_id", "chamfer"
    )


def q_chamfer_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 retrieval ranking over chamfer scores: top-10 docs via
    TakeOrderedAndProject (no global window — round-4 VERDICT #6),
    deterministic tie-break on doc_id."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.chamfer import (
        chamfer_scores,
        rank_documents,
    )

    emb = _read(spark, sf_dir, "embeddings")
    docs = emb.select((F.col("vec_id") / 4).cast("long").alias("doc_id"), "embedding")
    qs = emb.where(F.col("vec_id") < 4)
    scores = chamfer_scores(docs, qs, quantize_digits=6, q_idx_col="vec_id")
    return rank_documents(scores, k=10).select(
        "doc_id", "chamfer", F.col("rank").cast("long").alias("rank")
    )


def q_chamfer_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided chamfer L2 distance (V3: per a-doc mean over its vectors
    of the min L2 to any b-vector — reference test_forest_vote.py:110-124),
    quantized mode: per-pair distance in exact micro-units, mean = one
    double division + final 6dp round."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.chamfer import (
        chamfer_distance,
    )

    emb = _read(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") < 200).select(
        (F.col("vec_id") / 4).cast("long").alias("doc_id"), "embedding"
    )
    b = emb.where(F.col("vec_id") >= 480).select("embedding")
    return chamfer_distance(a, b, quantize_digits=6).select("doc_id", "chamfer_dist")


#: shared BPE config for the two bpe_* driver queries and their fixtures
#: (tools/make_expected_fixtures.py expected_bpe_*)
_BPE_MERGES, _BPE_TOP_WORDS = 200, 2000


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-learned BPE vocabulary (P1 token-encoding analog,
    functions/bpe.py): distributed word-frequency aggregation, bounded
    top_words collect, greedy merge learning — fully deterministic at any
    partitioning (ties by word), so the oracle is an expected-parquet
    fixture whose frequency count is an independent collections.Counter
    pass (tools/make_expected_fixtures.py expected_bpe_vocab)."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.bpe import (
        fit_bpe,
        merges_df,
    )

    assert "sf0.01" in sf_dir, (
        f"bpe_vocab fixture oracle is precomputed for sf0.01; got "
        f"{sf_dir!r} — regenerate via tools/make_expected_fixtures.py"
    )
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    merges = fit_bpe(docs, num_merges=_BPE_MERGES, top_words=_BPE_TOP_WORDS)
    return merges_df(spark, merges)


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE encode: Arrow-batched pandas UDF with a per-batch
    unique-word memo, zero shuffle. Returns (doc_id, n_bpe_tokens,
    tokens_md5) where tokens_md5 digests the exact subword sequence
    (JVM md5 over the \\x01-joined tokens), so the expected-parquet
    oracle value-checks every token of every document."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.bpe import (
        bpe_encode,
        fit_bpe,
    )

    assert "sf0.01" in sf_dir, (
        f"bpe_token_stats fixture oracle is precomputed for sf0.01; got "
        f"{sf_dir!r} — regenerate via tools/make_expected_fixtures.py"
    )
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    merges = fit_bpe(docs, num_merges=_BPE_MERGES, top_words=_BPE_TOP_WORDS)
    return bpe_encode(docs, merges).select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.md5(F.concat_ws("\x01", F.col("bpe_tokens"))).alias("tokens_md5"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_groups": q_exact_dup_groups,
        "exact_dup_pairs": q_exact_dup_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "shingle_counts": q_shingle_counts,
        "token_stats": q_token_stats,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "doc_fingerprints": q_doc_fingerprints,
        "pricing_summary": q_pricing_summary,
        "top_nations_by_revenue": q_top_nations_by_revenue,
        "customer_top_orders": q_customer_top_orders,
        "events_type_stats": q_events_type_stats,
        "parts_never_ordered": q_parts_never_ordered,
        "embedding_topk": q_embedding_topk,
        "chamfer_scores": q_chamfer_scores,
        "chamfer_rank_topk": q_chamfer_rank_topk,
        "chamfer_distance": q_chamfer_distance,
        # oracle-checked LSH internals (portable hash family / exact modes)
        "minhash_dedup_pairs": q_minhash_dedup_pairs,
        "dedup_recall": q_dedup_recall,
        "dedup_clusters": q_dedup_clusters,
        "dedup_cluster_stats": q_dedup_cluster_stats,
        "simhash_pairs": q_simhash_pairs,
        "band_bucket_stats": q_band_bucket_stats,
        "substring_pairs_exact": q_substring_pairs_exact,
        "embedding_near_dups_exact": q_embedding_near_dups_exact,
        "image_channel_stats": q_image_channel_stats,
        # expected-parquet oracles (deterministic math; fixture precomputed
        # by an independent brute-force path, see oracle_sql)
        "media_near_dups": q_media_near_dups,
        "substring_pairs": q_substring_pairs,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "forest_vote_topk": q_forest_vote_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "plaid_topk": q_plaid_topk,
        "bpe_vocab": q_bpe_vocab,
        "bpe_token_stats": q_bpe_token_stats,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOKS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"

# every pipeline constant below interpolates from PORTABLE_CFG — the
# config the paired Spark queries actually run — so query and twin
# cannot drift if the config changes (round-5 review: some literals
# were hardcoded or read the non-portable CFG)
_K = PORTABLE_CFG.shingle_size
_JT = PORTABLE_CFG.jaccard_threshold

_SHINGLES_CTE = f"""
toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
sh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(t) >= {_K}
         THEN list_transform(generate_series(1, len(t) - {_K - 1}),
                             i -> array_to_string(t[i:i+{_K - 1}], ' '))
         ELSE [array_to_string(t, ' ')] END) AS sh
  FROM toks WHERE len(t) >= 1
)
"""

# exact n-gram-Jaccard pair CTEs (shared by the pair query, the flagship
# minhash pipeline twin, and the connected-components oracles)
_JACCARD_CTES = f"""{_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT doc_a, doc_b,
         i::DOUBLE / (sa.n_sh + sb.n_sh - i)::DOUBLE AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)"""

_EXACT_JACCARD_SQL = f"""
    WITH {_JACCARD_CTES}
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {_JT}
"""

# transitive closure of the >=0.8 pair graph; cluster = min doc_id in
# component, singletons labeled by themselves (every doc appears)
_CLUSTERS_CTES = f"""{_JACCARD_CTES},
dup AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {_JT}),
sym AS (SELECT doc_a AS a, doc_b AS b FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
reach(x, y) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.x, s.b FROM reach r JOIN sym s ON r.y = s.a
),
comp AS (SELECT x AS doc_id, min(y) AS mn FROM reach GROUP BY x),
clusters AS (
  SELECT d.doc_id,
         coalesce(CASE WHEN c.mn < d.doc_id THEN c.mn ELSE d.doc_id END,
                  d.doc_id)::BIGINT AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)"""

# portable 60-bit md5 shingle hash — bit-identical to Spark's
# conv(substr(md5(sh),1,15),16,10) (see functions/shingles.py:hash64_col);
# DISTINCT at hash level mirrors Spark's array_distinct over hashes
_SHH_CTE = """shh AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh
)"""


def _minhash_perm_values() -> str:
    """The 128 seeded (a, b) permutation parameters as SQL literals —
    the same RandomState(42) draw the Spark UDF closes over."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.minhash import (
        minhash_params,
    )

    a, b = minhash_params(PORTABLE_CFG.num_perm, PORTABLE_CFG.minhash_seed)
    return ",\n".join(
        f"({p}, {int(a[p])}, {int(b[p])})" for p in range(PORTABLE_CFG.num_perm)
    )


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dup_groups": f"""
            WITH {_DUPED_DOCS_SQL}
            SELECT md5(text) AS text_hash,
                   count(*)::BIGINT AS n_docs,
                   min(doc_id)::BIGINT AS keep_doc_id
            FROM docs2 WHERE text IS NOT NULL
            GROUP BY md5(text) HAVING count(*) > 1
        """,
        "exact_dup_pairs": f"""
            WITH {_DUPED_DOCS_SQL}
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM docs2 a JOIN docs2 b ON md5(a.text) = md5(b.text)
            WHERE a.doc_id < b.doc_id
        """,
        "ngram_jaccard_pairs": _EXACT_JACCARD_SQL,
        # the flagship LSH pipeline's verified pairs are exact-Jaccard
        # verified, and band recall on this corpus is exactly 1.0 — so the
        # brute-force exact-Jaccard twin IS the oracle (a recall regression
        # would surface as a row mismatch here, which is the point)
        "minhash_dedup_pairs": _EXACT_JACCARD_SQL,
        # the north-rule recall, with the FULL candidate pipeline
        # recomputed independently: 128-perm MinHash in HUGEINT SQL (same
        # modular math as band_bucket_stats), band-key collision pairs,
        # exact-Jaccard verification, then recall vs brute-force truth.
        # found ⊆ truth by construction here, so n_hit = n_found on the
        # SQL side; a Spark-side false positive would break that equality
        # and fail the hash match.
        "dedup_recall": f"""
            WITH {_JACCARD_CTES},
            {_SHH_CTE},
            perms(p, pa, pb) AS (VALUES {_minhash_perm_values()}),
            sig AS (
              SELECT doc_id, p,
                     min(((pa::HUGEINT * h + pb::HUGEINT)
                          % 18446744073709551616::HUGEINT)
                         % 2305843009213693951)::BIGINT AS v
              FROM shh CROSS JOIN perms
              GROUP BY doc_id, p
            ),
            bandkeys AS (
              SELECT doc_id, (p // {PORTABLE_CFG.rows_per_band}) AS band_id,
                     string_agg(v::VARCHAR, '-' ORDER BY p) AS band_key
              FROM sig GROUP BY doc_id, (p // {PORTABLE_CFG.rows_per_band})
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bandkeys a
              JOIN bandkeys b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
            ),
            truth AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {_JT}),
            found AS (
              SELECT c.doc_a, c.doc_b
              FROM cand c JOIN truth t
                ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
            )
            SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
                   (SELECT count(*) FROM found)::BIGINT AS n_found,
                   (SELECT count(*) FROM found)::BIGINT AS n_hit,
                   round(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1.0
                         ELSE (SELECT count(*) FROM found)::DOUBLE
                              / (SELECT count(*) FROM truth) END, 6) AS recall
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_CLUSTERS_CTES}
            SELECT doc_id, cluster_id FROM clusters
        """,
        "dedup_cluster_stats": f"""
            WITH RECURSIVE {_CLUSTERS_CTES},
            csizes AS (SELECT cluster_id, count(*) AS cluster_n
                       FROM clusters GROUP BY cluster_id)
            SELECT cluster_n::BIGINT AS cluster_n,
                   count(*)::BIGINT AS num_clusters
            FROM csizes GROUP BY cluster_n
        """,
        # brute-force all-pairs SimHash Hamming over the portable md5_60
        # hash — the Spark side's pigeonhole blocking is LOSSLESS for
        # hamming<=3, so the sets match exactly. Tie rule: vote sum >= 0
        # sets the bit (functions/simhash.py:simhash_np)
        "simhash_pairs": f"""
            WITH {_SHINGLES_CTE},
            {_SHH_CTE},
            bits AS (
              SELECT doc_id, g.b,
                     CASE WHEN sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) >= 0
                          THEN 1 ELSE 0 END AS bit
              FROM shh CROSS JOIN generate_series(0, 63) AS g(b)
              GROUP BY doc_id, g.b
            ),
            ham AS (
              SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
                     sum(CASE WHEN a.bit <> c.bit THEN 1 ELSE 0 END)::BIGINT AS hamming
              FROM bits a JOIN bits c ON a.b = c.b AND a.doc_id < c.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
        """,
        # full 128-perm MinHash recomputed in SQL: ((a*h+b) mod 2^64) mod
        # (2^61-1) in HUGEINT — bit-identical to the UDF's uint64 wraparound
        # (functions/minhash.py:minhash_np). Buckets grouped by the raw
        # 8-value band slice: same doc partition as xxhash64(slice), so the
        # size histogram is identical
        "band_bucket_stats": f"""
            WITH {_SHINGLES_CTE},
            {_SHH_CTE},
            perms(p, pa, pb) AS (VALUES {_minhash_perm_values()}),
            sig AS (
              SELECT doc_id, p,
                     min(((pa::HUGEINT * h + pb::HUGEINT)
                          % 18446744073709551616::HUGEINT)
                         % 2305843009213693951)::BIGINT AS v
              FROM shh CROSS JOIN perms
              GROUP BY doc_id, p
            ),
            bandkeys AS (
              SELECT doc_id, (p // {PORTABLE_CFG.rows_per_band}) AS band_id,
                     string_agg(v::VARCHAR, '-' ORDER BY p) AS band_key
              FROM sig GROUP BY doc_id, (p // {PORTABLE_CFG.rows_per_band})
            ),
            buckets AS (
              SELECT band_id, band_key, count(*) AS bucket_n
              FROM bandkeys GROUP BY 1, 2
            )
            SELECT bucket_n::BIGINT AS bucket_n, count(*)::BIGINT AS num_buckets
            FROM buckets GROUP BY bucket_n
        """,
        "substring_pairs_exact": """
            WITH g AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, length(text) - 31),
                                             i -> substr(text, i, 32))) AS gram
                FROM documents WHERE text IS NOT NULL AND length(text) >= 32
              )
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*)::BIGINT AS shared_grams
            FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        "embedding_near_dups_exact": """
            WITH p AS (
              SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                round(
                  list_sum(list_transform(generate_series(1, len(a.embedding)),
                           i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine_r
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            )
            SELECT doc_a, doc_b, cosine_r FROM p WHERE cosine_r >= 0.45
        """,
        "shingle_counts": f"""
            WITH {_SHINGLES_CTE}
            SELECT doc_id, count(*)::BIGINT AS n_shingles FROM sh GROUP BY doc_id
        """,
        "token_stats": f"""
            WITH toks AS (
              SELECT doc_id, coalesce(text, '') AS text,
                     list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS t
              FROM documents
            )
            SELECT doc_id,
                   len(t)::BIGINT AS n_tokens,
                   length(text)::BIGINT AS n_chars,
                   CASE WHEN len(t) > 0
                        THEN list_sum(list_transform(t, x -> length(x)))::DOUBLE
                             / len(t)::DOUBLE
                        ELSE 0.0 END AS mean_token_len
            FROM toks
        """,
        "quality_scores": """
            WITH q AS (
              SELECT doc_id, coalesce(text, '') AS text,
                     list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS t,
                     length(coalesce(text, ''))
                       - length(regexp_replace(coalesce(text, ''), '[.,!?;:]', '', 'g')) AS np
              FROM documents
            )
            SELECT doc_id,
                   np::BIGINT AS n_punct,
                   CASE WHEN length(text) > 0
                        THEN np::DOUBLE / length(text)::DOUBLE ELSE 0.0 END AS punct_ratio,
                   CASE WHEN len(t) > 0
                        THEN len(list_filter(list_transform(t, x -> lower(x)),
                             x -> x IN ('the','and','of','to','a','in','is','that','it','for')))::DOUBLE
                             / len(t)::DOUBLE
                        ELSE 0.0 END AS stopword_ratio
            FROM q
        """,
        "lang_id": """
            WITH q AS (
              SELECT doc_id,
                     list_filter(string_split(lower(coalesce(text, '')), ' '), x -> x <> '') AS t
              FROM documents
            ), hits AS (
              SELECT doc_id, len(t) AS n_tok,
                len(list_filter(t, x -> x IN ('the','and','of','to','a','in','is','that','it','for')))::BIGINT AS en_hits,
                len(list_filter(t, x -> x IN ('el','la','de','que','y','en','un','los','se','no')))::BIGINT AS es_hits,
                len(list_filter(t, x -> x IN ('der','die','und','das','in','von','zu','den','mit','ist')))::BIGINT AS de_hits,
                len(list_filter(t, x -> x IN ('le','la','de','et','les','des','un','une','du','est')))::BIGINT AS fr_hits
              FROM q
            )
            SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
                   CASE WHEN n_tok = 0 THEN 'unknown'
                        WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                        WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
                        WHEN de_hits >= fr_hits THEN 'de'
                        ELSE 'fr' END AS pred_lang
            FROM hits
        """,
        "doc_fingerprints": """
            WITH q AS (
              SELECT doc_id,
                     list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS t
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN len(t) > 0 THEN
                     (list_sum(list_transform(generate_series(1, len(t)),
                        i -> i::BIGINT * (ascii(t[i][1:1])::BIGINT + length(t[i])::BIGINT)))
                      % 1000000007)::BIGINT
                   ELSE 0 END AS fingerprint
            FROM q
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity::DOUBLE), 2) AS sum_qty,
                   round(sum(l_extendedprice::DOUBLE * (1 - l_discount::DOUBLE)), 2) AS sum_disc_price,
                   count(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_nations_by_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice::DOUBLE * (1 - l_discount::DOUBLE)), 2) AS revenue,
                   count(DISTINCT o_orderkey)::BIGINT AS n_orders
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "customer_top_orders": """
            SELECT o_custkey, o_orderkey, o_totalprice::DOUBLE AS o_totalprice, rn::BIGINT AS rn
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        "events_type_stats": """
            SELECT event_type,
                   count(*)::BIGINT AS n_events,
                   round(sum(value::DOUBLE), 2) AS total_value,
                   sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
                   count(DISTINCT user_id)::BIGINT AS n_users
            FROM events GROUP BY event_type
        """,
        "parts_never_ordered": """
            -- NOT EXISTS, not NOT IN: one NULL l_partkey in the subquery
            -- would empty a NOT IN result (three-valued logic) while the
            -- Spark twin's exceptAll is NULL-robust (round-5 review)
            SELECT DISTINCT p_partkey FROM part p
            WHERE NOT EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey
                AND l.l_shipdate >= DATE '2001-01-01'
            )
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
            scored AS (
              SELECT q_id, n_id,
                round(
                  list_sum(list_transform(generate_series(1, len(q_vec)),
                           i -> q_vec[i]::DOUBLE * n_vec[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(q_vec, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(n_vec, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine_r
              FROM q, c WHERE q_id <> n_id
            )
            SELECT q_id, n_id, cosine_r, rank FROM (
              SELECT q_id, n_id, cosine_r,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY cosine_r DESC, n_id ASC)::BIGINT AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "chamfer_scores": """
            WITH q AS (SELECT vec_id AS q_idx, embedding AS q_vec FROM embeddings WHERE vec_id < 4),
            d AS (SELECT vec_id // 4 AS doc_id, embedding AS d_vec FROM embeddings),
            dots AS (
              SELECT doc_id, q_idx,
                CAST(round(list_sum(list_transform(generate_series(1, len(d_vec)),
                     i -> d_vec[i]::DOUBLE * q_vec[i]::DOUBLE)) * 1000000.0) AS BIGINT) AS dot
              FROM d, q
            ),
            per_q AS (SELECT doc_id, q_idx, max(dot) AS best FROM dots GROUP BY doc_id, q_idx)
            SELECT doc_id, sum(best)::BIGINT AS chamfer FROM per_q GROUP BY doc_id
        """,
        "chamfer_rank_topk": """
            WITH q AS (SELECT vec_id AS q_idx, embedding AS q_vec FROM embeddings WHERE vec_id < 4),
            d AS (SELECT vec_id // 4 AS doc_id, embedding AS d_vec FROM embeddings),
            dots AS (
              SELECT doc_id, q_idx,
                CAST(round(list_sum(list_transform(generate_series(1, len(d_vec)),
                     i -> d_vec[i]::DOUBLE * q_vec[i]::DOUBLE)) * 1000000.0) AS BIGINT) AS dot
              FROM d, q
            ),
            per_q AS (SELECT doc_id, q_idx, max(dot) AS best FROM dots GROUP BY doc_id, q_idx),
            scores AS (SELECT doc_id, sum(best)::BIGINT AS chamfer FROM per_q GROUP BY doc_id)
            SELECT doc_id, chamfer, rank FROM (
              SELECT doc_id, chamfer,
                     row_number() OVER (ORDER BY chamfer DESC, doc_id ASC)::BIGINT AS rank
              FROM scores
            ) WHERE rank <= 10
        """,
        "chamfer_distance": """
            WITH a AS (
              SELECT vec_id // 4 AS doc_id, vec_id AS a_idx, embedding AS a_vec
              FROM embeddings WHERE vec_id < 200
            ),
            b AS (SELECT embedding AS b_vec FROM embeddings WHERE vec_id >= 480),
            dists AS (
              SELECT doc_id, a_idx,
                CAST(round(sqrt(list_sum(list_transform(generate_series(1, len(a_vec)),
                     i -> (a_vec[i]::DOUBLE - b_vec[i]::DOUBLE)
                        * (a_vec[i]::DOUBLE - b_vec[i]::DOUBLE)))) * 1000000.0) AS BIGINT) AS dist
              FROM a, b
            ),
            per_vec AS (SELECT doc_id, a_idx, min(dist) AS min_d FROM dists GROUP BY doc_id, a_idx)
            SELECT doc_id,
                   round(sum(min_d)::DOUBLE / count(*) / 1000000.0, 6) AS chamfer_dist
            FROM per_vec GROUP BY doc_id
        """,
        # recompute the rawrgb payload bytes (48 chained md5 digests) in SQL:
        # payload position i carries byte (i % 16) of md5(text || 'x' || i//16)
        # and lands in channel i % 3; per-channel mean/std over the 256
        # samples are exact dyadic rationals -> identical doubles pre-round
        "image_channel_stats": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              WHERE text IS NOT NULL AND length(text) > 0
            ),
            bytes AS (
              SELECT doc_id, (i % 3) AS channel,
                     ('0x' || substr(md5(text || 'x' || (i // 16)::VARCHAR),
                                     (i % 16) * 2 + 1, 2))::INT AS b
              FROM base, (SELECT unnest(generate_series(0, 767)) AS i)
            ),
            stats AS (
              SELECT doc_id, channel,
                     avg(b) AS m,
                     sqrt(avg(b * b) - avg(b) * avg(b)) AS s
              FROM bytes GROUP BY doc_id, channel
            )
            SELECT doc_id,
                   round(max(CASE WHEN channel = 0 THEN m END), 6) AS mean_r,
                   round(max(CASE WHEN channel = 1 THEN m END), 6) AS mean_g,
                   round(max(CASE WHEN channel = 2 THEN m END), 6) AS mean_b,
                   round(max(CASE WHEN channel = 0 THEN s END), 6) AS std_r,
                   round(max(CASE WHEN channel = 1 THEN s END), 6) AS std_g,
                   round(max(CASE WHEN channel = 2 THEN s END), 6) AS std_b
            FROM stats GROUP BY doc_id
        """,
        # expected-parquet oracles (round-2 VERDICT #3): these two queries
        # are deterministic integer math given their seeds/input, so the
        # oracle is a committed fixture precomputed by an INDEPENDENT
        # pure-Python path (brute-force all-pairs, no Spark, no blocking)
        # — tools/make_expected_fixtures.py; kept in sync with the
        # operators by tests/test_expected_fixtures.py
        "media_near_dups": """
            SELECT doc_a, doc_b, hamming
            FROM read_parquet('/root/repo/fixtures/media_near_dups.parquet')
        """,
        "substring_pairs": """
            SELECT doc_a, doc_b, shared_grams
            FROM read_parquet('/root/repo/fixtures/substring_pairs_sf0.01.parquet')
        """,
        "lsh_ann_topk": """
            SELECT q_id, n_id, cosine, rank
            FROM read_parquet('/root/repo/fixtures/lsh_ann_topk_sf0.01.parquet')
        """,
        "forest_vote_topk": """
            SELECT query_id, doc_id, score, rank
            FROM read_parquet('/root/repo/fixtures/forest_vote_topk_sf0.01.parquet')
        """,
        "embedding_near_dups": """
            SELECT doc_a, doc_b, cosine
            FROM read_parquet('/root/repo/fixtures/embedding_near_dups_sf0.01.parquet')
        """,
        "plaid_topk": """
            SELECT query_id, doc_id, score, rank
            FROM read_parquet('/root/repo/fixtures/plaid_topk_sf0.01.parquet')
        """,
        "bpe_vocab": """
            SELECT "rank", "left", "right"
            FROM read_parquet('/root/repo/fixtures/bpe_vocab_sf0.01.parquet')
        """,
        "bpe_token_stats": """
            SELECT doc_id, n_bpe_tokens, tokens_md5
            FROM read_parquet('/root/repo/fixtures/bpe_token_stats_sf0.01.parquet')
        """,
        "ivf_ann_topk": """
            SELECT q_id, n_id, cosine, rank
            FROM read_parquet('/root/repo/fixtures/ivf_ann_topk_sf0.01.parquet')
        """,
    }
