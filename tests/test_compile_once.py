"""Each generated class is compiled once per session: ``get_spark``'s
codegen cache holds the engine's working set, and no per-call value is
inlined into generated code. At Spark's default cache of 100 classes a
pass below evicts its own classes before their next use, so every pass
compiles them all again."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import ivf_topk, lsh_topk
from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import minhash_dedup
from lsh_forest_for_multi_vector_retrieval_spark.operators.forest_vote import (
    forest_vote_scores,
    get_top_k,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.plaid import (
    build_centroids_deterministic,
    plaid_topk,
)
from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import generate_pages
from lsh_forest_for_multi_vector_retrieval_spark.streaming.incremental import (
    IncrementalDedup,
)
from test_ann_chamfer import SF


def test_second_pass_compiles_no_class(spark, compiles, tmp_path):
    """The flagship (``minhash_dedup`` and one ``process_batch``) and the
    four retrieval operators, run twice on small fixtures with the
    production kernels: the second pass compiles no class."""
    cfg = DedupConfig()
    pages = generate_pages(
        spark, n_clusters=3, cluster_size=2, n_singletons=5, seed=11
    ).select("doc_id", "text").localCheckpoint(eager=True)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vecs = emb.select("vec_id", "embedding").repartition(4).localCheckpoint(eager=True)
    ann_q = vecs.where(F.col("vec_id") < 20)
    docs = emb.select(
        (F.col("vec_id") / 4).cast("long").alias("doc_id"), "vec_id", "embedding"
    ).repartition(3).localCheckpoint(eager=True)
    plaid_q = docs.where(F.col("vec_id") < 80).select(
        F.col("doc_id").alias("query_id"), "vec_id", "embedding"
    )
    cents = build_centroids_deterministic(docs, k=16, iters=5, id_col="vec_id")
    cells = np.random.RandomState(3).standard_normal((32, 64)).tolist()
    sigs = np.random.default_rng(5).integers(0, 6, size=(120, cfg.num_perm)).tolist()
    fv = spark.createDataFrame(list(enumerate(sigs)), "doc_id long, sig array<long>")
    fv = fv.localCheckpoint(eager=True)
    fv_q = fv.where(F.col("doc_id") % 10 == 0)
    pandas = dict(assignment="pandas", scoring="pandas")

    def one_pass(i: int) -> None:
        res = minhash_dedup(pages, cfg)
        res.clusters.collect()
        res.verified.collect()
        res.unpersist()
        IncrementalDedup(str(tmp_path / f"state{i}"), cfg).process_batch(pages, 0)
        plaid_topk(docs, plaid_q, cents, k=10, nprobe=4, rerank=20, **pandas).collect()
        ivf_topk(
            vecs, ann_q, k=20, centroids=cells, nprobe=2, ensure_k=True, round_digits=6, **pandas
        ).collect()
        lsh_topk(
            vecs, ann_q, k=30, n_chunks=4, ensure_k=True, round_digits=6, scoring="pandas"
        ).collect()
        get_top_k(forest_vote_scores(fv, fv_q, cfg), k=5).collect()

    compiles(lambda: one_pass(0))
    assert compiles(lambda: one_pass(1)) == 0
