"""Evaluation metrics (SURVEY §2.7, ops M1-M5) as DataFrame functions.

Reference analogs: ``recall`` (/root/reference/src/shared/utils.py:79-87),
rank-of-true-NN (src/shared/test_query.py:108-144), top-k accuracy
(src/shared/test_forest_vote.py:313-322), MRR@10 / Recall@100
(notebooks/plaid.ipynb cell 10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.operators.topk import get_top_k


def pair_recall(predicted: DataFrame, truth: DataFrame) -> float:
    """|pred ∩ truth| / |truth| over canonical (doc_a, doc_b) pair sets —
    the north_rule's dup-pair recall, via a left-semi join (no collect of
    the pair sets)."""
    t = truth.select("doc_a", "doc_b").distinct()
    n_truth = t.count()
    if n_truth == 0:
        return 1.0
    hit = t.join(
        predicted.select("doc_a", "doc_b").distinct(), ["doc_a", "doc_b"], "left_semi"
    ).count()
    return hit / n_truth


def pair_precision(predicted: DataFrame, truth: DataFrame) -> float:
    p = predicted.select("doc_a", "doc_b").distinct()
    n_pred = p.count()
    if n_pred == 0:
        return 1.0
    hit = p.join(
        truth.select("doc_a", "doc_b").distinct(), ["doc_a", "doc_b"], "left_semi"
    ).count()
    return hit / n_pred


def pair_recall_report(
    predicted: DataFrame, truth: DataFrame, round_digits: int = 6
) -> DataFrame:
    """Single-row ``(n_truth, n_found, n_hit, recall)`` — the north_rule's
    dup-pair recall as a DataFrame, so the number itself can sit behind a
    cross-engine oracle (``pair_recall`` is the float convenience twin).
    All three counts are aggregates over left-semi joins; no pair set is
    ever collected, so the report is as scale-safe as the inputs.
    Reference analog: recall (/root/reference/src/shared/utils.py:79-87)."""
    t = truth.select("doc_a", "doc_b").distinct()
    p = predicted.select("doc_a", "doc_b").distinct()
    hit = t.join(p, ["doc_a", "doc_b"], "left_semi")
    n_t = t.agg(F.count("*").alias("n_truth"))
    n_p = p.agg(F.count("*").alias("n_found"))
    n_h = hit.agg(F.count("*").alias("n_hit"))
    # three 1-row aggregates; the crossJoins are broadcast-trivial
    return (
        n_t.crossJoin(n_p)
        .crossJoin(n_h)
        .select(
            "n_truth",
            "n_found",
            "n_hit",
            F.round(
                F.when(F.col("n_truth") == 0, F.lit(1.0)).otherwise(
                    F.col("n_hit").cast("double") / F.col("n_truth")
                ),
                round_digits,
            ).alias("recall"),
        )
    )


def recall_at_k(
    predicted: DataFrame,
    truth: DataFrame,
    k: int,
    query_col: str = "q_id",
    item_col: str = "n_id",
    score_col: str = "cosine",
) -> DataFrame:
    """Per-query |top-k_pred ∩ top-k_true| / k (utils.py:79-87). Both
    inputs are (query, item, score); ranking happens here so callers pass
    raw scored candidates."""

    def topk(df: DataFrame) -> DataFrame:
        return get_top_k(df, k, query_col, item_col, score_col).select(
            query_col, item_col
        )

    p, t = topk(predicted), topk(truth)
    hits = p.join(t, [query_col, item_col], "inner").groupBy(query_col).agg(
        F.count("*").alias("hits")
    )
    base = t.groupBy(query_col).agg(F.count("*").alias("n_true"))
    return base.join(hits, query_col, "left").select(
        query_col,
        (F.coalesce("hits", F.lit(0)).cast("double") / F.col("n_true")).alias(
            "recall_at_k"
        ),
    )


def mrr_at_k(
    predicted_ranks: DataFrame,
    relevant: DataFrame,
    k: int = 10,
    query_col: str = "q_id",
    item_col: str = "n_id",
) -> float:
    """MRR@k over a qrels-style relevance table (plaid.ipynb cell 10).

    The denominator is the set of JUDGED queries (distinct queries in
    ``relevant``, trec_eval semantics): a query for which retrieval
    returned zero rows still counts (reciprocal rank 0), so an
    ``ensure_k=False`` run that drops sparse-region queries cannot
    inflate its MRR; a predicted query with no qrels is excluded."""
    first_rel = (
        predicted_ranks.where(F.col("rank") <= k)
        .join(relevant, [query_col, item_col], "left_semi")
        .groupBy(query_col)
        .agg(F.min("rank").alias("first_rank"))
    )
    n_q = relevant.select(query_col).distinct().count()
    if n_q == 0:
        return 0.0
    s = first_rel.agg(F.sum(1.0 / F.col("first_rank"))).first()[0] or 0.0
    return s / n_q

