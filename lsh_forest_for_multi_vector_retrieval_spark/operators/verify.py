"""Exact-Jaccard verification of candidate pairs.

Reference analog: Phase-3 exact re-rank — compute the true distance for
every collected candidate and keep the close ones
(/root/reference/src/shared/lsh_forest.py:106-108). The dedup distance is
Jaccard over distinct shingle sets.

``verify_pairs`` computes it JVM-side from ``array_intersect`` sizes
inside whole-stage codegen — no Python crossing at all. Each pair's two
shingle sets meet through one broadcast probe of the signature table and
one exchange on the pair (``_join_shingles``). Only the shingle sets
travel: other columns of the signature table (``sig``, or the SimHash of
``with_signatures``) are projected away before the probe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig


def _endpoints(pairs: DataFrame, id_col: str) -> DataFrame:
    """``(doc_a, doc_b, id_col)``: one row per distinct endpoint of each
    pair (a self pair has one)."""
    return pairs.select(
        "doc_a",
        "doc_b",
        F.explode(F.array_distinct(F.array("doc_a", "doc_b"))).alias(id_col),
    )


def _gather(hits: DataFrame, id_col: str) -> DataFrame:
    """``(doc_a, doc_b, shingles_a, shingles_b)`` from the endpoint rows
    matched to docs: one exchange on the pair, then one row per
    a-side x b-side doc match. Each side's set counts an identical doc
    row once, so a doc id stored twice with the same content does not
    multiply the pair; docs that share an id but differ still give one
    row per combination. The struct keeps a NULL shingle set in the set
    (``collect_set`` skips bare NULLs)."""
    row = F.struct("shingles")

    def side(end: str) -> Column:
        # collect_set skips the NULL of the other endpoint's rows
        return F.collect_set(F.when(F.col(id_col) == F.col(end), row)).alias(end + "_")

    return (
        hits.groupBy("doc_a", "doc_b")
        .agg(side("doc_a"), side("doc_b"))
        .select("doc_a", "doc_b", F.explode("doc_a_").alias("_a"), "doc_b_")
        .select("doc_a", "doc_b", "_a", F.explode("doc_b_").alias("_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("_a.shingles").alias("shingles_a"),
            F.col("_b.shingles").alias("shingles_b"),
        )
    )


def _join_shingles(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    max_broadcast_ids: int = 10_000_000,
    materialize_pairs: bool = True,
    n_pairs: int | None = None,
) -> DataFrame:
    """Attach each side's shingle set with one probe of ``docs`` and one
    exchange.

    Each pair is exploded into one row per distinct endpoint. Those rows
    are BROADCAST and the signature table is probed in place: the inner
    join is itself the prune to candidate docs, so no shingle array of a
    non-candidate doc moves, and no id set is built. One ``groupBy`` on
    the pair then brings both endpoints' doc rows together (the
    filter-then-verify shape of string similarity joins: each candidate's
    two records meet once). The exchange carries each candidate doc's
    shingles once per pair it is in.

    The broadcast is gated in longs (``max_broadcast_ids``, from
    ``DedupConfig.verify_prune_max_ids``): the endpoint table is at most
    2*|pairs| rows of three longs. Above the gate (duplicate-dense
    corpora, where millions of pairs can span few docs) the exact
    distinct endpoint ids are materialized and counted, and the
    signature table is semi-join pruned to them, by a broadcast when they
    fit and a shuffle semi-join when not; the endpoint rows then join the
    pruned docs. Only that last tier exchanges the signature table, and
    the gather never carries a non-candidate doc (unpruned, verify was
    60.8 s of a 133 s four-core flagship pass at 320k docs: ~0.6 GB of
    arrays shuffled to verify 10k pairs).

    ``n_pairs`` is the row count of ``pairs`` when the caller knows it
    (``minhash_dedup`` and ``process_batch`` observe their candidate
    checkpoint); such a ``pairs`` must be cheap to read twice, as the tier
    above the gate does. Otherwise the count and the endpoint rows read
    ``pairs`` twice (three times above the gate), so ``materialize_pairs``
    makes it an eager ``localCheckpoint`` whose ``Observation`` supplies
    the count at no extra job. A ``pairs`` already cheap to read again (a
    parquet scan or a checkpoint) passes ``materialize_pairs=False``, and
    then a count job gives the gate its count. Only these two decide.
    """
    if n_pairs is None and materialize_pairs:
        counted = Observation()
        pairs = pairs.observe(counted, F.count(F.lit(1)).alias("n"))
        pairs = pairs.localCheckpoint(eager=True)
        n_pairs = counted.get["n"]
    elif n_pairs is None:
        n_pairs = pairs.count()
    docs = docs.select(id_col, "shingles")
    ends = _endpoints(pairs, id_col)
    if 6 * n_pairs <= max_broadcast_ids:
        hits = docs.join(F.broadcast(ends), id_col)
    else:
        ids = ends.select(id_col).distinct().localCheckpoint(eager=True)
        if ids.count() <= max_broadcast_ids:
            ids = F.broadcast(ids)
        hits = ends.join(docs.join(ids, id_col, "left_semi"), id_col)
    return _gather(hits, id_col)


def verify_pairs(
    pairs: DataFrame,
    docs_with_shingles: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    keep_below_threshold: bool = False,
    materialize_pairs: bool = True,
    n_pairs: int | None = None,
) -> DataFrame:
    """``(doc_a, doc_b, jaccard)`` for pairs with jaccard >= threshold.

    ``docs_with_shingles`` needs ``(id_col, shingles)``; verify reads no
    other column of it. ``pairs`` is a set: a pair listed twice is
    verified once. A doc id with several identical rows in
    ``docs_with_shingles`` counts once; rows that differ give one output
    row per combination.

    ``materialize_pairs=False`` skips the eager localCheckpoint of
    ``pairs`` — pass it when ``pairs`` is already a bare parquet scan or
    a checkpoint, so a cheap re-scan isn't copied into block-manager
    storage. ``n_pairs``, the row count of ``pairs`` when the caller
    knows it, saves the count job of the broadcast gate (and the
    checkpoint)."""
    joined = _join_shingles(
        pairs,
        docs_with_shingles,
        id_col,
        max_broadcast_ids=cfg.verify_prune_max_ids,
        materialize_pairs=materialize_pairs,
        n_pairs=n_pairs,
    )
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size("shingles_a") + F.size("shingles_b") - inter
    out = joined.select(
        "doc_a",
        "doc_b",
        F.when(union > 0, inter.cast("double") / union.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )
    if keep_below_threshold:
        return out
    return out.where(F.col("jaccard") >= cfg.jaccard_threshold)

