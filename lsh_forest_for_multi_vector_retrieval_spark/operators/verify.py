"""Exact-Jaccard verification of candidate pairs.

Reference analog: Phase-3 exact re-rank — compute the true distance for
every collected candidate and keep the close ones
(/root/reference/src/shared/lsh_forest.py:106-108). The dedup distance is
Jaccard over distinct shingle sets.

``verify_pairs`` computes it JVM-side from ``array_intersect`` sizes
inside whole-stage codegen — no Python crossing at all.

An optional SimHash Hamming pre-filter (``bit_count(xor) <= h``) runs as a
pure Column expression before the heavy join.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig


def _join_shingles(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    max_broadcast_ids: int = 10_000_000,
    materialize_pairs: bool = True,
) -> DataFrame:
    """Attach each side's shingle set (and simhash when present).

    ``docs`` is first semi-joined down to the ids that appear in at
    least one pair: candidate docs are a small fraction of the corpus,
    and without the prune the second pair join
    exceeds the broadcast threshold and SHUFFLES the full signature
    table's shingle arrays through a sort-merge join (measured: the
    verify stage was 60.8 s of a 133 s four-core flagship pass at 320k
    docs — ~0.6 GB of arrays shuffled to verify 10k pairs; pruned: the
    id set broadcasts and the signature scan is probed in place). The
    broadcast is COUNT-GATED (``max_broadcast_ids``, from
    ``DedupConfig.verify_prune_max_ids``): on duplicate-dense corpora
    where candidate docs approach the corpus itself, the explicit hint
    would force a multi-GB hash relation past the
    autoBroadcastJoinThreshold, so oversized id sets fall back to a
    shuffle semi-join of the slim id column — still far cheaper than
    shuffling the shingle arrays. The gate is two-tier: a shuffle-free
    2*|pairs| bound fast-paths the common case, and the exact distinct
    count (one extra action on a materialized slim table) rescues
    duplicate-dense corpora where millions of pairs span few docs — see
    the inline note.

    The prune traverses the pair plan TWICE (the candidate-id distinct
    plus the pair join itself), so an UNCACHED ``pairs`` plan would
    re-run its whole band/bucket chain for each — when the caller hasn't
    persisted it, the slim (doc_a, doc_b) table is materialized once
    here via eager ``localCheckpoint`` (two longs per row,
    ContextCleaner-released; same pattern as dedup.simhash/ann). That
    makes this call a blocking action for uncached inputs. Callers whose
    ``pairs`` is ALREADY cheap to traverse twice — persisted
    (``minhash_dedup``, streaming) or a bare checkpointed-parquet scan
    (``plans.pipeline``) — skip it: persisted
    inputs via the storageLevel check, parquet-backed OR
    already-localCheckpointed ones via ``materialize_pairs=False``
    (re-scanning a slim pair file twice is cheaper than copying it into
    block-manager storage that lingers until ContextCleaner GCs the
    reference). NOTE ``Dataset.storageLevel`` consults only the cache
    manager and reads NONE for checkpointed plans, so a caller that
    pre-checkpoints MUST pass ``materialize_pairs=False`` itself or pay
    a redundant second checkpoint copy.
    """
    if materialize_pairs and pairs.storageLevel == StorageLevel.NONE:
        pairs = pairs.localCheckpoint(eager=True)
    cand_ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # Gate on a SHUFFLE-FREE upper bound first: each pair contributes
    # at most two ids, so 2*|pairs| >= |cand_ids|. One cheap count of
    # the slim (checkpointed / parquet-backed) pair table instead of
    # materializing the distinct twice — the exact-count variant
    # measurably cost the 4-core scaling leg ~2 s of serial driver
    # time (two extra job launches + a checkpointed shuffle) at 320k
    # docs. When the bound is exceeded, do NOT give up on the
    # broadcast yet: on duplicate-dense corpora (one hot cluster of
    # 50k docs can emit millions of pairs) the DISTINCT id set may
    # still be tiny, and the shuffle fallback would exchange the full
    # signature table's shingle arrays — the exact shuffle the prune
    # exists to avoid. Materialize the slim distinct once and gate on
    # its exact count; the extra action only runs in the oversized
    # case, where its cost is dwarfed by either downstream plan.
    if 2 * pairs.count() <= max_broadcast_ids:
        cand_ids = F.broadcast(cand_ids)
    else:
        cand_ids = cand_ids.localCheckpoint(eager=True)
        if cand_ids.count() <= max_broadcast_ids:
            cand_ids = F.broadcast(cand_ids)
    docs = docs.join(cand_ids, id_col, "left_semi")
    cols = ["shingles"] + (["simhash"] if "simhash" in docs.columns else [])
    a = docs.select(
        F.col(id_col).alias("doc_a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    )
    b = docs.select(
        F.col(id_col).alias("doc_b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    )
    return pairs.join(a, "doc_a").join(b, "doc_b")


def simhash_prefilter(joined: DataFrame, max_hamming: int) -> DataFrame:
    return joined.where(
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))) <= max_hamming
    )


def verify_pairs(
    pairs: DataFrame,
    docs_with_shingles: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    keep_below_threshold: bool = False,
    materialize_pairs: bool = True,
) -> DataFrame:
    """``(doc_a, doc_b, jaccard)`` for pairs with jaccard >= threshold.

    ``materialize_pairs=False`` skips the prune's eager localCheckpoint
    of ``pairs`` — pass it when ``pairs`` is already a bare parquet scan
    (the checkpointed pipeline) so a cheap re-scan isn't copied into
    block-manager storage."""
    joined = _join_shingles(
        pairs,
        docs_with_shingles,
        id_col,
        max_broadcast_ids=cfg.verify_prune_max_ids,
        materialize_pairs=materialize_pairs,
    )
    if (
        cfg.simhash_prefilter_max_hamming is not None
        and "simhash_a" in joined.columns
    ):
        joined = simhash_prefilter(joined, cfg.simhash_prefilter_max_hamming)
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

