"""LSH band tables — the reference's forest-of-tries as DataFrames.

A *band* is one tree of the forest (``LSHForest.__init__`` builds ``l``
roots, /root/reference/src/shared/lsh_forest.py:54-64); a *bucket*
``(band_id, band_hash)`` is a leaf; rows sharing a bucket are the leaf's
vector ids (``_insert_into_tree``, lsh_forest.py:110-126). Insert-as-loop
becomes one bulk select + posexplode — a single narrow stage, no shuffle.

``adaptive_bands`` adds the LSH-*forest* property: variable-depth leaves
(``RecursiveLSHForest._build_tree`` splits until a size bound,
recursive_lsh_forest.py:70-133). Instead of recursion we iteratively
lengthen the hashed signature slice only for oversized buckets — each
round is one groupBy + one semi-join, and typically 1-2 rounds suffice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.functions.minhash import (
    band_hashes_col,
    minhash_udf,
)
from lsh_forest_for_multi_vector_retrieval_spark.functions.shingles import with_shingles
from lsh_forest_for_multi_vector_retrieval_spark.functions.simhash import simhash_udf


def with_signatures(
    df: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    text_col: str = "text",
) -> DataFrame:
    """text -> shingles -> MinHash sig (+ SimHash). One narrow stage
    (plus an up-repartition when the source arrives under-partitioned).
    Each signature is its own pandas UDF, so a caller that projects
    ``simhash`` away (the flagship's ``signatures`` stage) runs the
    MinHash UDF alone."""
    from lsh_forest_for_multi_vector_retrieval_spark.session import (
        ensure_min_partitions,
    )

    df = ensure_min_partitions(df)
    out = with_shingles(
        df,
        text_col=text_col,
        k=cfg.shingle_size,
        lowercase=cfg.lowercase,
        hash_family=cfg.hash_family,
    )
    # signature_len = num_perm, plus reserved deepening rows when the
    # adaptive band strategy is on (fresh permutations past the base bands)
    mh = minhash_udf(cfg.signature_len, cfg.minhash_seed)
    out = out.withColumn("sig", mh(F.col("shingles")))
    return out.withColumn("simhash", simhash_udf()(F.col("shingles")))


def band_table(
    sigs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, band_id, band_hash)`` — the whole forest in one table.
    The flagship's band stage, ``dedup.flagship_bands``, projects it to
    the canonical ``(band_id, band_hash, doc_id)``.

    Empty docs (sentinel signatures) are excluded: an empty document never
    generates near-dup candidates (reference base case: a leaf with <=1
    vector produces no comparisons, recursive_lsh_forest.py:92).
    """
    bands = band_hashes_col(F.col("sig"), cfg.num_bands, cfg.rows_per_band)
    return (
        sigs.where(F.size("shingles") > 0)
        .select(F.col(id_col), F.posexplode(bands).alias("band_id", "band_hash"))
    )


def adaptive_band_table(
    sigs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
) -> DataFrame:
    """Variable-depth band table (the LSH-forest F1-F2 semantics).

    Start every band at ``rows_per_band`` signature rows. Any bucket with
    more than ``cfg.adaptive_max_bucket`` docs gets its prefix lengthened
    by hashing extra signature positions (up to ``adaptive_max_extra_rows``)
    — the relational form of "keep splitting an overfull trie node".
    Output schema: ``(band_id, band_hash, depth, doc_id)``.

    Deepening extends the key with extra MinHash rows, so docs that
    collide at depth d+1 also collided at depth d (containment of buckets
    is exact because the deeper key's row set is a superset of the
    shallower key's for the same band).

    Extra rows come from the RESERVED permutation region — positions
    ``num_bands*rows_per_band .. signature_len-1`` that no base band
    consumes, ``adaptive_max_extra_rows`` of them per band (see
    ``DedupConfig.signature_len``): band b's extra row j is reserved
    position ``b*adaptive_max_extra_rows + j``, so bands deepen with
    disjoint fresh permutations and never with a neighboring band's rows
    (which would correlate the trees). ``sigs`` must be signed under
    ``cfg`` with ``use_adaptive_bands`` on, which is what reserves those
    rows; any other ``cfg`` is refused, since a deepened key would read
    past the end of the signature.

    Each round's surviving band table is eagerly localCheckpoint-ed:
    round r's lineage otherwise chains r groupBys + joins back to
    ``sigs``, and the per-round ``isEmpty()`` action plus the final
    union would re-execute the whole chain from scratch — O(rounds^2)
    shuffle recomputation, including re-running the MinHash UDF itself
    when ``sigs`` arrives unmaterialized (round-5 review).
    """
    if not cfg.use_adaptive_bands:
        raise ValueError(
            "adaptive_band_table needs cfg.use_adaptive_bands=True: only then "
            "does signature_len reserve the deepening rows"
        )
    base_rows = cfg.rows_per_band
    base_end = cfg.num_bands * base_rows

    def bands_at_depth(extra: int) -> DataFrame:
        rows = base_rows + extra
        if extra == 0:
            # the shared base-band kernel — NOT re-implemented here, so
            # depth-0 adaptive buckets can never diverge from the
            # fixed-depth band_table's (round-5 review)
            chosen = band_hashes_col(F.col("sig"), cfg.num_bands, base_rows)
        else:
            def deep_key(b):
                extras = F.array(
                    *[
                        F.get(
                            F.col("sig"),
                            b * cfg.adaptive_max_extra_rows + F.lit(j + base_end),
                        )
                        for j in range(extra)
                    ]
                )
                return F.xxhash64(
                    F.concat(
                        F.slice(F.col("sig"), b * base_rows + F.lit(1), base_rows),
                        extras,
                    )
                )

            chosen = F.transform(
                F.sequence(F.lit(0), F.lit(cfg.num_bands - 1)), deep_key
            )
        return sigs.where(F.size("shingles") > 0).select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(chosen).alias("band_id", "band_hash"),
            F.lit(rows).alias("depth"),
        )

    current = bands_at_depth(0).localCheckpoint(eager=True)
    final_parts: list[DataFrame] = []
    for extra in range(1, cfg.adaptive_max_extra_rows + 1):
        sizes = current.groupBy("band_id", "band_hash").agg(
            F.count("*").alias("bucket_n")
        )
        hot = sizes.where(F.col("bucket_n") > cfg.adaptive_max_bucket).select(
            "band_id", "band_hash"
        )
        done = current.join(hot, ["band_id", "band_hash"], "left_anti")
        final_parts.append(done)
        overfull = current.join(hot, ["band_id", "band_hash"], "left_semi")
        if overfull.isEmpty():
            current = None
            break
        deeper = bands_at_depth(extra)
        # only re-band the docs that live in overfull buckets of this band;
        # (band_id, doc_id) is already unique per depth — no distinct needed
        current = deeper.join(
            overfull.select("band_id", "doc_id"),
            ["band_id", "doc_id"],
            "left_semi",
        ).localCheckpoint(eager=True)
    if current is not None:
        final_parts.append(current)
    out = final_parts[0]
    for p in final_parts[1:]:
        out = out.unionByName(p)
    return out.select("band_id", "band_hash", "depth", "doc_id")


def bucket_stats(bands: DataFrame) -> DataFrame:
    """Bucket-size histogram — the reference's forest diagnostics
    (forest_insights.py:91-120) as a metrics table (north_rule lineage)."""
    sizes = bands.groupBy("band_id", "band_hash").agg(F.count("*").alias("bucket_n"))
    return sizes.groupBy("bucket_n").agg(
        F.count("*").alias("num_buckets")
    ).orderBy("bucket_n")
