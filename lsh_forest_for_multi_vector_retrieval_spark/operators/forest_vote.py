"""Depth-weighted forest voting — the reference's flagship ranking
(``ForestVote``, reference ``src/shared/forest_vote.py``) over fixed
MinHash signatures.

The reference walks each trie root-to-leaf and credits documents at the
depth where they first co-occur with the query
(``_score_node``/``_score_tree``, forest_vote.py:175-288). With fixed
signatures the "first-seen depth" is simply the length of the longest
common signature prefix inside each tree: a match on per-depth prefix
hashes followed by a max. The path-walk and seen-set bookkeeping are
artifacts of pointer tries and disappear (SURVEY §2.6 S3).

Candidate generation is one corpus pass on ``operators/topk.py`` (REPOSE,
ICDE 2021): every trie node is a ``prefix_hashes`` element, computed by
the same JVM expression on both sides. The query paths are collected
once and broadcast; one ``mapInArrow`` pass over the corpus
(``topk.sliced_pass``) counts the docs of each query-path node and
emits the ``(query, doc, node)`` matches. The counts are summed on the
driver and attached to the matches by a narrow pass; the matches then
take one ``query_id`` exchange, and every scoring stage after it runs
on that partitioning.

Scoring stages (forest_vote.py:290-338 ``query``), JVM expressions:
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

import numpy as np
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import (
    _list_parts,
    _spans,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators import topk

# re-exported: the driver entry point and the benchmark import it from here
from lsh_forest_for_multi_vector_retrieval_spark.operators.topk import get_top_k  # noqa: F401


def prefix_hashes(
    sig: Column, cfg: DedupConfig = DedupConfig(), max_depth: int | None = None
) -> Column:
    """Every trie node on a signature's root-to-leaf paths (forest_vote.py:
    236-288), as one never-NULL ``array<bigint>`` of ``num_bands *
    max_depth`` elements in band-major order: element ``b * max_depth +
    d - 1`` is ``xxhash64(slice(sig, b * rows_per_band + 1, d))``, the
    node at depth ``d`` (1..max_depth; the root is never a node) of tree
    ``b``. ``max_depth`` defaults to ``rows_per_band``.

    ``max_depth`` must lie in ``[0, cfg.rows_per_band]``: a depth beyond
    the band width would make ``slice`` silently read rows belonging to
    the NEXT band (Spark slice does not error), creating cross-band trie
    nodes that correspond to no tree in the reference model; 0 gives the
    (valid, empty) zero-depth path."""
    m = cfg.rows_per_band if max_depth is None else max_depth
    if not 0 <= m <= cfg.rows_per_band:
        raise ValueError(
            f"max_depth must be in [0, rows_per_band={cfg.rows_per_band}], got {m}"
        )
    if not m * cfg.num_bands:
        # Spark's sequence(1, 0) is the descending [1, 0], not empty
        return F.array().cast("array<bigint>")
    # nested transforms, not one array() of num_bands * m calls: each
    # Column call is a py4j round trip, and 128 of them cost the driver
    # seconds per plan
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(cfg.num_bands - 1)),
            lambda b: F.transform(
                F.sequence(F.lit(1), F.lit(m)),
                lambda d: F.xxhash64(F.slice(sig, b * cfg.rows_per_band + F.lit(1), d)),
            ),
        )
    )


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


def _query_nodes(paths: np.ndarray):
    """``(node_of, node_pos, node_hash)`` of the query paths ``(queries,
    positions)``: the distinct ``(position, hash)`` nodes, numbered in
    that order, and each query position's node number."""
    n, positions = paths.shape
    pos = np.broadcast_to(np.arange(positions), paths.shape).ravel()
    h = paths.ravel()
    order = np.lexsort((h, pos))
    new = np.ones(len(order), dtype=bool)
    new[1:] = (pos[order][1:] != pos[order][:-1]) | (h[order][1:] != h[order][:-1])
    node_of = np.empty(len(order), dtype=np.int64)
    node_of[order] = np.cumsum(new) - 1
    return node_of.reshape(n, positions), pos[order][new], h[order][new]


def _slice_payload(ids: list, id_type, node_of, node_pos, node_hash, owned) -> dict:
    """What the corpus pass needs of one query slice: the ids (Arrow, to
    emit; NumPy, to drop self-matches), the slice's nodes per position
    (``base`` offsets into ``hash``, sorted within a position), their
    node numbers, which of them this slice's count rows report
    (``owned``: no earlier slice holds the node) and, per node, the
    queries on it (``qptr``/``qlist``)."""
    import pyarrow as pa

    positions = node_of.shape[1]
    gids = np.unique(node_of)
    local = np.searchsorted(gids, node_of.ravel())
    qlist = np.argsort(local, kind="stable") // max(positions, 1)
    py = np.asarray(ids)
    return {
        "ids": pa.array(ids, id_type),
        "py": py if py.dtype.kind in "iuf" else np.array(ids, dtype=object),
        "base": np.searchsorted(node_pos[gids], np.arange(positions + 1)),
        "hash": node_hash[gids],
        "gids": gids,
        "owned": owned[gids],
        "qptr": np.concatenate([[0], np.cumsum(np.bincount(local, minlength=len(gids)))]),
        "qlist": qlist,
    }


def _vote_kernel(bq, positions: int, max_node_docs: int | None, schema):
    """The ``mapInArrow`` body of the corpus pass over ``(doc_id, h)``
    (``h`` = ``prefix_hashes``). Per batch it finds, position by
    position, the rows whose node lies on a query path (``searchsorted``
    into the slice's sorted nodes), adds them to the partition's node
    counts and emits one ``(query_id, doc_id, node)`` row per query on
    the node, except a doc's match with itself (or with a NULL id) and
    the rows of nodes whose partition count already exceeds
    ``max_node_docs``. After the last batch it emits one ``(node, n)``
    count row per owned node seen. Only one batch's hash matrix is held."""

    def run(batches):
        import pyarrow as pa

        q = bq.value
        base, hashes = q["base"], q["hash"]
        counts = np.zeros(len(hashes), dtype=np.int64)
        for b in batches:
            if not b.num_rows or not len(hashes):
                continue
            off, _, _, values = _list_parts(b.column(1))
            mat = values.to_numpy(zero_copy_only=False)[
                off[0]: off[0] + b.num_rows * positions
            ].reshape(b.num_rows, positions)
            rows, nodes = [], []
            for p in np.flatnonzero(np.diff(base)):
                seg = hashes[base[p]: base[p + 1]]
                col = mat[:, p]
                at = np.minimum(np.searchsorted(seg, col), len(seg) - 1)
                hit = np.flatnonzero(seg[at] == col)
                rows.append(hit)
                nodes.append(base[p] + at[hit])
            rows, nodes = np.concatenate(rows), np.concatenate(nodes)
            counts += np.bincount(nodes, minlength=len(hashes))
            per = q["qptr"][nodes + 1] - q["qptr"][nodes]
            qs = q["qlist"][_spans(q["qptr"][nodes], per)]
            rows, nodes = np.repeat(rows, per), np.repeat(nodes, per)
            did = b.column(0)
            ids = (
                np.array(did.to_pylist(), dtype=object)
                if did.null_count
                else did.to_numpy(zero_copy_only=False)
            )
            ok = did.is_valid().to_numpy(zero_copy_only=False)[rows]
            ok[ok] = ids[rows[ok]] != q["py"][qs[ok]]
            if max_node_docs is not None:
                ok &= counts[nodes] <= max_node_docs
            m = int(ok.sum())
            if m:
                yield pa.RecordBatch.from_arrays(
                    [
                        q["ids"].take(pa.array(qs[ok])),
                        did.take(pa.array(rows[ok])),
                        pa.array(q["gids"][nodes[ok]], pa.int64()),
                        pa.nulls(m, pa.int64()),
                    ],
                    schema=schema,
                )
        own = np.flatnonzero(q["owned"] & (counts > 0))
        if len(own):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.nulls(len(own), schema.field("query_id").type),
                    pa.nulls(len(own), schema.field("doc_id").type),
                    pa.array(q["gids"][own], pa.int64()),
                    pa.array(counts[own], pa.int64()),
                ],
                schema=schema,
            )

    return run


def _node_kernel(bdocs, rows_per_band: int, max_node_docs: int | None, schema):
    """The narrow ``mapInArrow`` over the pass's match rows ``(query_id,
    doc_id, node)``: attaches each node's corpus-wide ``node_docs`` and
    tree position, drops the nodes over ``max_node_docs`` and keeps, per
    batch, one row per ``(query, doc, band)``: the max by ``(depth,
    node_docs)``, the struct max the scoring tail takes again."""

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        node_docs, node_pos = bdocs.value
        for b in batches:
            if not b.num_rows:
                continue
            node = b.column(2).to_numpy(zero_copy_only=False)
            docs = node_docs[node]
            band = node_pos[node] // rows_per_band
            depth = node_pos[node] % rows_per_band + 1
            qc = pc.dictionary_encode(b.column(0)).indices.to_numpy(zero_copy_only=False)
            dc = pc.dictionary_encode(b.column(1)).indices.to_numpy(zero_copy_only=False)
            order = (
                np.arange(len(node))
                if max_node_docs is None
                else np.flatnonzero(docs <= max_node_docs)
            )
            order = order[np.lexsort((docs[order], depth[order], band[order], dc[order], qc[order]))]
            last = np.ones(len(order), dtype=bool)
            key = (qc[order], dc[order], band[order])
            last[:-1] = np.logical_or.reduce([k[1:] != k[:-1] for k in key])
            take = order[last]
            if len(take):
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column(0).take(pa.array(take)),
                        b.column(1).take(pa.array(take)),
                        pa.array(band[take], pa.int32()),
                        pa.array(depth[take], pa.int32()),
                        pa.array(docs[take], pa.int64()),
                    ],
                    schema=schema,
                )

    return run


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
    filter here: ``prefix_hashes`` holds depths 1..r only, never the root.
    ``weight_floor`` (forest_vote.py:202-204) prunes negligible weights
    — a pushed-down predicate.
    ``max_node_docs`` is the reference's F5 pivot cap (lsh_forest.py:
    117-119: a node caches <=k pivots, so an overfull node never
    enumerates its full membership): trie nodes holding more than this
    many corpus docs add no match. Mega-nodes carry ~zero score anyway
    (the popularity IDF log1p(n/node_docs)^beta -> 0 as node_docs -> n),
    so capping changes top-k negligibly (pytest-gated <1% on the planted
    fixture). ``None`` disables the cap (exact reference semantics).

    Plan: the query paths are collected once and broadcast in slices
    bounded by ``spark.sql.autoBroadcastJoinThreshold``; one
    ``mapInArrow`` pass per slice over the corpus, made an eager
    ``localCheckpoint``, emits the partition's count of every query-path
    node and its ``(query, doc, node)`` matches (a node whose partition
    count already exceeds the cap is over it globally, so its later rows
    drop there). ``n_docs`` is an ``Observation`` that checkpoint fills.
    The counts are summed on the driver; a narrow pass attaches them,
    drops capped nodes and pre-reduces to one row per ``(query, doc,
    band)`` and Arrow batch. One ``repartition("query_id")`` then serves
    every later stage (groupBy, both windows, ``get_top_k``).

    Skew: clustering on ``query_id`` this early costs a constant factor,
    with or without the cap. After the pre-reduction a ``(query, doc)``
    pair holds one row per band and per Arrow batch that holds its
    matches (one batch, unless the doc id repeats or its rows straddle a
    batch boundary), and the final per-query window already holds every
    such pair of a query in one partition, so the early exchange puts
    about ``num_bands`` (16 by default) times that window's rows in one
    partition. Node
    popularity is counted in NumPy per corpus partition, so a mega-node
    (a shallow prefix shared by a large part of a boilerplate-heavy
    corpus) never becomes one hot count partition: that was why a count
    window over the node key was reverted in round 6.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = corpus_sigs.sparkSession
    positions = cfg.num_bands * cfg.rows_per_band
    paths = prefix_hashes(F.col("sig"), cfg).alias("h")
    qrows = [
        r
        for r in query_sigs.select(F.col("doc_id").alias("query_id"), paths).collect()
        if r.query_id is not None
    ]
    node_of, node_pos, node_hash = _query_nodes(
        np.array([r.h for r in qrows], dtype=np.int64).reshape(len(qrows), positions)
    )
    schema = StructType(
        [
            StructField("query_id", query_sigs.schema["doc_id"].dataType),
            StructField("doc_id", corpus_sigs.schema["doc_id"].dataType),
            StructField("node", LongType()),
            StructField("n", LongType()),
        ]
    )
    seen = Observation()
    frame = corpus_sigs.observe(seen, F.count(F.lit(1)).alias("n_docs")).select("doc_id", paths)
    claimed = np.zeros(len(node_pos), dtype=bool)
    at = 0

    def payload(s: list, arrow) -> dict:
        """The next slice's payload (``sliced_pass`` asks in slice order)."""
        nonlocal at
        rows = slice(at, at + len(s))
        at += len(s)
        sliced = _slice_payload(
            [r.query_id for r in s], arrow.field("query_id").type,
            node_of[rows], node_pos, node_hash, ~claimed,
        )
        claimed[sliced["gids"]] = True
        return sliced

    out = topk.sliced_pass(
        frame, schema, qrows, payload,
        lambda bq, arrow: _vote_kernel(bq, positions, max_node_docs, arrow),
    ).localCheckpoint(eager=True)
    n_docs = seen.get["n_docs"]
    node_docs = np.zeros(len(node_pos), dtype=np.int64)
    counted = out.where(F.col("n").isNotNull()).select("node", "n").collect()
    np.add.at(node_docs, [r.node for r in counted], [r.n for r in counted])

    matched = StructType(
        [
            schema["query_id"],
            schema["doc_id"],
            StructField("band_id", IntegerType()),
            StructField("depth", IntegerType()),
            StructField("node_docs", LongType()),
        ]
    )
    bdocs = spark.sparkContext.broadcast((node_docs, node_pos))
    # first-seen depth == deepest shared prefix per (query, doc, tree);
    # node_docs rides in the struct (depth determines the node uniquely
    # on a fixed (doc, band) path, so the max is still by depth)
    scored = (
        out.where(F.col("n").isNull())
        .select("query_id", "doc_id", "node")
        .mapInArrow(
            _node_kernel(bdocs, cfg.rows_per_band, max_node_docs, to_arrow_schema(matched)),
            matched,
        )
        .repartition("query_id")
        .groupBy("query_id", "doc_id", "band_id")
        .agg(F.max(F.struct("depth", "node_docs")).alias("m"))
        .select(
            "query_id", "doc_id", "band_id", F.col("m.depth").alias("depth"),
            F.col("m.node_docs").alias("node_docs"),
        )
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
