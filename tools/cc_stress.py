"""Distributed connected-components stress (round-2 VERDICT #4).

The flagship's verified-pair graphs at bench scale resolve under the
5M-edge driver-union-find gate, so the distributed path was only ever
exercised at toy size. This harness builds a >=1M-edge graph with a
planted GIANT high-diameter component (a chain of >=10k docs — the
adversarial shape for label propagation, which needs diameter rounds;
the large-star/small-star contraction needs O(log^2 n)) plus a
realistic mass of small dense clusters, runs the forced distributed path,
and asserts bit-identical labels vs the driver union-find. Writes
CC_STRESS.json with rounds + wall time.

Usage: python tools/cc_stress.py [chain_n=100000] [n_clusters=110000]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from lsh_forest_for_multi_vector_retrieval_spark import get_spark  # noqa: E402
from lsh_forest_for_multi_vector_retrieval_spark.operators.components import (  # noqa: E402
    _driver_union_find,
    connected_components,
)


def build_edges(spark, chain_n: int, n_clusters: int, cluster_size: int = 10):
    """Deterministic graph: one chain component of ``chain_n`` vertices
    (ids 0..chain_n-1) + ``n_clusters`` dense clusters of ``cluster_size``
    (ring + chords: 2*size edges each), all ids disjoint."""
    chain = spark.range(chain_n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    base = chain_n
    s = cluster_size
    members = spark.range(n_clusters * s).selectExpr(
        f"id DIV {s} AS c", f"id % {s} AS j"
    )
    ring = members.selectExpr(
        f"{base} + c * {s} + j AS doc_a",
        f"{base} + c * {s} + (j + 1) % {s} AS doc_b",
    )
    chords = members.selectExpr(
        f"{base} + c * {s} + j AS doc_a",
        f"{base} + c * {s} + (j * 3 + 1) % {s} AS doc_b",
    )
    return chain.unionByName(ring).unionByName(chords).where(
        F.col("doc_a") != F.col("doc_b")
    )


def main() -> int:
    chain_n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_clusters = int(sys.argv[2]) if len(sys.argv) > 2 else 110_000

    spark = get_spark(master="local[16]", shuffle_partitions=64,
                      driver_memory="24g",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    edges = build_edges(spark, chain_n, n_clusters).persist()
    n_edges = edges.count()
    print(f"edges: {n_edges}", flush=True)
    assert n_edges >= 1_000_000, "stress graph under 1M edges"

    out = {"metric": "cc_distributed_stress", "n_edges": n_edges,
           "chain_n": chain_n, "n_clusters": n_clusters, "algorithms": {}}

    # ground truth: driver union-find over the full edge list
    t0 = time.perf_counter()
    pdf = edges.toPandas()
    truth_map = _driver_union_find(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))
    uf_wall = time.perf_counter() - t0
    truth = spark.createDataFrame(
        list(truth_map.items()), "doc_id long, cluster_id long"
    ).persist()
    n_truth_clusters = truth.select("cluster_id").distinct().count()
    out["driver_union_find"] = {
        "wall_sec": round(uf_wall, 2), "n_clusters": n_truth_clusters,
    }

    stats: dict = {}
    t0 = time.perf_counter()
    labels = connected_components(
        edges, driver_max_edges=0, max_iterations=60, stats=stats,
    ).persist()
    n_labeled = labels.count()
    wall = time.perf_counter() - t0
    mism = (
        labels.join(truth.withColumnRenamed("cluster_id", "want"), "doc_id")
        .where(F.col("cluster_id") != F.col("want"))
        .count()
    )
    out["algorithms"]["star"] = {
        "rounds": stats.get("rounds"),
        "wall_sec": round(wall, 2),
        "n_vertices_labeled": n_labeled,
        "label_mismatches_vs_union_find": mism,
    }
    print(f"star: rounds={stats.get('rounds')} wall={wall:.1f}s "
          f"mismatches={mism}", flush=True)
    assert mism == 0, "star labels diverge from union-find"
    assert n_labeled == len(truth_map)
    labels.unpersist()

    Path(ROOT / "CC_STRESS.json").write_text(json.dumps(out, indent=2))
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
