"""Seeded workload inputs and their oracles, cached under a recipe
fingerprint.

Inputs come from the engine's own seeded generators
(``sources.pages.generate_pages``, ``sources.vectors.generate_embeddings``)
plus seeded NumPy choices made here (ingest batch split, query picks).
A cache entry is keyed by workload, seed and a hash of the recipe, so a
recipe change misses the cache instead of silently reusing old inputs.
Oracles are computed once per entry, never inside a timed region.
"""

from __future__ import annotations

import functools
import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

#: bump when a generator below changes what a recipe produces
GENERATOR_VERSION = 2

RECIPES = {
    "dedup_web": {
        "n_docs": 4000,
        "cluster_size": 4,
        "clusters_div": 40,  # 10% of docs in planted clusters
        "exact_div": 10,
        "doc_len": 250,
        "max_mutation": 0.04,
        "ingest_batches": 2,
    },
    "retrieve": {
        "n_vectors": 2000,  # 500 docs x 4 tokens
        "tokens_per_doc": 4,
        "dim": 64,
        "plaid_queries": 100,
        "ann_queries": 40,
        "fv_docs": 600,
    },
}


def internal_seed(seed: int) -> int:
    """The generators seed NumPy with ``seed * 13_000_003 + row``, which
    must stay below 2**32: fold any workload seed into 1..311."""
    return 1 + seed % 311


def fingerprint(workload: str) -> str:
    blob = json.dumps(
        {"v": GENERATOR_VERSION, "w": workload, "r": RECIPES[workload]}, sort_keys=True
    ).encode()
    return hashlib.md5(blob).hexdigest()[:10]


@functools.lru_cache(maxsize=None)
def engine_fingerprint(package_dir: Path) -> str:
    """Hash of the engine's Python sources, so quality floors recorded by
    one version of the code never judge another."""
    h = hashlib.md5()
    for f in sorted(package_dir.rglob("*.py")):
        h.update(str(f.relative_to(package_dir)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:10]


def batch_split(n_docs: int, n_batches: int, seed: int) -> np.ndarray:
    """Micro-batch id per doc id: a seeded permutation dealt round-robin,
    so planted clusters spread over batches and history matters."""
    perm = np.random.RandomState(internal_seed(seed)).permutation(n_docs)
    out = np.empty(n_docs, dtype=np.int32)
    out[perm] = np.arange(n_docs) % n_batches
    return out


def query_refs(n_vectors: int, n_queries: int, tokens: int, seed: int) -> np.ndarray:
    """Corpus vector id behind each query token (query q owns rows
    q*tokens .. q*tokens+tokens-1)."""
    rng = np.random.RandomState(internal_seed(seed) * 7 + 3)
    return rng.randint(0, n_vectors, size=n_queries * tokens)


def ann_query_ids(n_vectors: int, n_queries: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(internal_seed(seed) * 7 + 5)
    return np.sort(rng.choice(n_vectors, size=n_queries, replace=False))


def pages_kwargs(recipe: dict, n_docs: int, seed: int) -> dict:
    nc = n_docs // recipe["clusters_div"]
    ne = nc // recipe["exact_div"]
    return dict(
        n_clusters=nc,
        cluster_size=recipe["cluster_size"],
        n_exact_dups=ne,
        n_singletons=n_docs - recipe["cluster_size"] * nc - ne,
        doc_len=recipe["doc_len"],
        max_mutation=recipe["max_mutation"],
        seed=internal_seed(seed),
    )


class Cache:
    """One cache entry: parquet files plus ``meta.json``. An entry is
    complete once ``meta.json`` exists; a half-built one is discarded."""

    def __init__(self, root: Path, workload: str, seed: int):
        self.dir = root / f"{workload}-s{seed}-{fingerprint(workload)}"
        self.meta_path = self.dir / "meta.json"

    def ready(self) -> bool:
        return self.meta_path.exists()

    def reset(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.dir.mkdir(parents=True)

    def path(self, name: str) -> Path:
        return self.dir / f"{name}.parquet"

    def put(self, name: str, pdf: pd.DataFrame) -> None:
        pdf.to_parquet(self.path(name), index=False)

    def get(self, name: str) -> pd.DataFrame:
        return pd.read_parquet(self.path(name))

    def has(self, name: str) -> bool:
        return self.path(name).exists()

    def meta(self) -> dict:
        return json.loads(self.meta_path.read_text())

    def write_meta(self, meta: dict) -> None:
        tmp = self.meta_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(meta, indent=1, sort_keys=True))
        tmp.replace(self.meta_path)


def build_pages(spark, recipe: dict, n_docs: int, seed: int, cpus: int) -> pd.DataFrame:
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import generate_pages

    return (
        generate_pages(spark, partitions=cpus, **pages_kwargs(recipe, n_docs, seed))
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )


def build_vectors(spark, recipe: dict, seed: int, cpus: int) -> pd.DataFrame:
    from lsh_forest_for_multi_vector_retrieval_spark.sources.vectors import (
        generate_embeddings,
    )

    return (
        generate_embeddings(
            spark,
            n_base=recipe["n_vectors"],
            n_dup_pairs=0,
            dim=recipe["dim"],
            seed=internal_seed(seed),
            partitions=cpus,
        )
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id", ignore_index=True)
    )


def exact_top1(q_ids, q_mat, d_ids, d_mat) -> dict[int, int]:
    """Exact max-sum interaction top-1 doc per query (ties to the lowest
    doc id), driver-side NumPy: max over each doc's tokens, summed over
    each query's tokens."""
    q_ids = np.asarray(q_ids)
    d_ids = np.asarray(d_ids)
    s = np.asarray(q_mat, dtype=np.float64) @ np.asarray(d_mat, dtype=np.float64).T
    docs = np.unique(d_ids)
    per_doc = np.stack([s[:, d_ids == d].max(axis=1) for d in docs], axis=1)
    out = {}
    for q in np.unique(q_ids):
        tot = per_doc[q_ids == q].sum(axis=0)
        out[int(q)] = int(docs[tot >= tot.max()].min())
    return out
