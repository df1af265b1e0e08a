"""The benchmark workloads. Each one builds its inputs from the seed,
loads them into a session, runs its operation through the engine's
public functions (plain, or traced layer by layer), and checks every
output it produced.

An operation is the unit one sample times: a ``minhash_dedup`` call
plus an ``IncrementalDedup`` ingest of the same pages (dedup_web), or
one round of the four retrieval operators over a fixed query batch
(retrieve).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

import inputs
from harness import cpu_snapshot, pair_recall, write_amp

TOL = 1e-9


@dataclass
class Sample:
    wall_s: float
    cpu_s: float
    items: int


@dataclass
class Checked:
    attempted: int = 0
    failed: int = 0
    quality: list[float] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)

    def record(self, ok: bool, n: int = 1, note: str = "") -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            if note and len(self.notes) < 5:
                self.notes.append(note)


def timed(fn):
    """(result, wall seconds, CPU seconds of this process tree)."""
    c0 = cpu_snapshot()[0]
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, cpu_snapshot()[0] - c0


def _dedup_cfg():
    from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig

    return DedupConfig()


def _digest(*arrays) -> str:
    h = hashlib.md5()
    for a in arrays:
        h.update(np.ascontiguousarray(a, dtype=np.int64).tobytes())
    return h.hexdigest()


def _dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(dirpath, f))
            n += 1
    return size, n


def _parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    if not path.exists():
        return 0
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class Workload:
    name = ""
    item_unit = "docs"

    def __init__(self, seed: int, cpus: int, cache_root: Path, work: Path):
        self.seed = seed
        self.cpus = cpus
        self.work = work
        self.recipe = inputs.RECIPES[self.name]
        self.cache = inputs.Cache(cache_root, self.name, seed)
        self.checked = Checked()
        self.report: dict[str, str] = {}

    # -- inputs ---------------------------------------------------------------
    def build(self, spark) -> dict:
        """Generate the inputs into the cache; returns the entry's meta."""
        raise NotImplementedError

    def ensure_inputs(self, spark) -> float:
        """Build the cache entry if missing; returns seconds spent."""
        if self.cache.ready():
            return 0.0
        t0 = time.perf_counter()
        self.cache.reset()
        meta = self.build(spark)
        self.cache.write_meta(meta)
        return time.perf_counter() - t0

    def _read(self, spark, name: str):
        return spark.read.parquet(str(self.cache.path(name))).repartition(self.cpus)

    # -- lifecycle ------------------------------------------------------------
    def load(self, spark) -> None:
        raise NotImplementedError

    @staticmethod
    def _keep(df):
        """Persist and materialize a loaded input."""
        df = df.persist()
        df.count()
        return df

    def prepare(self, spark) -> None:
        """Per-run preparation after loading (counted in set-up)."""

    def warmup(self, spark) -> None:
        raise NotImplementedError

    # -- measurement ----------------------------------------------------------
    def run_unit(self, spark, tracer=None) -> list[Sample]:
        """One unit of work (one or more operations); ``tracer`` set means
        the traced composition."""
        raise NotImplementedError

    def check(self, spark) -> None:
        """Compute missing oracles (untimed) and check every stored output."""
        raise NotImplementedError

    def _floor(self, key: str, value: float, absolute: float) -> bool:
        """Quality gate: an absolute floor, and the value first recorded
        for this seed by the same engine sources (stored with the cached
        inputs under the engine fingerprint)."""
        import lsh_forest_for_multi_vector_retrieval_spark as engine

        meta = self.cache.meta()
        floors = meta.setdefault("floors", {}).setdefault(
            inputs.engine_fingerprint(Path(engine.__file__).parent), {}
        )
        if key not in floors and value >= absolute:
            floors[key] = value
            self.cache.write_meta(meta)
        return value >= absolute and value >= floors.get(key, absolute) - TOL


# --------------------------------------------------------------------------------
class DedupWeb(Workload):
    """Planted-duplicate web pages deduplicated twice per operation: one
    ``minhash_dedup`` call over all of them, then the last micro-batch of
    the same pages through ``IncrementalDedup.process_batch`` into a copy
    of a store that holds the earlier batches (a broadcast probe of the
    history, plus parquet state writes). The store is built once, in
    set-up. The two pair sets must be equal."""

    name = "dedup_web"
    RECALL_FLOOR = 0.9

    def build(self, spark) -> dict:
        r = self.recipe
        pdf = inputs.build_pages(spark, r, r["n_docs"], self.seed, self.cpus)
        pdf["batch_id"] = inputs.batch_split(len(pdf), r["ingest_batches"], self.seed)[
            pdf["doc_id"].to_numpy()
        ]
        self.cache.put("docs", pdf)
        last = pdf[pdf["batch_id"] == r["ingest_batches"] - 1]
        return {
            "n_docs": len(pdf),
            "ingest_text_bytes": int(last["text"].str.encode("utf-8").str.len().sum()),
        }

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        loaded = self._keep(self._read(spark, "docs"))
        self.docs = loaded.select("doc_id", "text")
        self.batches = [
            loaded.where(F.col("batch_id") == b).select("doc_id", "text")
            for b in range(self.recipe["ingest_batches"])
        ]
        meta = self.cache.meta()
        self.n_docs = meta["n_docs"]
        self.ingest_text_bytes = meta["ingest_text_bytes"]
        self.outputs: list[tuple[str, dict, int, bool]] = []
        self.write_amps: list[float] = []
        self._passes = 0

    def prepare(self, spark) -> None:
        """The store every operation starts from: all micro-batches but
        the last, ingested once."""
        from lsh_forest_for_multi_vector_retrieval_spark.streaming.incremental import (
            IncrementalDedup,
        )

        self.store = (self.work / "state" / "store").resolve()
        shutil.rmtree(self.store, ignore_errors=True)
        inc = IncrementalDedup(str(self.store), _dedup_cfg(), spark=spark)
        for b, batch in enumerate(self.batches[:-1]):
            inc.process_batch(batch, b)
        self.store_bytes, self.store_files = _dir_stats(self.store)

    def warmup(self, spark) -> None:
        self.run_unit(spark)
        self.outputs.clear()
        self.write_amps.clear()

    def _dedup_plain(self):
        from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import minhash_dedup

        res = minhash_dedup(self.docs, _dedup_cfg())
        clusters = res.clusters.toPandas()
        verified = res.verified.select("doc_a", "doc_b").toPandas()
        res.unpersist()
        return clusters, verified

    def _dedup_traced(self, tr):
        from pyspark.sql import functions as F

        from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import (
            band_table,
            with_signatures,
        )
        from lsh_forest_for_multi_vector_retrieval_spark.operators.components import (
            connected_components,
        )
        from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import (
            bucket_drop_stats,
            candidate_pairs,
        )
        from lsh_forest_for_multi_vector_retrieval_spark.operators.verify import verify_pairs

        cfg = _dedup_cfg()
        # minhash_dedup's composition, materialized between layers
        with tr.span("signatures"):
            sigs = (
                with_signatures(self.docs, cfg)
                .select("doc_id", "shingles", "sig", "simhash")
                .localCheckpoint(eager=True)
            )
        with tr.span("bands") as sp_bands:
            bands = (
                band_table(sigs, cfg)
                .select("band_id", "band_hash", "doc_id")
                .localCheckpoint(eager=True)
            )
        with tr.span("pairs") as sp_pairs:
            cands = candidate_pairs(bands, cfg).localCheckpoint(eager=True)
        with tr.span("verify") as sp_verify:
            verified = verify_pairs(
                cands, sigs, cfg, materialize_pairs=False
            ).localCheckpoint(eager=True)
        with tr.span("components") as sp_cc:
            stats: dict = {}
            clusters = connected_components(
                verified,
                all_vertices=sigs.select("doc_id"),
                max_iterations=cfg.cc_max_iterations,
                stats=stats,
            ).toPandas()
            v_pdf = verified.select("doc_a", "doc_b").toPandas()
        # layer counts, outside every layer span
        with tr.span("counts"):
            buckets = bands.groupBy("band_id", "band_hash").count()
            sp_bands.counts = {
                "rows": bands.count(),
                "max_bucket": buckets.agg(F.max("count")).first()[0] or 0,
            }
            drops = bucket_drop_stats(bands, cfg).agg(
                F.sum("dropped_docs"), F.sum("starred_pairs_skipped")
            ).first()
            n_cands = cands.count()
        sp_pairs.counts = {
            "candidates": n_cands,
            "dropped_docs": drops[0] or 0,
            "star_skipped": drops[1] or 0,
        }
        sp_verify.counts = {
            "verified": len(v_pdf),
            "yield": len(v_pdf) / n_cands if n_cands else 0.0,
        }
        sp_cc.counts = {
            "edges": len(v_pdf),
            "driver_path": int(stats.get("strategy") == "driver_union_find"),
            "rounds": stats.get("rounds", 0),
        }
        return clusters, v_pdf

    def _fresh_state(self) -> Path:
        """A copy of the prepared store for one operation."""
        self._passes += 1
        state = self.work / "state" / f"pass{self._passes}"
        shutil.rmtree(state, ignore_errors=True)
        shutil.copytree(self.store, state)
        return state.resolve()

    def _ingest(self, spark, state: Path, tr=None) -> pd.DataFrame:
        """The last micro-batch through ``process_batch`` into ``state``;
        returns every pair the store then holds."""
        from lsh_forest_for_multi_vector_retrieval_spark.streaming.incremental import (
            IncrementalDedup,
        )

        b = len(self.batches) - 1
        inc = IncrementalDedup(str(state), _dedup_cfg(), spark=spark)
        if tr is None:
            inc.process_batch(self.batches[b], b)
        else:
            with tr.span("incremental") as sp:
                inc.process_batch(self.batches[b], b)
            with tr.span("counts"):
                written, files = _dir_stats(state)
                sp.counts = {
                    "history_rows": _parquet_rows(state / "bands") - _parquet_rows(
                        state / "bands" / f"batch_id={b}"),
                    "bytes_written": written - self.store_bytes,
                    "files_written": files - self.store_files,
                    "pairs_appended": _parquet_rows(state / "pairs" / f"batch_id={b}"),
                }
        return inc.pairs(spark).select("doc_a", "doc_b").toPandas()

    def run_unit(self, spark, tracer=None) -> list[Sample]:
        state = self._fresh_state()

        def op():
            if tracer is None:
                return (*self._dedup_plain(), self._ingest(spark, state))
            with tracer.span("op"):
                return (*self._dedup_traced(tracer), self._ingest(spark, state, tracer))

        (clusters, verified, ingested), wall, cpu = timed(op)
        written = _dir_stats(state)[0] - self.store_bytes
        self.write_amps.append(write_amp(written, self.ingest_text_bytes))
        shutil.rmtree(state, ignore_errors=True)
        batch_pairs = set(zip(verified["doc_a"].tolist(), verified["doc_b"].tolist()))
        inc_pairs = set(zip(ingested["doc_a"].tolist(), ingested["doc_b"].tolist()))
        # the test_incremental_equals_batch contract, on every operation
        same = inc_pairs == batch_pairs and len(ingested) == len(inc_pairs)
        self.outputs.append((*self._summarize(clusters, verified), same))
        return [Sample(wall, cpu, self.n_docs)]

    @staticmethod
    def _summarize(clusters: pd.DataFrame, verified: pd.DataFrame):
        c = clusters.sort_values("doc_id")
        v = verified.sort_values(["doc_a", "doc_b"])
        fp = _digest(c["doc_id"], c["cluster_id"], v["doc_a"], v["doc_b"])
        labels = dict(zip(c["doc_id"].tolist(), c["cluster_id"].tolist()))
        return fp, labels, len(c)

    def _oracle(self, spark) -> pd.DataFrame:
        from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
            ngram_jaccard_pairs_exact,
        )

        if not self.cache.has("oracle"):
            self.cache.put(
                "oracle",
                ngram_jaccard_pairs_exact(self.docs).select("doc_a", "doc_b").toPandas(),
            )
        return self.cache.get("oracle")

    def check(self, spark) -> None:
        oracle = self._oracle(spark)
        ref = self.outputs[0][0] if self.outputs else None
        for fp, labels, n, same in self.outputs:
            recall = pair_recall(oracle["doc_a"], oracle["doc_b"], label_of=labels)
            ok = (
                fp == ref
                and n == self.n_docs
                and same
                and self._floor("pair_recall", recall, self.RECALL_FLOOR)
            )
            self.checked.record(
                ok, note=f"fingerprint {fp} vs {ref}, ingest equals batch {same}, "
                f"recall {recall:.4f}"
            )
            self.checked.quality.append(recall)
        self.report["oracle_pairs"] = str(len(oracle))
        if self.write_amps:
            self.report["write_amp"] = (
                f"{np.median(self.write_amps):.4f} (median of n={len(self.write_amps)})"
            )


# --------------------------------------------------------------------------------
class Retrieve(Workload):
    """One fixed query batch answered by each retrieval operator:
    ``plaid_topk`` (pandas kernels, re-rank), ``ivf_topk`` and ``lsh_topk``
    over the flattened vectors, and ``forest_vote_scores`` + ``get_top_k``
    over a text corpus with mirror queries."""

    name = "retrieve"
    item_unit = "queries"
    FLOORS = {"plaid_mrr10": 0.2, "ivf_recall10": 0.3, "lsh_recall10": 0.7, "fv_hit5": 0.9}
    MIRROR_SHIFT = 1_000_000

    def build(self, spark) -> dict:
        r = self.recipe
        vec = inputs.build_vectors(spark, r, self.seed, self.cpus)
        tok = r["tokens_per_doc"]
        refs = inputs.query_refs(r["n_vectors"], r["plaid_queries"], tok, self.seed)
        emb = np.stack(vec["embedding"].to_numpy())
        queries = pd.DataFrame(
            {
                "query_id": np.arange(len(refs)) // tok,
                "vec_id": np.arange(len(refs)),
                "embedding": list(emb[refs]),
            }
        )
        top1 = inputs.exact_top1(
            queries["query_id"], emb[refs], vec["vec_id"].to_numpy() // tok, emb
        )
        fv_recipe = inputs.RECIPES["dedup_web"]
        fv = inputs.build_pages(spark, fv_recipe, r["fv_docs"], self.seed, self.cpus)
        self.cache.put("vectors", vec)
        self.cache.put("queries", queries)
        self.cache.put(
            "plaid_truth",
            pd.DataFrame({"query_id": list(top1), "doc_id": list(top1.values())}),
        )
        self.cache.put(
            "ann_queries",
            pd.DataFrame({"vec_id": inputs.ann_query_ids(r["n_vectors"], r["ann_queries"], self.seed)}),
        )
        self.cache.put("fv_docs", fv)
        return {"n_fv_queries": int((fv["doc_id"] % 31 == 0).sum())}

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        tok = self.recipe["tokens_per_doc"]
        vec = self._keep(self._read(spark, "vectors"))
        self.vectors = vec
        self.corpus = self._keep(
            vec.select((F.col("vec_id") / tok).cast("long").alias("doc_id"), "embedding")
        )
        self.queries = self._keep(self._read(spark, "queries"))
        ids = self.cache.get("ann_queries")["vec_id"].tolist()
        self.ann_q = self._keep(vec.where(F.col("vec_id").isin(ids)))
        fv = self._keep(self._read(spark, "fv_docs"))
        self.fv_docs = fv
        self.fv_queries = self._keep(
            fv.where(F.col("doc_id") % 31 == 0).select(
                (F.col("doc_id") + F.lit(self.MIRROR_SHIFT)).alias("doc_id"),
                F.substring(
                    F.col("text"), 1, F.greatest(F.length("text") - 25, F.lit(40))
                ).alias("text"),
            )
        )
        r = self.recipe
        self.n_items = (
            r["plaid_queries"] + 2 * r["ann_queries"] + self.cache.meta()["n_fv_queries"]
        )
        self.outputs: list[dict] = []
        self.op_walls: dict[str, list[float]] = {"plaid": [], "ivf": [], "lsh": [], "forest_vote": []}

    def prepare(self, spark) -> None:
        """PLAID codebook, once per run: the deterministic twin of
        ``build_centroids`` (bounded sample + pinned driver-side Lloyd)."""
        from lsh_forest_for_multi_vector_retrieval_spark.operators.plaid import (
            build_centroids_deterministic,
        )

        self.centroids = build_centroids_deterministic(self.corpus, k=32, iters=20)

    # the four operators, each consumed by a collect to the driver
    def _plaid(self):
        from lsh_forest_for_multi_vector_retrieval_spark.operators.plaid import plaid_topk

        return plaid_topk(
            self.corpus, self.queries, self.centroids, k=10, nprobe=16, t_cs=0.0,
            rerank=100, assignment="pandas", scoring="pandas",
        ).select("query_id", "doc_id", "rank").toPandas()

    def _ivf(self):
        from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import ivf_topk

        return ivf_topk(
            self.vectors, self.ann_q, k=10, n_centroids=64, nprobe=8, iters=10,
            ensure_k=True, round_digits=6, assignment="pandas", scoring="pandas",
        ).select("q_id", "n_id").toPandas()

    def _lsh(self):
        from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import lsh_topk

        return lsh_topk(
            self.vectors, self.ann_q, k=10, dim=self.recipe["dim"], bits=64, n_chunks=16,
            ensure_k=True, round_digits=6, scoring="pandas",
        ).select("q_id", "n_id").toPandas()

    def _forest_vote(self, tr=None):
        from pyspark.sql import functions as F

        from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import with_signatures
        from lsh_forest_for_multi_vector_retrieval_spark.operators.forest_vote import (
            forest_vote_scores,
            get_top_k,
        )

        cfg = _dedup_cfg()
        corpus_sigs = (
            with_signatures(self.fv_docs.select("doc_id", "text"), cfg)
            .select("doc_id", "shingles", "sig")
            .persist()
        )
        query_sigs = with_signatures(self.fv_queries, cfg).select("doc_id", "shingles", "sig")
        scores = forest_vote_scores(corpus_sigs, query_sigs, cfg)
        out = get_top_k(scores.withColumn("score", F.round("score", 6)), k=5).select(
            "query_id", "doc_id", "rank"
        ).toPandas()
        corpus_sigs.unpersist(blocking=True)
        return out

    def warmup(self, spark) -> None:
        for fn in (self._plaid, self._ivf, self._lsh, self._forest_vote):
            fn()

    def run_unit(self, spark, tracer=None) -> list[Sample]:
        c0 = cpu_snapshot()[0]
        out = {}
        if tracer is None:
            for name, fn in (
                ("plaid", self._plaid), ("ivf", self._ivf),
                ("lsh", self._lsh), ("forest_vote", self._forest_vote),
            ):
                out[name], wall, _ = timed(fn)
                self.op_walls[name].append(wall)
        else:
            with tracer.span("op"):
                with tracer.span("plaid"):
                    out["plaid"], w_plaid, _ = timed(self._plaid)
                with tracer.span("ann"):
                    with tracer.span("ann/ivf_topk"):
                        out["ivf"], w_ivf, _ = timed(self._ivf)
                    with tracer.span("ann/lsh_topk"):
                        out["lsh"], w_lsh, _ = timed(self._lsh)
                with tracer.span("forest_vote"):
                    out["forest_vote"], w_fv, _ = timed(self._forest_vote)
            for name, w in (("plaid", w_plaid), ("ivf", w_ivf), ("lsh", w_lsh), ("forest_vote", w_fv)):
                self.op_walls[name].append(w)
        wall = sum(self.op_walls[n][-1] for n in self.op_walls)
        self.outputs.append(out)
        return [Sample(wall, cpu_snapshot()[0] - c0, self.n_items)]

    def qps(self) -> dict[str, float]:
        r = self.recipe
        n = {
            "plaid": r["plaid_queries"], "ivf": r["ann_queries"], "lsh": r["ann_queries"],
            "forest_vote": self.cache.meta()["n_fv_queries"],
        }
        return {k: n[k] / float(np.median(v)) for k, v in self.op_walls.items() if v}

    def check(self, spark) -> None:
        from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import brute_force_topk

        if not self.cache.has("ann_truth"):
            self.cache.put(
                "ann_truth",
                brute_force_topk(self.vectors, self.ann_q, k=10).select("q_id", "n_id").toPandas(),
            )
        truth = self.cache.get("ann_truth").groupby("q_id")["n_id"].apply(set).to_dict()
        top1 = dict(self.cache.get("plaid_truth").itertuples(index=False))
        self.quality_parts: dict[str, list[float]] = {k: [] for k in self.FLOORS}
        for out in self.outputs:
            q = {
                "plaid_mrr10": _mrr(out["plaid"], top1),
                "ivf_recall10": _recall(out["ivf"], truth),
                "lsh_recall10": _recall(out["lsh"], truth),
                "fv_hit5": _mirror_hits(out["forest_vote"], self.MIRROR_SHIFT, self.cache.meta()["n_fv_queries"]),
            }
            ok = all(self._floor(k, v, self.FLOORS[k]) for k, v in q.items())
            for k, v in q.items():
                self.quality_parts[k].append(v)
            self.checked.record(ok, note=" ".join(f"{k}={v:.4f}" for k, v in q.items()))
            self.checked.quality.append(float(np.mean(list(q.values()))))
        for k, v in self.quality_parts.items():
            if v:
                self.report[k] = f"{np.median(v):.4f} (n={len(v)})"
        for k, v in self.qps().items():
            self.report[f"{k}_qps"] = f"{v:.2f} 1/s (median of n={len(self.op_walls[k])})"


def _mrr(ranked: pd.DataFrame, top1: dict[int, int]) -> float:
    rr = {}
    for q, d, r in ranked[["query_id", "doc_id", "rank"]].itertuples(index=False):
        if top1.get(int(q)) == int(d) and int(r) <= 10:
            rr[int(q)] = 1.0 / int(r)
    return sum(rr.values()) / len(top1)


def _recall(pred: pd.DataFrame, truth: dict[int, set]) -> float:
    got = pred.groupby("q_id")["n_id"].apply(set).to_dict()
    return float(np.mean([len(got.get(q, set()) & t) / len(t) for q, t in truth.items()]))


def _mirror_hits(top: pd.DataFrame, shift: int, n_queries: int) -> float:
    hits = top[(top["doc_id"] == top["query_id"] - shift)]["query_id"].nunique()
    return hits / n_queries


WORKLOADS = {w.name: w for w in (DedupWeb, Retrieve)}
