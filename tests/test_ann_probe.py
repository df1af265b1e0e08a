"""The shared ANN core ``ann._probe_topk`` (broadcast queries, one corpus
pass, local top-k, one merge, on ``operators/topk.py``) against a
test-local copy of the relational plan it replaced: block or cell join,
dedup, the short-query gates and the root scan."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.functions.simhash import (
    hyperplane_simhash_udf,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators import ann, forest_vote
from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import chunk_blocks
from test_ann_chamfer import SF


@pytest.fixture(scope="module")
def vecs(spark):
    # checkpointed, so plan-shape checks see no Exchange of the fixture
    df = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    return df.repartition(4).localCheckpoint(eager=True)


# ---------------------------------------------------------------- oracle
def _short(cand, q, k):
    sat = cand.groupBy("q_id").count().where(F.col("count") >= k).select("q_id")
    return q.join(sat, "q_id", "left_anti")


def _root_scan(short, corpus):
    return (
        F.broadcast(short.select("q_id", "q_vec"))
        .crossJoin(corpus.select("n_id", "n_vec"))
        .where(F.col("q_id") != F.col("n_id"))
    )


def _scored(cand, scoring):
    """``(q_id, n_id, cosine)`` of candidate vector pairs, by the scoring
    kernel's Column twin."""
    cos = ann._cosine_fn(scoring)(F.col("q_vec"), F.col("n_vec"))
    return cand.select("q_id", "n_id", cos.alias("cosine"))


def _ids(side):
    return [F.col("vec_id").alias(f"{side}_id"), F.col("embedding").alias(f"{side}_vec")]


def relational_lsh(corpus, queries, k, n_chunks, ensure_k, round_digits, scoring,
                   dim=64, bits=64, seed=42):
    """The block-join plan: chunk join, dedup, then (``ensure_k``) the
    half-width join for short queries and the root scan for the rest."""
    hp = hyperplane_simhash_udf(dim=dim, bits=bits, seed=seed)
    qsig = queries.select(*_ids("q"), hp("embedding").alias("sig")).localCheckpoint()
    csig = corpus.select(*_ids("n"), hp("embedding").alias("sig")).localCheckpoint()

    def block_join(qs, width):
        qb = chunk_blocks(qs, "sig", width, bits // width, ["q_id", "q_vec"])
        cb = chunk_blocks(csig, "sig", width, bits // width, ["n_id", "n_vec"])
        return (
            qb.join(cb, ["chunk_id", "chunk_val"])
            .where(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id", "q_vec", "n_vec")
            .dropDuplicates(["q_id", "n_id"])
        )

    width = bits // n_chunks
    cand = block_join(qsig, width)
    if ensure_k:
        unsat = _short(cand, qsig, k)
        if width > 1 and unsat.count():
            deeper = block_join(unsat, max(width // 2, 1))
            cand = cand.unionByName(deeper).dropDuplicates(["q_id", "n_id"])
            unsat = _short(cand, qsig, k)
        if unsat.count():
            cand = cand.unionByName(_root_scan(unsat, csig)).dropDuplicates(["q_id", "n_id"])
    return ann._rerank_topk(_scored(cand, scoring), k, round_digits)


def relational_ivf(corpus, queries, k, centroids, nprobe, ensure_k, round_digits, scoring):
    """The cell-join plan: probe cells x corpus cells, then (``ensure_k``)
    the root scan for short queries, dedup."""
    from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import (
        centroid_scores_arr,
        nearest_centroid,
    )

    probe = F.transform(
        F.slice(F.reverse(F.array_sort(centroid_scores_arr(centroids, "embedding"))), 1, nprobe),
        lambda x: x["cid"],
    )
    c = corpus.select(*_ids("n"), nearest_centroid(centroids, "embedding", "fold").alias("cell"))
    q = queries.select(*_ids("q"), F.explode(probe).alias("cell"))
    cand = q.join(c, "cell").where(F.col("q_id") != F.col("n_id")).select("q_id", "n_id", "q_vec", "n_vec")
    if ensure_k:
        qs = queries.select(*_ids("q"))
        unsat = _short(cand, qs, k)
        if unsat.count():
            cand = cand.unionByName(_root_scan(unsat, c))
        cand = cand.dropDuplicates(["q_id", "n_id"])
    return ann._rerank_topk(_scored(cand, scoring), k, round_digits)


def _rows(df):
    return sorted(tuple(r) for r in df.select("q_id", "n_id", "cosine", "rank").collect())


def _codebook(n, seed=3):
    return np.random.RandomState(seed).standard_normal((n, 64)).tolist()


# ------------------------------------------------------------------ grid
@pytest.mark.parametrize("n_chunks", [4, 16])
@pytest.mark.parametrize("round_digits", [None, 6])
@pytest.mark.parametrize("ensure_k", [False, True])
@pytest.mark.parametrize("scoring", ["fold", "pandas"])
def test_lsh_probe_matches_relational_plan(spark, vecs, scoring, ensure_k, round_digits, n_chunks):
    queries = vecs.where(F.col("vec_id") < 20)
    kw = dict(k=10, n_chunks=n_chunks, ensure_k=ensure_k, round_digits=round_digits, scoring=scoring)
    got = _rows(lsh_topk(vecs, queries, **kw))
    want = _rows(relational_lsh(vecs, queries, **kw))
    assert got == want
    if ensure_k:
        assert len(got) == 20 * 10


@pytest.mark.parametrize("round_digits", [None, 6])
@pytest.mark.parametrize("ensure_k", [False, True])
@pytest.mark.parametrize("scoring", ["fold", "pandas"])
def test_ivf_probe_matches_relational_plan(spark, vecs, scoring, ensure_k, round_digits):
    queries = vecs.where(F.col("vec_id") < 20)
    # 32 cells, 2 probed: about 30 candidates per query, so k=20 leaves
    # some queries short and the root scan fires
    cb = _codebook(32)
    kw = dict(k=20, ensure_k=ensure_k, round_digits=round_digits, scoring=scoring)
    got = _rows(ivf_topk(vecs, queries, centroids=cb, nprobe=2, **kw))
    want = _rows(relational_ivf(vecs, queries, centroids=cb, nprobe=2, **kw))
    assert got == want
    if ensure_k:
        assert len(got) == 20 * 20


# --------------------------------------------------------- planted cases
def _unit(cos, rng):
    """A 64-d unit vector at cosine ``cos`` to e0, in a random direction."""
    w = rng.standard_normal(63)
    w /= np.linalg.norm(w)
    return [float(cos)] + (np.sqrt(1.0 - cos * cos) * w).tolist()


def test_probe_keeps_rounding_ties_across_partitions(spark):
    """Thirty corpus vectors whose cosines to the query differ by less
    than 1e-6, so they tie at 6 digits; the k-th rank falls inside the
    tie, spread over four partitions, and the raw order runs against the
    ``n_id`` order. The per-partition superset must keep every row
    within ``10**-round_digits`` of the local k-th best, or a tie won
    by a smaller ``n_id`` in another partition is lost."""
    rng = np.random.RandomState(0)
    rows = [(0, [1.0] + [0.0] * 63)]
    rows += [(i, _unit(0.9 - 0.01 * i, rng)) for i in range(1, 5)]
    rows += [(i, _unit(0.5 + 1e-8 * i, rng)) for i in range(5, 35)]
    rows += [(i, _unit(0.1, rng)) for i in range(35, 45)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4, "vec_id")
    q = corpus.where(F.col("vec_id") == 0)
    for round_digits in (None, 6):
        for scoring in ("fold", "pandas"):
            kw = dict(k=10, round_digits=round_digits, scoring=scoring)
            lsh = _rows(lsh_topk(corpus, q, n_chunks=64, ensure_k=True, **kw))
            assert lsh == _rows(relational_lsh(corpus, q, n_chunks=64, ensure_k=True, **kw))
            one_cell = [[1.0] + [0.0] * 63]
            ivf = _rows(ivf_topk(corpus, q, centroids=one_cell, nprobe=1, **kw))
            assert ivf == _rows(relational_ivf(corpus, q, centroids=one_cell, nprobe=1, ensure_k=False, **kw))
            want = list(range(1, 5)) + (list(range(5, 11)) if round_digits else list(range(34, 28, -1)))
            assert [r[1] for r in sorted(ivf, key=lambda r: r[3])] == want


def test_probe_null_signature_query_and_dirty_corpus_rows(spark, vecs):
    """A query with a NULL vector has a NULL signature: it probes no
    chunk, so ``ensure_k`` takes it to the root, where every cosine is
    0.0 and ``n_id`` breaks the ties. NULL, ragged and NaN corpus rows
    are always kept by the kernel and ranked by the exact re-rank."""
    base = vecs.where(F.col("vec_id") < 60).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dirty = base.sparkSession.createDataFrame(
        [(1000, None), (1001, [1.0, 2.0]), (1002, [float("nan")] * 64), (1003, [0.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    corpus = base.unionByName(dirty).repartition(3)
    queries = corpus.where(F.col("vec_id").isin(1000, 1001, 3, 7))
    for ensure_k in (False, True):
        for scoring in ("fold", "pandas"):
            kw = dict(k=8, n_chunks=16, ensure_k=ensure_k, round_digits=6, scoring=scoring)
            got = _rows(lsh_topk(corpus, queries, **kw))
            assert got == _rows(relational_lsh(corpus, queries, **kw))
    ensured = _rows(lsh_topk(corpus, queries, k=8, n_chunks=16, ensure_k=True))
    null_q = [r for r in ensured if r[0] == 1000]
    assert [r[1] for r in null_q] == list(range(8)) and {r[2] for r in null_q} == {0.0}


def test_probe_slices_a_query_batch_above_the_broadcast_threshold(spark, vecs, slices):
    """With ``spark.sql.autoBroadcastJoinThreshold`` below the query
    batch's bytes, the queries are broadcast in slices, one corpus pass
    each, and the rows do not change."""
    queries = vecs.where(F.col("vec_id") < 20)
    cb = _codebook(32)
    kw = dict(k=20, ensure_k=True, round_digits=6)
    want_lsh = _rows(relational_lsh(vecs, queries, n_chunks=4, scoring="fold", **kw))
    want_ivf = _rows(relational_ivf(vecs, queries, centroids=cb, nprobe=2, scoring="fold", **kw))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4000")
    try:
        assert _rows(lsh_topk(vecs, queries, n_chunks=4, **kw)) == want_lsh
        assert _rows(ivf_topk(vecs, queries, centroids=cb, nprobe=2, **kw)) == want_ivf
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert len(slices[0]) > 1 and sum(len(s) for s in slices[0]) == 20
    assert sum(len(s) > 1 for s in slices) >= 2  # the LSH and the IVF pass


def test_one_row_per_query_and_id_when_the_corpus_repeats_an_id(spark, vecs):
    """A 41-row corpus whose ``vec_id`` 5 appears twice: every ANN path
    returns id 5 once per query, the duplicate takes no top-k slot, and
    ``ensure_k`` still fills k distinct ids."""
    rows = vecs.where(F.col("vec_id") < 40).collect()
    corpus = spark.createDataFrame(rows + [r for r in rows if r.vec_id == 5], vecs.schema)
    corpus = corpus.repartition(3)
    queries = corpus.where(F.col("vec_id") < 3).dropDuplicates(["vec_id"])
    cb = _codebook(4)
    outs = {
        "brute": brute_force_topk(corpus, queries, k=39),
        "ivf": ivf_topk(corpus, queries, k=39, centroids=cb, nprobe=4),
        "ivf_ensure_k": ivf_topk(corpus, queries, k=39, centroids=cb, nprobe=1, ensure_k=True),
        "lsh": lsh_topk(corpus, queries, k=39, n_chunks=64),
        "lsh_ensure_k": lsh_topk(corpus, queries, k=39, n_chunks=16, ensure_k=True),
    }
    for name, df in outs.items():
        got = df.select("q_id", "n_id").collect()
        assert len(got) == len(set(got)), name
        if name != "lsh":
            assert len(got) == 3 * 39, name


# --------------------------------------------------------- CI guards
def test_ann_topk_job_count_and_plan_shape(jobs, py_ops, vecs):
    """A saturated ``ensure_k`` call runs 5 jobs: the query collect, the
    checkpointed corpus pass, the count-row collect and the result's
    collect (one exchange stage + the result stage); without ``ensure_k``
    it runs 3, the query collect and the result's two. No Exchange sits
    below the corpus pass, so the corpus is never shuffled; the one
    exchange is the re-rank's ``q_id`` shuffle of the candidate table.

    Python operators per call, with or without ``ensure_k``: LSH signs
    the corpus and runs the pass (2: the queries are signed on the driver,
    and the pandas cosine runs in the pass); IVF runs the pass alone (1),
    and its pandas assignment adds one (2)."""
    queries = vecs.where(F.col("vec_id") < 20)
    cb = _codebook(8)
    lsh = dict(k=10, n_chunks=16, round_digits=6)
    ivf = dict(k=10, centroids=cb, nprobe=4, round_digits=6)
    pandas = dict(assignment="pandas", scoring="pandas")
    calls = {
        "lsh": (2, lambda **kw: lsh_topk(vecs, queries, **lsh, **kw)),
        "lsh_pandas": (2, lambda **kw: lsh_topk(vecs, queries, scoring="pandas", **lsh, **kw)),
        "ivf": (1, lambda **kw: ivf_topk(vecs, queries, **ivf, **kw)),
        "ivf_pandas": (2, lambda **kw: ivf_topk(vecs, queries, **ivf, **pandas, **kw)),
    }
    for name, (ops, call) in calls.items():
        call(ensure_k=True).collect()  # warm
        assert jobs(lambda: call(ensure_k=True).collect()) == 5, name
        assert py_ops(lambda: call(ensure_k=True).collect()) == ops, name

        bare = call(ensure_k=False)
        bare.collect()
        assert jobs(lambda: call(ensure_k=False).collect()) == 3, name
        assert py_ops(lambda: call(ensure_k=False).collect()) == ops, name
        plan = _final_plan(bare)
        at = [i for i, line in enumerate(plan) if "MapInArrow" in line]
        assert len(at) == 1, (name, plan)
        assert not any("Exchange" in line for line in _below(plan, at[0])), (name, plan)
        assert sum("Exchange" in line for line in plan) == 1, (name, plan)


def _final_plan(df) -> list[str]:
    """The lines of ``df``'s executed plan; after an action, AQE's final
    plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].splitlines()


def _below(plan: list[str], at: int) -> list[str]:
    """The lines of the subtree under ``plan[at]``."""
    depth = len(plan[at]) - len(plan[at].lstrip(" :+-"))
    below = []
    for line in plan[at + 1:]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        below.append(line)
    return below


def test_forest_vote_job_count_and_plan_shape(spark, jobs, py_ops, monkeypatch):
    """A warm ``forest_vote_scores`` + ``get_top_k`` collect runs 5 jobs:
    the query collect, the checkpointed corpus pass, the count-row
    collect and the result's collect (one exchange stage + the result
    stage), and 2 Python operators: the pass and the node-count attach.
    The pass is one ``MapInArrow`` with no Exchange below it, so
    the corpus is never shuffled; the result's plan holds one Exchange,
    ``hashpartitioning(query_id)``, with the node cap on and off."""
    from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig

    cfg = DedupConfig()
    rng = np.random.default_rng(5)
    sigs = rng.integers(0, 6, size=(120, cfg.num_perm)).tolist()
    corpus = spark.createDataFrame(list(enumerate(sigs)), "doc_id long, sig array<long>")
    corpus = corpus.localCheckpoint(eager=True)
    queries = corpus.where(F.col("doc_id") % 10 == 0)
    passes = []
    frame = type(corpus)
    real = frame.localCheckpoint
    monkeypatch.setattr(
        frame, "localCheckpoint", lambda self, *a, **kw: passes.append(self) or real(self, *a, **kw)
    )
    for cap in (512, None):
        def call():
            return forest_vote.get_top_k(
                forest_vote.forest_vote_scores(corpus, queries, cfg, max_node_docs=cap), k=5
            )

        call().collect()  # warm
        assert jobs(lambda: call().collect()) == 5, cap
        assert py_ops(lambda: call().collect()) == 2, cap

        passes.clear()
        top = call()
        assert top.collect()
        assert len(passes) == 1, cap
        scan = _final_plan(passes[0])
        at = [i for i, line in enumerate(scan) if "MapInArrow" in line]
        assert len(at) == 1, (cap, scan)
        assert not any("Exchange" in line for line in _below(scan, at[0])), (cap, scan)
        plan = _final_plan(top)
        exchanges = [line for line in plan if "Exchange" in line]
        assert len(exchanges) == 1 and "hashpartitioning(query_id" in exchanges[0], (cap, plan)


def test_forest_vote_counts_the_corpus_under_its_checkpoint(spark, jobs, monkeypatch):
    """``n_docs`` comes from an Observation the eager ``corpus_pref``
    checkpoint fills: scores are identical to counting the corpus, and
    the call runs exactly the jobs of that count fewer."""
    from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
    from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import with_signatures

    cfg = DedupConfig()
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200).persist()
    corpus = with_signatures(docs.select("doc_id", "text"), cfg).select("doc_id", "sig").persist()
    corpus.count()
    queries = corpus.where(F.col("doc_id") % 17 == 0)

    def scores():
        return sorted(tuple(r) for r in forest_vote.forest_vote_scores(corpus, queries, cfg).collect())

    scores()  # warm
    got = []
    new_jobs = jobs(lambda: got.append(scores()))

    class Counted(Observation):
        @property
        def get(self):
            return {"n_docs": corpus.count()}

    monkeypatch.setattr(forest_vote, "Observation", Counted)
    want = []
    old_jobs = jobs(lambda: want.append(scores()))
    count_jobs = jobs(corpus.count)
    assert got == want and got
    assert count_jobs >= 1 and new_jobs == old_jobs - count_jobs
    corpus.unpersist()
    docs.unpersist()


def test_ensure_k_new_query_batch_compiles_no_class(vecs, compiles, jobs, py_ops, monkeypatch):
    """The ascend's per-query choices are data, not literals in the plan:
    once one ``ensure_k`` call has compiled its plan, a call on another
    query batch whose short queries ascend compiles no class. The LSH
    call runs 5 jobs: the query collect, the checkpointed leaf pass, the
    count-row collect and the result's collect over the ascend pass; and
    4 Python operators: the corpus signing and the pass of each of its
    two passes (the queries are signed on the driver)."""
    batches = [
        vecs.where(F.col("vec_id") % 7 == r).localCheckpoint(eager=True) for r in (0, 1)
    ]
    ascended = []
    rerank = ann._rerank_topk

    def recording(*args, ascend=False, **kwargs):
        ascended.append(ascend)
        return rerank(*args, ascend=ascend, **kwargs)

    monkeypatch.setattr(ann, "_rerank_topk", recording)
    calls = {
        "lsh": lambda q: lsh_topk(vecs, q, k=30, n_chunks=4, round_digits=6, ensure_k=True),
        "ivf": lambda q: ivf_topk(
            vecs, q, k=20, centroids=_codebook(32), nprobe=2, round_digits=6, ensure_k=True
        ),
    }
    for name, call in calls.items():
        call(batches[0]).collect()  # compiles the plan
        ascended.clear()
        assert compiles(lambda: call(batches[1]).collect()) == 0, name
        assert ascended == [True], name
        if name == "lsh":
            assert jobs(lambda: call(batches[1]).collect()) == 5
            assert py_ops(lambda: call(batches[1]).collect()) == 4
