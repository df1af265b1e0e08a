"""``plaid_topk`` (broadcast queries, one pass over the per-doc table,
per-partition pools, one merge) against a test-local copy of the
relational plan it replaced: the candidate join over the exploded
inverted index, the score join, the pool and the ``d_mat`` join."""

from __future__ import annotations

import contextlib

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import (
    centroid_scores_arr,
    centroid_scorevec_arrow,
    chamfer_pair_arrow,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators import plaid
from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import (
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.plaid import (
    _sum_tok_vals,
    build_centroids_deterministic,
    centroid_index,
    chamfer_pair_fold_col,
    plaid_topk,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.topk import get_top_k
from test_expected_fixtures import SF001 as SF


# ---------------------------------------------------------------- oracle
def _scorevec_udf(codebook):
    """The pandas S_cq kernel as a Spark UDF, as the relational plan ran it."""
    cmat = np.asarray(codebook, dtype=np.float64)

    @arrow_udf("array<double>")
    def scores(v: pa.Array) -> pa.Array:
        return centroid_scorevec_arrow(v, cmat)

    return scores


def _chamfer_udf():
    """The pandas chamfer kernel as a Spark UDF, as the relational plan ran it."""

    @arrow_udf("double")
    def chamfer(qs: pa.Array, ds: pa.Array) -> pa.Array:
        return chamfer_pair_arrow(qs, ds)

    return chamfer


def relational_plaid(doc_vectors, query_vectors, centroids, k=10, nprobe=4, t_cs=0.0,
                     rerank=None, round_digits=None, assignment="fold", scoring="fold"):
    """The relational plan: explode the inverted index, join the kept
    (query, centroid) pairs, score against the per-query S_cq arrays, take
    the pool and join the doc token lists of a second aggregation."""
    crows = sorted(centroids.select("centroid_id", "centroid").collect(), key=lambda r: r.centroid_id)
    codebook = [r.centroid for r in crows]
    n_cents = len(codebook)
    doc_cents = centroid_index(doc_vectors, codebook, assignment=assignment).localCheckpoint(eager=True)
    index = doc_cents.select("doc_id", F.explode("cposs").alias("cpos"))
    if scoring == "pandas":
        s_arr = _scorevec_udf(codebook)(F.col("embedding"))
    else:
        s_arr = F.transform(centroid_scores_arr(codebook, "embedding"), lambda c: c["s"])
    qtok = query_vectors.select(
        "query_id", F.col("vec_id").alias("q_idx"), F.col("embedding").alias("q_vec"), s_arr.alias("s_arr")
    )
    probe = F.slice(
        F.reverse(F.array_sort(F.transform(
            F.sequence(F.lit(0), F.lit(n_cents - 1)),
            lambda p: F.struct(
                F.element_at(F.col("s_arr"), p + F.lit(1)).alias("s"), (-p).alias("negcid"), p.alias("cid")
            ),
        ))),
        1,
        nprobe,
    )
    kept = (
        qtok.select("query_id", F.explode(probe).alias("pr"))
        .select("query_id", F.col("pr.cid").alias("cpos"), F.col("pr.s").alias("s"))
        .groupBy("query_id", "cpos")
        .agg(F.max("s").alias("best"))
        .where(F.col("best") >= t_cs)
        .select("query_id", "cpos")
    )
    cand = kept.join(index, "cpos").select("query_id", "doc_id").distinct()
    q_sarr = qtok.groupBy("query_id").agg(
        F.array_sort(F.collect_list(F.struct("q_idx", "s_arr"))).alias("toks")
    )
    coarse_vals = F.transform(
        F.col("toks"),
        lambda t: F.array_max(F.transform(F.col("cposs"), lambda c: F.element_at(t["s_arr"], c + F.lit(1)))),
    )
    scores = (
        cand.join(doc_cents, "doc_id")
        .join(q_sarr, "query_id")
        .select("query_id", "doc_id", _sum_tok_vals(coarse_vals, round_digits).alias("score"))
    )
    if rerank is None:
        return get_top_k(scores, k)
    pool = get_top_k(scores, max(k, rerank)).select("query_id", "doc_id")
    d_mat = (
        doc_vectors.select("doc_id", F.col("embedding").alias("d_vec"))
        .groupBy("doc_id")
        .agg(F.collect_list("d_vec").alias("d_vecs"))
    )
    q_mat = qtok.groupBy("query_id").agg(
        F.array_sort(F.collect_list(F.struct("q_idx", "q_vec"))).alias("qtoks")
    )
    joined = pool.join(q_mat, "query_id").join(d_mat, "doc_id")
    q_vecs = F.transform(F.col("qtoks"), lambda t: t["q_vec"])
    if scoring == "pandas":
        raw = _chamfer_udf()(q_vecs, F.col("d_vecs"))
        score = raw if round_digits is None else F.round(raw, round_digits)
    else:
        score = chamfer_pair_fold_col(q_vecs, F.col("d_vecs"), round_digits)
    return get_top_k(joined.select("query_id", "doc_id", score.alias("score")), k)


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("query_id", "doc_id", "score", "rank").collect()
    )


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def corpus(spark):
    # 125 docs of 4 tokens; checkpointed, so plan checks see no Exchange
    # of the fixture
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    return emb.select(
        (F.col("vec_id") / 4).cast("long").alias("doc_id"), "vec_id", "embedding"
    ).repartition(3).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.where(F.col("vec_id") < 80).select(
        F.col("doc_id").alias("query_id"), "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def cents(corpus):
    return build_centroids_deterministic(corpus, k=16, iters=5, id_col="vec_id")


# ------------------------------------------------------------------ grid
@pytest.mark.parametrize("t_cs", [0.0, 0.2])
@pytest.mark.parametrize("round_digits", [None, 6])
@pytest.mark.parametrize("rerank", [None, 20])
@pytest.mark.parametrize("mode", ["fold", "pandas"])
def test_plaid_pass_matches_relational_plan(spark, corpus, queries, cents, mode, rerank, round_digits, t_cs):
    """Identical rows over kernels x re-rank x rounding x ``t_cs``, with
    the per-doc table left in 4 partitions so each pass task prunes its
    own pool (coalescing would leave one)."""
    kw = dict(k=10, nprobe=4, t_cs=t_cs, rerank=rerank, round_digits=round_digits,
              assignment=mode, scoring=mode)
    with _conf(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"):
        got = _rows(plaid_topk(corpus, queries, cents, **kw))
    assert got == _rows(relational_plaid(corpus, queries, cents, **kw))
    assert len(got) == 20 * 10


def test_plaid_pass_sparse_centroid_ids(spark, corpus, queries, cents):
    """A codebook whose ids are sparse ranks like the relational plan."""
    sparse = cents.select((F.col("centroid_id") * 3 + 2).alias("centroid_id"), "centroid")
    kw = dict(k=5, nprobe=3, rerank=12, round_digits=6)
    assert _rows(plaid_topk(corpus, queries, sparse, **kw)) == _rows(
        relational_plaid(corpus, queries, sparse, **kw)
    )


def test_plaid_pass_non_nullable_query_columns(spark, corpus, cents):
    """Query token ids that the schema declares non-nullable (as
    ``spark.range`` makes them) give the relational plan's rows."""
    emb = {r.vec_id: r.embedding for r in corpus.where(F.col("vec_id") < 40).collect()}
    qs = spark.range(40).select(
        (F.col("id") / 4).cast("long").alias("query_id"),
        F.col("id").alias("vec_id"),
        F.udf(lambda i: emb[i], "array<float>")("id").alias("embedding"),
    )
    assert not qs.schema["vec_id"].nullable
    kw = dict(k=5, nprobe=4, rerank=10, round_digits=6)
    assert _rows(plaid_topk(corpus, qs, cents, **kw)) == _rows(relational_plaid(corpus, qs, cents, **kw))


def test_plaid_pass_keeps_dirty_rows(spark, corpus, cents):
    """A NaN query token makes every score it touches non-finite, a NULL
    token vector is a missing token, and NULL ids join nothing: the pass
    keeps such rows and the relational kernels rank them as before."""
    docs = corpus.where(F.col("doc_id") < 40).select(
        "doc_id", "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    extra = docs.sparkSession.createDataFrame(
        [(900, 9000, None), (900, 9001, [0.1] * 64), (None, 9002, [0.2] * 64)],
        "doc_id long, vec_id long, embedding array<double>",
    )
    docs = docs.unionByName(extra).repartition(4)
    base = docs.where(F.col("vec_id") < 12).select(
        F.col("doc_id").alias("query_id"), "vec_id", "embedding"
    )
    odd = docs.sparkSession.createDataFrame(
        [(50, 50, [float("nan")] + [0.1] * 63), (50, 51, [0.3] * 64), (51, 52, None),
         (None, 53, [0.2] * 64)],
        "query_id long, vec_id long, embedding array<double>",
    )
    qs = base.unionByName(odd)
    for mode in ("fold", "pandas"):
        for rerank in (None, 8):
            kw = dict(k=6, nprobe=5, rerank=rerank, round_digits=6, assignment=mode, scoring=mode)
            got = _rows(plaid_topk(docs, qs, cents, **kw))
            assert got == _rows(relational_plaid(docs, qs, cents, **kw)), (mode, rerank)
            if mode == "fold":
                assert any(r[0] == 50 for r in got), got


def test_plaid_pass_slices_a_query_batch_above_the_broadcast_threshold(spark, corpus, queries, cents, slices):
    """Below the query batch's bytes, the queries are broadcast in slices,
    one pass each, and the rows do not change."""
    kw = dict(k=10, nprobe=4, rerank=20, round_digits=6)
    want = _rows(relational_plaid(corpus, queries, cents, **kw))
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "2000"):
        got = _rows(plaid_topk(corpus, queries, cents, **kw))
    assert got == want
    assert len(slices[0]) > 1 and sum(len(s) for s in slices[0]) == 20


# ------------------------------------------------------------ the bounds
@pytest.mark.parametrize(
    "call, name, bad",
    [
        ("plaid", "k", 0), ("plaid", "k", -1), ("plaid", "nprobe", 0), ("plaid", "nprobe", -1),
        ("plaid", "rerank", 0), ("plaid", "rerank", -3),
        ("ivf", "nprobe", 0), ("ivf", "nprobe", -1), ("ivf", "k", 0), ("lsh", "k", 0), ("lsh", "k", -1),
    ],
)
def test_counts_are_validated_before_any_job(jobs, corpus, queries, cents, call, name, bad):
    def call_it():
        with pytest.raises(ValueError, match=f"{name} must be >= 1, got {bad}"):
            _call(call, corpus, queries, cents, **{name: bad})

    assert jobs(call_it) == 0


@pytest.mark.parametrize(
    "call, name",
    [
        ("plaid", "assignment"), ("plaid", "scoring"), ("ivf", "assignment"),
        ("ivf", "scoring"), ("lsh", "scoring"), ("near_dup", "scoring"),
    ],
)
def test_kernel_choices_are_validated_before_any_job(jobs, corpus, queries, cents, call, name):
    """A kernel choice other than 'fold' or 'pandas' fails before the
    query collect (plaid) or the codebook sample (ivf) runs."""
    def call_it():
        with pytest.raises(ValueError, match=f"{name} must be 'fold' or 'pandas', got 'Pandas'"):
            _call(call, corpus, queries, cents, **{name: "Pandas"})

    assert jobs(call_it) == 0


def _call(call, corpus, queries, cents, **kw):
    vecs = corpus.select("vec_id", "embedding")
    if call == "plaid":
        return plaid_topk(corpus, queries, cents, **kw)
    if call == "ivf":
        return ivf_topk(vecs, vecs.limit(3), **kw)
    if call == "lsh":
        return lsh_topk(vecs, vecs.limit(3), **kw)
    return embedding_near_dup_pairs(vecs, **kw)


def test_doc_token_bound_fails_loudly_above_and_passes_at(spark, corpus, queries, cents, monkeypatch):
    """``MAX_DOC_TOKENS`` bounds the per-doc row: a doc at the bound is
    answered, one over it fails with its doc_id and the bound."""
    fat = corpus.sparkSession.createDataFrame(
        [(999, 10_000 + i, [0.01 * i] * 64) for i in range(5)],
        "doc_id long, vec_id long, embedding array<float>",
    )
    docs = corpus.unionByName(fat)
    monkeypatch.setattr(plaid, "MAX_DOC_TOKENS", 5)
    assert plaid_topk(docs, queries, cents, k=3, rerank=5).count() == 20 * 3
    monkeypatch.setattr(plaid, "MAX_DOC_TOKENS", 4)
    with pytest.raises(Exception, match="doc_id 999 holds 5 token vectors, over MAX_DOC_TOKENS = 4"):
        plaid_topk(docs, queries, cents, k=3, rerank=5).collect()


# ------------------------------------------------------------- CI guards
def test_plaid_job_count_and_plan_shape(jobs, py_ops, corpus, queries, cents):
    """A warm call runs 4 jobs with or without re-rank: the query
    collect, the per-doc exchange, the window's exchange and the result
    (the codebook is a local relation: collecting it runs none, and the
    re-rank's two windows share one exchange). It runs 2 Python
    operators: the cell assignment and the pass (the S_cq scores run on
    the driver, the exact chamfer in the pass).
    Exactly one Exchange sits below the pass, keyed on ``doc_id``; it is
    the plan's only ``doc_id`` exchange and nothing joins the per-doc
    table, so ``doc_vectors`` is aggregated once."""
    def call(rerank=20):
        return plaid_topk(corpus, queries, cents, k=10, nprobe=4, rerank=rerank,
                          assignment="pandas", scoring="pandas")

    for rerank, budget, ops in ((20, 4, 2), (None, 4, 2)):
        call(rerank).collect()  # warm
        assert jobs(lambda: call(rerank).collect()) == budget, rerank
        assert py_ops(lambda: call(rerank).collect()) == ops, rerank

    df = call()
    df.collect()
    plan = _final_plan(df)
    at = [i for i, line in enumerate(plan) if "MapInArrow" in line]
    assert len(at) == 1, plan
    depth = len(plan[at[0]]) - len(plan[at[0]].lstrip(" :+-"))
    below = []
    for line in plan[at[0] + 1:]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        below.append(line)
    ex = [line for line in below if "Exchange" in line]
    assert len(ex) == 1 and "hashpartitioning(doc_id" in ex[0], below
    assert sum("hashpartitioning(doc_id" in line for line in plan) == 1, plan
    assert not any("Join" in line for line in plan), plan
    assert sum("ObjectHashAggregate" in line and "partial_collect_list" in line for line in plan) == 1


@pytest.mark.parametrize("mode", ["fold", "pandas"])
def test_plaid_aggregates_a_persisted_corpus_once(corpus, queries, cents, mode):
    """On a ``persist()``ed corpus the re-rank plan holds one ``doc_id``
    shuffle stage, under either assignment kernel: ``doc_vectors`` is
    aggregated, and its cells assigned, once. (A re-rank that joined the
    per-doc table back ran a second aggregation on such a corpus: Spark
    did not reuse the pass's exchange there, as it does for a
    checkpointed one.)"""
    docs = corpus.select("doc_id", "vec_id", "embedding").persist()
    try:
        docs.count()
        df = plaid_topk(docs, queries, cents, k=10, nprobe=4, rerank=20,
                        assignment=mode, scoring=mode)
        df.collect()
        stages = [line for line in _final_plan(df) if "Exchange hashpartitioning(doc_id" in line]
        assert len(stages) == 1 and "ReusedExchange" not in stages[0], stages
    finally:
        docs.unpersist()


def _final_plan(df) -> list[str]:
    """The lines of ``df``'s executed plan; after an action, AQE's final
    plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].splitlines()
