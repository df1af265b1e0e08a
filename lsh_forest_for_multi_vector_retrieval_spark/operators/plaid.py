"""PLAID-style centroid-pruned multi-vector retrieval (reference P2-P4:
/root/reference/notebooks/plaid.ipynb cells 5-8).

The reference pipeline: (cell 5) MiniBatchKMeans centroids over all token
vectors, normalized; (cell 6) inverted index centroid_id -> doc_ids;
(cell 7) query-vs-centroid score matrix S_cq, keep top-``nprobe``
centroids per query token, prune centroids whose best query-token score
is < ``t_cs``, union candidate docs from the index; (cells 7-8) centroid
interaction score ``S_cq[doc_cids].max(axis=0).sum()`` and rank.

Spark mapping (SURVEY §2.9): KMeans via ``pyspark.ml`` (P2); the inverted
index is an exploded ``(centroid_id, doc_id)`` DataFrame (P3); pruning is
a window top-nprobe + a ``max >= t_cs`` filter; the max-then-sum
interaction score is the V2 chamfer shape — two hash aggregates. The
centroid table is tiny and broadcast everywhere; the only wide ops are
keyed joins against the inverted index.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import (
    centroid_scores_arr,
    dot_col,
    nearest_centroid_pandas_udf,
)


def build_centroids(
    vectors: DataFrame,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """P2: KMeans centroids over all (token) vectors, unit-normalized like
    the reference (plaid.ipynb cell 5 normalizes centroids for cosine).
    Returns a tiny (centroid_id INT, centroid ARRAY<DOUBLE>) DataFrame."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    centers = []
    for i, c in enumerate(model.clusterCenters()):
        c = np.asarray(c, dtype=np.float64)
        if normalize:
            n = np.linalg.norm(c)
            if n > 0:
                c = c / n
        centers.append((i, c.tolist()))
    return vectors.sparkSession.createDataFrame(
        centers, "centroid_id int, centroid array<double>"
    )


def train_codebook(
    sample,
    k: int,
    iters: int = 20,
    normalize: bool = True,
    round_digits: int | None = 6,
) -> list[list[float]]:
    """Driver-side Lloyd k-means over a BOUNDED sample — the deterministic
    scalar kernel shared by :func:`build_centroids_deterministic` and the
    expected-parquet fixture generator (tools/make_expected_fixtures.py).

    Determinism contract (everything float-order-sensitive is pinned):
    init = the first ``k`` distinct rows in sample order; assignment ties
    go to the lowest centroid id (``np.argmin`` first-index); empty
    clusters keep their previous centroid; a FIXED iteration count (no
    tolerance early-exit, which would be float-order sensitive); distances
    and means use NumPy ufunc reductions only (single-threaded, pairwise —
    no BLAS GEMM, whose reduction order varies with thread count).
    Hand-value-tested in tests/test_plaid.py."""
    sample = np.asarray(sample, dtype=np.float64)
    seen: set = set()
    init: list = []
    for row in sample:
        t = tuple(row.tolist())
        if t not in seen:
            seen.add(t)
            init.append(row)
            if len(init) == k:
                break
    if not init:
        # np.stack([]) would raise a cryptic "need at least one array to
        # stack" deep inside Lloyd — same explicit guard as
        # centroid_index's "centroids table is empty"
        raise ValueError(
            "codebook sample is empty — the input vectors DataFrame has no rows"
        )
    cents = np.stack(init)  # k_eff x d; k_eff < k only on tiny inputs
    for _ in range(iters):
        d2 = np.empty((len(sample), len(cents)), dtype=np.float64)
        for c in range(len(cents)):
            diff = sample - cents[c]
            d2[:, c] = (diff * diff).sum(axis=1)
        assign = np.argmin(d2, axis=1)
        for c in range(len(cents)):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    out: list[list[float]] = []
    for c in cents:
        if normalize:
            n = float(np.sqrt((c * c).sum()))
            if n > 0:
                c = c / n
        vals = [float(x) for x in c]
        if round_digits is not None:
            vals = [round(v, round_digits) for v in vals]
        out.append(vals)
    return out


def build_centroids_deterministic(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 20,
    sample_limit: int = 100_000,
    vec_col: str = "embedding",
    id_col: str | None = None,
    normalize: bool = True,
    round_digits: int | None = 6,
) -> DataFrame:
    """P2, deterministic twin of :func:`build_centroids`: train the
    codebook on a bounded deterministic sample — the standard IVF
    practice (FAISS/ScaNN train quantizers on ~1e5 vectors regardless of
    corpus size), so this is the 100 TB shape, not a test shortcut. The
    sample is the first ``sample_limit`` vectors ordered by ``id_col``
    when given (reproducible by any engine) else by ``xxhash64`` of the
    vector; Catalyst turns orderBy+limit into TakeOrderedAndProject, so
    only ``sample_limit`` rows (~50 MB at d=64) ever reach the driver.
    Lloyd runs in :func:`train_codebook` with every float-order choice
    pinned; the returned (centroid_id, centroid) table is tiny and is
    broadcast everywhere downstream."""
    cents = sample_codebook(
        vectors, k, iters, sample_limit, vec_col, id_col, normalize, round_digits
    )
    return vectors.sparkSession.createDataFrame(
        list(enumerate(cents)), "centroid_id int, centroid array<double>"
    )


def sample_codebook(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 20,
    sample_limit: int = 100_000,
    vec_col: str = "embedding",
    id_col: str | None = None,
    normalize: bool = True,
    round_digits: int | None = 6,
) -> list[list[float]]:
    """The bounded-sample collect + :func:`train_codebook` behind
    :func:`build_centroids_deterministic`, returning the plain list —
    for callers that embed the codebook as a literal Column expression
    (operators/ann.py::ivf_topk) instead of joining a table."""
    order = F.col(id_col) if id_col else F.xxhash64(F.col(vec_col))
    rows = (
        vectors.select(order.alias("_ord"), F.col(vec_col).cast("array<double>").alias("_v"))
        .orderBy("_ord")
        .limit(sample_limit)
        .collect()
    )
    return train_codebook([r["_v"] for r in rows], k, iters, normalize, round_digits)


def nearest_centroid_col(centroids: list[list[float]], vec_col: str) -> "F.Column":
    """Nearest-centroid (max dot, ties to lowest id) as ONE projection
    expression over a LITERAL codebook — no join, no shuffle, no row
    explosion. Same fold arithmetic as the old crossJoin scoring
    (``dot_col``), so assignments are bit-identical. The kernel lives in
    ``functions.vectors.centroid_scores_arr`` — single home shared with
    ``ann.ivf_topk``'s cell assignment."""
    return F.array_max(centroid_scores_arr(centroids, vec_col))["cid"]


def centroid_index(
    doc_vectors: DataFrame,
    centroids: DataFrame,
    doc_col: str = "doc_id",
    vec_col: str = "embedding",
    assignment: str = "fold",
) -> DataFrame:
    """P3: the inverted index. Every doc token is assigned to its nearest
    (max-dot) centroid; output is the distinct exploded ``(centroid_id,
    doc_id)`` form — kept exploded rather than collect_set'd, per SURVEY
    §1.3, so downstream joins stay relational.

    Assignment is a LITERAL-codebook argmax projection (round-4 VERDICT
    #2/"Next #3"): the old plan crossJoined every token vector against the
    centroid table and took argmax through a ``row_number`` window
    partitioned by (doc_id, vector) — a |vectors| x k row explosion
    through a full shuffle, the last 100x hazard in the headline plans.
    The codebook is tiny (k <= a few hundred) and is collected once and
    embedded as a literal — note that makes building this plan a small
    blocking Spark action (one scan of the k-row centroid table), the
    price of a no-shuffle whole-stage-codegen assignment projection with
    bit-identical results (same ``dot_col`` fold per centroid, same
    desc-score / asc-id tie-break).

    ``centroid_id`` need not be dense 0..k-1: the argmax runs over
    codebook POSITIONS (id-sorted, so position ties = lowest-id ties)
    and positions map back to the real ids through a k-element literal
    lookup — a filtered codebook (e.g. empty cells dropped) keeps its
    original ids in the output.

    ``assignment="pandas"``: Arrow-batched NumPy GEMM + argmax — the
    production path for wide codebooks (same trade as ``ann.ivf_topk``:
    ulp-level reduction-order variance can flip exact ties, so keep
    "fold" for fixture-oracle comparisons)."""
    if assignment not in ("fold", "pandas"):
        raise ValueError(f"assignment must be 'fold' or 'pandas', got {assignment!r}")
    rows = sorted(
        centroids.select("centroid_id", "centroid").collect(),
        key=lambda r: r.centroid_id,
    )
    if not rows:
        raise ValueError("centroids table is empty")
    codebook = [r.centroid for r in rows]
    if assignment == "pandas":
        pos = nearest_centroid_pandas_udf(codebook)(F.col(vec_col))
    else:
        pos = nearest_centroid_col(codebook, vec_col)
    ids = [r.centroid_id for r in rows]
    if ids == list(range(len(rows))):
        cell = pos  # dense table: position IS the id — skip the lookup
    else:
        cell = F.element_at(F.array(*[F.lit(i) for i in ids]), pos + F.lit(1))
    return (
        doc_vectors.select(
            cell.alias("centroid_id"), F.col(doc_col).alias("doc_id")
        ).distinct()
    )


def _sum_tok_vals(vals, round_digits: int | None):
    """Sum an array of per-token ``tok_best`` values (already q_idx-sorted)
    into one score Column.

    With ``round_digits`` set this is an ordered left fold — NULL poisons,
    and a bit-reproducible score is what lets the expected-parquet oracle
    hash-match (partial-aggregation merge order would vary with
    partitioning). The production path (None) mirrors SQL ``sum``: NULL
    tokens are skipped, an all-NULL row sums to NULL — same contract the
    pre-round-6 ``groupBy().agg(F.sum(...))`` stage carried."""
    if round_digits is None:
        nonnull = F.filter(vals, lambda v: v.isNotNull())
        return F.when(
            F.size(nonnull) > 0,
            F.aggregate(nonnull, F.lit(0.0), lambda acc, v: acc + v),
        ).otherwise(F.lit(None).cast("double"))
    return F.round(
        F.aggregate(vals, F.lit(0.0), lambda acc, v: acc + v), round_digits
    )


def chamfer_pair_fold_col(
    q_vecs: Column, d_vecs: Column, round_digits: int | None
) -> Column:
    """Relational twin of ``chamfer_pair_pandas_udf``: per row, the sum over
    query tokens (in array order) of the max over doc tokens of their dot,
    summed by :func:`_sum_tok_vals`."""
    tok_best = F.transform(
        q_vecs,
        lambda q: F.array_max(F.transform(d_vecs, lambda dv: dot_col(q, dv))),
    )
    return _sum_tok_vals(tok_best, round_digits)


def plaid_topk(
    doc_vectors: DataFrame,
    query_vectors: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    t_cs: float = 0.0,
    doc_col: str = "doc_id",
    query_col: str = "query_id",
    vec_col: str = "embedding",
    qvec_id_col: str = "vec_id",
    rerank: int | None = None,
    round_digits: int | None = None,
    assignment: str = "fold",
    scoring: str = "fold",
) -> DataFrame:
    """P3+P4: centroid-pruned candidate generation + centroid interaction
    score. Returns (query_id, doc_id, score, rank), rank<=k per query.

    ``query_vectors`` needs a stable per-token id column (``qvec_id_col``)
    — NOT derived with monotonically_increasing_id, which would vary with
    partitioning and break determinism.

    Score semantics = plaid.ipynb cell 7: for each candidate doc, for each
    query token, the best score among the doc's centroid ids
    (``S_cq[doc_cids].max(axis=0)``), summed over query tokens. Docs enter
    the candidate set if any of their centroids survives pruning (top-
    ``nprobe`` per query token AND max-over-query-tokens >= ``t_cs``).

    ``rerank``: full-PLAID final stage — take the top-``rerank`` docs per
    query by centroid score, recompute the EXACT max-sum interaction over
    the real vectors (the V2 chamfer shape), and rank those. Centroid
    quantization then only decides the pool, not the final order — the
    same cheap-candidates -> exact-verify split as the dedup flagship.

    ``assignment`` picks the nearest-centroid kernel for the inverted
    index ("pandas" = the Arrow GEMM production path; "fold" =
    bit-reproducible oracle path) — the same two kernels
    :func:`centroid_index` exposes, applied inline here so the codebook
    is collected once.

    ``scoring`` picks the dot-product kernel for the query-token x centroid
    S_cq scores and the exact re-rank: "fold" (default) is the interpreted
    left-fold — bit-reproducible, what the expected-parquet fixture pins;
    "pandas" is one Arrow-batched GEMM per batch — the production path
    (same split as the ANN family, round-4 VERDICT "What's missing" #2).

    Physical plan (round 6): every per-pair join/window of the former plan
    is replaced by array arithmetic over three narrow aggregates —
    * S_cq is a LITERAL-codebook score-array projection per query token
      (no crossJoin, no broadcast, no per-token window shuffle; probing is
      the same ``slice(reverse(array_sort(...)))`` kernel as
      ``ann.ivf_topk``, identical desc-score/asc-id tie-break);
    * the interaction score reads each token's score array positionally
      against the doc's centroid-position array — the former
      ``cand x doc_cents x s_cq`` three-way join + two hash aggregates
      collapse into one join projection;
    * the exact re-rank scores the (query-token-matrix, doc-token-matrix)
      pair per candidate row — the former q_tok x d_tok row explosion
      (|pool| * q_toks * d_toks rows, each carrying two vectors, through
      two more shuffled aggregates) becomes |pool| rows and one batched
      einsum (``chamfer_pair_pandas_udf``) or an in-row fold.
    Scores are bit-identical to the former plan: same per-pair fold
    arithmetic, same max semantics, same q_idx-ordered sum."""
    if scoring not in ("fold", "pandas"):
        raise ValueError(f"scoring must be 'fold' or 'pandas', got {scoring!r}")
    if assignment not in ("fold", "pandas"):
        raise ValueError(f"assignment must be 'fold' or 'pandas', got {assignment!r}")
    from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import (
        centroid_scorevec_pandas_udf,
        chamfer_pair_pandas_udf,
    )

    # one bounded collect of the tiny codebook, shared by assignment AND
    # scoring (the former plan collected it inside centroid_index and
    # additionally broadcast the centroid table for S_cq). All internal
    # arithmetic runs over codebook POSITIONS in centroid_id order —
    # position ties == lowest-id ties, the centroid_index convention.
    crows = sorted(
        centroids.select("centroid_id", "centroid").collect(),
        key=lambda r: r.centroid_id,
    )
    if not crows:
        raise ValueError("centroids table is empty")
    codebook = [r.centroid for r in crows]
    n_cents = len(codebook)

    # inverted index over positions (the literal-argmax projection),
    # aggregated straight to its per-doc array form: groupBy +
    # collect_set dedups (centroid, doc) in the SAME exchange the former
    # distinct + groupBy pair spent two on, and the eager localCheckpoint
    # stops the corpus assignment subtree from executing once per
    # consumer (the candidate join AND the score projection both read it;
    # Spark has no cross-branch subtree reuse). One row per doc, a few
    # ints wide — ContextCleaner-released, the repo's established pattern.
    if assignment == "pandas":
        pos = nearest_centroid_pandas_udf(codebook)(F.col(vec_col))
    else:
        pos = F.array_max(centroid_scores_arr(codebook, vec_col))["cid"]
    doc_cents = (
        doc_vectors.select(pos.alias("cpos"), F.col(doc_col).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("cpos")).alias("cposs"))
        .localCheckpoint(eager=True)
    )
    index = doc_cents.select("doc_id", F.explode("cposs").alias("cpos"))

    # S_cq: per query token, the score against EVERY centroid as one
    # position-ordered array column — a projection, not a join
    if scoring == "pandas":
        s_arr = centroid_scorevec_pandas_udf(codebook)(F.col(vec_col))
    else:
        s_arr = F.transform(centroid_scores_arr(codebook, vec_col), lambda c: c["s"])
    qtok = query_vectors.select(
        F.col(query_col).alias("query_id"),
        F.col(qvec_id_col).alias("q_idx"),
        F.col(vec_col).alias("q_vec"),
        s_arr.alias("s_arr"),
    )

    # prune: top-nprobe centroids per token (struct order (s, -pos, pos) =
    # score desc, position asc — the shared ivf_topk probe kernel), then
    # drop centroids whose best score across the query is < t_cs
    # (cell 7's centroid_pruned_ids)
    probe = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_cents - 1)),
                    lambda p: F.struct(
                        F.element_at(F.col("s_arr"), p + F.lit(1)).alias("s"),
                        (-p).alias("negcid"),
                        p.alias("cid"),
                    ),
                )
            )
        ),
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

    # candidate docs per query via the inverted index
    cand = kept.join(index, "cpos").select("query_id", "doc_id").distinct()

    # interaction score: max over the doc's centroid positions of each
    # token's score array, summed over query tokens — the three-way
    # per-token join collapses into one projection over two aggregates
    q_sarr = qtok.groupBy("query_id").agg(
        F.array_sort(F.collect_list(F.struct("q_idx", "s_arr"))).alias("toks")
    )
    coarse_vals = F.transform(
        F.col("toks"),
        lambda t: F.array_max(
            F.transform(
                F.col("cposs"), lambda c: F.element_at(t["s_arr"], c + F.lit(1))
            )
        ),
    )
    scores = (
        cand.join(doc_cents, "doc_id")
        .join(q_sarr, "query_id")
        .select(
            "query_id",
            "doc_id",
            _sum_tok_vals(coarse_vals, round_digits).alias("score"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scores.withColumn("rank", F.row_number().over(wr))
    if rerank is None:
        return ranked.where(F.col("rank") <= k)

    pool = ranked.where(F.col("rank") <= max(k, rerank)).select(
        "query_id", "doc_id"
    )
    # exact re-rank over matrices: one row per (query, doc) carrying the
    # doc's token list and the query's q_idx-sorted token list — max over
    # doc tokens is order-independent, so the collect_list order of d_vecs
    # cannot affect the score
    d_mat = (
        doc_vectors.select(
            F.col(doc_col).alias("doc_id"), F.col(vec_col).alias("d_vec")
        )
        .groupBy("doc_id")
        .agg(F.collect_list("d_vec").alias("d_vecs"))
    )
    q_mat = qtok.groupBy("query_id").agg(
        F.array_sort(F.collect_list(F.struct("q_idx", "q_vec"))).alias("qtoks")
    )
    joined = pool.join(q_mat, "query_id").join(d_mat, "doc_id")
    q_vecs = F.transform(F.col("qtoks"), lambda t: t["q_vec"])
    if scoring == "pandas":
        raw = chamfer_pair_pandas_udf()(q_vecs, F.col("d_vecs"))
        score = raw if round_digits is None else F.round(raw, round_digits)
    else:
        score = chamfer_pair_fold_col(q_vecs, F.col("d_vecs"), round_digits)
    exact = joined.select("query_id", "doc_id", score.alias("score"))
    return exact.withColumn("rank", F.row_number().over(wr)).where(
        F.col("rank") <= k
    )
