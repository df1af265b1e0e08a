"""Dense-vector scalar functions.

Reference analog: the exact-distance layer (Hamming default,
/root/reference/src/shared/lsh_forest.py:86; dot-product distances in the
chamfer notebooks — vectorized with ``@`` in
/root/reference/src/shared/utils.py:31-34).

Two implementations with one semantics:

* ``dot_col``/``cosine_col`` — ``zip_with`` + ``aggregate`` Column
  expressions. JVM-side and shuffle-free, but higher-order-function
  lambdas are INTERPRETED per element, not whole-stage-codegen'd
  (measured: F.aggregate 2.49s vs 0.49s for the NumPy kernel on the
  MinHash A/B at sf0.1, 5000 docs; the IVF assignment GEMM rewrite,
  ann.py). They remain the ORACLE path: a strict left-to-right fold is
  bit-reproducible everywhere, which is what lets expected-parquet
  fixtures hash-match.
* the NumPy kernels — plain functions over Arrow arrays, one GEMM or
  einsum per call: ``cosine_arrow``, ``centroid_scorevec_arrow`` and
  ``chamfer_pair_arrow`` here, ``simhash.hyperplane_simhash_arrow`` next
  door. They are the PRODUCTION path (the operators' ``scoring="pandas"``
  and ``assignment="pandas"``): the ``mapInArrow`` corpus passes score
  the rows they keep with them, the driver computes a query batch's keys
  and scores with them, and where a Spark stage must run one per row it
  is wrapped as an ``arrow_udf`` (``cosine_pandas_udf``,
  ``nearest_centroid_pandas_udf``, ``simhash.hyperplane_simhash_udf``).
  The names and the knob value predate the move from pandas to Arrow
  UDFs; callers and the benchmark pass them, so they stay. ulp-level
  reduction-order differences from the fold are possible, so
  fixture-oracle comparisons keep the fold.

Every NumPy kernel, and the ``mapInArrow`` corpus passes of
``operators/ann.py`` and ``operators/plaid.py``, reads its vector columns
through one Arrow list decoder (``_list_parts``, ``_vectors``): list
offsets index the flat values directly, with no per-row conversion. Each
kernel DEGRADES on the rows the decoder classifies as degenerate exactly
like its fold twin, never crashing the task: a NULL array, a ragged or
wrong-dim array, a NULL element (it reads as NaN, like a stored NaN) and
non-finite values. A kernel never returns NaN where the fold returns
NULL: Spark orders NaN ABOVE every number, so a NaN score would pass a
``score >= threshold`` filter that a NULL correctly fails.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf


def dot_col(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    fold = F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)
    # A genuine NaN element poisons the fold to NaN, and Spark orders NaN
    # ABOVE every double — a NaN score would pass `score >= threshold`
    # filters that corrupt data must fail. Normalize NaN folds to NULL so
    # both scoring paths agree on bad data: the Arrow kernel cannot
    # distinguish a null element from a stored NaN (both read as NaN)
    # and already masks NaN results to NULL; without this, fold vs
    # pandas returned DIFFERENT pair sets on NaN-poisoned embeddings.
    # NULL inputs are unaffected (nanvl passes non-NaN values through,
    # and NULL is not NaN), so clean-data results are bit-identical.
    return F.nanvl(fold, F.lit(None).cast("double"))


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    denom = norm_col(a) * norm_col(b)
    # outer nanvl: dot_col's own guard protects the fold, but inf
    # elements can still make the DIVISION NaN (inf/inf) — and NaN
    # outranks every real score in Spark ordering. Same normalize-to-NULL
    # rationale as dot_col; clean data is bit-identical (round-5 review).
    return F.nanvl(
        F.when(denom > 0, dot_col(a, b) / denom).otherwise(F.lit(0.0)),
        F.lit(None).cast("double"),
    )


def l2_sq_col(a: Column, b: Column) -> Column:
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _list_parts(col):
    """``(offsets, lengths, valid, values)`` of an Arrow list array; the
    offsets index ``values`` directly (a sliced array's offsets are not
    rebased, and ``values`` is the whole child array)."""
    off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    return off, np.diff(off), col.is_valid().to_numpy(zero_copy_only=False), col.values


def _vectors(col):
    """``(lengths, valid, gather)`` of an Arrow vector column:
    ``gather(rows, dim)`` is the ``(len(rows), dim)`` float64 matrix of
    ``rows``, valid rows of length ``dim``; a NULL element reads NaN."""
    off, lens, valid, values = _list_parts(col)
    flat = values.to_numpy(zero_copy_only=False).astype(np.float64)
    return lens, valid, lambda rows, dim: flat[off[rows][:, None] + np.arange(dim)]


def _spans(starts, counts):
    """The ranges ``[starts[i], starts[i] + counts[i])``, concatenated."""
    return np.repeat(starts - (np.cumsum(counts) - counts), counts) + np.arange(counts.sum())


def _require_kernel(**choices) -> None:
    """Raise ``ValueError``, before any job runs, unless every given kernel
    choice is ``"fold"`` or ``"pandas"``: a typo such as ``"Pandas"`` must
    not silently fall back to the slow path."""
    for name, v in choices.items():
        if v not in ("fold", "pandas"):
            raise ValueError(f"{name} must be 'fold' or 'pandas', got {v!r}")


def _codebook_literal(centroids: list[list[float]]) -> Column:
    """The codebook as ONE ``array<struct<cid int, cv array<double>>>``
    literal, built via a single ``F.expr`` SQL string instead of one
    ``F.lit`` per number: every ``F.lit``/``F.array``/``F.struct`` is a
    py4j round trip, and a 64x64 codebook costs ~4 100 of them —
    measured 4.6 s of pure DRIVER time per expression build (most of the
    ivf bench row), vs ~50 ms for the JVM to parse the equivalent SQL
    text (round 6; guide §1.2 per-task work includes the driver's).
    ``repr(float)`` is the shortest round-trip decimal, and the SQL
    ``D`` suffix parses it back to the bit-identical double, so the
    literal values — and every fold/argmax downstream — are unchanged.
    Non-finite values (never produced by the codebook trainers) would
    not survive a SQL literal; guard loudly rather than corrupt."""
    import math

    vals = []
    for i, c in enumerate(centroids):
        fs = [float(v) for v in c]
        if any(math.isnan(v) or math.isinf(v) for v in fs):
            raise ValueError(f"codebook centroid {i} contains non-finite values")
        cv = ",".join(repr(v) + "D" for v in fs)
        vals.append(f"struct({i} as cid, array({cv}) as cv)")
    return F.expr("array(" + ",".join(vals) + ")")


def centroid_scores_arr(centroids: list[list[float]], vec_col: str) -> Column:
    """Per-centroid dot scores of ``vec_col`` against a LITERAL codebook,
    as an array of ``struct(s, negcid, cid)`` — no join, no shuffle, no
    row explosion. The struct ordering (score desc via array_max/sort,
    ties toward the LOWEST centroid id via ``negcid``) is the single
    tie-break rule shared by every argmax consumer: ``array_max(...)``
    ["cid"] is the nearest cell (:func:`nearest_centroid`),
    ``reverse(array_sort(...))`` the probe order.

    Memoized on the codebook's values and ``vec_col``: ``ann.ivf_topk``
    takes both the nearest cell and the probe order from one codebook,
    and the expression build is a measured driver cost (see
    ``_codebook_literal``), so it is paid once per call."""
    codebook = tuple(tuple(float(v) for v in c) for c in centroids)
    return _centroid_scores_arr(codebook, vec_col)


@functools.lru_cache(maxsize=8)
def _centroid_scores_arr(codebook: tuple, vec_col: str) -> Column:
    cents_lit = _codebook_literal(codebook)
    return F.transform(
        cents_lit,
        lambda c: F.struct(
            dot_col(F.col(vec_col), c["cv"]).alias("s"),
            (-c["cid"]).alias("negcid"),
            c["cid"].alias("cid"),
        ),
    )


def nearest_centroid(
    codebook: list[list[float]], vec_col: str, assignment: str
) -> Column:
    """The codebook POSITION nearest to ``vec_col`` (max dot, ties to the
    lowest position) — the one nearest-centroid kernel choice of
    ``ann.ivf_topk`` and ``plaid.centroid_index``.

    ``assignment="fold"``: ``array_max`` over :func:`centroid_scores_arr`
    — interpreted per element, bit-reproducible, what the fixture
    oracles pin. ``"pandas"``: :func:`nearest_centroid_pandas_udf`, one
    Arrow-batched GEMM + argmax per batch — the production path;
    ulp-level reduction-order variance can flip an EXACT score tie, so
    oracle comparisons keep the fold."""
    _require_kernel(assignment=assignment)
    if assignment == "pandas":
        return nearest_centroid_pandas_udf(codebook)(F.col(vec_col))
    return F.array_max(centroid_scores_arr(codebook, vec_col))["cid"]


def nearest_centroid_pandas_udf(centroids: list[list[float]]):
    """Arrow-batched GEMM + argmax nearest-centroid assignment — the
    production sibling of ``array_max(centroid_scores_arr(...))["cid"]``.
    The argmax follows the fold's struct ordering: ties go to the lowest
    centroid id, and a NaN score (inf meeting a 0 weight, or a NULL
    element) ranks below every number, -inf included, as the NULL the
    fold's ``dot_col`` makes of it does (ulp-level GEMM reduction-order
    variance can still flip an EXACT score tie, so fixture-oracle
    comparisons keep the fold). Degenerate rows (NULL, empty, or
    wrong-dim vectors) and all-NaN rows assign to cell 0, exactly like
    the fold: every per-centroid dot is NULL there, so the struct max
    falls through to the lowest-cid tie-break."""
    cmat = np.asarray(centroids, dtype=np.float64)
    dim = cmat.shape[1]

    @arrow_udf("int")
    def _cell(v: pa.Array) -> pa.Array:
        lens, valid, gather = _vectors(v)
        rows = np.flatnonzero(valid & (lens == dim))
        out = np.zeros(len(v), dtype=np.int32)  # the fold's degenerate-row cell
        s = gather(rows, dim) @ cmat.T
        num = ~np.isnan(s)
        top = np.where(num, s, -np.inf).max(axis=1, initial=-np.inf)
        best = num & (s == top[:, None])
        out[rows] = np.where(best.any(axis=1), best.argmax(axis=1), 0)
        return pa.array(out)

    return _cell


def centroid_scorevec_arrow(v: pa.Array, cmat: np.ndarray) -> pa.Array:
    """NumPy GEMM over an Arrow vector array: per vector, the dot against
    EVERY row of the ``(k, dim)`` codebook matrix as ``array<double>`` in
    codebook-POSITION order — the pandas sibling of
    ``transform(centroid_scores_arr(...), c -> c.s)`` (one matmul instead
    of k interpreted folds per row). ``plaid_topk`` runs it on the driver
    over its collected query tokens. Degenerate rows (NULL / empty /
    wrong-dim vectors) yield an array of SQL NULLs, exactly like the
    per-centroid fold (``dot_col`` is NULL on every such row); a NULL
    element poisons that row's products, which are NULL per position
    (fold semantics again)."""
    k, dim = cmat.shape
    lens, valid, gather = _vectors(v)
    rows = np.flatnonzero(valid & (lens == dim))
    out = np.full((len(v), k), np.nan)
    out[rows] = gather(rows, dim) @ cmat.T
    flat = out.ravel()
    return pa.ListArray.from_arrays(
        pa.array(np.arange(len(v) + 1) * k, pa.int32()),
        pa.array(flat, mask=np.isnan(flat)),
    )


def _token_table(col):
    """``(row, token, length, gather)`` of the non-NULL token vectors of an
    Arrow ``array<array>`` column, in row and token order: token ``t``
    belongs to row ``row[t]`` and has length ``length[t]``, and
    ``gather(token[ts], dim)`` is its matrix (as in ``_vectors``)."""
    off, n_tok, valid, toks = _list_parts(col)
    counts = np.where(valid, n_tok, 0)
    token = _spans(off[:-1], counts)
    row = np.repeat(np.arange(len(col)), counts)
    lens, tok_ok, gather = _vectors(toks)
    keep = tok_ok[token]
    return row[keep], token[keep], lens[token[keep]], gather


def chamfer_pair_arrow(qs: pa.Array, ds: pa.Array) -> pa.Array:
    """NumPy max-sum interaction over two Arrow ``array<array>`` arrays
    of row pairs: per row, ``sum over query tokens of max over doc tokens
    of dot(q, d)`` — ONE einsum per equal-shape group, replacing the
    q_tok x d_tok row explosion + two hash aggregates of the former exact
    re-rank plan. ``plaid_topk``'s corpus pass scores the rows it keeps
    with it. Matches the relational path's NULL handling: a NULL token
    vector is a missing token, NaN dots (NULL elements) are missing, a
    token whose dots are all missing is skipped by the sum (SQL ``sum``
    ignores NULLs), and a row with no scoreable token at all is NULL. A
    row whose token vectors differ in length is scored as the fold scores
    it: a dot across unequal lengths is NULL, so each query token meets
    only the doc tokens of its own length. Token-sum order is the given
    query-token order (callers pass q_idx-sorted token lists), so results
    are deterministic; ulp-level differences vs the interpreted fold
    (``plaid.chamfer_pair_fold_col``) are possible — fixture-oracle
    comparisons keep the fold."""
    n = len(qs)
    q_row, q_tok, q_len, q_mat = _token_table(qs)
    d_row, d_tok, d_len, d_mat = _token_table(ds)
    nq, nd = np.bincount(q_row, minlength=n), np.bincount(d_row, minlength=n)
    lo, hi = np.full(n, np.iinfo(np.int64).max), np.full(n, -1)
    for row, length in ((q_row, q_len), (d_row, d_len)):
        np.minimum.at(lo, row, length)
        np.maximum.at(hi, row, length)
    both = (nq > 0) & (nd > 0)
    dense = both & (lo == hi) & (lo > 0)
    out = np.full(n, np.nan)
    # dense rows: one einsum per (query tokens, dim, doc tokens) shape
    rows = np.flatnonzero(dense)
    shapes, group = np.unique(
        np.stack([nq[rows], lo[rows], nd[rows]], axis=1), axis=0, return_inverse=True
    )
    q_at, d_at = np.cumsum(nq) - nq, np.cumsum(nd) - nd
    for g, (tq, dim, td) in enumerate(shapes):
        sel = rows[group.ravel() == g]
        Q = q_mat(q_tok[(q_at[sel][:, None] + np.arange(tq)).ravel()], dim)
        D = d_mat(d_tok[(d_at[sel][:, None] + np.arange(td)).ravel()], dim)
        s = np.einsum(
            "nqe,npe->nqp", Q.reshape(len(sel), tq, dim), D.reshape(len(sel), td, dim)
        )
        # NaN dots are missing (the fold scores them NULL; max ignores
        # them): fmax skips NaN, and is NaN only when all are missing
        tok_best = np.fmax.reduce(s, axis=2)  # (n, q)
        any_tok = ~np.isnan(tok_best)
        totals = np.where(any_tok, tok_best, 0.0).sum(axis=1)
        out[sel] = np.where(any_tok.any(axis=1), totals, np.nan)
    # ragged rows: each query token meets the doc tokens of its length
    ragged = both & ~dense
    qi, di = np.flatnonzero(ragged[q_row]), np.flatnonzero(ragged[d_row])
    width = max(q_len.max(initial=0), d_len.max(initial=0)) + 1
    d_key = d_row[di] * width + d_len[di]
    order = np.argsort(d_key, kind="stable")
    q_key = q_row[qi] * width + q_len[qi]
    first = np.searchsorted(d_key[order], q_key, "left")
    cnt = np.searchsorted(d_key[order], q_key, "right") - first
    pq, pd = np.repeat(qi, cnt), di[order[_spans(first, cnt)]]
    dots = np.empty(len(pq))
    for dim in np.unique(q_len[pq]):
        at = np.flatnonzero(q_len[pq] == dim)
        dots[at] = np.einsum("ij,ij->i", q_mat(q_tok[pq[at]], dim), d_mat(d_tok[pd[at]], dim))
    best = np.full(len(q_row), np.nan)
    np.fmax.at(best, pq, dots)
    # the sum over the scored tokens, in token order
    ok = qi[~np.isnan(best[qi])]
    scored = np.bincount(q_row[ok], minlength=n) > 0
    out[scored] = np.bincount(q_row[ok], weights=best[ok], minlength=n)[scored]
    return pa.array(out, mask=np.isnan(out))


def cosine_pandas_udf():
    """Arrow-batched exact cosine over ``(array, array)`` row pairs — one
    einsum per Arrow batch and row length instead of an interpreted HOF
    fold per element; every equal-length pair scores, whatever the
    batch's other lengths. The fold path's conventions, row for row: a
    zero or NaN denominator scores 0.0 (``cosine_col``'s
    ``otherwise(0.0)``, which also catches a NULL input array and a NULL
    element); a ragged pair scores NULL (``zip_with`` null-pads it); a
    NaN result (an inf element: inf*0 or inf/inf) is NULL, like
    ``cosine_col``'s outer nanvl. The embedding near-dup verify's
    ``scoring="pandas"`` kernel; the ANN corpus pass calls its body,
    :func:`cosine_arrow`, on the rows it keeps."""

    @arrow_udf("double")
    def _cos(a: pa.Array, b: pa.Array) -> pa.Array:
        return cosine_arrow(a, b)

    return _cos


def cosine_arrow(a: pa.Array, b: pa.Array) -> pa.Array:
    """The body of :func:`cosine_pandas_udf` over two Arrow vector
    arrays."""
    la, va, ga = _vectors(a)
    lb, vb, gb = _vectors(b)
    out = np.where(va & vb & (la != lb), np.nan, 0.0)
    ok = va & vb & (la == lb)
    for dim in np.unique(la[ok]):
        rows = np.flatnonzero(ok & (la == dim))
        ma, mb = ga(rows, dim), gb(rows, dim)
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.sqrt(np.einsum("ij,ij->i", ma, ma)) * np.sqrt(np.einsum("ij,ij->i", mb, mb))
        out[rows] = np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)
    return pa.array(out, mask=np.isnan(out))
