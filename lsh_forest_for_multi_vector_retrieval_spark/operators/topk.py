"""The broadcast-query top-k core of ANN, PLAID and forest vote.

Every query is answered as in ``LSHForest.query`` (reference ``src/
shared/lsh_forest.py:76-108``): probe, collect candidates, exact
re-rank, top-k. Here in the shape of REPOSE (ICDE 2021): the query batch
is collected once and broadcast in slices, one ``mapInArrow`` pass per
slice runs over the corpus partitions (``sliced_pass``), each partition
keeps a provable superset of its local top-k (``keep_loop``) and one
merge ranks it (``get_top_k``). The query side's keys and scores are
computed on the driver (``driver_column``) and the pass scores the rows
it keeps, so a ``scoring="pandas"`` query runs no Python stage besides
the pass and the corpus-side assignment or signing that it fuses.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def require_positive(**counts) -> None:
    """Raise ``ValueError``, before any job runs, unless every given count
    is at least 1 (0 would silently answer nothing; a negative count
    fails inside a job or slices a driver list from the end)."""
    for name, v in counts.items():
        if v < 1:
            raise ValueError(f"{name} must be >= 1, got {v!r}")


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


def _elements(x) -> int:
    """The elements of a query row's field, a list of lists counted to
    its leaves (``None`` holds none)."""
    if isinstance(x, list):
        return sum(_elements(e) if isinstance(e, list) else 1 for e in x)
    return 0 if x is None else len(x)


def query_slices(spark, rows: list) -> list[list]:
    """Consecutive slices of the collected query ``rows``, each of at most
    the session's ``spark.sql.autoBroadcastJoinThreshold`` estimated bytes
    (16 a row and 8 an element of its fields after the first, nested
    lists counted to their leaves; a non-positive threshold is one
    slice). Always at least one slice."""
    budget = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    out, cur, size = [], [], 0
    for r in rows:
        b = 16 + 8 * sum(_elements(x) for x in r[1:])
        if cur and budget > 0 and size + b > budget:
            out.append(cur)
            cur, size = [], 0
        cur.append(r)
        size += b
    return out + [cur]


def driver_column(df: DataFrame, src: str, field: StructField, fn) -> DataFrame:
    """``df`` plus ``field``, computed on the driver: ``df`` is collected
    as Arrow in one JVM job, ``fn`` maps its column ``src`` (an Arrow
    array) to the new column, and the result is an Arrow local relation,
    so projecting and collecting it run no job and no Python task."""
    tbl = df.toArrow()
    tbl = tbl.append_column(field.name, fn(tbl.column(src).combine_chunks()))
    return df.sparkSession.createDataFrame(tbl, StructType(df.schema.fields + [field]))


def sliced_pass(frame: DataFrame, schema: StructType, rows: list, payload, kernel) -> DataFrame:
    """The union of one ``frame.mapInArrow`` pass per ``query_slices``
    slice of ``rows``. Per slice, in order, it broadcasts ``payload(slice,
    arrow)`` and runs ``kernel(broadcast, arrow)``, ``arrow`` being
    ``schema`` in Arrow."""
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = frame.sparkSession
    arrow = to_arrow_schema(schema)
    passes = [
        frame.mapInArrow(kernel(spark.sparkContext.broadcast(payload(s, arrow)), arrow), schema)
        for s in query_slices(spark, rows)
    ]
    return functools.reduce(DataFrame.union, passes)


def keep_margin(round_digits: int | None) -> float:
    """How far below a partition's k-th best approximate score a row may
    score and still be kept. A dropped row has k rows (distinct ids) in
    its partition scoring more than ``10**-round_digits`` above it, so
    they still score strictly higher after HALF_UP rounding and it cannot
    reach the global top-k; the ``1e-9`` covers the NumPy-vs-exact ulps."""
    return (0.0 if round_digits is None else 10.0 ** -round_digits) + 1e-9


def _keep_floor(score, dirty, ids, k: int, margin: float) -> float:
    """The keep threshold of one key in one partition: the k-th best
    clean score over distinct ids, minus ``margin``; ``-inf`` (keep all)
    while fewer than k distinct ids score clean."""
    clean = ~dirty
    if clean.sum() < k:
        return -np.inf
    s, i = score[clean], ids[clean]
    order = np.argsort(-s, kind="stable")
    _, first = np.unique(i[order], return_index=True)
    if len(first) < k:
        return -np.inf
    return s[order][np.sort(first)[k - 1]] - margin


def keep_loop(batches, k: int, margin: float, candidates):
    """The per-partition keep loop of a pass kernel over Arrow ``batches``.
    ``candidates(batch)`` yields, per key (a query, or a level and
    query), ``(key, rows, score, dirty, ids, *extra)``: candidate row
    numbers in the batch, their approximate score, whether it cannot
    stand in for the exact one (dirty), their item ids and more per-row
    arrays. A key keeps every dirty row and every row scoring at least
    ``_keep_floor`` of the rows it holds, pruned again as batches arrive:
    a superset of what can reach its top-k. Memory holds the kept rows
    only, with their batch's columns 0 and 1.

    Returns ``(pieces, cols)``: ``(key, kept rows, *extra)`` per key and
    batch that kept a row, and columns 0 and 1 of those rows, in that
    order (``None`` when no row was kept)."""
    import pyarrow as pa

    kept: dict = {}  # key -> [[sub, rows, score, dirty, ids, *extra]]
    subs = []
    for b in batches:
        if not b.num_rows:
            continue
        fresh = []
        for key, rows, score, dirty, ids, *extra in candidates(b):
            pieces = kept.setdefault(key, [])
            floor = _keep_floor(
                np.concatenate([p[2] for p in pieces] + [score]),
                np.concatenate([p[3] for p in pieces] + [dirty]),
                np.concatenate([p[4] for p in pieces] + [ids]),
                k,
                margin,
            )
            for p in pieces:
                keep = p[3] | (p[2] >= floor)
                p[1:] = [x[keep] for x in p[1:]]
            keep = dirty | (score >= floor)
            pieces.append([len(subs)] + [x[keep] for x in (rows, score, dirty, ids, *extra)])
            fresh.append(pieces[-1])
        if fresh:
            take = np.unique(np.concatenate([p[1] for p in fresh]))
            subs.append((b.column(0).take(take), b.column(1).take(take)))
            for p in fresh:
                p[1] = np.searchsorted(take, p[1])
    out = [(key, p) for key, ps in kept.items() for p in ps if len(p[1])]
    if not out:
        return [], None
    cols = [pa.concat_arrays([subs[p[0]][c].take(p[1]) for _, p in out]) for c in (0, 1)]
    return [(key, len(p[1]), *p[5:]) for key, p in out], cols
