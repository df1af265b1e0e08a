"""One Arrow vector decoder: the NumPy vector kernels (plain functions
over Arrow arrays, wrapped as ``arrow_udf``s where a Spark stage runs
them) read the list decoder of ``functions/vectors.py``, no other module
defines one, and the decoder reads sliced Arrow arrays (non-zero
offsets) like whole ones."""

from __future__ import annotations

import ast

import numpy as np
import pyarrow as pa
import pytest

from lsh_forest_for_multi_vector_retrieval_spark.functions.simhash import (
    hyperplane_simhash_udf,
)
from lsh_forest_for_multi_vector_retrieval_spark.functions.vectors import (
    centroid_scorevec_arrow,
    chamfer_pair_arrow,
    cosine_pandas_udf,
    nearest_centroid_pandas_udf,
)
from test_reachability import PKG_ROOT, _body, _names

DECODER = {"_list_parts", "_vectors"}


def test_vector_kernels_use_no_pandas_udf():
    assert "pandas_udf" not in _names(_body(PKG_ROOT / "functions/vectors.py"))
    defs = {
        n.name: n for n in _body(PKG_ROOT / "functions/simhash.py") if isinstance(n, ast.FunctionDef)
    }
    hp, body = defs["hyperplane_simhash_udf"], defs["hyperplane_simhash_arrow"]
    assert "pandas_udf" not in _names([hp, body])
    assert {"arrow_udf", "hyperplane_simhash_arrow"} <= _names([hp])
    assert "_vectors" in _names([body])


def test_the_list_decoder_is_defined_once():
    """``_list_parts`` and ``_vectors`` are defined (or bound) only in
    ``functions/vectors.py``; everyone else imports them."""
    where = []
    for path in sorted(PKG_ROOT.rglob("*.py")):
        for node in ast.walk(ast.Module(_body(path), [])):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = node.name
            elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                name = node.id
            else:
                continue
            if name in DECODER:
                where.append((path.relative_to(PKG_ROOT).as_posix(), name))
    assert sorted(where) == [
        ("functions/vectors.py", "_list_parts"),
        ("functions/vectors.py", "_vectors"),
    ]


VEC = pa.list_(pa.float64())
INF = float("inf")
A = pa.array(
    [[1.0, 0.0], None, [1.0, 2.0, 3.0], [0.0, 0.0], [1.0, None], [3.0, 4.0], [], [INF, 1.0]],
    VEC,
)
B = pa.array(
    [[1.0, 0.0], [1.0, 0.0], [1.0, 2.0], [0.0, 0.0], [1.0, 1.0], [4.0, 3.0], [], [1.0, 0.0]],
    VEC,
)
Q = pa.array(
    [
        [[1.0, 0.0], [0.0, 2.0]],
        [[1.0, 0.0], None],
        [None],
        None,
        [[1.0, 0.0], [1.0]],
        [[0.5, 0.5], [0.0, 2.0]],
        [],
        [[1.0, None], [0.0, 1.0]],
    ],
    pa.list_(VEC),
)
D = pa.array([[[1.0, 1.0], [3.0, 0.0]]] * 4 + [[[1.0], [2.0, 2.0]]] * 4, pa.list_(VEC))


@pytest.mark.parametrize("start", [1, 3, 5])
def test_kernels_read_sliced_arrays_like_whole_ones(spark, start):
    """A slice's list offsets start past zero and its child array is the
    whole parent's: each kernel answers a slice exactly as it answers the
    same rows of the whole array."""
    cents = [[1.0, 0.0], [0.0, 1.0]]
    kernels = [
        (cosine_pandas_udf().func, (A, B)),
        (nearest_centroid_pandas_udf(cents).func, (A,)),
        (lambda v: centroid_scorevec_arrow(v, np.asarray(cents)), (A,)),
        (hyperplane_simhash_udf(dim=2, bits=16).func, (A,)),
        (chamfer_pair_arrow, (Q, D)),
    ]
    for kernel, cols in kernels:
        whole = kernel(*cols).to_pylist()
        part = kernel(*(c.slice(start, 3) for c in cols)).to_pylist()
        assert part == whole[start : start + 3], kernel
