"""Degenerate inputs of ``forest_vote_scores``: each case's rows are pinned
to what the relational plan it replaced (prefix-table explode, node
popularity groupBy, two joins) returned on the same input."""

from __future__ import annotations

import pytest

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.operators.forest_vote import (
    forest_vote_scores,
)

CFG = DedupConfig(num_perm=4, num_bands=2, rows_per_band=2)
LONG = "doc_id long, sig array<long>"
STR = "doc_id string, sig array<long>"
CORPUS = [(1, [1, 2, 5, 6]), (2, [1, 9, 5, 6]), (3, [7, 8, 7, 7]), (4, [1, 2, 5, 9]), (5, [1, 2, 3, 3])]
QUERIES = [(10, [1, 2, 5, 9]), (11, [7, 8, 5, 6])]
# doc 2 again (another signature) and doc 4 again, in a second partition
DUPS = [(2, [1, 2, 7, 7]), (4, [1, 2, 5, 9])]


def _named(rows):
    return [(f"d{i}", sig) for i, sig in rows]


# name -> (corpus partitions, queries, schema, cfg, options, broadcast threshold, rows)
CASES = {
    "dup_ids_across_partitions": (
        [CORPUS, DUPS], QUERIES, LONG, CFG, {}, None,
        [(10, 1, 1.0), (10, 2, 1.0), (10, 4, 0.9687749329781317), (10, 5, 0.5),
         (11, 1, 0.9375498659562634), (11, 2, 0.9375498659562634), (11, 3, 1.0), (11, 4, 1.0)],
    ),
    "dup_ids_capped": (
        [CORPUS, DUPS], QUERIES, LONG, CFG, {"max_node_docs": 2}, None,
        [(10, 4, 1.0), (11, 1, 1.0), (11, 2, 1.0), (11, 3, 1.0)],
    ),
    "query_id_in_corpus": (
        [CORPUS], [(1, [1, 2, 5, 9]), (3, [7, 8, 5, 6])], LONG, CFG, {}, None,
        [(1, 2, 1.0), (1, 4, 0.9399501409527418), (1, 5, 0.43548065089609994),
         (3, 1, 0.8822673057462073), (3, 2, 0.8822673057462073), (3, 4, 1.0)],
    ),
    # a NULL sig hashes every node to one constant, so NULL-sig docs and
    # queries meet; a NULL id counts toward node sizes but never matches
    "null_ids_and_sigs": (
        [CORPUS + [(None, [1, 2, 5, 9]), (6, None), (7, None)]],
        QUERIES + [(None, [1, 2, 5, 6]), (12, None)], LONG, CFG, {}, None,
        [(10, 1, 0.9229640101690095), (10, 2, 1.0), (10, 4, 0.8889704317242435),
         (10, 5, 0.4229640101690095), (11, 1, 0.9320128431104682), (11, 2, 0.9320128431104682),
         (11, 3, 1.0), (11, 4, 1.0), (12, 6, 1.0), (12, 7, 1.0)],
    ),
    "string_ids": (
        [_named(CORPUS)], _named(QUERIES) + [("d1", [1, 2, 5, 6])], STR, CFG, {}, None,
        [("d1", "d2", 1.0), ("d1", "d4", 0.9898938202013348), ("d1", "d5", 0.45861965050865156),
         ("d10", "d1", 0.9310111608394581), ("d10", "d2", 1.0), ("d10", "d4", 0.9399501409527418),
         ("d10", "d5", 0.43548065089609994), ("d11", "d1", 0.8822673057462073),
         ("d11", "d2", 0.8822673057462073), ("d11", "d3", 1.0), ("d11", "d4", 1.0)],
    ),
    "empty_queries": ([CORPUS], [], LONG, CFG, {}, None, []),
    "empty_corpus": ([[]], QUERIES, LONG, CFG, {}, None, []),
    "zero_depth": (
        [CORPUS], QUERIES, LONG, DedupConfig(num_perm=4, num_bands=2, rows_per_band=0),
        {}, None, [],
    ),
    "no_popularity_weight_floor": (
        [CORPUS], QUERIES, LONG, CFG, {"use_popularity": False, "weight_floor": 0.7}, None,
        [(10, 1, 0.5), (10, 2, 1.0), (11, 4, 1.0)],
    ),
    "uncapped_linear": (
        [CORPUS], QUERIES, LONG, CFG, {"max_node_docs": None, "scheme": "linear"}, None,
        [(10, 1, 0.7619414492309377), (10, 2, 0.5708534458296884), (10, 4, 1.0), (10, 5, 0.5),
         (11, 1, 1.0), (11, 2, 1.0), (11, 3, 1.0), (11, 4, 0.6045031135799016)],
    ),
    # 60 bytes hold one 4-node query path: three slices, and queries 10
    # and 12 share nodes that two slices count
    "sliced_queries": (
        [CORPUS[:3], CORPUS[3:]], QUERIES + [(12, [1, 2, 5, 6])], LONG, CFG,
        {"max_node_docs": 3}, "60",
        [(10, 1, 0.9911402173080082), (10, 2, 0.4911402173080081), (10, 4, 1.0), (10, 5, 0.5),
         (11, 1, 0.8822673057462073), (11, 2, 0.8822673057462073), (11, 3, 1.0), (11, 4, 1.0),
         (12, 1, 0.9411336528731036), (12, 2, 0.44113365287310363), (12, 4, 1.0), (12, 5, 0.5)],
    ),
}


@pytest.mark.parametrize("name", list(CASES))
def test_forest_vote_degenerate_inputs_keep_their_rows(spark, slices, name):
    parts, queries, schema, cfg, kw, threshold, want = CASES[name]
    corpus = spark.createDataFrame(parts[0], schema).coalesce(1)
    for p in parts[1:]:
        corpus = corpus.union(spark.createDataFrame(p, schema).coalesce(1))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if threshold:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    try:
        got = forest_vote_scores(corpus, spark.createDataFrame(queries, schema), cfg, **kw).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert sorted((tuple(r) for r in got), key=repr) == want
    assert len(slices[0]) == (3 if threshold else 1)
