"""Candidate-pair generation strategies + connected components."""

from __future__ import annotations

import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import (
    adaptive_band_table,
    band_table,
    bucket_stats,
    with_signatures,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.components import (
    connected_components,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import (
    candidate_pairs,
    hamming_pairs,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.verify import (
    verify_pairs,
)
from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import generate_pages

CFG = DedupConfig()


@pytest.fixture(scope="module")
def sigs(spark):
    pages = generate_pages(spark, n_clusters=15, cluster_size=3, n_singletons=60)
    s = with_signatures(pages.select("doc_id", "text"), CFG).select(
        "doc_id", "shingles", "sig", "simhash"
    ).persist()
    s.count()
    return s


def test_grouped_and_selfjoin_pairs_agree(sigs):
    """The grouped generator equals a test-local bucket self-join: every
    pair of sorted ids within each multi-doc bucket (a full clique while
    buckets stay within ``bucket_pivots``, as they do here)."""
    bands = band_table(sigs, CFG)
    buckets: dict = {}
    for r in bands.collect():
        buckets.setdefault((r.band_id, r.band_hash), []).append(r.doc_id)
    assert max(len(ids) for ids in buckets.values()) <= CFG.bucket_pivots
    want = {
        pair
        for ids in buckets.values()
        for pair in itertools.combinations(sorted(ids), 2)
    }
    got = [(r.doc_a, r.doc_b) for r in candidate_pairs(bands, CFG).collect()]
    assert len(got) == len(set(got))
    assert set(got) == want


def test_pairs_are_canonical_and_distinct(sigs):
    pairs = candidate_pairs(band_table(sigs, CFG), CFG)
    assert pairs.where(F.col("doc_a") >= F.col("doc_b")).count() == 0
    assert pairs.count() == pairs.distinct().count()


def test_band_count_invariant(sigs):
    # every non-empty doc contributes exactly num_bands rows (F6/M8
    # row-count-conservation analog)
    bands = band_table(sigs, CFG)
    n_docs = sigs.where(F.size("shingles") > 0).count()
    assert bands.count() == n_docs * CFG.num_bands
    per_doc = bands.groupBy("doc_id").count().select(F.collect_set("count")).first()[0]
    assert per_doc == [CFG.num_bands]


def test_verify_prune_broadcast_gate(sigs):
    """Round-5 review: the verify prune's explicit broadcast is
    count-gated (verify_prune_max_ids) — on duplicate-dense corpora the
    forced hint would push a multi-GB hash relation past the broadcast
    threshold. A zero cap exercises the shuffle-semi-join fallback and
    must return byte-identical verified pairs; materialize_pairs=False
    (the parquet-backed pipeline path) must too."""
    from dataclasses import replace

    pairs = candidate_pairs(band_table(sigs, CFG), CFG)
    v_bc = verify_pairs(pairs, sigs, CFG)
    v_sh = verify_pairs(pairs, sigs, replace(CFG, verify_prune_max_ids=0))
    assert v_bc.exceptAll(v_sh).count() == 0
    assert v_sh.exceptAll(v_bc).count() == 0
    v_nm = verify_pairs(pairs, sigs, CFG, materialize_pairs=False)
    assert v_bc.exceptAll(v_nm).count() == 0
    assert v_nm.exceptAll(v_bc).count() == 0


def test_verify_pandas_null_shingles_fold_like_jvm(spark):
    """A NULL shingle array folds to jaccard 0.0, and the threshold then
    drops those rows without failing the stage."""
    docs = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, None), (3, None)],
        "doc_id long, shingles array<long>",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    jvm = verify_pairs(pairs, docs, CFG, keep_below_threshold=True)
    got_jvm = {(r.doc_a, r.doc_b): r.jaccard for r in jvm.collect()}
    assert got_jvm == {(1, 2): 0.0, (2, 3): 0.0}
    assert verify_pairs(pairs, docs, CFG).count() == 0


def test_verify_prune_rescues_dup_dense_broadcast(sigs):
    """Round-5 review: when 2*|pairs| exceeds the cap but the DISTINCT
    id set fits, the prune must still broadcast (exact-count rescue)
    instead of falling back to a shuffle semi-join — and the result is
    identical either way."""
    from dataclasses import replace

    pairs = candidate_pairs(band_table(sigs, CFG), CFG)
    n_pairs = pairs.count()
    n_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .count()
    )
    assert 2 * n_pairs > n_ids  # the rescue regime exists on this fixture
    cfg = replace(CFG, verify_prune_max_ids=n_ids)  # bound fails, exact fits
    v = verify_pairs(pairs, sigs, cfg)
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastQueryStage" in plan
    base = verify_pairs(pairs, sigs, CFG)
    assert base.exceptAll(v).count() == 0
    assert v.exceptAll(base).count() == 0


def _ancestors(plan: str, leaf: str) -> list[str]:
    """The node lines from the first line naming ``leaf`` up to the root
    of a plan's final tree string, nearest first."""
    import re

    lines = plan.split("== Initial Plan ==")[0].splitlines()

    def depth(line: str) -> int:
        return re.match(r"[ :|+\-]*", line).end()

    i = next(k for k, line in enumerate(lines) if leaf in line)
    out, d = [], depth(lines[i])
    for line in reversed(lines[:i]):
        if depth(line) < d:
            out.append(line)
            d = depth(line)
    return out


def test_verify_job_budget_and_plan_shape(sigs, jobs):
    """Under the broadcast gate verify broadcasts the pairs' endpoint
    rows, probes the signature scan in place and gathers each pair's
    docs in one exchange on the pair. The budgets are the measured warm
    counts; a change that cuts jobs lowers them."""
    pairs = candidate_pairs(band_table(sigs, CFG), CFG).localCheckpoint(eager=True)
    n_pairs = pairs.count()

    def run(**kw):
        verify_pairs(pairs, sigs, CFG, materialize_pairs=False, **kw).collect()

    assert jobs(run) <= 5
    assert jobs(lambda: run(n_pairs=n_pairs)) <= 4
    # an uncached plan: its checkpoint supplies the count
    lazy = candidate_pairs(band_table(sigs, CFG), CFG)
    assert jobs(lambda: verify_pairs(lazy, sigs, CFG).collect()) <= 7

    v = verify_pairs(pairs, sigs, CFG, materialize_pairs=False)
    v.collect()
    plan = v._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastExchange") == 1
    shuffles = [s for s in final.splitlines() if "Exchange hashpartitioning" in s]
    assert len(shuffles) == 1 and "hashpartitioning(doc_a" in shuffles[0]
    up = _ancestors(plan, "InMemoryTableScan")
    join = next(k for k, line in enumerate(up) if "BroadcastHashJoin" in line)
    assert "Inner" in up[join]
    assert not any("Exchange" in line or "QueryStage" in line for line in up[1:join])


def test_verify_above_gate_prunes_before_any_exchange(sigs):
    """Above the gate the exact distinct endpoint ids prune the signature
    table first: no Exchange carries an unpruned signature row."""
    from dataclasses import replace

    pairs = candidate_pairs(band_table(sigs, CFG), CFG).localCheckpoint(eager=True)
    cfg = replace(CFG, verify_prune_max_ids=2 * pairs.count())  # over the gate
    v = verify_pairs(pairs, sigs, cfg, materialize_pairs=False)
    v.collect()
    up = _ancestors(v._jdf.queryExecution().executedPlan().toString(), "InMemoryTableScan")
    semi = next(k for k, line in enumerate(up) if "LeftSemi" in line)
    assert not any("Exchange" in line for line in up[:semi])


@pytest.fixture(scope="module")
def degenerate(spark):
    """Docs and pairs on every edge verify has: a doc id stored twice
    identically and twice differently, NULL and empty shingles, a NULL
    id, self, reversed and NULL-id pairs, and an endpoint missing from
    docs. The docs carry a ``simhash`` column that verify must not read.
    The oracle is the two-join plan over the distinct doc rows:
    ``(doc_a, doc_b, jaccard)``."""
    docs = spark.createDataFrame(
        [
            (1, [1, 2, 3, 4], 10), (1, [1, 2, 3, 4], 10), (2, [1, 2, 3, 5], 11),
            (3, [1, 2, 3, 4], 10), (3, [7, 8], 12), (4, None, 13), (5, [], 14),
            (6, [1, 2, 3, 4], None), (None, [1, 2], 1), (7, [1, 2, 3, 4], 1 << 40),
        ],
        "doc_id long, shingles array<long>, simhash long",
    )
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 1), (1, 1), (1, 3), (3, 6), (4, 5), (1, 4), (1, 99),
            (None, 2), (2, None), (6, 6), (5, 5), (1, 7), (3, 3),
        ],
        "doc_a long, doc_b long",
    )
    d = docs.distinct()
    a = d.select(*[F.col(c).alias(c.replace("doc_id", "doc") + "_a") for c in d.columns])
    b = d.select(*[F.col(c).alias(c.replace("doc_id", "doc") + "_b") for c in d.columns])
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size("shingles_a") + F.size("shingles_b") - inter
    oracle = pairs.join(a, "doc_a").join(b, "doc_b").select(
        "doc_a",
        "doc_b",
        F.when(union > 0, inter / union).otherwise(0.0).alias("jaccard"),
    )
    return docs, pairs, [tuple(r) for r in oracle.collect()]


def _verified(df) -> list[tuple]:
    return sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())


@pytest.mark.parametrize("max_ids", [10_000_000, 20, 0], ids=["broadcast", "rescue", "shuffle"])
def test_verify_degenerate_grid_matches_two_join_oracle(degenerate, max_ids):
    """Every tier gives the two-join plan's rows over the distinct doc
    rows, with and without the threshold."""
    from dataclasses import replace

    docs, pairs, oracle = degenerate
    cfg = replace(CFG, verify_prune_max_ids=max_ids)
    for keep in (False, True):
        want = sorted(r for r in oracle if keep or r[2] >= cfg.jaccard_threshold)
        got = _verified(verify_pairs(pairs, docs, cfg, keep_below_threshold=keep))
        assert got == want, keep
    if max_ids == 10_000_000:
        checkpointed = pairs.localCheckpoint(eager=True)
        got = verify_pairs(
            checkpointed, docs.drop("simhash"), CFG, keep_below_threshold=True,
            materialize_pairs=False, n_pairs=checkpointed.count(),
        )
        assert _verified(got) == sorted(oracle)


def test_adaptive_bands_cover_same_docs(spark):
    small_cfg = DedupConfig(
        use_adaptive_bands=True, adaptive_max_bucket=2, adaptive_max_extra_rows=3
    )
    pages = generate_pages(spark, n_clusters=15, cluster_size=3, n_singletons=60)
    sigs = with_signatures(pages.select("doc_id", "text"), small_cfg)
    ab = adaptive_band_table(sigs, small_cfg)
    assert ab.select("doc_id").distinct().count() == sigs.where(
        F.size("shingles") > 0
    ).count()
    # depth only grows
    assert ab.where(F.col("depth") < small_cfg.rows_per_band).count() == 0
    assert ab.where(F.col("depth") > small_cfg.rows_per_band).count() > 0
    # diagnostics table runs
    assert bucket_stats(ab).count() > 0
    # the deepening rows exist only in a signature signed for them
    from dataclasses import replace

    with pytest.raises(ValueError, match="use_adaptive_bands"):
        adaptive_band_table(sigs, replace(small_cfg, use_adaptive_bands=False))


def test_connected_components_known_graph(spark):
    # components: {1,2,3,4}, {10,11}, isolated {20}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    vertices = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "doc_id long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, vertices).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain(spark):
    # a 30-node path exercises multi-round convergence + lineage truncation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    got = connected_components(edges)
    assert got.select("cluster_id").distinct().count() == 1
    assert got.count() == 31
    assert got.agg(F.min("cluster_id")).first()[0] == 0


def test_connected_components_paths_agree(spark):
    # the size-gated driver union-find and the distributed star loop
    # must produce the identical labeling (cluster_id = component min) on a
    # graph with chains, merges, duplicate + reversed edges, and self-loops,
    # and on one with NULL endpoints and ids above 2**53: a NULL endpoint
    # joins nothing, so its other end is a singleton of ``all_vertices``
    import random

    rng = random.Random(7)
    edges_py = [(i, i + 1) for i in range(0, 40, 2)]          # 20 two-node comps
    edges_py += [(100 + i, 100 + i + 1) for i in range(15)]   # one 16-node chain
    edges_py += [(rng.randrange(200, 230), rng.randrange(200, 230)) for _ in range(40)]
    edges_py += [(b, a) for a, b in edges_py[:10]] + [(300, 300)]
    big = 2**60 + 1
    null_py = [(1, 2), (None, 3), (big, big + 1), (4, None)]
    for graph, vertices in ((edges_py, None), (null_py, [1, 2, 3, 4, big, big + 1])):
        edges = spark.createDataFrame(graph, "doc_a long, doc_b long")
        if vertices is not None:
            vertices = spark.createDataFrame([(v,) for v in vertices], "doc_id long")
        stats: dict = {}
        # gate: tiny -> union-find
        driver = connected_components(edges, all_vertices=vertices, stats=stats)
        assert stats["strategy"] == "driver_union_find"
        dist = connected_components(edges, all_vertices=vertices, driver_max_edges=0)
        assert driver.exceptAll(dist).count() == 0
        assert dist.exceptAll(driver).count() == 0
    assert sorted(tuple(r) for r in driver.collect()) == [
        (1, 1), (2, 1), (3, 3), (4, 4), (big, big), (big + 1, big),
    ]


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_driver_labels_are_a_local_relation(spark, id_type):
    """The driver union-find's labels are built from an Arrow table typed
    like ``doc_a``, so Spark holds them as a local relation: their plan
    has no RDD scan, whose every read would run Python worker tasks.
    They still equal the star path's labels."""
    cast = str if id_type == "string" else int
    edges_py = [(1, 2), (2, 3), (10, 11), (5, 5), (12, 10)]
    edges = spark.createDataFrame(
        [(cast(a), cast(b)) for a, b in edges_py], f"doc_a {id_type}, doc_b {id_type}"
    )
    stats: dict = {}
    driver = connected_components(edges, stats=stats)
    assert stats["strategy"] == "driver_union_find"
    plan = driver._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    star = connected_components(edges, driver_max_edges=0)
    assert driver.dtypes == star.dtypes
    assert sorted(driver.collect()) == sorted(star.collect())


def test_star_contraction_is_diameter_robust(spark):
    # a 2,000-vertex path has diameter 2,000: label propagation would
    # need 2,000 rounds, the star contraction must finish in O(log^2 n)
    # — and still label every vertex with the component min (round-2
    # VERDICT #4; the >=1M-edge artifact is tools/cc_stress.py ->
    # CC_STRESS.json)
    n = 2000
    edges = (
        spark.range(n - 1)
        .selectExpr("id as doc_a", "id + 1 as doc_b")
    )
    stats = {}
    got = connected_components(edges, driver_max_edges=0, stats=stats)
    assert stats["strategy"] == "star"
    assert stats["rounds"] <= 25, stats
    assert got.count() == n
    assert got.select("cluster_id").distinct().count() == 1
    assert got.agg(F.min("cluster_id")).first()[0] == 0
    assert got.where(F.col("cluster_id") != 0).count() == 0


def test_bucket_drop_stats_clamps_negative_star_skips(spark):
    """bucket_pivots > max_bucket_docs is a legal config (pure
    clique-truncate arm); kept - pivots goes negative and must clamp to a
    0 skip count, not square into a bogus positive (round-3 ADVICE)."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import (
        bucket_drop_stats,
    )

    rows = [(0, 7, d) for d in range(30)]  # one 30-doc bucket
    bands = spark.createDataFrame(
        rows, "band_id int, band_hash long, doc_id long"
    )
    cfg = DedupConfig(max_bucket_docs=16, bucket_pivots=10**6)
    got = bucket_drop_stats(bands, cfg).collect()
    # bucket_n=30 <= bucket_pivots but > max_bucket_docs: the cap drops 14
    # docs, so the ledger MUST show a row (round-4 ADVICE: filtering on
    # pivots alone silently hid this drop); star skip clamps to 0
    assert len(got) == 1
    assert got[0].dropped_docs == 14
    assert got[0].starred_pairs_skipped == 0
    cfg2 = DedupConfig(max_bucket_docs=16, bucket_pivots=20)
    got2 = bucket_drop_stats(bands, cfg2).collect()
    assert len(got2) == 1
    assert got2[0].dropped_docs == 14
    assert got2[0].starred_pairs_skipped == 0  # kept=16 < pivots=20 -> clamp


def test_default_adaptive_config_reserves_fresh_rows():
    """Round-3 VERDICT #5: the DEFAULT adaptive path must never wrap a
    deepened key into a neighbor band's base rows — signature_len extends
    the signature with num_bands * adaptive_max_extra_rows fresh
    permutations, a disjoint run per band."""
    fixed = DedupConfig()
    assert fixed.signature_len == fixed.num_perm == 128
    ad = DedupConfig(use_adaptive_bands=True)
    # 16*8 base + 16*4 reserved
    assert ad.signature_len == 192
    # explicit num_perm above base+reserved wins
    big = DedupConfig(use_adaptive_bands=True, num_perm=256)
    assert big.signature_len == 256
    # more bands reserve more rows: 32*4 base + 32*4 reserved
    many = DedupConfig(use_adaptive_bands=True, num_bands=32, rows_per_band=4)
    assert many.signature_len == 256


def test_config_rejects_degenerate_caps():
    """Round-5 review: bucket_pivots=0 would make the star generator emit
    (NULL, doc) pairs via Spark's descending sequence(1, 0); a 1-doc cap
    silently disables pair generation."""
    with pytest.raises(ValueError, match="bucket_pivots"):
        DedupConfig(bucket_pivots=0)
    with pytest.raises(ValueError, match="max_bucket_docs"):
        DedupConfig(max_bucket_docs=1)


def test_star_pair_structs_degenerate_inputs_yield_empty(spark):
    """Round-5 review: 0/1-id arrays and a sub-1 pivot budget must yield
    an EMPTY pair array, never (NULL, doc) rows."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import (
        star_pair_structs,
    )

    df = spark.createDataFrame(
        [([],), ([7],), ([1, 2],), ([1, 2, 3],)],
        "ids array<long>",
    )
    for pivots in (0, 1, 64):
        got = df.select(
            F.col("ids"), star_pair_structs(F.col("ids"), pivots).alias("ps")
        ).collect()
        for r in got:
            for p in r.ps:
                assert p.doc_a is not None and p.doc_b is not None, (pivots, r)
            if len(r.ids) <= 1 or pivots < 1:
                assert r.ps == [], (pivots, r)
    # full-clique sanity at pivots=64
    row3 = df.where(F.size("ids") == 3).select(
        star_pair_structs(F.col("ids"), 64).alias("ps")
    ).first()
    assert {(p.doc_a, p.doc_b) for p in row3.ps} == {(1, 2), (1, 3), (2, 3)}


def test_bucket_drop_stats_boundary_bucket_emits_no_row(spark):
    """Round-5 review: a bucket of exactly bucket_pivots+1 docs is a
    complete clique through its pivots (every pair includes a pivot) —
    nothing dropped, nothing skipped, NO ledger row."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import (
        bucket_drop_stats,
    )

    cfg = DedupConfig(bucket_pivots=4, max_bucket_docs=100)
    rows = [(0, 7, d) for d in range(5)]  # pivots + 1 docs
    bands = spark.createDataFrame(rows, "band_id int, band_hash long, doc_id long")
    assert bucket_drop_stats(bands, cfg).collect() == []
    # one more doc -> one genuinely skipped pair -> a row appears
    bands6 = spark.createDataFrame(
        rows + [(0, 7, 5)], "band_id int, band_hash long, doc_id long"
    )
    got = bucket_drop_stats(bands6, cfg).collect()
    assert len(got) == 1 and got[0].starred_pairs_skipped == 1
    assert got[0].dropped_docs == 0


def test_default_adaptive_bands_deepen_with_reserved_rows(spark):
    """A mega-bucket corpus under the DEFAULT adaptive config must produce
    deepened rows (depth > rows_per_band) from a 192-row signature."""
    pages = generate_pages(
        spark, n_clusters=1, cluster_size=80, n_singletons=40,
        n_exact_dups=0, doc_len=150, max_mutation=0.01, seed=3,
    ).select("doc_id", "text")
    cfg = DedupConfig(use_adaptive_bands=True, adaptive_max_bucket=16)
    sigs = with_signatures(pages, cfg).select("doc_id", "shingles", "sig")
    assert sigs.select(F.size("sig")).first()[0] == 192
    tbl = adaptive_band_table(sigs, cfg)
    depths = {r.depth for r in tbl.select("depth").distinct().collect()}
    assert cfg.rows_per_band in depths
    assert any(d > cfg.rows_per_band for d in depths), "no deepening happened"
    # every non-empty doc still covered by every band at exactly one depth
    n_docs = sigs.where(F.size("shingles") > 0).count()
    per_band = tbl.groupBy("band_id").agg(F.countDistinct("doc_id").alias("n"))
    assert all(r.n == n_docs for r in per_band.collect())


def test_salted_bucket_cap_equals_unsalted(spark):
    """bucket_ids_capped: the two-stage salted path over a planted
    mega-bucket must return EXACTLY the unsalted answer (the globally
    smallest max_bucket_docs ids per bucket), healthy buckets must be
    untouched, and the pre-shuffle singleton drop must survive."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import (
        bucket_ids_capped,
    )

    rows = (
        # hot bucket: 5_000 docs share (0, 0) — above the test threshold
        [(0, 0, d) for d in range(5_000)]
        # healthy buckets: pair + triple + singleton
        + [(1, 7, 10), (1, 7, 11)]
        + [(2, 9, 20), (2, 9, 21), (2, 9, 22)]
        + [(3, 4, 30)]
    )
    bands = spark.createDataFrame(
        rows, "band_id int, band_hash long, doc_id long"
    ).repartition(16)

    kw = dict(key_cols=["band_id", "band_hash"], max_bucket_docs=100)
    salted = {
        (r.band_id, r.band_hash): r.ids
        for r in bucket_ids_capped(bands, salt_partitions=8, **kw).collect()
    }
    unsalted = {
        (r.band_id, r.band_hash): r.ids
        for r in bucket_ids_capped(bands, salt_partitions=1, **kw).collect()
    }
    assert salted == unsalted
    assert salted[(0, 0)] == list(range(100))  # smallest cap ids, sorted
    assert salted[(1, 7)] == [10, 11]
    assert salted[(2, 9)] == [20, 21, 22]
    assert (3, 4) not in salted  # singleton dropped


def test_candidate_pairs_unchanged_by_salting(sigs):
    """The flagship pair set is byte-identical whether the hot-bucket
    salted path is enabled (default) or disabled."""
    bands = band_table(sigs, DedupConfig())
    on = candidate_pairs(bands, DedupConfig(salt_partitions=8))
    off = candidate_pairs(bands, DedupConfig(salt_partitions=0))
    assert on.exceptAll(off).count() == 0
    assert off.exceptAll(on).count() == 0


def _min_label_oracle(edges_py) -> dict:
    """Test-local union-find: every vertex -> its component minimum."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges_py:
        parent[find(a)] = find(b)
    want = {}
    for v in parent:
        want.setdefault(find(v), []).append(v)
    return {v: min(vs) for vs in want.values() for v in vs}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=1,
        max_size=120,
    )
)
def test_cc_strategies_match_union_find_oracle(spark, edges_py):
    """Property check on the core clusterer: on arbitrary small graphs
    (self-loops, duplicates, reversed edges, disconnected vertices) both
    physical strategies — driver union-find and distributed star
    contraction — must label every vertex with its component MINIMUM,
    per an independent test-local union-find."""
    expect = _min_label_oracle(edges_py)
    edges = spark.createDataFrame(edges_py, "doc_a long, doc_b long")
    got_driver = {
        r.doc_id: r.cluster_id for r in connected_components(edges).collect()
    }
    assert got_driver == expect
    got_star = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert got_star == expect


def test_cc_wide_ids_count_before_pulling_to_driver(spark, monkeypatch):
    """String ids gate on a count: an edge set over ``driver_max_edges``
    is never pulled to the driver, and takes the star path; under the
    bound it still takes the driver union-find. Both label every vertex
    with its component minimum."""
    edges_py = [
        (f"d{a:02d}", f"d{b:02d}")
        for a, b in [(1, 2), (2, 3), (5, 4), (7, 7), (8, 9), (9, 1), (6, 5)]
    ]
    edges = spark.createDataFrame(edges_py, "doc_a string, doc_b string")
    pulls = []
    to_pandas = type(edges).toPandas

    def counting_to_pandas(self):
        pulls.append(self)
        return to_pandas(self)

    monkeypatch.setattr(type(edges), "toPandas", counting_to_pandas)
    expect = _min_label_oracle(edges_py)

    stats: dict = {}
    got = connected_components(edges, driver_max_edges=3, stats=stats)
    assert {r.doc_id: r.cluster_id for r in got.collect()} == expect
    assert stats["strategy"] == "star"
    assert pulls == []

    stats = {}
    got = connected_components(edges, driver_max_edges=len(edges_py), stats=stats)
    assert {r.doc_id: r.cluster_id for r in got.collect()} == expect
    assert stats["strategy"] == "driver_union_find"
    assert len(pulls) == 1


def test_cc_zero_iterations_warns_not_silently_splits(spark):
    """max_iterations<=0 leaves the star loop only its detection round,
    which cannot confirm a fixed point: it must warn, not silently
    return possibly split labels."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(
            edges, driver_max_edges=0, max_iterations=0
        ).collect()


def test_cc_stats_contract_on_driver_path(spark):
    """stats receives BOTH strategy and rounds on every path."""
    edges = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    stats: dict = {}
    connected_components(edges, stats=stats).collect()
    assert stats == {"strategy": "driver_union_find", "rounds": 0}


def test_cc_star_converging_at_budget_does_not_warn(spark):
    """Round-5 review: a graph whose contraction stabilizes exactly at
    round max_iterations used to warn spuriously — the fixed point is
    only observable one round later, so the loop runs a +1 detection
    round. A simple path graph converges in very few star rounds; with
    a just-enough budget there must be NO RuntimeWarning."""
    import warnings as w

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    # find the exact convergence round first
    stats: dict = {}
    out = connected_components(edges, driver_max_edges=0, stats=stats)
    assert {r.cluster_id for r in out.collect()} == {0}
    converge_rounds = stats["rounds"] - 1  # minus the detection round
    with w.catch_warnings():
        w.simplefilter("error", RuntimeWarning)
        out2 = connected_components(
            edges,
            driver_max_edges=0,
            max_iterations=converge_rounds,
        )
        assert {r.cluster_id for r in out2.collect()} == {0}


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


@pytest.mark.parametrize("max_hamming", [0, 3, 4, 63])
def test_hamming_pairs_match_popcount_oracle(spark, max_hamming):
    """``hamming_pairs`` == every pair of 64-bit hashes within the budget,
    by ``itertools.combinations`` + popcount. The corpus plants exact
    duplicates, 1/3/4/5-bit neighbours, a 4-bit neighbour that differs
    only in bits 60-63 (outside every chunk at max_hamming=4: 5 chunks x
    12 bits) and a complement (64 bits apart: the one pair max_hamming=63,
    with 1-bit chunks, must not report)."""
    import random

    rng = random.Random(5)
    hashes = []
    for _ in range(10):
        base = rng.getrandbits(64)
        hashes.append(base)
        for n_flip in (0, 1, 3, 4, 5):
            h = base
            for b in rng.sample(range(64), n_flip):
                h ^= 1 << b
            hashes.append(h)
        hashes.append(base ^ (0xF << 60))
    hashes.append(hashes[0] ^ ((1 << 64) - 1))
    rows = [(i, _signed64(h)) for i, h in enumerate(hashes)]
    df = spark.createDataFrame(rows, "id long, h long")

    want = set()
    for (ia, a), (ib, b) in itertools.combinations(enumerate(hashes), 2):
        d = bin(a ^ b).count("1")
        if d <= max_hamming:
            want.add((ia, ib, d))
    got = [
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_pairs(df, "id", "h", max_hamming).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want
    assert want  # every budget has pairs to find


def _package_references(names: set[str]) -> dict[str, set[str]]:
    """``{package-relative path: the subset of names it references}`` —
    names read, attribute-accessed, imported or defined (AST, so
    comments and docstrings do not count)."""
    import ast
    from pathlib import Path

    import lsh_forest_for_multi_vector_retrieval_spark as pkg

    root = Path(pkg.__file__).parent
    hits: dict[str, set[str]] = {}
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, (ast.alias, ast.FunctionDef)):
                name = node.name
            else:
                continue
            if name in names:
                hits.setdefault(path.relative_to(root).as_posix(), set()).add(name)
    return hits


def test_hamming_chunk_cols_has_one_blocking_home():
    """The pigeonhole blocking kernel is referenced only where it is
    defined and by ``pairs.chunk_blocks``: every SimHash / ahash /
    hyperplane operator blocks through ``operators/pairs.py``, so a fix
    to the blocking lands once."""
    hits = _package_references({"hamming_chunk_cols"})
    assert set(hits) == {"functions/simhash.py", "operators/pairs.py"}


def test_flagship_has_one_composition():
    """The flagship operators are composed once, in
    ``dedup.flagship_stages``: the checkpointed pipeline and the
    incremental batch run that stage list and call none of them, and
    the band tables are reached only through ``dedup.flagship_bands`` —
    so a config field cannot be honoured by one runner and ignored by
    another."""
    operators = {
        "with_signatures",
        "band_table",
        "adaptive_band_table",
        "candidate_pairs",
        "verify_pairs",
        "connected_components",
    }
    hits = _package_references(operators)
    assert "plans/pipeline.py" not in hits, hits["plans/pipeline.py"]
    assert "streaming/incremental.py" not in hits, hits["streaming/incremental.py"]
    band_users = {p for p, n in hits.items() if n & {"band_table", "adaptive_band_table"}}
    assert band_users == {"operators/bands.py", "operators/dedup.py"}
