"""Incremental (streaming) dedup: batches arriving over time find the same
pairs as one batch run over the union."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import minhash_dedup
from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import generate_pages
from lsh_forest_for_multi_vector_retrieval_spark.streaming.incremental import (
    IncrementalDedup,
)

CFG = DedupConfig()


@pytest.mark.parametrize("split", ["parity", "id_range"])
def test_incremental_equals_batch(spark, tmp_path, split):
    pages = generate_pages(
        spark, n_clusters=12, cluster_size=3, n_singletons=40, seed=21
    ).select("doc_id", "text").persist()
    if split == "parity":
        in_batch_0 = F.col("doc_id") % 2 == 0
    else:
        in_batch_0 = F.col("doc_id") < 40
    half_a = pages.where(in_batch_0)
    half_b = pages.where(~in_batch_0)

    inc = IncrementalDedup(str(tmp_path / "state"), CFG)
    inc.process_batch(half_a, 0)
    inc.process_batch(half_b, 1)
    got = {
        (r.doc_a, r.doc_b)
        for r in inc.pairs(spark).select("doc_a", "doc_b").distinct().collect()
    }

    res = minhash_dedup(pages, CFG)
    want = {
        (r.doc_a, r.doc_b)
        for r in res.verified.select("doc_a", "doc_b").collect()
    }
    res.unpersist()
    # history-join recall: every batch-mode pair must be found, split across
    # arrivals (band collisions are deterministic, so equality holds)
    assert got == want
    assert want, "fixture produced no dup pairs"
    if split == "id_range":
        # with this seed every dup pair has ids of one parity, so only the
        # range split joins a batch-1 doc against batch-0 history
        crossing = [(a, b) for a, b in want if (a < 40) != (b < 40)]
        assert crossing, "id-range split produced no cross-batch pair"


def test_store_with_legacy_band_column_order(spark, tmp_path):
    """Band files were once written ``(doc_id, band_id, band_hash)``
    (``band_table``'s order); they are now written ``(band_id,
    band_hash, doc_id)``. Signature files once also held a ``simhash``;
    they now hold ``(doc_id, shingles)``. History reads resolve columns
    by name, so a store whose batch 0 holds the old layouts still finds
    every pair."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import (
        band_table,
        with_signatures,
    )

    pages = generate_pages(
        spark, n_clusters=12, cluster_size=3, n_singletons=40, seed=21
    ).select("doc_id", "text").persist()
    # split by id range: the exact-dup copies (ids 36..65) pair with
    # cluster bases and with each other across the split
    half_a = pages.where(F.col("doc_id") < 40)
    half_b = pages.where(F.col("doc_id") >= 40)

    inc = IncrementalDedup(str(tmp_path / "state"), CFG)
    inc.process_batch(half_a, 0)
    assert spark.read.parquet(inc.sigs_path + "/batch_id=0").columns == [
        "doc_id", "shingles",
    ]
    # rewrite batch 0's band and signature partitions the way the old
    # writers laid them out
    old_sigs = with_signatures(half_a, CFG)
    for table, path in (
        (band_table(old_sigs, CFG), inc.bands_path),
        (old_sigs.select("doc_id", "shingles", "simhash"), inc.sigs_path),
    ):
        (
            table.withColumn("batch_id", F.lit(0))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(path)
        )
    assert spark.read.parquet(inc.bands_path + "/batch_id=0").columns == [
        "doc_id", "band_id", "band_hash",
    ]
    assert spark.read.parquet(inc.sigs_path + "/batch_id=0").columns == [
        "doc_id", "shingles", "simhash",
    ]
    inc.process_batch(half_b, 1)
    assert spark.read.parquet(inc.bands_path + "/batch_id=1").columns == [
        "band_id", "band_hash", "doc_id",
    ]
    assert spark.read.parquet(inc.sigs_path + "/batch_id=1").columns == [
        "doc_id", "shingles",
    ]

    got = {
        (r.doc_a, r.doc_b)
        for r in inc.pairs(spark).select("doc_a", "doc_b").distinct().collect()
    }
    res = minhash_dedup(pages, CFG)
    want = {
        (r.doc_a, r.doc_b)
        for r in res.verified.select("doc_a", "doc_b").collect()
    }
    res.unpersist()
    pages.unpersist()
    assert got == want
    assert any(a < 40 <= b for a, b in want)  # history collisions exist


def test_reingested_batch_writes_each_pair_once(spark, tmp_path):
    """Docs ingested again under a new batch id meet their own stored
    copies: the identical signature rows count once per side, so batch 1
    writes each pair once, not once per combination of the two copies
    of each side (four times). Batch 0's copy remains."""
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "an unrelated page about something else entirely")],
        "doc_id long, text string",
    )
    inc = IncrementalDedup(str(tmp_path / "state"), CFG)
    inc.process_batch(docs, 0)
    inc.process_batch(docs, 1)
    rows = sorted(
        (r.batch_id, r.doc_a, r.doc_b)
        for r in spark.read.parquet(inc.pairs_path).collect()
    )
    assert rows == [(0, 1, 2), (1, 1, 2)]


def test_streaming_file_source(spark, tmp_path):
    pages = generate_pages(
        spark, n_clusters=6, cluster_size=2, n_singletons=20, seed=33
    ).select("doc_id", "text")
    inp = str(tmp_path / "in")
    pages.write.parquet(inp)
    inc = IncrementalDedup(str(tmp_path / "state2"), CFG)
    inc.run_available(spark, inp)
    got = inc.pairs(spark)
    res = minhash_dedup(pages, CFG)
    want = res.verified
    assert got.select("doc_a", "doc_b").exceptAll(want.select("doc_a", "doc_b")).count() == 0
    assert want.select("doc_a", "doc_b").exceptAll(got.select("doc_a", "doc_b")).count() == 0
    res.unpersist()


def test_history_join_broadcasts_microbatch_side(spark):
    """Round-4 VERDICT #5: the history side must be probed, never
    re-shuffled, per micro-batch — the plan is a BroadcastHashJoin with
    the (small) new-bands side broadcast and ZERO Exchange on history."""
    from lsh_forest_for_multi_vector_retrieval_spark.streaming.incremental import (
        history_collisions,
    )

    old = spark.range(100000).selectExpr(
        "cast(id % 16 as int) as band_id",
        "id * 7 as band_hash",
        "id as doc_id",
    )
    new = spark.range(50).selectExpr(
        "cast(id % 16 as int) as band_id",
        "id * 7 as band_hash",
        "id + 1000000 as doc_id",
    )
    out = history_collisions(new, old)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange" not in plan.replace("BroadcastExchange", "BX"), plan
    # semantics: canonical pairs, new ids on the b side by construction
    rows = out.collect()
    assert rows and all(r.doc_a < r.doc_b for r in rows)


def test_oversized_batch_falls_back_to_shuffle_join(spark, tmp_path):
    """Round-5 self-review: force-broadcasting the micro-batch is only
    safe while the batch is small — a restart over a backlog can deliver
    a batch whose band rows would blow the 8 GB broadcast-table limit.
    Past `broadcast_max_band_rows` process_batch must flip to the shuffle
    join (no forced broadcast of the new side) and still find the same
    pairs."""
    from lsh_forest_for_multi_vector_retrieval_spark.streaming.incremental import (
        history_collisions,
    )

    old = spark.range(1000).selectExpr(
        "cast(id % 16 as int) as band_id", "id * 7 as band_hash", "id as doc_id"
    )
    new = spark.range(200).selectExpr(
        "cast(id % 16 as int) as band_id",
        "id * 7 as band_hash",
        "id + 1000000 as doc_id",
    )
    a = {(r.doc_a, r.doc_b) for r in history_collisions(new, old, broadcast=True).collect()}
    b = {(r.doc_a, r.doc_b) for r in history_collisions(new, old, broadcast=False).collect()}
    assert a == b and a

    # end-to-end: a threshold of 0 band rows classes EVERY batch as
    # oversized — the incremental result must be unchanged
    pages = generate_pages(
        spark, n_clusters=6, cluster_size=3, n_singletons=20, seed=27
    ).select("doc_id", "text").persist()
    half_a = pages.where(F.col("doc_id") % 2 == 0)
    half_b = pages.where(F.col("doc_id") % 2 == 1)

    inc_bc = IncrementalDedup(str(tmp_path / "bc"), CFG)
    inc_sh = IncrementalDedup(str(tmp_path / "sh"), CFG, broadcast_max_band_rows=0)
    for inc in (inc_bc, inc_sh):
        inc.process_batch(half_a, 0)
        inc.process_batch(half_b, 1)
    got_bc = {
        (r.doc_a, r.doc_b)
        for r in inc_bc.pairs(spark).select("doc_a", "doc_b").distinct().collect()
    }
    got_sh = {
        (r.doc_a, r.doc_b)
        for r in inc_sh.pairs(spark).select("doc_a", "doc_b").distinct().collect()
    }
    pages.unpersist()
    assert got_bc == got_sh


def test_state_params_fingerprint_guard(spark, tmp_path):
    """Round-5 review: a persisted signature store extended under a
    different hash family would SILENTLY stop colliding with history
    (pure recall loss, no error from Spark). The _params.json
    fingerprint must refuse the mismatch at construction, and refuse a
    legacy store with no fingerprint."""
    import json
    from dataclasses import replace

    from lsh_forest_for_multi_vector_retrieval_spark.fsutil import (
        fs_delete,
        fs_read_text,
        fs_write_text,
    )

    pages = generate_pages(
        spark, n_clusters=3, cluster_size=2, n_singletons=5, seed=7
    ).select("doc_id", "text")
    state = str(tmp_path / "state_fp")
    inc = IncrementalDedup(state, CFG)
    inc.process_batch(pages, 0)

    IncrementalDedup(state, CFG)  # same config re-opens fine
    with pytest.raises(ValueError, match="hash family"):
        IncrementalDedup(state, replace(CFG, minhash_seed=43))
    with pytest.raises(ValueError, match="hash family"):
        IncrementalDedup(state, replace(CFG, shingle_size=7))

    # a store stamped when the fingerprint also carried "simhash_bits"
    # (a since-removed config field) still opens: only requested keys
    # are compared
    params = state + "/_params.json"
    stamped = json.loads(fs_read_text(spark, params))
    fs_write_text(spark, params, json.dumps({**stamped, "simhash_bits": 64}))
    IncrementalDedup(state, CFG)

    # legacy store: band history present, no fingerprint
    fs_delete(spark, params)
    with pytest.raises(ValueError, match="fingerprint"):
        IncrementalDedup(state, CFG)


def test_history_hot_bucket_cap_bounds_pairs(spark):
    """Round-5 review: a boilerplate bucket growing over stream lifetime
    must not emit |bucket| pairs per new doc per batch — the history
    side is pruned to colliding buckets and capped to the
    max_bucket_docs smallest doc_ids, deterministically."""
    from lsh_forest_for_multi_vector_retrieval_spark.streaming.incremental import (
        history_collisions,
    )

    # one hot bucket with 1000 history docs, one new doc colliding
    old = spark.range(1000).selectExpr(
        "cast(0 as int) as band_id", "cast(7 as long) as band_hash",
        "id as doc_id",
    )
    new = spark.createDataFrame(
        [(0, 7, 10_000)], "band_id int, band_hash long, doc_id long"
    )
    capped = history_collisions(new, old, max_bucket_docs=64).collect()
    assert len(capped) == 64
    # deterministic keep rule: the 64 SMALLEST history ids
    assert {r.doc_a for r in capped} == set(range(64))
    uncapped = history_collisions(new, old).count()
    assert uncapped == 1000

    # every id stored by two batches (a replayed feed): each id takes one
    # slot, as the batch path's collect_set counts it once — still the 64
    # smallest distinct ids, on both sides of the broadcast gate
    twice = old.unionByName(old)
    for broadcast in (True, False):
        capped = history_collisions(
            new, twice, broadcast=broadcast, max_bucket_docs=64
        ).collect()
        assert {r.doc_a for r in capped} == set(range(64)), broadcast


def test_hwm_guard_refuses_renumbered_batches(spark, tmp_path):
    """Round-5 review: deleting the streaming checkpoint while keeping
    the state dir restarts batch_ids at 0 — re-numbered batches would
    silently overwrite committed history partitions. The high-water
    mark must refuse (replaying the SAME id stays legal: at-least-once
    delivery)."""
    pages = generate_pages(
        spark, n_clusters=3, cluster_size=2, n_singletons=5, seed=11
    ).select("doc_id", "text")
    inc = IncrementalDedup(str(tmp_path / "hwm_state"), CFG)
    inc.process_batch(pages, 0)
    inc.process_batch(pages, 1)
    inc.process_batch(pages, 1)  # replay of the in-flight batch: legal
    with pytest.raises(ValueError, match="high-water"):
        inc.process_batch(pages, 0)  # checkpoint reset: refused


def test_empty_state_tables_read_back(spark, tmp_path):
    """Round-5 review: a stream that found zero duplicates (or whose
    batch produced zero band rows) writes data-file-less partitioned
    dirs; declared schemas must read them as empty frames instead of
    failing schema inference."""
    # all-blank docs: no shingles -> empty bands, no pairs
    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "  ")], "doc_id long, text string"
    )
    inc = IncrementalDedup(str(tmp_path / "empty_state"), CFG)
    inc.process_batch(docs, 0)
    assert inc.pairs(spark).count() == 0
    # the next batch must survive reading the empty history tables
    docs2 = spark.createDataFrame(
        [(4, "some real text with enough words to shingle properly here"),
         (5, "some real text with enough words to shingle properly here")],
        "doc_id long, text string",
    )
    inc.process_batch(docs2, 1)
    got = {(r.doc_a, r.doc_b) for r in inc.pairs(spark).collect()}
    assert got == {(4, 5)}


def test_adaptive_bands_rejected_by_streaming(tmp_path):
    """use_adaptive_bands derives depths from global bucket statistics an
    append-only stream cannot know; constructing with it must fail loudly
    instead of silently banding at fixed depth."""
    from dataclasses import replace

    with pytest.raises(ValueError, match="adaptive"):
        IncrementalDedup(
            str(tmp_path / "ad_state"), replace(CFG, use_adaptive_bands=True)
        )


def _small_pages(spark):
    """41 pages whose exact-dup copies pair across an id split at 20."""
    return generate_pages(
        spark, n_clusters=3, cluster_size=2, n_singletons=5, seed=11
    ).select("doc_id", "text").localCheckpoint(eager=True)


def test_process_batch_job_budget(spark, jobs, tmp_path):
    """Job counts of one ``process_batch``: without history, and with
    history on both sides of ``broadcast_max_band_rows``. The budgets are
    the measured counts (the same cold and warm); a change that cuts jobs
    lowers them. Each call leaves nothing behind: what it reads twice is
    an eager checkpoint, not a cache, so the cache manager stays empty,
    and it releases its checkpoints, so block storage stays flat from
    batch to batch (checkpoints are not in the cache manager; only the
    block manager's RDD list shows them)."""
    pages = _small_pages(spark)
    first = pages.where(F.col("doc_id") < 20)
    second = pages.where(F.col("doc_id") >= 20)
    spark.catalog.clearCache()  # earlier tests' caches are not this call's
    cache = spark._jsparkSession.sharedState().cacheManager()
    sc = spark.sparkContext._jsc.sc()

    def stored() -> set[int]:
        return {info.id() for info in sc.getRDDStorageInfo()}

    before = stored()
    inc = IncrementalDedup(str(tmp_path / "state"), CFG)
    assert jobs(lambda: inc.process_batch(first, 0)) <= 11
    assert cache.isEmpty() and stored() <= before
    assert jobs(lambda: inc.process_batch(second, 1)) <= 14
    assert cache.isEmpty() and stored() <= before
    # a replay of batch 1 past the gate: the shuffle join
    shuffled = IncrementalDedup(str(tmp_path / "state"), CFG, broadcast_max_band_rows=0)
    assert jobs(lambda: shuffled.process_batch(second, 1)) <= 14
    assert cache.isEmpty() and stored() <= before


def test_broadcast_gate_boundary(spark, tmp_path, monkeypatch):
    """The gate counts the batch's band rows exactly, without a job of its
    own: ``num_bands`` per doc with shingles, none for an empty or NULL
    text. At that count the batch broadcasts; one row less takes the
    shuffle join, and both find the same pairs."""
    from lsh_forest_for_multi_vector_retrieval_spark.streaming import incremental

    pages = _small_pages(spark)
    first = pages.where(F.col("doc_id") < 20)
    blanks = spark.createDataFrame(
        [(100, ""), (101, None), (102, "  ")], "doc_id long, text string"
    )
    second = pages.where(F.col("doc_id") >= 20).unionByName(blanks)
    band_rows = pages.where(F.col("doc_id") >= 20).count() * CFG.num_bands

    paths = []
    probe = incremental.history_collisions

    def recording(*args, broadcast=True, **kwargs):
        paths.append(broadcast)
        return probe(*args, broadcast=broadcast, **kwargs)

    monkeypatch.setattr(incremental, "history_collisions", recording)
    IncrementalDedup(str(tmp_path / "state"), CFG).process_batch(first, 0)
    got = []
    for limit in (band_rows, band_rows - 1):  # the second replays batch 1
        inc = IncrementalDedup(
            str(tmp_path / "state"), CFG, broadcast_max_band_rows=limit
        )
        inc.process_batch(second, 1)
        got.append({tuple(r) for r in inc.pairs(spark).select("doc_a", "doc_b").collect()})
    assert paths == [True, False]
    assert got[0] == got[1]
    assert any(a < 20 <= b for a, b in got[0])  # history collisions exist


def test_new_batch_id_compiles_no_class(spark, compiles, tmp_path):
    """A batch id stays out of generated code: once one call has compiled
    the plan, the same batch ingested under another id into a copy of the
    same store compiles no class (a literal ``batch_id`` column compiled
    two classes per table write, six per new id), and stores the same
    pairs."""
    import shutil

    pages = _small_pages(spark)
    first = pages.where(F.col("doc_id") < 20)
    second = pages.where(F.col("doc_id") >= 20)
    IncrementalDedup(str(tmp_path / "a"), CFG).process_batch(first, 0)
    shutil.copytree(tmp_path / "a", tmp_path / "b")
    a = IncrementalDedup(str(tmp_path / "a"), CFG)
    a.process_batch(second, 1)
    b = IncrementalDedup(str(tmp_path / "b"), CFG)
    assert compiles(lambda: b.process_batch(second, 2)) == 0

    def pairs(inc):
        return sorted(tuple(r) for r in inc.pairs(spark).collect())

    assert pairs(b) == pairs(a)
    assert spark.read.parquet(b.pairs_path + "/batch_id=2").count() > 0
