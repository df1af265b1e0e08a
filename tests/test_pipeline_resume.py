"""Checkpoint/resume correctness: identical results after restart from any
stage; metrics/lineage rows recorded (north_rule resumability gate)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.plans.pipeline import dedup_pipeline
from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import generate_pages

CFG = DedupConfig()


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("corpus") / "pages.parquet")
    generate_pages(
        spark, n_clusters=10, cluster_size=3, n_singletons=50, seed=7
    ).write.parquet(p)
    return p


def _cluster_map(run):
    return {r.doc_id: r.cluster_id for r in run.outputs["clusters"].collect()}


def test_full_run_then_resume_skips_everything(spark, corpus_path, tmp_path):
    wd = str(tmp_path / "wd1")
    pipe = dedup_pipeline(corpus_path, wd, CFG)
    r1 = pipe.run(spark)
    assert r1.executed == ["signatures", "bands", "candidates", "verified", "clusters"]
    m1 = _cluster_map(r1)

    r2 = pipe.run(spark)
    assert r2.executed == []
    assert r2.skipped == ["signatures", "bands", "candidates", "verified", "clusters"]
    assert _cluster_map(r2) == m1


@pytest.mark.parametrize(
    "cfg",
    [DedupConfig(), DedupConfig(use_adaptive_bands=True, adaptive_max_bucket=2)],
    ids=["fixed", "adaptive"],
)
def test_pipeline_bands_match_minhash_dedup(spark, tmp_path, cfg):
    """The checkpointed pipeline and ``minhash_dedup`` run the same
    ``flagship_stages``: every stage output is row-identical under the
    same config — the band strategy (``use_adaptive_bands``) included."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
        minhash_dedup,
    )

    p = str(tmp_path / "pages.parquet")
    generate_pages(
        spark, n_clusters=8, cluster_size=3, n_singletons=20, seed=11
    ).write.parquet(p)
    run = dedup_pipeline(p, str(tmp_path / "wd"), cfg).run(spark)
    res = minhash_dedup(spark.read.parquet(p), cfg)
    cols = {
        "signatures": ["doc_id", "shingles", "sig", "simhash"],
        "bands": ["band_id", "band_hash", "doc_id"],
        "candidates": ["doc_a", "doc_b"],
        "verified": ["doc_a", "doc_b", "jaccard"],
        "clusters": ["doc_id", "cluster_id"],
    }
    try:
        assert list(run.outputs) == list(cols)
        for name, c in cols.items():
            got = run.outputs[name].select(*c)
            want = getattr(res, name).select(*c)
            assert got.count() == want.count() > 0, name
            assert got.exceptAll(want).isEmpty(), name
            assert want.exceptAll(got).isEmpty(), name
    finally:
        res.unpersist()


def test_resume_from_partial_checkpoint(spark, corpus_path, tmp_path):
    wd = str(tmp_path / "wd2")
    pipe = dedup_pipeline(corpus_path, wd, CFG)
    r1 = pipe.run(spark)
    m1 = _cluster_map(r1)

    # simulate a crash after 'candidates': delete later checkpoints
    shutil.rmtree(f"{wd}/verified")
    shutil.rmtree(f"{wd}/clusters")
    r2 = pipe.run(spark)
    assert r2.skipped == ["signatures", "bands", "candidates"]
    assert r2.executed == ["verified", "clusters"]
    assert _cluster_map(r2) == m1  # identical results after resume


def test_force_from_invalidates_downstream(spark, corpus_path, tmp_path):
    wd = str(tmp_path / "wd3")
    pipe = dedup_pipeline(corpus_path, wd, CFG)
    r1 = pipe.run(spark)
    m1 = _cluster_map(r1)
    r2 = pipe.run(spark, force_from="candidates")
    assert r2.skipped == ["signatures", "bands"]
    assert r2.executed == ["candidates", "verified", "clusters"]
    assert _cluster_map(r2) == m1


def test_metrics_lineage_recorded(spark, corpus_path, tmp_path):
    wd = str(tmp_path / "wd4")
    pipe = dedup_pipeline(corpus_path, wd, CFG)
    pipe.run(spark)
    metrics = pipe.metrics()
    stages = [m["stage"] for m in metrics]
    assert stages == ["signatures", "bands", "candidates", "verified", "clusters"]
    for m in metrics:
        assert m["rows"] == sum(p["rows"] for p in m["partitions"])  # lineage sums
        assert m["wall_sec"] > 0
        assert m["num_partitions"] >= 1
    # row-count invariants across stages (M8 analog)
    by = {m["stage"]: m for m in metrics}
    assert by["bands"]["rows"] == by["signatures"]["rows"] * CFG.num_bands
    n_docs = by["signatures"]["rows"]
    assert by["clusters"]["rows"] == n_docs


def test_force_from_typo_raises(spark, corpus_path, tmp_path):
    """Round-5 review: a force_from typo used to match nothing and
    silently resume everything from checkpoints."""
    pipe = dedup_pipeline(corpus_path, str(tmp_path / "wd_typo"), CFG)
    with pytest.raises(ValueError, match="matches no stage"):
        pipe.run(spark, force_from="verify")  # real name is 'verified'


def test_invalidation_is_durable_across_crash(spark, corpus_path, tmp_path):
    """Round-5 review: recomputing a stage must DELETE downstream
    checkpoints before writing — a crash after the upstream rewrite
    previously left stale-but-complete downstream checkpoints that the
    next resume silently mixed with new upstream data."""
    wd = str(tmp_path / "wd_crash")
    pipe = dedup_pipeline(corpus_path, wd, CFG)
    pipe.run(spark)  # complete run: all 5 checkpoints on disk

    # force a recompute from 'bands' that crashes DURING bands (before
    # any downstream stage runs): the stale candidates/verified/clusters
    # checkpoints must already be gone
    boom = RuntimeError("simulated crash")
    real_fn = pipe.stages[1].fn

    def crashing(spark_, deps):
        raise boom

    object.__setattr__(pipe.stages[1], "fn", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(spark, force_from="bands")
    object.__setattr__(pipe.stages[1], "fn", real_fn)

    # resume after the crash: nothing stale may be skipped — bands and
    # everything after it recompute
    run = pipe.run(spark)
    assert run.skipped == ["signatures"]
    assert run.executed == ["bands", "candidates", "verified", "clusters"]


def test_fingerprint_guard_refuses_changed_config(spark, corpus_path, tmp_path):
    """Round-5 review: resuming a workdir under a different config used
    to silently return the old checkpoints."""
    from dataclasses import replace

    wd = str(tmp_path / "wd_fp")
    dedup_pipeline(corpus_path, wd, CFG).run(spark)
    changed = dedup_pipeline(corpus_path, wd, replace(CFG, jaccard_threshold=0.5))
    with pytest.raises(ValueError, match="fingerprint"):
        changed.run(spark)
    # full recompute re-stamps and succeeds
    run = changed.run(spark, resume=False)
    assert run.skipped == []
    # and the new stamp now resumes cleanly under the new config
    run2 = changed.run(spark)
    assert run2.executed == []


def test_partition_lineage_counts_empty_partitions(spark):
    """Round-5 review: zero-row partitions are the skew signal — they
    must appear in the lineage as zeros, not vanish."""
    from lsh_forest_for_multi_vector_retrieval_spark.plans.pipeline import (
        partition_lineage,
    )

    df = spark.range(10).repartition(8, "id")
    lin = partition_lineage(df)
    assert len(lin) == 8
    assert sum(p["rows"] for p in lin) == 10
    empty = spark.range(0).repartition(4)
    lin0 = partition_lineage(empty)
    assert len(lin0) == 4 and all(p["rows"] == 0 for p in lin0)
