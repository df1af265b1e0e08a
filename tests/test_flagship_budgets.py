"""Warm job budgets of the dedup flagship, layer by layer and as a whole,
on the 41-page micro-batch fixture. Each budget is the measured count (a
warm call: the same action has run once before); a change that cuts jobs
lowers it. Each layer is materialised the way ``minhash_dedup`` and
perfbench's traced composition materialise it: an eager checkpoint, or
the collect of the result."""

from __future__ import annotations

import pytest
from test_streaming import _small_pages

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import (
    band_table,
    with_signatures,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.components import (
    connected_components,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import minhash_dedup
from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import candidate_pairs
from lsh_forest_for_multi_vector_retrieval_spark.operators.verify import verify_pairs

CFG = DedupConfig()


def _warm(jobs, action) -> int:
    action()
    return jobs(action)


@pytest.fixture(scope="module")
def pages(spark):
    return _small_pages(spark)


def test_minhash_dedup_job_budget(pages, jobs):
    """The whole flagship as its callers run it: build, read both
    outputs, release. The candidate checkpoint's ``Observation`` gives
    verify its pair count, so the gate runs no count job of its own."""

    def run():
        res = minhash_dedup(pages, CFG)
        res.clusters.collect()
        res.verified.collect()
        res.unpersist()

    assert _warm(jobs, run) == 13


def test_layer_job_budgets(pages, jobs):
    """Signatures, bands and candidate pairs, each an eager checkpoint of
    the layer over the previous one's checkpoint."""

    def sign():
        return with_signatures(pages, CFG).select(
            "doc_id", "shingles", "sig", "simhash"
        ).localCheckpoint(eager=True)

    assert _warm(jobs, sign) == 1
    sigs = sign()
    assert _warm(jobs, lambda: band_table(sigs, CFG).localCheckpoint(eager=True)) == 1
    bands = band_table(sigs, CFG).localCheckpoint(eager=True)
    assert _warm(jobs, lambda: candidate_pairs(bands, CFG).localCheckpoint(eager=True)) == 4


def test_connected_components_job_budgets(pages, jobs):
    """Both strategies over the fixture's verified pairs, with every doc
    as a vertex: the driver union-find, and the star contraction forced
    by ``driver_max_edges=0`` (two rounds here)."""
    sigs = with_signatures(pages, CFG).select(
        "doc_id", "shingles", "sig", "simhash"
    ).localCheckpoint(eager=True)
    cands = candidate_pairs(band_table(sigs, CFG), CFG).localCheckpoint(eager=True)
    verified = verify_pairs(cands, sigs, CFG, materialize_pairs=False).localCheckpoint(
        eager=True
    )
    vertices = sigs.select("doc_id")

    def cc(**kw):
        return lambda: connected_components(verified, all_vertices=vertices, **kw).collect()

    assert _warm(jobs, cc()) == 4
    stats: dict = {}
    assert _warm(jobs, cc(driver_max_edges=0, stats=stats)) == 28
    assert stats == {"strategy": "star", "rounds": 2}
