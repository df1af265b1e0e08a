"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


# -- median / percentile reporting --------------------------------------------------


def test_median_and_nearest_rank_percentile():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert harness.median(xs) == 3.0
    assert harness.median([1.0, 2.0]) == 1.5
    assert harness.percentile(xs, 50) == 3.0
    assert harness.percentile(xs, 90) == 5.0
    assert harness.percentile(list(range(1, 101)), 90) == 90


@pytest.mark.parametrize(
    "n, q",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_needs_ten_samples_beyond(n, q):
    tail = harness.tail_percentile([float(i) for i in range(n)])
    if q is None:
        assert tail is None
    else:
        assert tail[0] == q
        assert harness.samples_beyond(n, q) >= 10


def test_timing_summary_states_sample_count_and_only_qualified_tails():
    assert harness.timing_summary([1.0, 2.0, 3.0]) == "median 2.0000 s (n=3)"
    s = harness.timing_summary([float(i) for i in range(100)])
    assert "(n=100)" in s and "p90" in s


# -- spans ---------------------------------------------------------------------------


def _span(i, name, parent, start, end, **kw):
    return Span(id=str(i), name=name, parent=parent, run_id="r", start=start, end=end, **kw)


def test_self_time_subtracts_union_of_children():
    root = _span(0, "op", None, 0.0, 10.0)
    kids = [
        _span(1, "a", "0", 1.0, 3.0),
        _span(2, "b", "0", 2.0, 5.0),  # overlaps a: counted once
        _span(3, "c", "0", 7.0, 8.0),
        _span(4, "d", "0", 9.5, 12.0),  # clipped at the parent's end
    ]
    assert tracing.self_time(root, kids) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert tracing.self_time(root, []) == 10.0


def test_layer_rollup_sums_subtrees_and_zero_fills_unreached_layers():
    spans = [
        _span(0, "session", None, 0.0, 2.0, cpu0=0.0, cpu1=1.0),
        _span(1, "op", None, 10.0, 20.0),
        _span(2, "plaid", "1", 10.0, 14.0, cpu0=5.0, cpu1=9.0, py0=1.0, py1=2.0),
        _span(3, "ann", "1", 14.0, 19.0),
        _span(4, "ann/ivf_topk", "3", 14.0, 16.0),
        _span(5, "ann/lsh_topk", "3", 16.0, 18.0),
    ]
    groups = {
        "2": {"jobs": 3, "stages": 4, "tasks": 8, "shuffle_write_bytes": 100},
        "4": {"jobs": 2, "tasks": 4},
        "5": {"jobs": 5, "spill_bytes": 7},
    }
    m = tracing.layer_rollup(spans, groups, "op")
    assert m["plaid.wall_s"] == 4.0 and m["plaid.self_s"] == 4.0
    assert m["plaid.cpu_s"] == 4.0 and m["plaid.py_cpu_s"] == 1.0
    assert m["plaid.jobs"] == 3 and m["plaid.shuffle_write_bytes"] == 100
    assert m["ann.wall_s"] == 5.0 and m["ann.self_s"] == pytest.approx(1.0)
    assert m["ann.jobs"] == 7 and m["ann.tasks"] == 4 and m["ann.spill_bytes"] == 7
    assert m["signatures.wall_s"] == 0.0 and m["signatures.jobs"] == 0
    assert m["session.wall_s"] == 2.0 and m["session.cpu_s"] == 1.0
    assert len(m) == len(tracing.LAYERS) * len(tracing.LAYER_FIELDS)


def test_tracer_disabled_records_nothing():
    tr = tracing.Tracer("r", enabled=False, clock=lambda: 0.0)
    with tr.span("op") as sp:
        assert sp is None
    assert tr.spans == []


def test_tracer_nests_spans_with_parents():
    t = iter(range(100))
    tr = tracing.Tracer("r", enabled=True, clock=lambda: float(next(t)))
    with tr.span("op"):
        with tr.span("verify") as sp:
            sp.counts = {"verified": 3}
    op, verify = tr.spans
    assert verify.parent == op.id and op.parent is None
    assert op.start < verify.start < verify.end < op.end
    assert tracing.counts_median(tr.spans, "op") == {"verify.verified": 3.0}


def test_event_log_attribution(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "r:2"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
            "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events[:2]) + "\n")
    (app / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in events[2:]) + "\n")
    (app / "appstatus_local-1").write_text("")
    got = tracing.read_event_logs(tmp_path)
    assert got == {"r:2": {"jobs": 1, "stages": 1, "tasks": 1,
                           "shuffle_write_bytes": 40, "spill_bytes": 5}}


# -- arithmetic ----------------------------------------------------------------------


def test_pair_recall_by_cluster_labels():
    a, b = [1, 1, 4, 7], [2, 3, 5, 8]
    labels = {1: 1, 2: 1, 3: 9, 4: 4, 5: 4}  # 7 and 8 absent: singletons
    assert harness.pair_recall(a, b, label_of=labels) == 0.5
    assert harness.pair_recall(a, b, label_of={**labels, 3: 1, 7: 7, 8: 7}) == 1.0
    assert harness.pair_recall([], [], label_of={}) == 1.0


def test_write_amp():
    assert harness.write_amp(300, 200) == 1.5
    with pytest.raises(ValueError):
        harness.write_amp(1, 0)


def test_driver_memory_is_a_bounded_quarter_of_the_box():
    gib = 1024**3
    assert harness.driver_memory_for(16 * gib) == "4g"
    assert harness.driver_memory_for(15 * gib + gib // 2) == "3g"
    assert harness.driver_memory_for(2 * gib) == "1g"
    assert harness.driver_memory_for(256 * gib) == "8g"


# -- generator determinism -----------------------------------------------------------


def test_batch_split_is_seeded_and_balanced():
    a = inputs.batch_split(1000, 6, seed=3)
    assert np.array_equal(a, inputs.batch_split(1000, 6, seed=3))
    assert not np.array_equal(a, inputs.batch_split(1000, 6, seed=4))
    counts = np.bincount(a)
    assert len(counts) == 6 and counts.max() - counts.min() <= 1
    # planted clusters are contiguous ids: they must not land in one batch
    assert len(set(a[:4])) > 1 or len(set(a[4:8])) > 1


def test_query_picks_are_seeded():
    assert np.array_equal(inputs.query_refs(400, 20, 4, 7), inputs.query_refs(400, 20, 4, 7))
    assert not np.array_equal(inputs.query_refs(400, 20, 4, 7), inputs.query_refs(400, 20, 4, 8))
    q = inputs.ann_query_ids(400, 30, 7)
    assert np.array_equal(q, inputs.ann_query_ids(400, 30, 7))
    assert len(set(q.tolist())) == 30 and q.max() < 400


def test_internal_seed_keeps_generator_seeds_in_range():
    for s in (0, 1, 310, 311, 10**9):
        v = inputs.internal_seed(s)
        assert 1 <= v <= 311
        assert v * 13_000_003 + 10**6 < 2**32


def test_recipe_fingerprint_tracks_the_recipe(monkeypatch):
    fp = inputs.fingerprint("dedup_web")
    assert fp == inputs.fingerprint("dedup_web")
    monkeypatch.setitem(inputs.RECIPES, "dedup_web", dict(inputs.RECIPES["dedup_web"], n_docs=1))
    assert inputs.fingerprint("dedup_web") != fp


def test_engine_fingerprint_tracks_the_sources(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    (pkg / "sub" / "b.py").write_text("y = 2\n")
    fp = inputs.engine_fingerprint.__wrapped__(pkg)
    assert fp == inputs.engine_fingerprint.__wrapped__(pkg)
    (pkg / "sub" / "b.py").write_text("y = 3\n")
    assert inputs.engine_fingerprint.__wrapped__(pkg) != fp


def test_exact_top1_is_max_sum_with_low_id_ties():
    d = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.0, 1.0]])
    doc_ids = [0, 0, 1, 1]  # both docs hold both directions: a tie
    q = np.array([[1.0, 0.0], [0.0, 1.0]])
    assert inputs.exact_top1([5, 5], q, doc_ids, d) == {5: 0}
    d2 = np.array([[1.0, 0.0], [0.5, 0.0], [0.0, 1.0], [0.9, 0.0]])
    assert inputs.exact_top1([5, 5], q, doc_ids, d2) == {5: 1}


# -- BENCHMARK.json matches what a run prints -------------------------------------------


def test_benchmark_json_lists_exactly_the_reported_metrics():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == run.per_layer_names()
    assert {w["name"] for w in spec["workloads"]} <= set(
        __import__("workloads").WORKLOADS
    )
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
