"""Round-5 review regressions: session master parsing, pages oracle
degenerate inputs, bench harness helpers."""

from __future__ import annotations

import pandas as pd
import pytest


def test_shuffle_partition_inference_master_forms(monkeypatch):
    """local[N,maxFailures] is a legal Spark master; the parse must not
    crash on it (and must fall back, not crash, on cluster URLs)."""
    import re

    # mirror session.py's parse without building a session per form
    def infer(master: str, cpus: int = 32) -> int:
        m = re.fullmatch(r"local\[(\d+|\*)(?:,\d+)?\]", master.strip())
        inner = m.group(1) if m else "*"
        return cpus if inner == "*" else int(inner)

    assert infer("local[4]") == 4
    assert infer("local[4,2]") == 4
    assert infer("local[*]") == 32
    assert infer("local[*,3]") == 32
    assert infer("spark://host[0]:7077") == 32  # fallback, no crash


def test_true_dup_oracle_degenerate_text():
    """NULL / empty / whitespace-only text must yield no oracle pairs —
    the engine never candidates empty docs, so a {''} shingle set would
    fabricate phantom Jaccard-1.0 pairs."""
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import (
        true_dup_pairs_oracle,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [None, "", "   ", "the quick brown fox jumps over it",
                     "the quick brown fox jumps over it"],
        }
    )
    got = true_dup_pairs_oracle(pdf, threshold=0.8, k=5)
    assert got == {(4, 5)}
    # lowercase knob: case-sensitive oracle must NOT pair case-variant docs
    pdf2 = pd.DataFrame(
        {"doc_id": [1, 2], "text": ["Alpha Beta Gamma Delta Epsilon Zeta",
                                    "alpha beta gamma delta epsilon zeta"]}
    )
    assert true_dup_pairs_oracle(pdf2, threshold=0.8, k=5) == {(1, 2)}
    assert true_dup_pairs_oracle(pdf2, threshold=0.8, k=5, lowercase=False) == set()


def test_generate_pages_validates_exact_dups_without_clusters(spark):
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import (
        generate_pages,
    )

    with pytest.raises(ValueError, match="n_clusters"):
        generate_pages(spark, n_clusters=0, n_exact_dups=5, n_singletons=10)


def test_bench_corpus_path_fingerprints_recipe(monkeypatch):
    """The default corpus cache path must change when the generation
    recipe or the doc count changes (stale-cache hazard)."""
    import importlib
    import bench

    p_default = bench.BENCH_CORPUS
    assert str(bench.BENCH_DOCS) in p_default and bench._RECIPE_FP in p_default
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DOCS", "40500")
    importlib.reload(bench)
    assert bench.BENCH_CORPUS != p_default
    assert "40500" in bench.BENCH_CORPUS
    monkeypatch.delenv("SPARK_GRAFT_BENCH_DOCS")
    importlib.reload(bench)
    assert bench.BENCH_CORPUS == p_default


def test_bench_child_pythonpath_prepends(monkeypatch):
    from pathlib import Path

    import bench

    root = str(Path(bench.__file__).parent)
    monkeypatch.setenv("PYTHONPATH", "/some/spark/python")
    got = bench._child_pythonpath()
    assert got.startswith(root)
    assert "/some/spark/python" in got
    monkeypatch.delenv("PYTHONPATH")
    assert bench._child_pythonpath() == root


def test_entry_best_jaccard_covers_doc_b_side(spark):
    """Round-5 review: verified pairs are canonicalized doc_a < doc_b, so
    the flagship's best_jaccard must symmetrize — every member of a
    multi-doc cluster reports a non-NULL best jaccard (the max-id member
    of each cluster used to report NULL)."""
    from pyspark.sql import functions as F
    import __spark_entry__ as e

    out = e.entry(spark).persist()
    multi = (
        out.groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .select("cluster_id")
    )
    members = out.join(multi, "cluster_id", "left_semi")
    assert members.count() > 0
    assert members.where(F.col("best_jaccard").isNull()).count() == 0
    out.unpersist()
