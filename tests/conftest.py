from __future__ import annotations

import uuid

import pytest

from lsh_forest_for_multi_vector_retrieval_spark.operators import topk
from lsh_forest_for_multi_vector_retrieval_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="lshforest-tests",
        master="local[4]",
        shuffle_partitions=4,
        driver_memory="8g",
    )
    yield s
    s.stop()


@pytest.fixture
def jobs(spark):
    """``jobs(action)``: the Spark jobs one call of ``action`` launches,
    AQE stage jobs and checkpoints included."""
    sc = spark.sparkContext

    def count(action) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def compiles(spark):
    """``compiles(action)``: the classes Spark's code generator compiles
    while ``action`` runs (``CodegenMetrics``' compilation count). A plan
    whose classes are still in the session's codegen cache compiles
    none."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def count(action) -> int:
        before = metric.getCount()
        action()
        return metric.getCount() - before

    return count


#: The physical operators that run Python: scalar Arrow and pickled UDFs
#: and ``mapInArrow`` passes.
PY_OPS = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow")


@pytest.fixture
def py_ops(spark):
    """``py_ops(action)``: the Python operators (``PY_OPS``) in the final
    plans of every SQL execution that one call of ``action`` runs, its
    internal collects and checkpoints included. The plans come from the
    SQL status store, which Spark fills with the UI off."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions() -> list:
        bus.waitUntilEmpty()
        runs = store.executionsList()
        return [runs.apply(i).executionId() for i in range(runs.size())]

    def count(action) -> int:
        seen = set(executions())
        action()
        total = 0
        for run in set(executions()) - seen:
            nodes = store.planGraph(run).allNodes()
            total += sum(nodes.apply(i).name() in PY_OPS for i in range(nodes.size()))
        return total

    return count


@pytest.fixture
def slices(monkeypatch):
    """The list of ``topk.query_slices``' results, one per call made
    while the test runs: each call's query slices."""
    calls = []
    real = topk.query_slices
    monkeypatch.setattr(
        topk, "query_slices", lambda spark, rows: calls.append(real(spark, rows)) or calls[-1]
    )
    return calls
