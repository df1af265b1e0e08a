"""spark-submit --py-files smoke test (north_rule: the pipeline "runs via
spark-submit --py-files on a multi-executor cluster").

Builds the dist zip with tools/make_pyfiles.py, then launches a REAL
``spark-submit --py-files dist/<pkg>.zip job.py`` subprocess whose driver
script imports the engine ONLY from the zip (cwd=/tmp, no repo on
sys.path) and runs the flagship ``minhash_dedup`` on the sf0.001
documents table.  This is exactly what a cluster submission does — the
zip rides to every executor's sys.path — so a pass here means the
packaging, the package's zip-importability (no data files read via
__file__), and the driver-script entry path all work.

Reference analog: the reference is a pip-installed library driven by
pytest (``/root/reference/tests/test_query.py``); the Spark-native
equivalent of "installable and runnable" is py-files submission.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SF_DIR = Path(os.environ.get("SPARK_GRAFT_SUBMIT_SF", "/root/testdata/sf0.001"))

JOB = """
import sys
from lsh_forest_for_multi_vector_retrieval_spark import DedupConfig, get_spark
from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import minhash_dedup

spark = get_spark(app_name="pyfiles-smoke", master="local[2]",
                  shuffle_partitions=4, driver_memory="4g",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
docs = spark.read.parquet(sys.argv[1])
res = minhash_dedup(docs, DedupConfig())
n_pairs = res.verified.count()
n_clusters = res.clusters.select("cluster_id").distinct().count()
daemon = spark.sparkContext.getConf().get("spark.python.daemon.module", "unset")
print(f"PYFILES_SMOKE pairs={n_pairs} clusters={n_clusters} daemon={daemon}",
      flush=True)
spark.stop()
"""


@pytest.mark.skipif(not SF_DIR.exists(), reason="driver testdata not present")
def test_spark_submit_py_files_runs_flagship(tmp_path):
    sys.path.insert(0, str(ROOT / "tools"))
    try:
        import make_pyfiles
    finally:
        sys.path.pop(0)
    zip_path = make_pyfiles.build(tmp_path / "dist")
    make_pyfiles.verify(zip_path)

    job = tmp_path / "job.py"
    job.write_text(JOB)
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    submit = Path(spark_home) / "bin" / "spark-submit"
    if not submit.exists():
        pytest.skip(f"spark-submit not found at {submit}")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # cwd=/tmp so the repo checkout can't shadow the zip: the job imports
    # the engine from --py-files alone, as cluster executors would.
    res = subprocess.run(
        [str(submit), "--master", "local[2]",
         "--py-files", str(zip_path), str(job), str(SF_DIR / "documents.parquet")],
        capture_output=True, text=True, cwd="/tmp", env=env, timeout=600,
    )
    assert res.returncode == 0, f"spark-submit failed:\n{res.stderr[-3000:]}"
    marker = [l for l in res.stdout.splitlines() if l.startswith("PYFILES_SMOKE")]
    assert marker, f"no smoke marker in stdout:\n{res.stdout[-2000:]}"
    # sf0.001 flagship expectations (same corpus as the /verify recipe:
    # ~20+ verified near-dup pairs, 476 distinct clusters over 500 docs)
    fields = dict(kv.split("=") for kv in marker[0].split()[1:])
    assert int(fields["pairs"]) >= 15
    assert int(fields["clusters"]) == 476
    # the engine came from the archive, which Spark's daemon cannot import
    # before a task ships it: get_spark must keep the default daemon
    assert fields["daemon"] == "unset"
