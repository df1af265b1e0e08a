"""SparkSession factory tuned for the dedup workload.

Local-mode testing config; the same settings (AQE, skew-join handling,
Arrow) are what we would ship to a 1000-executor cluster — only
``master`` / memory sizing / shuffle partitions change there.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

WORKER_DAEMON_MODULE = "lsh_forest_for_multi_vector_retrieval_spark.worker_daemon"


def _workers_import_engine(master: str) -> bool:
    """Whether Python workers can import the engine the way this process
    did: the package came from a plain directory whose ``sys.path`` root is
    site-packages or, for a local master (workers inherit this process's
    environment and working directory), on ``PYTHONPATH`` or the working
    directory. A package loaded from an archive (``--py-files``) is not:
    the daemon starts before any task ships that archive."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        return False
    roots = list(site.getsitepackages()) + [site.getusersitepackages()]
    if master.strip().startswith("local"):
        roots.append(os.getcwd())
        roots.extend(os.environ.get("PYTHONPATH", "").split(os.pathsep))
    root = os.path.realpath(os.path.dirname(pkg_dir))
    return any(p and os.path.realpath(p) == root for p in roots)


def get_spark(
    app_name: str = "lshforest-dedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    * AQE on: runtime coalescing of the candidate-pair shuffle and skew-join
      splitting for hot LSH buckets (boilerplate-heavy bands).
    * Arrow on: every Python crossing is an Arrow batch (pandas UDFs).
    * shuffle partitions default to the parallelism level so local runs
      don't fragment into 200 tiny tasks; on a real cluster this would be
      ~2-3x total cores (or left to AQE's coalescing).
    * Python workers fork from the engine's daemon
      (``spark.python.daemon.module`` = :mod:`.worker_daemon`), which stops
      each task from re-parsing ``pyspark.zip``'s directory (about 150 ms
      of worker CPU per task on CPython < 3.13). Spark starts the daemon
      with ``python -m`` before any task ships ``--py-files``, so the
      workers must import the engine from where this driver did: a plain
      directory whose ``sys.path`` root is site-packages or, for a local
      master, on ``PYTHONPATH`` or the working directory. Otherwise (e.g.
      the engine submitted as a ``--py-files`` archive) Spark's default
      ``pyspark.daemon`` is kept, because a daemon module the daemon cannot
      import fails every Python task. ``extra_conf`` can override it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] / local[N,maxFailures] → N; local[*] or anything
        # unparseable (cluster URLs can legally contain '[') → the CPUS
        # env default. The old exact-match parse crashed on the legal
        # local[4,2] retry form (round-5 review).
        import re

        m = re.fullmatch(r"local\[(\d+|\*)(?:,\d+)?\]", master.strip())
        inner = m.group(1) if m else "*"
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-partition plans that feed a .persist(): without this a
        # cached table freezes its pre-AQE partitioning, so the tiny
        # candidate-pair / verified tables cache in shuffle_partitions
        # slivers and every downstream action (CC gate count, cluster
        # count) launches one near-empty task per sliver — measured ~12 s
        # of latency-bound stages per flagship pass at local[4] (per-stage
        # task metrics; `perfbench/run.py --trace 1` reports them per
        # layer), pure Amdahl floor at any scale
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize the IPC syscall cost; per-row UDF
        # kernels keep memory bounded regardless of batch size
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.python.worker.faulthandler.enabled", "true")
        # tmpfs shuffle/spill dirs when available: the sandbox VM has very
        # expensive block-device syscalls (vmstat showed 40-90% system time
        # during shuffle-heavy stages); on a real cluster leave this to the
        # cluster manager's local SSD config
        .config(
            "spark.local.dir",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if _workers_import_engine(master):
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_min_partitions(df, min_partitions: int | None = None):
    """Repartition coarse inputs up to the session's parallelism.

    A small parquet file arrives as one split, which would serialize the
    (CPU-heavy) signature stage onto a single task — measured 48s vs ~1s
    at sf0.1. At real scale the source is already well-partitioned and
    this is a no-op; the guard only ever *increases* parallelism.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
