"""Checkpointed, resumable pipeline runner with per-stage lineage metrics.

north_rule requirements implemented here:
* each stage writes its output table (a parquet directory) before the
  next stage reads it;
* a re-run skips stages whose checkpoint already exists and is complete —
  the reference's rebuild-avoidance guard generalized
  (/root/reference/src/shared/test_query.py:191, :201-233 re-runs query-
  side params from cached build state);
* every stage appends a metrics row: stage name, run id, row count,
  partition count, wall seconds, per-partition row counts (lineage).

The stage graph is linear; each stage is a pure ``dict[str, DataFrame]
-> DataFrame`` over the outputs of prior stages, so the runner stays
generic. ``dedup_pipeline`` runs the flagship's one stage list,
``operators.dedup.flagship_stages`` (the dedup lifecycle, SURVEY §3.3),
which ``minhash_dedup`` also runs in memory.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.fsutil import (
    fs_append_text,
    fs_delete,
    fs_exists,
    fs_mkdirs,
    fs_read_text,
    fs_write_text,
)


@dataclass(frozen=True)
class Stage:
    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    # repartition hint before writing (e.g. cluster band tables by key)
    write_partition_cols: tuple[str, ...] = ()
    # optional extra metrics computed over the stage inputs after the
    # stage runs (e.g. the hot-bucket drop ledger) — merged into the
    # stage's metrics row (no silent caps, north_rule)
    extra_metrics_fn: Callable[[SparkSession, dict[str, DataFrame]], dict] | None = None


@dataclass
class PipelineRun:
    workdir: str
    run_id: str
    outputs: dict[str, DataFrame] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    executed: list[str] = field(default_factory=list)


def _stage_dir(workdir: str, stage: str) -> str:
    # plain string join: pathlib mangles URI schemes ("hdfs://ns/x" ->
    # "hdfs:/ns/x") and checks the driver's local disk, not the
    # session's filesystem
    return workdir.rstrip("/") + "/" + stage


class CheckpointIO:
    """Per-stage checkpoint reader/writer: one parquet directory per stage
    under ``workdir``, completeness = ``_SUCCESS`` marker."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir

    def exists(self, stage: str) -> bool:
        return fs_exists(
            self.spark, _stage_dir(self.workdir, stage) + "/_SUCCESS"
        )

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(_stage_dir(self.workdir, stage))

    def delete(self, stage: str) -> None:
        """Remove a stage checkpoint — invalidation must be DURABLE, not
        in-memory: a crash between an upstream rewrite and a downstream
        recompute would otherwise leave a stale-but-complete downstream
        checkpoint that a later resume silently mixes with the new
        upstream data (round-5 review)."""
        fs_delete(self.spark, _stage_dir(self.workdir, stage))

    def write(self, df: DataFrame, stage: str, partition_cols: tuple[str, ...]) -> None:
        if partition_cols:
            df = df.repartition(*[F.col(c) for c in partition_cols])
        df.write.mode("overwrite").parquet(_stage_dir(self.workdir, stage))


def partition_lineage(df: DataFrame) -> list[dict]:
    """Per-partition row counts — the lineage record (north_rule).
    Computed with ``spark_partition_id``, one narrow agg. EMPTY
    partitions are filled in as zero rows (the groupBy emits no group
    for them): a layout with 190 empty partitions out of 200 is exactly
    the skew this metric exists to surface, and dropping the zeros made
    it report a healthy-looking 10-partition table (round-5 review)."""
    n_parts = df.rdd.getNumPartitions()
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    counts = {r.partition_id: r.rows for r in rows}
    return [
        {"partition_id": p, "rows": counts.get(p, 0)} for p in range(n_parts)
    ]


class Pipeline:
    def __init__(
        self,
        stages: list[Stage],
        workdir: str,
        fingerprint: dict | None = None,
    ):
        names = [s.name for s in stages]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate stage names: {names}")
        self.stages = stages
        self.workdir = workdir
        #: result-determining identity of this pipeline (config + input);
        #: stamped into the workdir so a resume under DIFFERENT settings
        #: fails loudly instead of silently returning stale checkpoints
        self.fingerprint = fingerprint

    def _check_fingerprint(self, spark: SparkSession, resume: bool) -> None:
        if self.fingerprint is None:
            return
        marker = self.workdir.rstrip("/") + "/_config.json"
        want = json.dumps(self.fingerprint, sort_keys=True, default=repr)
        if fs_exists(spark, marker):
            have = fs_read_text(spark, marker)
            if have != want and resume:
                raise ValueError(
                    "workdir was stamped under a different pipeline "
                    "fingerprint (config and/or input changed) — a resume "
                    "would silently return checkpoints computed under the "
                    "old settings. Re-run with resume=False (full "
                    "recompute, re-stamps the workdir) or use a fresh "
                    f"workdir. stored={have} requested={want}"
                )
        fs_write_text(spark, marker, want)

    def run(
        self,
        spark: SparkSession,
        resume: bool = True,
        run_id: str | None = None,
        force_from: str | None = None,
    ) -> PipelineRun:
        """Execute all stages; with ``resume`` (default) stages whose
        checkpoint is complete are loaded, not recomputed. ``force_from``
        invalidates a stage and everything after it."""
        if force_from is not None and force_from not in {
            s.name for s in self.stages
        }:
            raise ValueError(
                f"force_from={force_from!r} matches no stage "
                f"(stages: {[s.name for s in self.stages]}) — a typo here "
                "would silently resume everything from checkpoints"
            )
        run = PipelineRun(self.workdir, run_id or uuid.uuid4().hex[:12])
        fs_mkdirs(spark, self.workdir)
        io = CheckpointIO(spark, self.workdir)
        self._check_fingerprint(spark, resume)
        invalid = False
        wiped = False
        for i, stage in enumerate(self.stages):
            if force_from == stage.name:
                invalid = True
            if resume and not invalid and io.exists(stage.name):
                run.outputs[stage.name] = io.read(stage.name)
                run.skipped.append(stage.name)
                continue
            if not wiped:
                # first recomputed stage: durably invalidate it AND
                # everything downstream BEFORE writing anything — a crash
                # mid-run must never leave a stale-but-complete checkpoint
                # (its own, if the recompute was forced; a later one, if
                # upstream was rewritten) that the next resume silently
                # returns
                for doomed in self.stages[i:]:
                    io.delete(doomed.name)
                wiped = True
            invalid = True  # downstream of a recomputed stage recomputes
            t0 = time.perf_counter()
            out = stage.fn(spark, run.outputs)
            io.write(out, stage.name, stage.write_partition_cols)
            persisted = io.read(stage.name)
            run.outputs[stage.name] = persisted
            wall = time.perf_counter() - t0
            extra = (
                stage.extra_metrics_fn(spark, run.outputs)
                if stage.extra_metrics_fn
                else None
            )
            self._append_metrics(stage.name, run.run_id, persisted, wall, extra)
            run.executed.append(stage.name)
        return run

    def _append_metrics(
        self,
        stage: str,
        run_id: str,
        df: DataFrame,
        wall_sec: float,
        extra: dict | None = None,
    ) -> None:
        lineage = partition_lineage(df)
        rec = {
            "stage": stage,
            "run_id": run_id,
            "rows": int(sum(p["rows"] for p in lineage)),
            "num_partitions": len(lineage),
            "wall_sec": round(wall_sec, 3),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "partitions": lineage,
        }
        if extra:
            rec.update(extra)
        fs_append_text(
            df.sparkSession,
            self.workdir.rstrip("/") + "/_metrics.jsonl",
            json.dumps(rec) + "\n",
        )

    def metrics(self, spark: SparkSession | None = None) -> list[dict]:
        spark = spark or SparkSession.getActiveSession()
        path = self.workdir.rstrip("/") + "/_metrics.jsonl"
        if spark is None or not fs_exists(spark, path):
            return []
        return [
            json.loads(line)
            for line in fs_read_text(spark, path).splitlines()
            if line.strip()
        ]


def dedup_pipeline(
    input_path: str,
    workdir: str,
    cfg=None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> Pipeline:
    """The flagship's ``operators.dedup.flagship_stages`` as checkpointed
    stages (SURVEY §3.3): signatures -> bands -> candidate pairs ->
    verified pairs -> clusters. Each stage output is an independent
    parquet checkpoint; a restart resumes after the last complete stage.
    """
    # lazy: operators.dedup imports Stage from this module
    from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
        flagship_stages,
    )

    cfg = cfg or DedupConfig()

    def read_input(spark):
        return spark.read.parquet(input_path).select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )

    return Pipeline(
        flagship_stages(read_input, cfg),
        workdir,
        # result-determining identity: every config knob + the input
        # location + column mapping. A resume over this workdir under any
        # other value fails loudly (round-5 review: changed
        # jaccard_threshold silently returned the old clusters).
        fingerprint={
            "cfg": asdict(cfg),
            "input_path": input_path,
            "text_col": text_col,
            "id_col": id_col,
        },
    )
