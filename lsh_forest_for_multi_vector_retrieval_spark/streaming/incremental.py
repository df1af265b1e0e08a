"""Incremental dedup over a document stream (Structured Streaming).

The reference is batch-only (SURVEY §2.0: no streaming), but its
*insert* operator (``LSHForest.insert`` threading new vectors into
existing tries, /root/reference/src/shared/lsh_forest.py:66-70) is
exactly the streaming-ingest semantics: new docs join the existing band
index, emit dup pairs against history, and extend the index.

Shape: ``readStream`` (file source) -> ``foreachBatch``: each
micro-batch runs the flagship's own stages (``dedup.flagship_stages``)
up to ``verified`` — the reference also inserts through its build
routine, lsh_forest.py:110-126 — and before verifying joins its band
rows against the persisted band table (the "trie so far"), then
appends verified pairs + its own band rows. State lives in parquet
tables, not executor memory, so restarts are trivial (checkpointLocation
+ the table itself) and the pattern scales to any history size — a
normal-sized micro-batch is BROADCAST against the history (no per-batch
history re-shuffle); an oversized batch (restart over a backlog) falls
back to the shuffle join automatically, and ``maxFilesPerTrigger``
bounds how much a backlog can deliver per batch in the first place.

Durability details (round-5 review hardening):

* All state-existence checks and JSON sidecars go through the HADOOP
  filesystem of the SparkSession, not the driver's local disk — a
  relative ``state_dir`` on a cluster whose default FS is HDFS/S3 would
  otherwise read "no history" on every batch (total silent recall loss)
  while the parquet I/O happily used the remote store.
* State reads declare their schemas, so an empty partitioned table (a
  batch that found no pairs, or whose docs all had empty shingle sets)
  is a readable empty DataFrame, not an un-inferable directory without
  data files that crashes the next batch.
* Writes run sigs -> bands -> pairs and history gates on BOTH sigs and
  bands: a crash between writes can only leave a state the replayed
  batch repairs, never a bands-without-sigs state that crashes every
  retry.
* A ``_hwm.json`` high-water mark refuses a batch_id BELOW one already
  committed — the signature of a deleted/relocated streaming checkpoint
  over a kept state dir, which would silently overwrite old partitions
  with re-numbered batches.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.fsutil import (
    fs_exists as _fs_exists,
    fs_read_text as _fs_read_text,
    fs_write_text as _fs_write_text,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
    flagship_stages,
)
from lsh_forest_for_multi_vector_retrieval_spark.session import checkpoint, release

#: declared state-table schemas (band_hash/simhash are xxhash64 →
#: bigint; band_id is a posexplode position → int). ``batch_id`` is the
#: partition column. Declared so empty tables read back as empty frames.
BANDS_SCHEMA = "band_id int, band_hash bigint, doc_id bigint, batch_id int"
SIGS_SCHEMA = (
    "doc_id bigint, shingles array<bigint>, simhash bigint, batch_id int"
)
PAIRS_SCHEMA = "doc_a bigint, doc_b bigint, jaccard double, batch_id int"


def history_collisions(
    new_bands: DataFrame,
    old_bands: DataFrame,
    broadcast: bool = True,
    max_bucket_docs: int | None = None,
) -> DataFrame:
    """Candidate pairs of new docs vs history: the micro-batch band rows
    (small, bounded by the trigger) are BROADCAST and the persisted band
    history is PROBED — a broadcast hash join with no Exchange on the
    history side. The previous shuffle join re-partitioned the ENTIRE
    history every micro-batch, a cost that grows without bound with
    stream lifetime (round-4 VERDICT #5). Plan-asserted in
    tests/test_streaming.py. ``broadcast=False`` keeps the shuffle join —
    the caller's escape hatch for an OVERSIZED batch (e.g. a restart over
    an accumulated backlog delivered as one batch), where force-broadcast
    would blow Spark's 8 GB broadcast-table limit; ``process_batch``
    flips it automatically past ``broadcast_max_band_rows``. Pairs are
    canonical (doc_a < doc_b, history ids sort below new ids by arrival);
    caller applies distinct() after unioning with intra-batch pairs.

    ``max_bucket_docs`` (round-5 review): the batch pipeline caps hot
    buckets (boilerplate templates) before pair generation; without the
    same cap here a 1M-doc history bucket emits 1M pairs per colliding
    new doc per batch, growing without bound over stream lifetime. When
    set, the history side is first pruned to the COLLIDING buckets (a
    semi-join against the same batch rows the probe joins — on the
    broadcast path still no full-history shuffle), then capped to the
    ``max_bucket_docs`` smallest DISTINCT doc_ids per bucket (the batch
    path's deterministic keep rule, whose ``collect_set`` also counts an
    id once; oldest docs win, matching batch-mode ordering when ids grow
    with arrival). The ranking window shuffles only the colliding-bucket
    subset, never the full history.

    Reference analog: incremental insert threading new vectors into an
    EXISTING trie (/root/reference/src/shared/lsh_forest.py:66-70) — the
    trie is probed, not rebuilt."""
    o = old_bands.select(
        "band_id", "band_hash", F.col("doc_id").alias("old_doc")
    )
    n = new_bands.select(
        "band_id", "band_hash", F.col("doc_id").alias("new_doc")
    )
    if broadcast:
        n = F.broadcast(n)
    if max_bucket_docs is not None:
        # ``doc_b >= doc_a`` holds for every pair with an id (it is NULL
        # only for a NULL-id pair, which the output drops anyway), so this
        # keeps exactly the colliding rows. It names new_doc, so column
        # pruning leaves the batch rows whole and the semi-join and the
        # probe below share one exchange of them: the broadcast, or on the
        # fallback the batch side's hash exchange
        pair = (o["old_doc"], n["new_doc"])
        hit = (
            (o["band_id"] == n["band_id"])
            & (o["band_hash"] == n["band_hash"])
            & (F.greatest(*pair) >= F.least(*pair))
        )
        o = o.join(n, hit, "left_semi")
        # dense_rank: a doc id stored by two batches takes one slot
        w = Window.partitionBy("band_id", "band_hash").orderBy("old_doc")
        o = (
            o.withColumn("_rank", F.dense_rank().over(w))
            .where(F.col("_rank") <= max_bucket_docs)
            .drop("_rank")
        )
    return (
        o.join(n, ["band_id", "band_hash"])
        .select(
            F.least("old_doc", "new_doc").alias("doc_a"),
            F.greatest("old_doc", "new_doc").alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
    )


class IncrementalDedup:
    """File-stream incremental near-dup detection.

    ``state_dir`` holds: ``bands/`` (band rows of all docs seen),
    ``sigs/`` (shingle sets + simhash for exact verification — the
    MinHash sig array itself is NOT persisted: no reader consumes it and
    at 10M docs it would be ~10 GB of dead state), ``pairs/`` (verified
    dup pairs, appended per batch), ``_chk/`` (streaming checkpoint).
    """

    #: band rows above which the micro-batch is too big to broadcast
    #: against history and the shuffle join is used instead. 2M rows of
    #: (int, long, long) is ~10s of MB serialized — comfortably inside
    #: the broadcast limit; a backlog-restart batch of 10M docs x 16
    #: bands = 160M rows is not.
    BROADCAST_MAX_BAND_ROWS = 2_000_000

    #: DedupConfig fields that determine the persisted hash families: a
    #: store signed under one value of any of these is UNREADABLE (not
    #: wrong — silently collision-free) under another, because new
    #: band_hash values would never equal history's. Checked against a
    #: ``_params.json`` fingerprint in the state dir.
    SIGNATURE_PARAMS = (
        "shingle_size",
        "lowercase",
        "hash_family",
        "num_perm",
        "minhash_seed",
        "num_bands",
        "rows_per_band",
        "use_adaptive_bands",
        "adaptive_reserved_rows",
    )

    def __init__(
        self,
        state_dir: str,
        cfg: DedupConfig = DedupConfig(),
        broadcast_max_band_rows: int | None = None,
        trust_legacy_state: bool = False,
        spark: SparkSession | None = None,
    ):
        if cfg.use_adaptive_bands:
            raise ValueError(
                "use_adaptive_bands is not supported by IncrementalDedup: "
                "adaptive band depths are derived from GLOBAL bucket "
                "statistics, which an append-only stream cannot know — "
                "history written at one depth would silently stop "
                "colliding with batches banded at another. Use the "
                "fixed-depth family (the hot-bucket cap still applies via "
                "max_bucket_docs)."
            )
        base = state_dir.rstrip("/")
        self.state_dir = base
        self.cfg = cfg
        self.broadcast_max_band_rows = (
            self.BROADCAST_MAX_BAND_ROWS
            if broadcast_max_band_rows is None
            else broadcast_max_band_rows
        )
        # plain string joins: pathlib would mangle URI schemes
        # ("hdfs://ns/x" -> "hdfs:/ns/x")
        self.bands_path = base + "/bands"
        self.sigs_path = base + "/sigs"
        self.pairs_path = base + "/pairs"
        self.chk_path = base + "/_chk"
        self._params_path = base + "/_params.json"
        self._hwm_path = base + "/_hwm.json"
        self._spark = spark or SparkSession.getActiveSession()
        if self._spark is None:
            raise ValueError(
                "IncrementalDedup needs a SparkSession to resolve "
                "state_dir on the session's filesystem — start one first "
                "or pass spark= explicitly"
            )
        self._check_state_params(trust_legacy_state)

    def _check_state_params(self, trust_legacy_state: bool) -> None:
        """Refuse to extend a signature store built under a different
        hash family. A mismatch is not an error Spark can see — new
        band hashes simply never collide with history, so duplicates
        against everything already ingested are SILENTLY missed (pure
        recall loss). Fail at construction instead."""
        spark = self._spark
        want = {k: getattr(self.cfg, k) for k in self.SIGNATURE_PARAMS}
        if _fs_exists(spark, self._params_path):
            have = json.loads(_fs_read_text(spark, self._params_path))
            diffs = {
                k: (have.get(k), v) for k, v in want.items() if have.get(k) != v
            }
            if diffs:
                raise ValueError(
                    "state_dir was signed under a different hash family: "
                    + ", ".join(
                        f"{k}: stored={s!r} requested={r!r}"
                        for k, (s, r) in sorted(diffs.items())
                    )
                    + ". New batches would never collide with history "
                    "(silent recall loss). Re-sign the store under the new "
                    "config, or use a fresh state_dir."
                )
            return
        if _fs_exists(spark, self.bands_path) and not trust_legacy_state:
            raise ValueError(
                f"state_dir {self.state_dir} holds band history but no "
                "_params.json fingerprint (written by an older version). "
                "If it was signed under THIS config, pass "
                "trust_legacy_state=True to stamp and continue; otherwise "
                "re-sign or use a fresh state_dir."
            )
        _fs_write_text(
            spark, self._params_path, json.dumps(want, indent=1, sort_keys=True)
        )

    def _high_water_mark(self, spark: SparkSession) -> int:
        if _fs_exists(spark, self._hwm_path):
            return int(json.loads(_fs_read_text(spark, self._hwm_path))["max_batch_id"])
        return -1

    # -- batch core (reused by foreachBatch) --------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Idempotent under foreachBatch's at-least-once delivery: every
        state table is partitioned by ``batch_id``, and a batch overwrites
        its own ``batch_id=<id>`` directory, so a replayed batch replaces
        its partition instead of appending duplicates; history reads exclude
        the current batch_id (a half-written retry partition is invisible).
        The checkpoints the batch makes are released when it returns, so
        executor storage stays flat over the stream's lifetime.

        A doc id ingested again under a new ``batch_id`` (the same page
        re-delivered) is verified against each identical stored copy once,
        so the new partition holds each of its pairs once. The pairs that
        the earlier batch wrote remain in its own partition, so ``pairs``
        can list a pair once per batch that found it.
        """
        held: list[DataFrame] = []
        try:
            self._insert(batch, batch_id, held)
        finally:
            release(held)

    def _insert(
        self, batch: DataFrame, batch_id: int, held: list[DataFrame]
    ) -> None:
        spark = batch.sparkSession
        cfg = self.cfg
        hwm = self._high_water_mark(spark)
        if batch_id < hwm:
            raise ValueError(
                f"batch_id {batch_id} is below this store's high-water "
                f"mark {hwm}: the streaming checkpoint was deleted or "
                "relocated while the state dir was kept. Re-numbered "
                "batches would silently overwrite committed history "
                "partitions. Use a fresh state_dir (or restore the "
                "original checkpoint)."
            )
        # the flagship's stages by name; the history probe joins between
        # candidates and verified, and a batch never clusters
        docs = batch.select("doc_id", "text")
        stage = {s.name: s.fn for s in flagship_stages(lambda _: docs, cfg)}

        # the batch is signed once, into an eager checkpoint that every
        # later read (bands, the store, verify) consumes. Its Observation
        # counts the non-empty docs, and ``band_table`` emits exactly
        # ``num_bands`` rows per non-empty doc (adaptive bands are
        # rejected in __init__), so the broadcast gate needs no job of
        # its own
        signed = Observation()
        n_signed = F.count_if(F.size("shingles") > 0).alias("n")
        sigs = checkpoint(stage["signatures"](spark, {}).observe(signed, n_signed), held)
        # the persisted store carries only what verification reads; the
        # sig array exists transiently for the bands stage
        store_sigs = sigs.select("doc_id", "shingles", "simhash")
        # a narrow projection of the checkpoint: every reader recomputes
        # the band hashes in the JVM rather than caching the rows
        new_bands = stage["bands"](spark, {"signatures": sigs})

        # gate on BOTH tables: a crash between the sigs and bands writes
        # must leave a state the replay repairs, not one that crashes
        # every retry on a missing sigs path
        have_history = _fs_exists(spark, self.bands_path) and _fs_exists(
            spark, self.sigs_path
        )
        if have_history:
            # by-name schema: older (doc_id, band_id, band_hash) files too
            old_bands = (
                spark.read.schema(BANDS_SCHEMA)
                .parquet(self.bands_path)
                .where(F.col("batch_id") != batch_id)
                .drop("batch_id")
            )
            old_sigs = (
                spark.read.schema(SIGS_SCHEMA)
                .parquet(self.sigs_path)
                .where(F.col("batch_id") != batch_id)
                .drop("batch_id")
            )
            # collisions of new docs vs history: micro-batch side broadcast,
            # history probed in place (no per-batch history re-shuffle) —
            # unless the batch itself is oversized (backlog restart), where
            # the shuffle join is the one that survives
            band_rows = signed.get["n"] * cfg.num_bands
            hist_hits = history_collisions(
                new_bands,
                old_bands,
                broadcast=band_rows <= self.broadcast_max_band_rows,
                max_bucket_docs=cfg.max_bucket_docs,
            )
            all_sigs = old_sigs.unionByName(store_sigs)
        else:
            hist_hits = None
            all_sigs = store_sigs

        # collisions inside the batch itself. Both distincts stay: the
        # intra one is the flagship's own ``candidates`` stage, and the
        # union's also folds a history pair found in several bands (and
        # a pair of a doc id stored by two batches)
        intra = stage["candidates"](spark, {"bands": new_bands})
        # an eager checkpoint: verify reads the pairs more than once above
        # its broadcast gate, and everything is materialized BEFORE the first
        # state write — the verified plan reads the history tables, and
        # executing it after this batch's own sigs/bands writes makes the
        # file source re-list a directory with in-flight files (observed:
        # a first-ever partition dir appearing under a previously
        # partition-less empty table trips the parquet reader's
        # partition-schema assertion). The checkpoints sever the lineage,
        # so the writes below consume only materialized data. Its
        # Observation counts the pairs for verify's broadcast gate.
        found = Observation()
        pairs = intra if hist_hits is None else intra.unionByName(hist_hits).distinct()
        cands = checkpoint(pairs.observe(found, F.count(F.lit(1)).alias("n")), held)
        n_found = found.get["n"]
        deps = {"candidates": cands, "signatures": all_sigs, "candidates_count": n_found}
        verified = checkpoint(stage["verified"](spark, deps), held)

        def _write(df: DataFrame, path: str) -> None:
            # straight into the batch's partition directory, replacing only
            # it: the id stays in the path, out of the plan, so a new batch
            # id compiles no new class (a literal ``batch_id`` column did).
            # No reader checks a ``_SUCCESS`` marker, and one per batch
            # directory would grow the files every listing opens
            (
                df.write.mode("overwrite")
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
                .parquet(f"{path}/batch_id={batch_id}")
            )

        _write(store_sigs, self.sigs_path)
        _write(new_bands, self.bands_path)
        _write(verified, self.pairs_path)
        _fs_write_text(
            spark,
            self._hwm_path,
            json.dumps({"max_batch_id": max(hwm, batch_id)}),
        )

    # -- streaming wiring ----------------------------------------------------
    def start(
        self,
        spark: SparkSession,
        input_dir: str,
        schema: str | None = None,
        max_files_per_trigger: int = 64,
    ):
        # maxFilesPerTrigger bounds what a backlog can deliver per batch:
        # availableNow honors it by draining the backlog as MULTIPLE
        # batches, so a restart over accumulated files never hands
        # process_batch one giant micro-batch (and each batch stays under
        # the broadcast threshold in the common case)
        stream = (
            spark.readStream.schema(schema or "doc_id long, text string")
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir)
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.chk_path)
            .trigger(availableNow=True)
            .start()
        )

    def run_available(self, spark: SparkSession, input_dir: str) -> None:
        q = self.start(spark, input_dir)
        q.awaitTermination()

    def pairs(self, spark: SparkSession) -> DataFrame:
        if not _fs_exists(spark, self.pairs_path):
            return spark.createDataFrame([], "doc_a long, doc_b long, jaccard double")
        # declared schema: a pairs table whose every batch found nothing
        # holds no data files and cannot be inferred
        return (
            spark.read.schema(PAIRS_SCHEMA)
            .parquet(self.pairs_path)
            .drop("batch_id")
        )
