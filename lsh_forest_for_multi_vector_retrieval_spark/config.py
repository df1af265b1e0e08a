"""Pipeline configuration.

The reference's forest hyper-parameters (``LSHForest.__init__``,
/root/reference/src/shared/lsh_forest.py:54-64: ``l`` trees, ``k`` pivots,
``km`` max depth) map onto band-LSH parameters here: ``num_bands`` = l
(number of trees), ``rows_per_band`` = per-tree prefix depth, and the
adaptive-depth knobs (`max_bucket_docs`) replace the reference's
balanced-split rejection sampling (recursive_lsh_forest.py:70-133).

Like the reference, the flagship hashes with one family (MinHash) and
verifies each candidate with one exact distance (Jaccard,
lsh_forest.py:106-108), so no field configures SimHash: the SimHash
near-dup operator is ``operators.dedup.simhash_dedup_pairs``, whose
Hamming bound is its own argument.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling (north_star config: 5-gram shingles) ---
    shingle_size: int = 5
    lowercase: bool = True
    # 64-bit shingle hash family: "xxhash64" (default, JVM-native, the
    # scale path) or "md5_60" (first 15 hex chars of md5 as a 60-bit int —
    # reproducible in any SQL engine, used by the cross-engine oracle
    # queries; same LSH math downstream, ~identical collision behavior)
    hash_family: str = "xxhash64"

    # --- MinHash (north_star config: 128 permutations) ---
    num_perm: int = 128
    minhash_seed: int = 42

    # --- banding: 128 perms -> 16 bands x 8 rows (s-curve threshold ~0.72) ---
    num_bands: int = 16
    rows_per_band: int = 8

    # --- verification ---
    jaccard_threshold: float = 0.8
    # verify probes the signature table in place with a BROADCAST of the
    # pairs' endpoint rows (doc_a, doc_b, endpoint id): the inner join is
    # the prune to candidate docs, so the shingle arrays of the rest of
    # the corpus never move (unpruned, the verify stage was 60.8 s of a
    # 133 s flagship pass at 320k docs on 4 cores; pruned ~4 s). This
    # knob is the broadcast ceiling in LONGS: a one-long row of a
    # broadcast hash relation costs ~30-50 B on the executor heap, so 10M
    # is ~0.3-0.5 GB, a safe ceiling for 8 GB executors. The endpoint table
    # is at most 2*|pairs| rows of three longs, broadcast while
    # 6*|pairs| fits. Above it (duplicate-dense corpora: boilerplate-heavy
    # crawls where millions of pairs span few docs) the exact distinct
    # endpoint ids are materialized and counted, one id per long; they
    # are broadcast for a semi-join prune when they fit and shuffled
    # when not, and the endpoint rows then join the pruned docs
    # (verify.py::_join_shingles).
    verify_prune_max_ids: int = 10_000_000

    # --- skew / scale controls (north_rule: explicit skew handling) ---
    # Buckets larger than this are boilerplate-heavy hot keys; we cap the
    # docs entering pair generation (deterministic slice + drop ledger).
    max_bucket_docs: int = 4096
    # Buckets with more than this many (kept) docs emit STAR pairs — the
    # first `bucket_pivots` sorted ids become pivots, every other doc
    # pairs with each pivot — instead of the full clique: O(k*n) pairs
    # per bucket instead of O(n^2), and the verified star keeps the whole
    # bucket CONNECTED so connected components still produces one cluster
    # for a mega-cluster of near-identical docs (a clique truncation
    # would orphan every doc past the cap). Reference analog: a node
    # caches <=k pivots and every query compares against the pivots
    # (lsh_forest.py:117-119) — pivot x member, not member x member.
    bucket_pivots: int = 64
    # Adaptive prefix deepening (LSH-forest variable depth, F1): buckets
    # above this size get a longer prefix before pair generation.
    adaptive_max_bucket: int = 1024
    adaptive_max_extra_rows: int = 4
    # Flagship band strategy: False = fixed-depth bands + max_bucket_docs
    # cap (default; the cap ledger records drops), True = variable-depth
    # adaptive_band_table (deepen hot buckets instead of capping them).
    # ADAPTIVE_AB.json records an A/B of the two on a boilerplate-heavy
    # corpus. Deepened keys draw their extra rows from fresh MinHash
    # permutations past the base bands (the reference's fresh hash per
    # split, recursive_lsh_forest.py:97-122), num_bands *
    # adaptive_max_extra_rows of them, so every band deepens with its own
    # rows (see ``signature_len``).
    use_adaptive_bands: bool = False

    # --- connected components ---
    cc_max_iterations: int = 50

    # --- hot-band skew salting (operators/pairs.py::bucket_ids_capped) ---
    # buckets are capped in two salted stages (groupBy (bucket,
    # xxhash64(doc_id) % salt_partitions) then a tiny pre-capped merge) so
    # collect_set memory is bounded by bucket/salt instead of the whole
    # bucket; <=1 disables salting (single-shuffle plan)
    salt_partitions: int = 8

    def __post_init__(self) -> None:
        if self.num_bands * self.rows_per_band > self.num_perm:
            raise ValueError(
                f"num_bands*rows_per_band={self.num_bands * self.rows_per_band} "
                f"exceeds num_perm={self.num_perm}"
            )
        if self.max_bucket_docs < 2:
            # a 1-doc cap silently disables pair generation (and a capped
            # 1-id array would feed the star generator a degenerate
            # sequence) — round-5 review
            raise ValueError(f"max_bucket_docs must be >= 2, got {self.max_bucket_docs}")
        if self.bucket_pivots < 1:
            # Spark sequence(1, 0) is the DESCENDING [1, 0]; a 0-pivot
            # star would emit (NULL, doc) pairs — round-5 review
            raise ValueError(f"bucket_pivots must be >= 1, got {self.bucket_pivots}")

    @property
    def signature_len(self) -> int:
        """MinHash rows actually computed per doc. Equals ``num_perm``
        on the fixed-depth path. The adaptive path extends it so that
        ``num_bands * adaptive_max_extra_rows`` fresh permutations exist
        past the base bands, one disjoint run of ``adaptive_max_extra_rows``
        per band: a deepened key never reuses a neighbor band's rows or
        another band's extras."""
        base_end = self.num_bands * self.rows_per_band
        if self.use_adaptive_bands:
            reserved = self.num_bands * self.adaptive_max_extra_rows
            return max(self.num_perm, base_end + reserved)
        return self.num_perm


DEFAULT_CONFIG = DedupConfig()
