"""PySpark-native near-duplicate detection + clustering engine.

A from-scratch re-expression of the query semantics of
`YuvalShemla/lsh-forest-for-multi-vector-retrieval` (reference read-only at
/root/reference) as a web-scale dedup engine:

* shingling + MinHash-128 + SimHash-64 signatures (reference hashing layer,
  ``src/shared/lsh_family.py:19-42``, ``src/shared/lsh_forest.py:15-32``)
* LSH band tables = the reference's forest of tries materialized as sorted
  ``(band_id, band_hash, doc_id)`` DataFrames (``src/shared/lsh_forest.py:36-64``)
* candidate generation = bucket self-grouping (the reference's
  DESCEND/SYNCHASCEND query, ``src/shared/lsh_forest.py:76-139``)
* exact-Jaccard verification (the reference's exact re-rank,
  ``src/shared/lsh_forest.py:106-108``)
* connected-components clustering over verified pairs
* depth-weighted scoring / chamfer / ranking analogs of
  ``src/shared/forest_vote.py`` and ``src/shared/retrieval.py``

Everything is DataFrame/Catalyst-first; Python runs only in Arrow-batched
kernels, never one UDF call per row:

* signatures: the MinHash and SimHash pandas UDFs (``functions.minhash``,
  ``functions.simhash``) behind ``with_signatures``, hence behind dedup,
  incremental dedup and forest vote
* the vector kernels, ``arrow_udf``s over the one Arrow list decoder of
  ``functions.vectors``: the hyperplane SimHash of ``lsh_topk``, and with
  ``scoring="pandas"`` / ``assignment="pandas"`` the ANN family's cosine
  re-rank, nearest-centroid assignment and centroid score vectors for
  ``ivf_topk`` / ``plaid_topk``, and PLAID's chamfer max-sum re-rank
  (their ``"fold"`` twins are pure Catalyst)
* the ``mapInArrow`` corpus passes of ``operators.topk`` (behind
  ``lsh_topk``, ``ivf_topk``, ``plaid_topk`` and forest vote), over the
  same decoder
* the rolling hashes of ``operators.substring``, the ``mapInPandas``
  image extractors of ``operators.media``, and the seeded ``mapInPandas``
  generators under ``sources``

Spark forks those Python workers from :mod:`.worker_daemon` where the
workers can import the engine (see :func:`.session.get_spark`).
"""

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.session import get_spark


def minhash_dedup(*args, **kwargs):
    """Convenience re-export of the flagship pipeline (lazy import keeps
    ``import lsh_forest_for_multi_vector_retrieval_spark`` light)."""
    from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import (
        minhash_dedup as _impl,
    )

    return _impl(*args, **kwargs)


__all__ = ["DedupConfig", "get_spark", "minhash_dedup"]
__version__ = "0.1.0"
