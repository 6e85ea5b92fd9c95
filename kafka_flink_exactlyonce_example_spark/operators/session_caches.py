"""The session caches the bench pre-builds, in build order, so each
build is timed as its own line item.

Several expensive relations (shingles, MinHash signatures, band
buckets, verified edges and their connected-component labels, IVF
cells, hyperplane signs, char-grams, the PQ codebook, the LM model
tables) are built ONCE per session by a ``@session_cache(name)``
function and read by several queries. In a bench loop, whichever
consumer the iteration order hits first would absorb the whole build
cost; pre-building each such cache as a named, timed step separates
amortized infrastructure cost from each query's marginal cost.

:data:`BUILD_ORDER` is the one declaration of which caches are
pre-built: ``bench.py``, ``tools/plan_fingerprints.py`` and perfbench
read it (through :data:`CACHE_BUILDERS`). A cache with one consumer
(e.g. ``jaccard_pairs`` for q_lsh_recall, ``pca_model`` for
q_pca_power) stays out of it: its build cost belongs on that
consumer's row.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

# the modules whose imports register the pre-built caches
from kafka_flink_exactlyonce_example_spark.operators import (  # noqa: F401
    datamgmt,
    dedup,
    ingest,
    simsearch,
    textstats,
)
from kafka_flink_exactlyonce_example_spark.operators.overlap import SESSION_CACHES

#: DEPENDENCY order: a parent cache before its consumers, so each line
#: item reads its own marginal build cost (bands build on sigs build on
#: shingles, ...).
BUILD_ORDER = (
    # text shingle / MinHash chain
    "shingles",
    "minhash_sigs",
    "capped_bands",
    "lsh_edges",
    "dup_labels",
    # embedding-side caches
    "ivf_seeds",
    "ivf_cells",
    "ann_signs",
    "lsh_buckets",
    "mp_buckets",
    "unit_norms",
    "recall_brute",
    "inc_ann_index",
    "rebuild_churn",
    "inc_indexed1",
    "embed_pairs",
    "gate_flags",
    # coarse k-means quantizer family (the IVF/IVFADC rows of the index
    # matrix) and the PQ codebook
    "cq_centroids",
    "cq_cells",
    "cq_subseeds",
    "cq_subcells",
    "pq_codebook",
    # corpus model tables
    "char_grams",
    "bigram_ce",
)

#: name -> getter(spark, sf_dir). Calling one MATERIALIZES the cache and
#: is idempotent — a second call returns the session-cached object.
CACHE_BUILDERS = {name: SESSION_CACHES[name] for name in BUILD_ORDER}


def build_all(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build every :data:`BUILD_ORDER` cache, returning per-cache wall
    seconds."""
    out: dict[str, float] = {}
    for name, fn in CACHE_BUILDERS.items():
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        out[name] = round(time.perf_counter() - t0, 3)
    return out
