"""The bench cache-instrumentation registry: every pre-built session
cache must be buildable through the named registry, idempotent (second
build ~free — it is the SAME cache the queries consume, not a parallel
one), and built in the order ``BUILD_ORDER`` declares."""

from __future__ import annotations

import logging
import re
import time

from tests.conftest import SMOKE_SF


def test_cache_builders_build_and_are_idempotent(spark, registry_loaded):
    from kafka_flink_exactlyonce_example_spark.operators import session_caches

    t = session_caches.build_all(spark, SMOKE_SF)
    assert list(t) == list(session_caches.BUILD_ORDER)
    assert all(v >= 0 for v in t.values())

    # second pass hits the session caches: near-zero total
    t0 = time.perf_counter()
    t2 = session_caches.build_all(spark, SMOKE_SF)
    rebuild = time.perf_counter() - t0
    assert rebuild < 2.0, f"cache builders not idempotent: {t2}"


def test_cache_builders_front_the_real_caches(spark, registry_loaded, caplog):
    """Building through the registry must populate the SAME session
    caches the queries read — otherwise bench would time a parallel
    build and the query rows would still absorb the real one."""
    from kafka_flink_exactlyonce_example_spark.operators import (
        datamgmt,
        dedup,
        overlap,
        session_caches,
        simsearch,
    )

    named = session_caches.CACHE_BUILDERS
    session_caches.build_all(spark, SMOKE_SF)
    with caplog.at_level(logging.DEBUG, logger=overlap.__name__):
        assert named["char_grams"](spark, SMOKE_SF) is datamgmt._char_grams_for(
            spark, SMOKE_SF
        )
        assert named["ann_signs"](spark, SMOKE_SF) is simsearch._signs_for(
            spark, SMOKE_SF
        )
        assert named["ivf_cells"](spark, SMOKE_SF) is dedup._ivf_cells_for(
            spark, SMOKE_SF
        )
        assert named["shingles"](spark, SMOKE_SF) is dedup.shingles_for(
            spark, SMOKE_SF
        )
        assert named["ivf_seeds"](spark, SMOKE_SF) is dedup._ivf_seeds_for(
            spark, SMOKE_SF
        )
        sig = named["minhash_sigs"](spark, SMOKE_SF)
        assert sig is dedup._minhash_signatures(spark, SMOKE_SF)
    # every getter above was a hit on what build_all built
    assert not [r for r in caplog.records if r.name == overlap.__name__]
    # 16 fixed-width lowercase-hex string lanes per doc: the band concat
    # and the string min downstream rely on this shape
    assert sig.columns == ["doc_id"] + [f"mh{i}" for i in range(16)]
    row = sig.first()
    for i in range(16):
        assert re.fullmatch(r"[0-9a-f]{8}", row[f"mh{i}"]), (i, row[f"mh{i}"])
    # single-consumer caches are deliberately NOT pre-built: their
    # cost belongs to their one consumer's row
    assert simsearch.pca_model_for.__name__  # still exists, not listed
    assert "pca_model" not in named
    assert "jaccard_pairs" not in named
    assert "semdedup_scored" not in named


def test_build_order_is_the_builders_order(registry_loaded):
    """``BUILD_ORDER`` names each pre-built cache once, and
    ``CACHE_BUILDERS`` builds them in that order, so each line item
    reads its own marginal build cost."""
    from kafka_flink_exactlyonce_example_spark.operators import session_caches

    order = session_caches.BUILD_ORDER
    assert len(order) == len(set(order))
    assert list(session_caches.CACHE_BUILDERS) == list(order)
