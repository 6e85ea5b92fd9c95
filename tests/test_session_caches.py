"""The bench cache-instrumentation registry (round 9, VERDICT r08
item 3): every shared session cache must be buildable through the
named registry, idempotent (second build ~free — it is the SAME cache
the queries consume, not a parallel one), and the registry's ordered
name tuple must name exactly the caches registered as shared."""

from __future__ import annotations

import logging
import time

from tests.conftest import SMOKE_SF


def test_cache_builders_build_and_are_idempotent(spark, registry_loaded):
    from kafka_flink_exactlyonce_example_spark.operators import session_caches

    t = session_caches.build_all(spark, SMOKE_SF)
    assert set(t) == set(session_caches.CACHE_BUILDERS)
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
    # every getter above was a hit on what build_all built
    assert not [r for r in caplog.records if r.name == overlap.__name__]
    # single-consumer caches are deliberately NOT pre-built (round-12
    # budget audit): their cost belongs to their one consumer's row
    assert simsearch.pca_model_for.__name__  # still exists, not listed
    assert "pca_model" not in named
    assert "jaccard_pairs" not in named
    assert "semdedup_scored" not in named


def test_build_order_names_every_shared_cache(registry_loaded):
    """A cache registered with ``shared=True`` and missing from the
    ordered tuple would silently drop out of the bench's line items; a
    single-consumer cache in the tuple would move its one consumer's
    cost into the bench's infrastructure section."""
    from kafka_flink_exactlyonce_example_spark.operators import session_caches
    from kafka_flink_exactlyonce_example_spark.operators.overlap import (
        SESSION_CACHES,
    )

    shared = {name for name, get in SESSION_CACHES.items() if get.shared}
    order = session_caches.BUILD_ORDER
    assert len(order) == len(set(order))
    assert set(order) == shared
    assert list(session_caches.CACHE_BUILDERS) == list(order)
