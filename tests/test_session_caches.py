"""The bench cache-instrumentation registry: every pre-built session
cache must be buildable through the named registry, idempotent (second
build ~free — it is the SAME cache the queries consume, not a parallel
one), and built in the order ``BUILD_ORDER`` declares."""

from __future__ import annotations

import ast
import logging
import re
import time
from pathlib import Path

import kafka_flink_exactlyonce_example_spark as package

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


def _package_call_graph():
    """Parse the package with ``ast``: return (edges, queries, caches).

    ``edges`` maps each top-level function, as (module, name), to the
    package functions its body names (calls, thunks and lambdas alike),
    resolved through the module's own definitions and its imports
    (``from m import f``, ``from pkg import m`` then ``m.f``), including
    imports made inside functions. ``queries`` maps each ``@query``
    function to its key; ``caches`` maps each ``@session_cache`` name
    to its getter."""
    root = Path(package.__file__).resolve().parent
    trees = {
        ".".join((package.__name__, *p.relative_to(root).with_suffix("").parts))
        .removesuffix(".__init__"): ast.parse(p.read_text())
        for p in sorted(root.rglob("*.py"))
    }
    defs = {
        m: {n.name: n for n in t.body if isinstance(n, ast.FunctionDef)}
        for m, t in trees.items()
    }
    names, modules = {}, {}  # per module: alias -> (module, name) / module
    for m, t in trees.items():
        names[m], modules[m] = {}, {}
        for node in ast.walk(t):
            if isinstance(node, ast.ImportFrom) and node.module in trees:
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    if sub in trees:
                        modules[m][a.asname or a.name] = sub
                    else:
                        names[m][a.asname or a.name] = (node.module, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name in trees and a.asname:
                        modules[m][a.asname] = a.name

    def resolve(m, name, seen=()):
        if name in defs[m]:
            return (m, name)
        if name in names[m] and (m, name) not in seen:
            return resolve(*names[m][name], seen=(*seen, (m, name)))
        return None

    edges, queries, caches = {}, {}, {}
    for m, fns in defs.items():
        for name, fn in fns.items():
            out = set()
            for node in ast.walk(fn):
                if isinstance(node, ast.Name):
                    target = resolve(m, node.id)
                elif (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in modules[m]
                ):
                    target = resolve(modules[m][node.value.id], node.attr)
                else:
                    continue
                if target and target != (m, name):
                    out.add(target)
            edges[(m, name)] = out
            for d in fn.decorator_list:
                if (
                    isinstance(d, ast.Call)
                    and isinstance(d.func, ast.Name)
                    and d.func.id in ("query", "session_cache")
                ):
                    label = d.args[0].value
                    (queries if d.func.id == "query" else caches)[(m, name)] = label
    return edges, queries, {v: k for k, v in caches.items()}


def _reach(edges, start):
    seen, todo = {start}, [start]
    while todo:
        for nxt in edges[todo.pop()] - seen:
            seen.add(nxt)
            todo.append(nxt)
    return seen


def test_build_order_is_the_builders_order(registry_loaded):
    """``BUILD_ORDER`` names each pre-built cache once, and every
    session cache that two or more graded keys read is built by the
    pre-build: either it is in ``BUILD_ORDER`` or a ``BUILD_ORDER``
    builder's call graph reaches it. Otherwise its one build runs under
    whichever consumer comes first, and that key's row, plan entry and
    trace carry a cost that belongs to all of them.

    The call graph is read statically from the package source, so the
    check starts no Spark session and needs no fixture data."""
    from kafka_flink_exactlyonce_example_spark.operators import session_caches
    from kafka_flink_exactlyonce_example_spark.operators.overlap import SESSION_CACHES

    order = session_caches.BUILD_ORDER
    assert len(order) == len(set(order))
    assert list(session_caches.CACHE_BUILDERS) == list(order)

    edges, queries, caches = _package_call_graph()
    assert set(queries.values()) == set(registry_loaded.QUERIES)
    assert set(caches) == set(SESSION_CACHES)
    pre_built = set().union(*(_reach(edges, caches[n]) for n in order))
    reached_by = {fn: _reach(edges, fn) for fn in queries}
    unbuilt = {}
    for name, getter in caches.items():
        if name in order or getter in pre_built:
            continue
        keys = sorted(queries[q] for q, r in reached_by.items() if getter in r)
        if len(keys) > 1:
            unbuilt[name] = keys
    assert not unbuilt, (
        "session caches read by several keys but built by no BUILD_ORDER "
        f"builder (add them to BUILD_ORDER): {unbuilt}"
    )
