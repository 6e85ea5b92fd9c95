"""Build-cost guard: the py4j round trips a DataFrame build makes.

Building a query is Python talking to the JVM: every ``Column``
operator, alias, lambda and ``lit`` is one or more py4j calls, about
0.3 ms each. A formula written as a per-lane Python loop costs hundreds
of calls where its SQL text costs three (``F.expr`` parses it on the
JVM side in one call). These tests count the calls by wrapping
``py4j.clientserver.ClientServerConnection.send_command`` and hold the
similarity and hashing helpers and the ``llm_pipeline`` keys to a
budget, so a lane loop cannot creep back unnoticed.

The key test only builds: it calls ``QUERIES[key](spark, sf)``, which
runs whatever side executions the key's build makes, but never
executes the returned frame. The budgets are 1.25x each key's count
with the workload's five caches pre-built; a session that has built
more caches before only counts fewer.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest
from py4j import protocol
from py4j.clientserver import ClientServerConnection

from tests.conftest import SMOKE_SF

#: py4j's ``garbage_collect_object`` releases a dead JavaObject by
#: sending this command from the finalizer thread, whenever Python's
#: GC happens to run; it is not part of any build.
_GC_COMMAND = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

#: per-key round trips at sf0.001 with ``perfbench.metrics.CACHE_NAMES``
#: pre-built (the count when these budgets were set)
_KEY_COUNTS = {
    "q_exact_dedup": 107, "q_near_dup": 164,
    "q_minhash_est": 205, "q_dup_stats": 981,
    "q_jaccard_pairs": 612, "q_lsh_dup_groups": 189,
    "q_dup_threshold_sweep": 529, "q_dedup_tombstone": 417,
    "q_cross_lang_dup": 341, "q_bag_dup": 393,
    "q_shard_dup_locality": 614, "q_incremental_dedup": 638,
    "q_leakage_split": 759, "q_index_compact": 733,
    "q_manifest_repoint": 666, "q_pipeline_curate": 439,
    "q_curate_post_takedown": 494, "q_minhash_containment": 736,
    "q_minhash_calibration": 1409, "q_roll_delete_only": 4418,
}
_KEY_BUDGET = {k: math.ceil(1.25 * n) for k, n in _KEY_COUNTS.items()}


@contextmanager
def round_trips():
    """Yield a one-element list that counts py4j commands sent, from any
    thread, while the block runs."""
    count = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(_GC_COMMAND):
            count[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


@pytest.mark.parametrize("helper", ["dot", "l2_norm", "cosine", "dist2", "md5_u32"])
def test_similarity_helpers_build_in_one_call(spark, helper):
    from kafka_flink_exactlyonce_example_spark.functions import hashing, similarity

    module = hashing if helper == "md5_u32" else similarity
    args = {"l2_norm": ("embedding",), "md5_u32": ("text",)}.get(
        helper, ("embedding", "a")
    )
    getattr(module, helper)(*args)  # first-use JVM view lookups
    with round_trips() as n:
        getattr(module, helper)(*args)
    assert n[0] <= 5, f"{helper} took {n[0]} round trips"


def test_llm_keys_build_within_budget(spark, registry_loaded):
    from kafka_flink_exactlyonce_example_spark.operators import scale, session_caches
    from perfbench.batch import LLM_KEYS
    from perfbench.metrics import CACHE_NAMES

    assert set(_KEY_BUDGET) == set(LLM_KEYS)
    for name in CACHE_NAMES:
        session_caches.CACHE_BUILDERS[name](spark, SMOKE_SF)
    counts = {}
    for key in LLM_KEYS:
        with round_trips() as n:
            registry_loaded.QUERIES[key](spark, SMOKE_SF)
        counts[key] = n[0]
        scale.unpersist_all()
    print("round trips per key:", counts, "total:", sum(counts.values()))
    over = {k: (n, _KEY_BUDGET[k]) for k, n in counts.items() if n > _KEY_BUDGET[k]}
    assert not over, f"builds over budget (count, budget): {over}"
