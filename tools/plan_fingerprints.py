"""Plan-regression baseline: the scale-relevant node counts of the plans
each graded query makes Spark run.

A query's result is its returned DataFrame, but many queries also run
side executions while they are built: a ``localCheckpoint`` that stops
a relation being recomputed by each consumer, a driver-side ``collect``
of a bounded model, an overlapped wave of both. The returned plan then
shows only a ``Scan ExistingRDD`` or a ``LocalTableScan`` where the
chain was. So the gate fingerprints what Spark executes, taken from its
own event log: every ``SparkListenerSQLExecutionStart`` event carries
the execution's job group and its initial physical plan
(``sparkPlanInfo``; under AQE the ``isFinalPlan=false`` tree, so the
counts do not depend on runtime sizes).

One run of the tool:

1. starts a session that writes Spark's uncompressed event log to a
   temporary directory;
2. builds the shared session caches (``session_caches.BUILD_ORDER``),
   each under job group ``cache:<name>``, so a key's entry does not
   depend on which key happened to build a cache first;
3. for each registered query in sorted order, sets the job group to the
   key, builds the query, and fingerprints its returned frame's
   simple-mode physical plan, without executing it;
4. stops the session, which flushes the log, and adds each SQL
   execution's fingerprint to its job group's entry.

The baseline, tests/plan_baseline.json, holds one entry per key (the
returned plan plus that key's side executions) and one ``cache:<name>``
entry per pre-built cache. An execution whose job group is neither a key
nor a cache (for example, a thread that did not inherit its caller's
group) fails the run, naming its execution id.

A fingerprint counts NODE KINDS (shuffles by partitioning, join
strategies and join types, aggregate kinds, windows, Python-eval nodes,
scans), never expression ids, paths or partition counts, so it is
stable across sessions and machines for a fixed query tree. A lost
broadcast, an extra Exchange, or a Python UDF on a JVM-only path moves
a count, and the diff names the query and the feature.

Usage:
    python tools/plan_fingerprints.py            # verify vs baseline
    python tools/plan_fingerprints.py --update   # regenerate baseline
Exit 1 on drift in verify mode, printing a per-entry feature diff.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
from collections.abc import Iterable, Iterator
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench.harness import configure_env  # noqa: E402
from perfbench.tracing import _SQL_START, _log_files  # noqa: E402

BASELINE = REPO / "tests" / "plan_baseline.json"
SF_DIR = "/root/testdata/sf0.001"

#: feature name -> regex counted over a plan's text: a simple-mode
#: physical plan, or an execution's node strings (:func:`plan_nodes`).
#: Only node KINDS that change the 100 TB story; nothing that encodes
#: expression ids, partition counts, or paths.
FEATURES: dict[str, re.Pattern[str]] = {
    "exchange_hash": re.compile(r"Exchange hashpartitioning"),
    "exchange_rr": re.compile(r"Exchange RoundRobinPartitioning"),
    "exchange_range": re.compile(r"Exchange rangepartitioning"),
    "exchange_single": re.compile(r"Exchange SinglePartition"),
    "broadcast_exchange": re.compile(r"BroadcastExchange"),
    "sort_merge_join": re.compile(r"SortMergeJoin"),
    "broadcast_hash_join": re.compile(r"BroadcastHashJoin"),
    "shuffled_hash_join": re.compile(r"ShuffledHashJoin"),
    "broadcast_nl_join": re.compile(r"BroadcastNestedLoopJoin"),
    "cartesian": re.compile(r"CartesianProduct"),
    "hash_agg": re.compile(r"HashAggregate"),
    "object_hash_agg": re.compile(r"ObjectHashAggregate"),
    "sort_agg": re.compile(r"SortAggregate"),
    "window": re.compile(r"\bWindow\b(?! ?GroupLimit)"),
    "window_group_limit": re.compile(r"WindowGroupLimit"),
    "take_ordered": re.compile(r"TakeOrderedAndProject"),
    "global_limit": re.compile(r"GlobalLimit"),
    "generate": re.compile(r"\bGenerate\b"),
    "expand": re.compile(r"\bExpand\b"),
    "python_row_udf": re.compile(r"BatchEvalPython"),
    "python_arrow_udf": re.compile(r"ArrowEvalPython"),
    "pandas_group_map": re.compile(r"FlatMapGroupsInPandas"),
    "pandas_map": re.compile(r"\bMapInPandas"),
    "python_udtf": re.compile(r"BatchEvalPythonUDTF"),
    "parquet_scan": re.compile(r"Scan parquet"),
    "cache_scan": re.compile(r"InMemoryTableScan|Scan ExistingRDD"),
}

#: ``<strategy>:<JoinType>`` counts: each typed-join node prints its join
#: type on its own line (``SortMergeJoin [k], [k], LeftOuter``;
#: ExistenceJoin prints as ``ExistenceJoin(exists#N)``), so an inner→left
#: flip moves the fingerprint even when the per-strategy totals do not.
_JOIN_STRATEGY_SNAKE = {
    "SortMergeJoin": "sort_merge_join",
    "BroadcastHashJoin": "broadcast_hash_join",
    "ShuffledHashJoin": "shuffled_hash_join",
    "BroadcastNestedLoopJoin": "broadcast_nl_join",
}
_JOIN_TYPED_RX = re.compile(
    r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin)[^\n]*?"
    r"\b(Inner|FullOuter|LeftOuter|RightOuter|LeftSemi|LeftAnti|Cross|"
    r"ExistenceJoin)\b"
)


def fingerprint(plan: str) -> dict[str, int]:
    counts = {name: len(rx.findall(plan)) for name, rx in FEATURES.items()}
    for strategy, jtype in _JOIN_TYPED_RX.findall(plan):
        key = f"{_JOIN_STRATEGY_SNAKE[strategy]}:{jtype}"
        counts[key] = counts.get(key, 0) + 1
    return {k: v for k, v in counts.items() if v}


def plan_nodes(info: dict) -> str:
    """The ``simpleString`` of every node of a ``sparkPlanInfo`` tree,
    one a line, in the form :func:`fingerprint` reads."""
    lines, stack = [], [info]
    while stack:
        node = stack.pop()
        lines.append(node["simpleString"])
        stack.extend(node["children"])
    return "\n".join(lines)


def fold_executions(
    events: Iterable[str], entries: dict[str, dict[str, int]]
) -> None:
    """Add the fingerprint of each SQL execution in ``events`` (event-log
    lines) to the entry of its job group. Raises ``ValueError`` naming
    the execution ids whose group has no entry."""
    stray: list[str] = []
    for line in events:
        ev = json.loads(line)
        if ev.get("Event") != _SQL_START:
            continue
        entry = entries.get(ev.get("jobGroupId"))
        if entry is None:
            stray.append(f"{ev['executionId']} (job group {ev.get('jobGroupId')!r})")
            continue
        for feat, n in fingerprint(plan_nodes(ev["sparkPlanInfo"])).items():
            entry[feat] = entry.get(feat, 0) + n
    if stray:
        raise ValueError(
            "SQL executions outside every key's and cache's job group: "
            + ", ".join(stray)
        )


def _lines(paths: list[str]) -> Iterator[str]:
    for path in paths:
        with open(path) as f:
            yield from f


def compute_all() -> dict[str, dict[str, int]]:
    with tempfile.TemporaryDirectory(prefix="plan-fingerprints-") as work:
        configure_env(work, trace=True)
        from kafka_flink_exactlyonce_example_spark import registry
        from kafka_flink_exactlyonce_example_spark.operators import session_caches
        from kafka_flink_exactlyonce_example_spark.plans import plan_string
        from kafka_flink_exactlyonce_example_spark.session import get_spark

        registry.load_all()
        spark = get_spark(
            app_name="plan-fingerprints", master="local[8]", shuffle_partitions=8
        )
        sc = spark.sparkContext
        app_id = sc.applicationId
        out: dict[str, dict[str, int]] = {}
        for name, build in session_caches.CACHE_BUILDERS.items():
            group = f"cache:{name}"
            sc.setJobGroup(group, group)
            build(spark, SF_DIR)
            out[group] = {}
        for name in sorted(registry.QUERIES):
            sc.setJobGroup(name, name)
            df = registry.QUERIES[name](spark, SF_DIR)
            out[name] = fingerprint(plan_string(df, mode="simple"))
        spark.stop()
        fold_executions(_lines(_log_files(os.path.join(work, "eventlog"), app_id)), out)
    return out


def diff(
    base: dict[str, dict[str, int]], now: dict[str, dict[str, int]]
) -> list[str]:
    lines: list[str] = []
    for name in sorted(set(base) | set(now)):
        b, n = base.get(name), now.get(name)
        if b is None:
            lines.append(f"{name}: NEW entry (not in baseline) {n}")
        elif n is None:
            lines.append(f"{name}: REMOVED (baseline {b})")
        elif b != n:
            feats = sorted(set(b) | set(n))
            moved = [
                f"{f}: {b.get(f, 0)}->{n.get(f, 0)}"
                for f in feats
                if b.get(f, 0) != n.get(f, 0)
            ]
            lines.append(f"{name}: " + ", ".join(moved))
    return lines


def main() -> None:
    now = compute_all()
    if "--update" in sys.argv:
        BASELINE.write_text(json.dumps(now, indent=1, sort_keys=True) + "\n")
        print(f"wrote {BASELINE} ({len(now)} entries)")
        return
    base = json.loads(BASELINE.read_text())
    drift = diff(base, now)
    if drift:
        print(f"PLAN DRIFT in {len(drift)} entries:")
        print("\n".join(drift))
        sys.exit(1)
    print(f"plans stable: {len(now)} entries match baseline")


if __name__ == "__main__":
    main()
