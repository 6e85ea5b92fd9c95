"""Full-surface plan-regression gate.

tests/test_plans.py pins individual plans by hand; this module covers
the whole registry. ``tools/plan_fingerprints.py`` reduces the plans
each key makes Spark execute (its returned frame's plan plus every SQL
execution its build ran, read from Spark's event log) and each shared
cache's build to scale-relevant node counts: shuffles by kind, join
strategies and types, aggregate kinds, windows, Python-eval nodes,
scans. The counts are compared with the committed
tests/plan_baseline.json. A lost broadcast, an extra Exchange, or a
Python UDF on a JVM-only path fails here, naming the key and the
feature that moved, even when the change sits behind a checkpoint or a
driver-side collect.

When a plan change is INTENTIONAL, regenerate the baseline and commit
the diff alongside the code change:

    python tools/plan_fingerprints.py --update

The live collection runs in a SUBPROCESS with its own SparkSession:
node counts depend on which relations the session holds cached, and
earlier tests unpersist and rebuild the shared relations, so only a
fresh session that pre-builds the caches in a fixed order gives counts
that do not depend on test order.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BASELINE = Path(__file__).resolve().parent / "plan_baseline.json"
REPO = Path(__file__).resolve().parent.parent

sys.path.insert(0, str(REPO / "tools"))
import plan_fingerprints as pf  # noqa: E402

#: the fingerprint features of the plan nodes that run Python
PYTHON_EVAL = ("python_row_udf", "python_arrow_udf", "pandas_map", "python_udtf")


def test_all_query_plans_match_baseline():
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "plan_fingerprints.py")],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, (
        "plan drift vs tests/plan_baseline.json (regenerate with "
        "`python tools/plan_fingerprints.py --update` if intentional):\n"
        + proc.stdout
        + proc.stderr[-2000:]
    )


def test_baseline_has_no_python_eval_on_oracled_paths():
    """No oracled key and no shared cache executes a Python-eval node.
    Together with the drift gate above, which holds the live counts to
    this baseline, this covers every plan those keys execute, the
    checkpointed and collected chains included, and keeps a bad
    `--update` from quietly blessing a UDF on an oracled path. A shared
    cache is held to the same bar because its consumers, oracled ones
    among them, read it through a checkpoint."""
    from kafka_flink_exactlyonce_example_spark import registry

    registry.load_all()
    base = json.loads(BASELINE.read_text())
    offenders = {}
    for name, feats in base.items():
        found = {f: feats[f] for f in PYTHON_EVAL if feats.get(f)}
        if found and (name in registry.ORACLES or name.startswith("cache:")):
            offenders[name] = found
    assert not offenders, f"Python eval on oracled paths in baseline: {offenders}"


def _execution_start(exec_id: int, group: str | None, *nodes: str) -> str:
    """One event-log line: a SQL execution whose plan is a chain of
    ``nodes``, root first."""
    info = None
    for text in reversed(nodes):
        info = {
            "nodeName": text.split()[0],
            "simpleString": text,
            "children": [info] if info else [],
        }
    return json.dumps({
        "Event": pf._SQL_START,
        "executionId": exec_id,
        "jobGroupId": group,
        "sparkPlanInfo": info,
    })


def test_fold_charges_executions_to_their_job_group():
    """The event-log fold, without Spark: a key's side execution adds to
    the key's entry (its returned-plan counts included), a ``cache:``
    group's execution fills the cache's own entry, other events are
    skipped, and an execution outside every known group raises, naming
    its execution id."""
    events = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0}),
        _execution_start(
            0, "cache:shingles",
            "AdaptiveSparkPlan isFinalPlan=false",
            "HashAggregate(keys=[w#1], functions=[])",
            "Exchange hashpartitioning(w#1, 8), ENSURE_REQUIREMENTS",
            "FileScan parquet [text#0] Batched: true",
        ),
        _execution_start(
            1, "q_a",
            "AdaptiveSparkPlan isFinalPlan=false",
            "BroadcastHashJoin [k#2], [k#3], LeftSemi, BuildRight, false",
            "Scan ExistingRDD[k#2]",
        ),
    ]
    entries = {"q_a": {"cache_scan": 1}, "cache:shingles": {}}
    pf.fold_executions(events, entries)
    assert entries == {
        "q_a": {
            "cache_scan": 2,
            "broadcast_hash_join": 1,
            "broadcast_hash_join:LeftSemi": 1,
        },
        "cache:shingles": {
            "hash_agg": 1,
            "exchange_hash": 1,
            "parquet_scan": 1,
        },
    }

    stray = [_execution_start(7, None, "LocalTableScan [x#0]")]
    with pytest.raises(ValueError, match=r"\b7 \(job group None\)"):
        pf.fold_executions(stray, {"q_a": {}})


def test_join_type_flip_moves_fingerprint():
    """Two plans identical except for a join TYPE must produce different
    fingerprints, and the diff must NAME the typed feature: the untyped
    counts alone cannot see an inner→left flip."""
    inner = (
        "AdaptiveSparkPlan\n"
        "+- SortMergeJoin [icell#5L], [icell#9L], Inner\n"
        "   +- Exchange hashpartitioning(icell#5L, 8)\n"
    )
    left = inner.replace(", Inner", ", LeftOuter")
    fp_i, fp_l = pf.fingerprint(inner), pf.fingerprint(left)
    # the untyped counts are blind to the flip
    assert fp_i["sort_merge_join"] == fp_l["sort_merge_join"] == 1
    assert fp_i != fp_l
    assert fp_i.get("sort_merge_join:Inner") == 1
    assert fp_l.get("sort_merge_join:LeftOuter") == 1
    drift = pf.diff({"q": fp_i}, {"q": fp_l})
    assert len(drift) == 1 and "q: " in drift[0]
    assert "sort_merge_join:Inner" in drift[0]
    assert "sort_merge_join:LeftOuter" in drift[0]


def test_baseline_typed_join_counts_are_consistent():
    """Every typed-join node in the committed baseline must carry a
    join-type tag: per entry and strategy, the untyped count equals
    the sum of its typed counts — a plan line the type regex failed to
    parse would silently re-open the join-type blind spot."""
    base = json.loads(BASELINE.read_text())
    for name, feats in base.items():
        for snake in pf._JOIN_STRATEGY_SNAKE.values():
            typed = sum(
                v for k, v in feats.items() if k.startswith(f"{snake}:")
            )
            assert typed == feats.get(snake, 0), (
                f"{name}: {snake} has {feats.get(snake, 0)} nodes but "
                f"{typed} typed tags — a join type went unparsed"
            )
