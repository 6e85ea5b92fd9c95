"""Query registry: the graded surface of SURVEY.md §2.

Every operator registers a ``(spark, sf_dir) -> DataFrame`` callable and
(unless marked rows-only) a DuckDB oracle SQL string with IDENTICAL
column names and deterministic values. ``__spark_entry__.py`` re-exports
these dicts to the driver.

A query registers only what it returns. The relations it materializes
while it is built (checkpoints, driver-side collects) need no separate
registration to stay under the plan gate: ``tools/plan_fingerprints.py``
reads every SQL execution from Spark's event log and charges it to the
key whose job group ran it.
"""

from __future__ import annotations

import functools
import inspect
import json
import pathlib
import re
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from kafka_flink_exactlyonce_example_spark.session import ensure_session_confs

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a graded query. ``oracle=None`` → rows-only check
    (non-SQL-expressible ops: approx sketches, UDF demos, MinHash)."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, *a: Any, **kw: Any) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir, *a, **kw)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


# ---------------------------------------------------------------------------
# Grading-window rotation — derived, not hand-maintained.
#
# The driver's correctness gate grades the FIRST 50 keys of ``queries()``
# in dict-insertion order (CORRECTNESS_r01.json == list(QUERIES)[:50]).
# Registration order only picks the grading window; every query runs the
# same either way. The round number and the window are both derived at
# load time from the driver's own CORRECTNESS artifacts, so a counter and
# a window can never desynchronize. The one hand edit per round is
# ``_CHANGED_IN_ROUND``.
# ---------------------------------------------------------------------------

_REPO_ROOT = pathlib.Path(__file__).resolve().parent.parent

#: Driver grades exactly this many keys per round (first-N of queries()).
_WINDOW_SIZE = 50


def _artifacts() -> dict[int, pathlib.Path]:
    """Round N -> the driver's ``CORRECTNESS_r{N}.json`` at the repo root."""
    found = {}
    for path in _REPO_ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            found[int(m.group(1))] = path
    return found


def rotation_round() -> int:
    """The current build round: 1 + the newest CORRECTNESS artifact's N.
    The driver writes round N's file after round N's build, so during
    build N the files r01..r(N-1) exist. bench.py names its per-round
    artifact after this."""
    return max(_artifacts(), default=0) + 1


def newest_grade_rounds(round_no: int | None = None) -> dict[str, int]:
    """Per-key round of the newest driver row in rounds < ``round_no``
    (default: the current round). Scoped to rounds < ``round_no`` so a
    ``derive_window(round_no=N, prior=...)`` preview stays reproducible
    after later artifacts land."""
    if round_no is None:
        round_no = rotation_round()
    newest: dict[str, int] = {}
    for n, path in sorted(_artifacts().items()):
        if n < round_no:
            newest.update(dict.fromkeys(json.loads(path.read_text()), n))
    return newest


def graded_before(round_no: int | None = None) -> set[str]:
    """Every key the driver graded in rounds < ``round_no``."""
    return set(newest_grade_rounds(round_no))


#: Keys whose implementation, plan or oracle changed, keyed by the round
#: the change lands in; ``derive_window`` forces them into that round's
#: window so the new plan earns a fresh driver row. The one per-round
#: hand edit. Only the round being derived is looked up, so an entry
#: goes inert once the driver's artifact advances ``rotation_round()``.
_CHANGED_IN_ROUND: dict[int, frozenset[str]] = {
    # q_fired_rebuild: routes its first generation through the cent1
    # cache, a swap no graded row covers yet; q_minhash_est:
    # signature lanes and agreement sum rewritten as SQL text
    19: frozenset({"q_fired_rebuild", "q_minhash_est"}),
}


def changed_in(round_no: int | None = None) -> frozenset[str]:
    """Impl-changed keys for ``round_no`` (default: the current round)."""
    if round_no is None:
        round_no = rotation_round()
    return _CHANGED_IN_ROUND.get(round_no, frozenset())


#: SURVEY §2 family span, as operator MODULES, highest priority first.
#: The window holds one keep per family not already covered, added in
#: this order; the keep is the family's stalest member, so repeated
#: grading re-covers different keys.
_FAMILY_KEEP_PRIORITY: tuple[str, ...] = (
    "wordcount",       # §2.1 reference core — q_wordcount is pinned first anyway
    "relational",      # §2.2
    "joins",           # §2.3
    "aggregates",      # §2.4
    "windows",         # §2.5
    "sortlimit",       # §2.6
    "setops",          # §2.7
    "scalar",          # §2.8
    "streaming_batch", # §2.9
    "dedup",           # §2.10 dedup
    "simsearch",       # §2.10 ANN
    "textstats",       # §2.10 text/quality
    "mining",          # beyond-survey mining/BI
    "analytics",       # beyond-survey analytics
    "datamgmt",        # beyond-survey data management
    "pipeline",        # §2.10 end-to-end curation
    "multimodal",      # §2.10 multimodal (rows-only by contract)
    "udf_demo",        # §2.11 (rows-only by contract)
)


def _module_of(fn: QueryFn) -> str:
    return inspect.unwrap(fn).__module__.rsplit(".", 1)[-1]


def derive_window(
    round_no: int | None = None, prior: set[str] | None = None
) -> list[str]:
    """The 50-key grading window for ``round_no``, in four steps:

      1. ``q_wordcount`` (flagship identity, every round);
      2. every ``_CHANGED_IN_ROUND[round_no]`` key, sorted;
      3. one keep per ``_FAMILY_KEEP_PRIORITY`` family not yet covered:
         its stalest member;
      4. every remaining key, stalest first.

    Stalest means the oldest newest driver row, name as tie-break; a key
    never graded counts as round 0, so it sorts first. A graded key falls
    to the back on the next derivation, so the whole surface re-freshens
    round-robin at window granularity.

    ``prior`` (tests only) overrides the graded-before set so future
    rounds can be previewed before their artifacts exist; keys outside it
    count as never graded.
    """
    if round_no is None:
        round_no = rotation_round()
    if not QUERIES:
        raise RuntimeError("derive_window() requires load_all() registration")
    changed = changed_in(round_no)
    missing = sorted(changed - QUERIES.keys())
    if missing:  # typo guard: a renamed query must update the pins too
        raise KeyError(f"changed keys not registered: {missing}")
    newest = newest_grade_rounds(round_no)
    if prior is not None:
        newest = {k: n for k, n in newest.items() if k in prior}

    def staleness(key: str) -> tuple[int, str]:
        return (newest.get(key, 0), key)

    window: list[str] = []

    def add(key: str) -> None:
        if key not in window and len(window) < _WINDOW_SIZE:
            window.append(key)

    add("q_wordcount")
    for key in sorted(changed):
        add(key)
    by_module: dict[str, list[str]] = {}
    for key, fn in QUERIES.items():
        by_module.setdefault(_module_of(fn), []).append(key)
    covered = {_module_of(QUERIES[k]) for k in window}
    for fam in _FAMILY_KEEP_PRIORITY:
        if fam not in covered and fam in by_module:
            add(min(by_module[fam], key=staleness))
    for key in sorted(QUERIES, key=staleness):
        add(key)
    return window


def load_all() -> None:
    """Import every operator module so registration side effects run,
    then reorder ``QUERIES`` so the derived grading window is the first
    ``_WINDOW_SIZE`` keys."""
    from kafka_flink_exactlyonce_example_spark import operators  # noqa: F401

    operators.load_all()

    from kafka_flink_exactlyonce_example_spark import lifecycle, pipeline  # noqa: F401

    window = derive_window()
    ordered = {k: QUERIES[k] for k in window}
    ordered.update((k, v) for k, v in QUERIES.items() if k not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)
