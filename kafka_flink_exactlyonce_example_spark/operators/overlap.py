"""Intra-query job overlap and the package's session caches.

Overlap. Several lifecycle keys materialize 3-8 bounded intermediates
per run (localCheckpoint / collect). Called one after another, each
eager job's scheduling floor and straggler tail serialize and leave
the cluster idle between jobs. Spark runs several jobs at once inside
one application (guide §2.6: actions are only sequential because
driver code calls them sequentially), so submitting INDEPENDENT
materializations from a small thread pool lets the next job's tasks
back-fill executors freed by the current job's tail. Rules the call
sites follow:

- Only provably independent actions share a wave: a thunk never
  consumes another thunk's result, and every shared upstream is
  materialized (or session-cached) BEFORE the wave is submitted.
- Thunks do not call cold session caches; caches are resolved on the
  main thread first. A violation degrades to serialization behind
  :data:`MEMO_LOCK`, never a double build, and logs a WARNING.
- FIFO scheduling (the default) keeps the earlier job's resource
  priority — later thunks back-fill, exactly the guide §2.6 shape.

Session caches. Relations that several queries consume (shingles,
MinHash signatures, IVF cells, the frozen ingest index, the catalog's
table plans, ...) are built once per (Spark application, sf_dir, hash
lane) by a :func:`session_cache` function. Keyed on applicationId, not
``id(spark)``: CPython reuses ids after GC, so an id-keyed cache could
hand a checkpoint bound to a stopped context to a new session. The
hash lane is in the key so flipping ``SPARK_GRAFT_HASH_LANE``
mid-session never serves a relation built under the other hash
family. Checkpoint blocks die with their session, so nothing leaks.

One REENTRANT lock is shared by every cache on purpose: builds read
other caches (gate_flags → inc_index_build → table), and a per-cache
lock set would deadlock the moment two nested chains acquire in
different orders. With one RLock a nested same-thread acquire is free,
and the worst cross-thread case is first builds serializing — which is
what they cost anyway.
"""

from __future__ import annotations

import functools
import logging
import threading
import time
import uuid
from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Any, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

from kafka_flink_exactlyonce_example_spark.session import hash_lane

T = TypeVar("T")

log = logging.getLogger(__name__)

#: One reentrant lock for every session cache in the package.
MEMO_LOCK = threading.RLock()

#: cache name -> its :func:`session_cache` getter, in import order.
SESSION_CACHES: dict[str, Callable[..., Any]] = {}


def session_cache(name: str, *, shared: bool = False):
    """Memoize a ``build(spark, sf_dir, *args)`` per (applicationId,
    sf_dir, hash lane, *args) and register it under ``name``.

    Hits are a plain dict read (no lock). A miss takes
    :data:`MEMO_LOCK`, re-checks, and runs ``build`` at most once per
    key; the build runs UNDER the lock — builds are one-time and often
    localCheckpoint (an eager job), so racing them is strictly worse
    than briefly serializing them. Each build is logged at DEBUG with
    its seconds, or at WARNING when it runs off the main thread.

    ``shared`` marks a relation that several queries consume: the bench
    pre-builds it as its own timed line item
    (``session_caches.CACHE_BUILDERS``), so its cost does not land on
    whichever consumer happens to run first."""

    def decorate(build: Callable[..., T]) -> Callable[..., T]:
        cache: dict[tuple, T] = {}

        def timed_build(spark, sf_dir: str, args: tuple, key: tuple) -> T:
            t0 = time.perf_counter()
            value = build(spark, sf_dir, *args)
            seconds = time.perf_counter() - t0
            if threading.current_thread() is threading.main_thread():
                log.debug("session cache %s built for %s in %.3f s", name, key, seconds)
            else:
                log.warning(
                    "session cache %s built off the main thread for %s in "
                    "%.3f s; every other thread's cache miss waited on it",
                    name, key, seconds,
                )
            return value

        @functools.wraps(build)
        def get(spark, sf_dir: str, *args) -> T:
            key = (spark.sparkContext.applicationId, sf_dir, hash_lane(), *args)
            if key in cache:
                return cache[key]
            with MEMO_LOCK:
                if key not in cache:
                    cache[key] = timed_build(spark, sf_dir, args, key)
                return cache[key]

        if name in SESSION_CACHES:
            raise ValueError(f"session cache {name!r} is registered twice")
        get.shared = shared
        SESSION_CACHES[name] = get
        return get

    return decorate


def run_overlapped(*thunks: Callable[[], T]) -> list[T]:
    """Run independent driver-side actions (checkpoint / collect /
    first) concurrently and return their results in argument order —
    guide §2.6's thread-pool overlap, sized to the wave (the waves at
    the call sites are 2-4 thunks; enough to fill each job's straggler
    tail, not enough to fight for executors). Each thunk inherits the
    caller's job group and local properties. A single thunk runs
    inline (no pool, no thread hop).

    The wave's jobs share one job tag. The first thunk to raise cancels
    the jobs its siblings are running (re-cancelling until they return,
    since a sibling may submit another job), and its exception
    propagates to the caller."""
    if len(thunks) == 1:
        return [thunks[0]()]
    session = SparkSession.getActiveSession()
    tag = f"run_overlapped-{uuid.uuid4().hex}"
    if session is not None:
        thunks = tuple(
            inheritable_thread_target(session)(_tagged(session.sparkContext, tag, t))
            for t in thunks
        )
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        failed = [f for f in futures if f in done and f.exception() is not None]
        if failed:
            while pending:
                if session is not None:
                    session.sparkContext.cancelJobsWithTag(tag)
                _, pending = wait(pending, timeout=0.5)
            raise failed[0].exception()
        return [f.result() for f in futures]


def _tagged(sc, tag: str, thunk: Callable[[], T]) -> Callable[[], T]:
    def run() -> T:
        sc.addJobTag(tag)
        return thunk()

    return run
