"""Focused tests for operators/overlap.py: the session-cache decorator
(shared lock, build logging) and the intra-query job-overlap helper."""

from __future__ import annotations

import logging
import re
import sys
import threading
import time
from types import SimpleNamespace

import pytest

from kafka_flink_exactlyonce_example_spark.operators.overlap import (
    SESSION_CACHES,
    run_overlapped,
    session_cache,
)

#: stands in for a SparkSession: the decorator only reads its
#: applicationId
FAKE_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))


@pytest.fixture
def throwaway_cache():
    """``session_cache`` for throwaway names, unregistered afterwards."""
    names = []

    def make(name: str):
        names.append(name)
        return session_cache(name)

    yield make
    for name in names:
        SESSION_CACHES.pop(name, None)


def test_session_cache_builds_once_under_concurrency(throwaway_cache):
    builds = []
    start = threading.Barrier(8)

    @throwaway_cache("test_build_once")
    def build(spark, sf_dir):
        builds.append(threading.get_ident())
        time.sleep(0.05)  # widen the race window
        return object()

    results = []

    def worker():
        start.wait()
        results.append(build(FAKE_SPARK, "sf"))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "a caller never returned"
    assert len(builds) == 1, "concurrent first-build ran more than once"
    assert all(r is results[0] for r in results), "callers saw different objects"


def test_session_cache_is_reentrant_for_nested_builders(throwaway_cache):
    """A builder that resolves another cache under the same lock (the
    gate_flags → inc_index_build → table() nesting) must not deadlock."""
    inner_builds = []

    @throwaway_cache("test_inner")
    def inner(spark, sf_dir):
        inner_builds.append(sf_dir)
        return "inner"

    @throwaway_cache("test_outer")
    def outer(spark, sf_dir):
        return ("outer", inner(spark, sf_dir))

    assert outer(FAKE_SPARK, "sf") == ("outer", "inner")
    assert inner(FAKE_SPARK, "sf") == "inner"
    assert inner_builds == ["sf"]


def test_session_cache_keys_on_args_and_logs_builds(throwaway_cache, caplog):
    """Each build is logged once with its name, key and seconds: DEBUG
    on the main thread, WARNING off it (a wave thunk that hits a cold
    cache serializes the wave). Hits log nothing."""

    @throwaway_cache("test_logged")
    def build(spark, sf_dir, n):
        return [n]

    with caplog.at_level(logging.DEBUG, logger=session_cache.__module__):
        first = build(FAKE_SPARK, "sf", 1)
        assert build(FAKE_SPARK, "sf", 1) is first
        assert build(FAKE_SPARK, "sf", 2) == [2]
        worker = threading.Thread(target=build, args=(FAKE_SPARK, "sf", 3))
        worker.start()
        worker.join()

    records = [r for r in caplog.records if "test_logged" in r.getMessage()]
    assert [r.levelno for r in records] == [
        logging.DEBUG,
        logging.DEBUG,
        logging.WARNING,
    ]
    assert "('app', 'sf', 1)" in records[0].getMessage()
    assert all(re.search(r"in \d+\.\d{3} s", r.getMessage()) for r in records)
    assert "off the main thread" in records[2].getMessage()


def test_session_cache_rejects_a_duplicate_name(throwaway_cache):
    throwaway_cache("test_dup")(lambda spark, sf_dir: 1)
    with pytest.raises(ValueError, match="test_dup"):
        session_cache("test_dup")(lambda spark, sf_dir: 2)


def test_run_overlapped_preserves_argument_order():
    def slow():
        time.sleep(0.05)
        return "slow"

    assert run_overlapped(slow, lambda: "fast") == ["slow", "fast"]


def test_run_overlapped_propagates_exceptions():
    def boom():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        run_overlapped(lambda: 1, boom)


def test_run_overlapped_single_thunk_runs_inline():
    ident = run_overlapped(lambda: threading.get_ident())
    assert ident == [threading.get_ident()]


def test_run_overlapped_keeps_the_callers_job_group(spark):
    """Jobs inside a wave carry the caller's job group, so a trace can
    attribute them to the key that submitted the wave."""
    sc = spark.sparkContext
    group = "test_run_overlapped_job_group"
    sc.setJobGroup(group, "overlap wave")
    try:
        run_overlapped(*(lambda n=n: spark.range(n).count() for n in (10, 20, 30, 40)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 4


def test_run_overlapped_cancels_the_siblings_jobs_on_failure(spark):
    """One thunk raising cancels the job a sibling is running instead of
    waiting it out: the call raises the thunk's error within seconds,
    and the sibling's job ends cancelled."""
    sc = spark.sparkContext
    sibling_error: list[BaseException] = []

    def long_job():
        # 400 half-second tasks: about a minute on 4 cores if not cancelled
        try:
            return sc.parallelize(range(400), 400).map(lambda x: time.sleep(0.5) or x).count()
        except Exception as e:
            sibling_error.append(e)
            raise

    def fail_once_the_sibling_runs():
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getActiveJobsIds():
            assert time.monotonic() < deadline, "sibling job never started"
            time.sleep(0.05)
        raise ValueError("thunk failed")

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="thunk failed"):
        run_overlapped(long_job, fail_once_the_sibling_runs)
    assert time.monotonic() - t0 < 20
    assert len(sibling_error) == 1
    assert "cancel" in str(sibling_error[0]).lower()
