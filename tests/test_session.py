"""``session.get_spark``: its core count and its stop path."""

from __future__ import annotations

import os
import time
from types import SimpleNamespace

from pyspark import accumulators

from kafka_flink_exactlyonce_example_spark import session


def test_local_cpus_defaults_to_the_cpus_this_process_may_run_on(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cpus() == "3"


def test_stop_does_not_wait_for_the_accumulator_servers_poll():
    # the server PySpark starts for every SparkContext; its loop polls
    # every 0.5 s, so an unwrapped shutdown here takes about 0.48 s
    server = accumulators._start_update_server("token", False)
    session._stop_without_poll_wait(SimpleNamespace(_accumulatorServer=server))
    time.sleep(0.02)
    t0 = time.perf_counter()
    server.shutdown()
    assert time.perf_counter() - t0 < 0.25


def test_get_spark_sessions_wake_their_server_and_still_count(spark):
    sc = spark.sparkContext
    assert hasattr(sc._accumulatorServer.shutdown, "__wrapped__")
    acc = sc.accumulator(0)
    sc.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
    assert acc.value == 45
