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

import os

from pyspark.sql import SparkSession

_SESSION_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


#: applicationIds whose session confs are already enforced. Every
#: @query wrapper and every table() load calls ensure_session_confs;
#: the five conf.get round-trips cost ~5-10 ms per call, which across a
#: ~300-query bench (2-4 calls per query) summed to seconds of pure
#: py4j chatter (round 16, OPTIMIZATION_r16.md). Caveat the memo adds
#: (ADVICE r16): enforcement no longer self-heals a mid-session
#: mutation of an enforced conf. Tests mostly flip confs OUTSIDE this
#: set (shuffle width, broadcast threshold); the one exception,
#: tests/test_skew.py, toggles adaptive.coalescePartitions.enabled and
#: restores it in a ``finally`` — any future test that mutates an
#: enforced conf must likewise restore it (or discard _CONFS_ENFORCED
#: for the app id), because nothing re-enforces it afterwards.
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


def get_spark(
    app_name: str = "kafka-flink-exactlyonce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local-mode tuned session for tests/bench.

    ``local[N]`` with N from $SPARK_GRAFT_CPUS (default 32). Shuffle
    partitions default to the core count: small enough to avoid task
    overhead at bench scale, and AQE coalesces further at runtime. On a
    real cluster these two knobs are the deploy-time scale dials; nothing
    else in the engine assumes local mode.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
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
    return ensure_session_confs(builder.getOrCreate())
