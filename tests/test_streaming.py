"""Structured Streaming smoke + exactly-once recovery tests —
the Spark translation of the reference's manual runbook (SURVEY.md
§5.1: run, kill, restart, observe no duplicates / no loss)."""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import SMOKE_SF
from kafka_flink_exactlyonce_example_spark.functions import hashing
from kafka_flink_exactlyonce_example_spark.streaming import (
    IdempotentBatchSink,
    file_stream,
    rate_stream,
    streaming_wordcount,
)
from kafka_flink_exactlyonce_example_spark.streaming.jobs import run_exactly_once
from kafka_flink_exactlyonce_example_spark.streaming.sources import kafka_stream

LINES = [
    "spark flink kafka",
    "exactly once semantics",
    "spark kafka window",
    "flink state checkpoint",
    "spark spark spark",
    "kafka topic offset",
]


def _write_input_files(path: str, n_files: int = 6) -> None:
    os.makedirs(path, exist_ok=True)
    for i, line in enumerate(LINES[:n_files]):
        with open(os.path.join(path, f"f{i}.json"), "w") as f:
            f.write(json.dumps({"value": line, "event_ts": f"2024-01-01 00:00:{i:02d}"}) + "\n")


def _expected_counts() -> dict[str, int]:
    counts: dict[str, int] = {}
    for line in LINES:
        for w in line.split():
            counts[w] = counts.get(w, 0) + 1
    return counts


def test_rate_source_smoke(spark, tmp_path):
    """rate source → foreachBatch sink: rows flow end to end."""
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = (
        rate_stream(spark, rows_per_second=500)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # at least the initial (possibly empty) batch committed; schema stable
    assert sink.committed_batches(), "no batches committed from rate source"


def test_streaming_wordcount_matches_batch(spark, tmp_path):
    """file source → windowed word count == the batch computation."""
    inp = str(tmp_path / "in")
    _write_input_files(inp)
    lines = file_stream(
        spark, inp, "value string, event_ts string", fmt="json"
    ).withColumn("event_ts", __import__("pyspark").sql.functions.to_timestamp("event_ts"))
    result = streaming_wordcount(lines, "event_ts", window="1 minute")
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(result, sink, str(tmp_path / "ckpt"), output_mode="complete")
    q.awaitTermination(120)
    got = {
        r["word"]: r["cnt"] for r in sink.read_latest(spark).collect()
    }
    assert got == _expected_counts()


def test_streaming_session_windows(spark, tmp_path):
    """session_window on a stream: events ≤gap apart merge into one
    session; a larger silence starts a new one."""
    from kafka_flink_exactlyonce_example_spark.streaming import streaming_sessions

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    rows = [  # user 1: two sessions (2 events, then 1); user 2: one session
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 01:30:00"),
        (2, "2024-01-01 00:05:00"),
    ]
    with open(os.path.join(inp, "f0.json"), "w") as f:
        for uid, ts in rows:
            f.write(json.dumps({"user_id": uid, "ts": ts}) + "\n")
    from pyspark.sql import functions as F

    events = file_stream(spark, inp, "user_id long, ts string", fmt="json").withColumn(
        "ts", F.to_timestamp("ts")
    )
    result = streaming_sessions(events, gap="30 minutes")
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(result, sink, str(tmp_path / "ckpt"), output_mode="complete")
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in sink.read_latest(spark).collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00"): 2,
        (1, "2024-01-01 01:30:00"): 1,
        (2, "2024-01-01 00:05:00"): 1,
    }


def test_write_compacted_partition_count(spark, tmp_path):
    """write_compacted sizes output files from plan stats: tiny input →
    exactly one file; a small target forces multiple."""
    from kafka_flink_exactlyonce_example_spark.sources import write_compacted, table

    n = table(spark, SMOKE_SF, "lineitem")
    one = write_compacted(n, str(tmp_path / "one"))
    assert one == 1
    many = write_compacted(n, str(tmp_path / "many"), target_file_bytes=64 * 1024)
    assert many > 1
    assert spark.read.parquet(str(tmp_path / "many")).count() == n.count()


def test_keyed_state_running_count(spark, tmp_path):
    """applyInPandasWithState per-word counter (Flink ValueState analog):
    final per-key totals equal the batch counts, across multiple
    micro-batches so state actually carries between batches."""
    from kafka_flink_exactlyonce_example_spark.streaming import keyed_running_count

    inp = str(tmp_path / "in")
    _write_input_files(inp)
    lines = file_stream(
        spark, inp, "value string, event_ts string", fmt="json", maxFilesPerTrigger="2"
    )
    result = keyed_running_count(lines)
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(result, sink, str(tmp_path / "ckpt"), output_mode="update")
    q.awaitTermination(120)
    # "update" emits a row per key per batch with the running total —
    # the LAST emission per key is the final count
    assert len(sink.committed_batches()) > 1, "need >1 micro-batch to test state carry"
    latest: dict[str, int] = {}
    for b in sink.committed_batches():
        p = os.path.join(sink.data_dir, f"batch_id={b}")
        if os.path.exists(p):
            for r in spark.read.parquet(p).collect():
                latest[r["word"]] = r["cnt"]
    assert latest == _expected_counts()


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python state-server protocol needs the "
    "protobuf package (not in this container); the job itself is "
    "plain public PySpark 4 API and runs where protobuf exists",
)
def test_transform_with_state_running_count(spark, tmp_path):
    """transformWithStateInPandas (Spark 4's KeyedProcessFunction-class
    API: named state variables, timers, TTL) — same per-word counter as
    test_keyed_state_running_count, so the two state APIs are proven
    interchangeable for this state machine. Needs RocksDB provider."""
    from kafka_flink_exactlyonce_example_spark.streaming import (
        keyed_running_count_tws,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        inp = str(tmp_path / "in")
        _write_input_files(inp)
        lines = file_stream(
            spark, inp, "value string, event_ts string", fmt="json",
            maxFilesPerTrigger="2",
        )
        result = keyed_running_count_tws(lines)
        sink = IdempotentBatchSink(str(tmp_path / "out"))
        q = run_exactly_once(result, sink, str(tmp_path / "ckpt"), output_mode="update")
        q.awaitTermination(180)
        assert len(sink.committed_batches()) > 1, "need >1 micro-batch to test state carry"
        latest: dict[str, int] = {}
        for b in sink.committed_batches():
            p = os.path.join(sink.data_dir, f"batch_id={b}")
            if os.path.exists(p):
                for r in spark.read.parquet(p).collect():
                    latest[r["word"]] = r["cnt"]
        assert latest == _expected_counts()
    finally:
        spark.conf.set(key, prev)


class _CrashOnce(IdempotentBatchSink):
    """Writes batch data then dies before the commit marker — simulates
    a crash at the worst moment of the 2-phase protocol."""

    def __init__(self, out_dir: str, crash_batch: int) -> None:
        super().__init__(out_dir)
        self.crash_batch = crash_batch
        self._flag = os.path.join(out_dir, "_crashed_once")

    def __call__(self, batch_df, batch_id: int) -> None:
        if batch_id == self.crash_batch and not os.path.exists(self._flag):
            batch_df.write.mode("overwrite").parquet(
                os.path.join(self.data_dir, f"batch_id={batch_id}")
            )  # torn write: data on disk, NO commit marker
            with open(self._flag, "w") as f:
                f.write("1")
            raise RuntimeError("injected crash before commit")
        super().__call__(batch_df, batch_id)


def test_exactly_once_kill_restart(spark, tmp_path):
    """Crash mid-commit, restart from checkpoint → exact counts, no
    duplicates, no loss (the reference's exactly-once demo)."""
    inp = str(tmp_path / "in")
    _write_input_files(inp)
    from pyspark.sql import functions as F

    def build_query(sink):
        lines = file_stream(
            spark,
            inp,
            "value string, event_ts string",
            fmt="json",
            maxFilesPerTrigger="2",
        ).withColumn("event_ts", F.to_timestamp("event_ts"))
        result = streaming_wordcount(lines, "event_ts", window="1 minute")
        return run_exactly_once(
            result, sink, str(tmp_path / "ckpt"), output_mode="complete"
        )

    out = str(tmp_path / "out")
    crashing_sink = _CrashOnce(out, crash_batch=1)
    q = build_query(crashing_sink)
    # NOT pytest.raises(Exception): a sentinel raised inside that block
    # would satisfy it, silently passing when the crash batch is never
    # reached or the wait times out (round-13 self-review). A timeout
    # (awaitTermination returns False) is diagnosed as such and the
    # still-running query is stopped so it cannot bleed into later
    # tests on the shared session.
    outcome = None
    try:
        outcome = "finished" if q.awaitTermination(120) else "timed out"
    except Exception:
        pass  # the expected mid-protocol crash
    if outcome is not None:
        q.stop()
    assert outcome is None, f"query should have failed mid-protocol, {outcome}"
    assert not crashing_sink.is_committed(1), "crashed batch must be uncommitted"

    # restart: same checkpoint, healthy sink over the same directories —
    # batch 1 replays the SAME offsets, overwrites the torn output, commits
    sink = IdempotentBatchSink(out)
    q2 = build_query(sink)
    q2.awaitTermination(120)
    got = {r["word"]: r["cnt"] for r in sink.read_latest(spark).collect()}
    assert got == _expected_counts()
    assert sink.committed_batches() == sorted(sink.committed_batches())


def test_idempotent_sink_skips_committed_batch(spark, tmp_path):
    """Replaying an already-committed batchId is a no-op (2PC idempotence)."""
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    df = spark.range(10).toDF("n")
    sink(df, 0)
    before = os.path.getmtime(os.path.join(sink.data_dir, "batch_id=0"))
    sink(spark.range(99).toDF("n"), 0)  # replay with different data: ignored
    assert sink.read_latest(spark).count() == 10
    assert os.path.getmtime(os.path.join(sink.data_dir, "batch_id=0")) == before


def test_kafka_source_builder_contract(spark):
    """No broker in this environment: verify the Kafka source builds the
    documented consumer contract (read_committed isolation) without
    executing. (Streaming plan construction requires the kafka connector
    jar; absent here, so we assert the option contract at the API level.)"""
    try:
        df = kafka_stream(spark, "localhost:9092", "wc-input")
        assert df.isStreaming
        assert [f.name for f in df.schema.fields] == [
            "key", "value", "topic", "partition", "offset", "timestamp",
        ]
    except Exception as e:  # connector jar not shipped in this container
        msg = str(e)
        assert "kafka" in msg.lower(), f"unexpected failure: {e}"
        pytest.skip("kafka connector not available offline — builder contract only")


def test_stream_stream_interval_join(spark, tmp_path):
    """Two live streams (purchases ⋈ views within a 1-hour lookback,
    per user) — the Flink intervalJoin shape with watermark-bounded
    state on both sides."""
    from kafka_flink_exactlyonce_example_spark.streaming import (
        stream_stream_interval_join,
    )
    from pyspark.sql import functions as F

    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "purch")
    os.makedirs(vdir), os.makedirs(pdir)
    views = [  # (user, ts, page)
        (1, "2024-01-01 10:00:00", "a"),   # in window of p1 (10:30)
        (1, "2024-01-01 09:00:00", "b"),   # too old for p1
        (2, "2024-01-01 10:20:00", "c"),   # other user
    ]
    purchases = [(1, "2024-01-01 10:30:00", 9.99)]
    with open(f"{vdir}/f.json", "w") as f:
        for u, ts, pg in views:
            f.write(json.dumps({"user_id": u, "ts": ts, "page": pg}) + "\n")
    with open(f"{pdir}/f.json", "w") as f:
        for u, ts, amt in purchases:
            f.write(json.dumps({"user_id": u, "ts": ts, "amount": amt}) + "\n")

    v = file_stream(spark, vdir, "user_id long, ts string, page string", fmt="json").withColumn(
        "ts", F.to_timestamp("ts")
    )
    p = file_stream(spark, pdir, "user_id long, ts string, amount double", fmt="json").withColumn(
        "ts", F.to_timestamp("ts")
    )
    joined = stream_stream_interval_join(p, v)
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(joined, sink, str(tmp_path / "ckpt"), output_mode="append")
    q.awaitTermination(180)
    rows = [(r["l_key"], r["r_page"]) for r in sink.read_committed(spark).collect()]
    assert rows == [(1, "a")], f"interval join matched wrong rows: {rows}"


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The 100 TB state path: RocksDB state store (state spills to
    disk instead of living on the JVM heap). The provider is a runtime
    SQL conf pinned per-query at stream start — set it for this query,
    restore after (a second SparkContext per process is not possible)."""
    from pyspark.sql import functions as F

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        inp = str(tmp_path / "in")
        _write_input_files(inp)
        lines = file_stream(
            spark, inp, "value string, event_ts string", fmt="json"
        ).withColumn("event_ts", F.to_timestamp("event_ts"))
        result = streaming_wordcount(lines, "event_ts", window="1 minute")
        sink = IdempotentBatchSink(str(tmp_path / "out"))
        q = run_exactly_once(result, sink, str(tmp_path / "ckpt"), output_mode="complete")
        q.awaitTermination(120)
        got = {r["word"]: r["cnt"] for r in sink.read_latest(spark).collect()}
        assert got == _expected_counts()
        # prove RocksDB actually backed the state: its artifacts exist
        state_dir = os.path.join(str(tmp_path / "ckpt"), "state")
        found_rocks = any(
            "rocksdb" in dirpath.lower()
            or any(f.endswith(".sst") or f.endswith(".zip") or f == "CURRENT" for f in files)
            for dirpath, _, files in os.walk(state_dir)
        )
        assert found_rocks, "no RocksDB artifacts under checkpoint state dir"
    finally:
        spark.conf.set(key, prev)


def test_watermark_drops_late_data(spark, tmp_path):
    """Flink-parity late-data semantics: an event arriving after the
    watermark has passed its window is DROPPED (append mode emits only
    finalized windows). Files trigger one at a time so the watermark
    advances past the straggler's window before it arrives."""
    from pyspark.sql import functions as F

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    # Spark applies the late filter with a one-batch lag (batch N drops
    # against the watermark computed from batch N-1's data), so the
    # straggler must arrive ≥2 batches after the watermark-advancing
    # data to be deterministically dropped.
    # f0: on-time events at 00:10
    with open(os.path.join(inp, "f0.json"), "w") as f:
        f.write(json.dumps({"value": "ontime", "event_ts": "2024-01-01 00:10:00"}) + "\n")
        f.write(json.dumps({"value": "ontime", "event_ts": "2024-01-01 00:10:01"}) + "\n")
    # f1: pushes event time to 00:20 → batch-2 watermark ≈ 00:19:50
    with open(os.path.join(inp, "f1.json"), "w") as f:
        f.write(json.dumps({"value": "closer", "event_ts": "2024-01-01 00:20:00"}) + "\n")
    # f2: straggler for window [00:00, 00:01) — 19+ min behind the
    # watermark in force when its batch plans
    with open(os.path.join(inp, "f2.json"), "w") as f:
        f.write(json.dumps({"value": "late", "event_ts": "2024-01-01 00:00:30"}) + "\n")
    # FileStreamSource orders batches by modification time — force the
    # intended sequence (identical mtimes make the order arbitrary)
    import time as _time

    now = _time.time()
    for i, name in enumerate(("f0.json", "f1.json", "f2.json")):
        os.utime(os.path.join(inp, name), (now + 10 * i, now + 10 * i))

    lines = file_stream(
        spark, inp, "value string, event_ts string", fmt="json", maxFilesPerTrigger="1"
    ).withColumn("event_ts", F.to_timestamp("event_ts"))
    result = streaming_wordcount(lines, "event_ts", window="1 minute", watermark="10 seconds")
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(result, sink, str(tmp_path / "ckpt"), output_mode="append")
    q.awaitTermination(120)
    words = {r["word"]: r["cnt"] for r in sink.read_committed(spark).collect()}
    assert words.get("ontime") == 2, f"on-time window missing: {words}"
    assert "late" not in words, f"late event leaked past the watermark: {words}"


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming dedup with bounded state (dropDuplicatesWithinWatermark):
    re-deliveries inside the watermark horizon collapse to one row —
    the Kafka at-least-once → effectively-once pattern with state that
    the watermark can evict (Flink dedup-with-TTL parity)."""
    from pyspark.sql import functions as F

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    rows = [  # event_id 1 delivered twice (redelivery), id 2 once
        {"event_id": 1, "value": "a", "event_ts": "2024-01-01 00:00:01"},
        {"event_id": 1, "value": "a", "event_ts": "2024-01-01 00:00:02"},
        {"event_id": 2, "value": "b", "event_ts": "2024-01-01 00:00:03"},
    ]
    with open(os.path.join(inp, "f0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = file_stream(
        spark, inp, "event_id long, value string, event_ts string", fmt="json"
    ).withColumn("event_ts", F.to_timestamp("event_ts"))
    deduped = stream.withWatermark("event_ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(deduped, sink, str(tmp_path / "ckpt"), output_mode="append")
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in sink.read_committed(spark).collect())
    assert got == [1, 2], f"dedup failed: {got}"


def test_custom_sessionize_event_time_timer(spark, tmp_path):
    """applyInPandasWithState + EventTimeTimeout (the Flink
    KeyedProcessFunction/onTimer analog): sessions emit when the
    watermark passes end+gap, not when data happens to stop."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.streaming import custom_sessionize

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    # batch 1: user 1 has two events 10 min apart (one session)
    with open(os.path.join(inp, "f0.json"), "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01 00:00:00"}) + "\n")
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01 00:10:00"}) + "\n")
    # batch 2: a much later event advances the watermark far past
    # end+gap → the timer fires and the closed session is emitted
    with open(os.path.join(inp, "f1.json"), "w") as f:
        f.write(json.dumps({"user_id": 2, "ts": "2024-01-01 06:00:00"}) + "\n")
    import time as _time

    now = _time.time()
    for i, name in enumerate(("f0.json", "f1.json")):
        os.utime(os.path.join(inp, name), (now + 10 * i, now + 10 * i))

    events = file_stream(
        spark, inp, "user_id long, ts string", fmt="json", maxFilesPerTrigger="1"
    ).withColumn("ts", F.to_timestamp("ts"))
    result = custom_sessionize(events, gap_seconds=1800, watermark="10 minutes")
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(result, sink, str(tmp_path / "ckpt"), output_mode="append")
    q.awaitTermination(180)
    rows = {
        r["user_id"]: (r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in sink.read_committed(spark).collect()
    }
    import datetime as dt

    us = lambda s: int(
        dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    assert rows.get(1) == (us("2024-01-01 00:00:00"), us("2024-01-01 00:10:00"), 2), rows
    # user 2's session is still OPEN (nothing advanced the watermark
    # past its end+gap) — a correct timer implementation must NOT emit it
    assert 2 not in rows, f"open session emitted early: {rows}"


def test_stream_static_enrich_picks_up_dim_changes(spark, tmp_path):
    """Stream-static broadcast join: the static side is re-planned per
    micro-batch, so a restarted query sees the UPDATED dimension for
    new batches while already-committed batches keep the old values —
    the slowly-changing-dimension contract (no state store involved)."""
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        stream_static_enrich,
    )

    inp, dim_dir = str(tmp_path / "in"), str(tmp_path / "dim")
    os.makedirs(inp)

    def write_dim(segment_of_user1: str) -> None:
        spark.createDataFrame(
            [(1, segment_of_user1), (2, "basic")], "user_id long, segment string"
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir)

    def write_event(fname: str, event_id: int, user_id: int) -> None:
        with open(os.path.join(inp, fname), "w") as f:
            f.write(json.dumps({"event_id": event_id, "user_id": user_id}) + "\n")

    write_dim("gold")
    write_event("f0.json", 100, 1)

    def run_once() -> None:
        stream = file_stream(spark, inp, "event_id long, user_id long", fmt="json")
        dim = spark.read.parquet(dim_dir)
        enriched = stream_static_enrich(stream, dim, key="user_id")
        sink = IdempotentBatchSink(str(tmp_path / "out"))
        q = run_exactly_once(
            enriched, sink, str(tmp_path / "ckpt"), output_mode="append"
        )
        q.awaitTermination(120)

    run_once()

    # dim changes; a new event arrives; the restarted query reads ONLY
    # the new file (checkpoint offset log) and joins it against the NEW dim
    write_dim("platinum")
    write_event("f1.json", 200, 1)
    run_once()

    sink = IdempotentBatchSink(str(tmp_path / "out"))
    got = {
        r["event_id"]: r["segment"]
        for r in sink.read_committed(spark).collect()
    }
    assert got == {100: "gold", 200: "platinum"}, got


def test_stream_static_join_is_broadcast_and_unmatched_keys_survive(spark, tmp_path):
    """The enrich join must broadcast the dim (never shuffle the
    stream) and keep unmatched stream rows (left join semantics)."""
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        stream_static_enrich,
    )

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "f0.json"), "w") as f:
        f.write(json.dumps({"event_id": 1, "user_id": 1}) + "\n")
        f.write(json.dumps({"event_id": 2, "user_id": 999}) + "\n")  # no dim row

    dim = spark.createDataFrame([(1, "gold")], "user_id long, segment string")
    stream = file_stream(spark, inp, "event_id long, user_id long", fmt="json")
    enriched = stream_static_enrich(stream, dim, key="user_id")

    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(enriched, sink, str(tmp_path / "ckpt"), output_mode="append")
    q.awaitTermination(120)

    rows = {r["event_id"]: r["segment"] for r in sink.read_committed(spark).collect()}
    assert rows == {1: "gold", 2: None}, rows

    # plan probe on the batch twin: broadcast, not a shuffled join
    batch = spark.read.json(inp, schema="event_id long, user_id long")
    plan = (
        stream_static_enrich(batch, dim, key="user_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_fanout_sink_exactly_once_across_crash(spark, tmp_path):
    """Fan-out to two sinks with a crash injected BETWEEN their
    commits: restart replays the batch, the committed sink skips, the
    torn sink overwrites — both end exactly-once with identical data."""
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        FanOutSink,
    )

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "f0.json"), "w") as f:
        for i in range(5):
            f.write(json.dumps({"event_id": i}) + "\n")

    dirs = [str(tmp_path / "out_a"), str(tmp_path / "out_b")]

    def start(sink):
        stream = file_stream(spark, inp, "event_id long", fmt="json")
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    crashing = FanOutSink(dirs)
    crashing.fail_on = 0  # crash batch 0 after sink A commits, before B
    q = start(crashing)
    with pytest.raises(Exception):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(q.exception().desc)
    assert crashing.sinks[0].committed_batches() == [0]  # A committed
    assert crashing.sinks[1].committed_batches() == []   # B torn

    clean = FanOutSink(dirs)  # fresh handler, same checkpoint + dirs
    q2 = start(clean)
    q2.awaitTermination(120)

    a = sorted(r["event_id"] for r in clean.sinks[0].read_committed(spark).collect())
    b = sorted(r["event_id"] for r in clean.sinks[1].read_committed(spark).collect())
    assert a == b == [0, 1, 2, 3, 4], (a, b)


def test_streaming_sliding_window_counts(spark, tmp_path):
    """Sliding windows on a stream: 1h window / 30m slide → each event
    appears in two windows; counts match the overlap arithmetic."""
    from kafka_flink_exactlyonce_example_spark.streaming import (
        streaming_windowed_counts,
    )
    from pyspark.sql import functions as F

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    rows = [  # (event_id, ts): 00:10 and 00:40 → windows differ
        (1, "2024-01-01 00:10:00"),
        (2, "2024-01-01 00:40:00"),
    ]
    with open(os.path.join(inp, "f0.json"), "w") as f:
        for eid, ts in rows:
            f.write(json.dumps({"event_id": eid, "ts": ts, "event_type": "view"}) + "\n")

    events = file_stream(
        spark, inp, "event_id long, ts string, event_type string", fmt="json"
    ).withColumn("ts", F.to_timestamp("ts"))
    result = streaming_windowed_counts(events, slide="30 minutes")
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(result, sink, str(tmp_path / "ckpt"), output_mode="complete")
    q.awaitTermination(120)

    got = {
        str(r["window_start"]): r["count"]
        for r in sink.read_latest(spark).collect()
    }
    # event 1 (00:10) ∈ [23:30,00:30) and [00:00,01:00)
    # event 2 (00:40) ∈ [00:00,01:00) and [00:30,01:30)
    assert got == {
        "2023-12-31 23:30:00": 1,
        "2024-01-01 00:00:00": 2,
        "2024-01-01 00:30:00": 1,
    }, got


def test_streaming_cumulate_matches_batch(spark, tmp_path):
    """CUMULATE window on a stream == the batch q_cumulate_window over
    the same events (sf0.001): the expansion + incremental aggregation
    is the same logical plan, so totals must agree exactly."""
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        streaming_cumulate,
    )

    # materialize the catalog-normalized events (raw parquet stores ns
    # timestamps as INT64 behind the nanosAsLong flag) and stream THAT
    inp = str(tmp_path / "in")

    from kafka_flink_exactlyonce_example_spark.sources import table

    batch_ev = table(spark, SMOKE_SF, "events")
    batch_ev.write.parquet(inp)
    stream_ev = spark.readStream.schema(batch_ev.schema).parquet(inp)
    result = streaming_cumulate(stream_ev)
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(result, sink, str(tmp_path / "ckpt"), output_mode="complete")
    q.awaitTermination(120)
    got = {
        (str(r["day"]), r["k"]): (r["n_events"], r["value_cents"])
        for r in sink.read_latest(spark).collect()
    }
    want = {
        (str(r["day"]), r["k"]): (r["n_events"], r["value_cents"])
        for r in streaming_cumulate(batch_ev).collect()
    }
    assert got == want and len(want) > 0


def test_kafka_sink_builder_contract(spark, tmp_path):
    """Mirror of the source-builder test for the producer side: the
    sink builder must emit the Kafka frame (binary key/value), carry
    the checkpoint, and be startable-shaped — without a broker we
    assert construction, not execution."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.streaming.sources import kafka_sink

    inp = str(tmp_path / "in")
    _write_input_files(inp)
    lines = file_stream(spark, inp, "value string, event_ts string", fmt="json")
    counted = (
        lines.select(F.explode(F.split("value", r"\s+")).alias("word"))
        .groupBy("word")
        .count()
        .select(
            F.col("word"),
            F.concat_ws("|", "word", "count").alias("value"),
        )
    )
    writer = kafka_sink(
        counted,
        "localhost:9092",
        "wc-output",
        str(tmp_path / "ckpt"),
        key_col="word",
    )
    # the writer is configured but NOT started (no broker offline);
    # starting would need the kafka connector jar — same contract level
    # as test_kafka_source_builder_contract
    assert writer is not None
    assert type(writer).__name__ == "DataStreamWriter"


def test_streaming_chunk_split_matches_batch(spark, tmp_path):
    """q_chunk_split is pure map-side expression work (sequence + slice
    + posexplode, no shuffle, no state), so the SAME logical plan must
    run unchanged as a stateless streaming transform and produce
    byte-identical chunks — the property that lets the chunking stage
    of an ingest pipeline sit directly on the stream with zero
    state-store cost."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.textstats import (
        _CHUNK,
        _MIN_TAIL,
        _STRIDE,
    )
    from kafka_flink_exactlyonce_example_spark.sources import table

    docs = table(spark, SMOKE_SF, "documents")
    inp = str(tmp_path / "in")
    docs.write.parquet(inp)

    def chunk(df):
        arr = F.split("text", " ")
        n = F.size(arr)
        chunks = df.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(split(text, ' ')), {_STRIDE}),"
                    f" s -> slice(split(text, ' '), s, {_CHUNK}))"
                )
            ).alias("chunk_idx", "chunk"),
        )
        return chunks.select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.md5(F.concat_ws(" ", "chunk")).alias("chunk_hash"),
            F.size("chunk").cast("long").alias("chunk_len"),
        ).filter((F.col("chunk_len") >= _MIN_TAIL) | (F.col("chunk_idx") == 0))

    stream = spark.readStream.schema(docs.schema).parquet(inp)
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(
        chunk(stream), sink, str(tmp_path / "ckpt"), output_mode="append"
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_hash"], r["chunk_len"])
        for r in sink.read_committed(spark).collect()
    }
    want = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_hash"], r["chunk_len"])
        for r in chunk(docs).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_c4_flags_match_batch(spark, tmp_path):
    """The q_c4_rules per-document FLAG stage is stateless map-side
    expression work (regexp + array predicates, no shuffle), so the
    identical logical plan must run as a streaming transform and emit
    the same flags per doc — the property that lets the C4-style
    ingest filter gate documents ON THE STREAM, dropping rejects
    before they ever hit storage, with zero state-store cost (only
    the census rollup is stateful, and that runs downstream)."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.textstats import (
        _STOPWORDS,
    )
    from kafka_flink_exactlyonce_example_spark.sources import table

    docs = table(spark, SMOKE_SF, "documents")
    inp = str(tmp_path / "in")
    docs.write.parquet(inp)

    def flags(df):
        words = F.filter(F.split("text", " "), lambda w: w != "")
        stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
        return df.select(
            "doc_id",
            (F.size(words) < 20).cast("int").alias("f_short"),
            (
                F.size(
                    F.filter(
                        F.split(F.lower(F.col("text")), " "),
                        lambda w: F.array_contains(stop_arr, w),
                    )
                )
                == 0
            ).cast("int").alias("f_no_stop"),
            (~F.col("text").rlike("[.!?]\\s*$")).cast("int").alias("f_no_punct"),
            (F.array_max(F.transform(words, F.length)) > 15)
            .cast("int")
            .alias("f_long"),
        )

    stream = spark.readStream.schema(docs.schema).parquet(inp)
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(
        flags(stream), sink, str(tmp_path / "ckpt"), output_mode="append"
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["f_short"], r["f_no_stop"], r["f_no_punct"], r["f_long"])
        for r in sink.read_committed(spark).collect()
    }
    want = {
        r["doc_id"]: (r["f_short"], r["f_no_stop"], r["f_no_punct"], r["f_long"])
        for r in flags(docs).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_gopher_flags_match_batch(spark, tmp_path):
    """q_gopher_rules' flag stage (gopher_flags) is stateless map-side
    expression work — array folds and INTEGER threshold comparisons
    only — so the identical logical plan must run as a streaming
    transform and emit the same flags per doc. Together with the C4
    twin this proves both canon heuristic filter banks gate documents
    on the stream with zero state-store cost; only the bounded
    source-grain census is stateful and runs downstream."""
    from kafka_flink_exactlyonce_example_spark.operators.textstats import (
        gopher_flags,
    )
    from kafka_flink_exactlyonce_example_spark.sources import table

    docs = table(spark, SMOKE_SF, "documents")
    inp = str(tmp_path / "in")
    docs.write.parquet(inp)

    stream = spark.readStream.schema(docs.schema).parquet(inp)
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(
        gopher_flags(stream), sink, str(tmp_path / "ckpt"), output_mode="append"
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["f_wc"], r["f_mwl"], r["f_rep"], r["f_stop"])
        for r in sink.read_committed(spark).collect()
    }
    want = {
        r["doc_id"]: (r["f_wc"], r["f_mwl"], r["f_rep"], r["f_stop"])
        for r in gopher_flags(docs).collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_left_outer_interval_join_emits_null_after_watermark(
    spark, tmp_path
):
    """Flink outer-intervalJoin parity: an unmatched left row must be
    emitted WITH NULL right columns — but only after the watermark
    proves no future right row can fall in its interval (state
    eviction drives the emission, not batch boundaries). Files trigger
    one at a time so the watermark demonstrably advances past the
    unmatched row's interval before the stream ends."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.streaming import (
        stream_stream_interval_join,
    )

    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "purch")
    os.makedirs(vdir), os.makedirs(pdir)
    # batch data: purchase u1@10:30 matches view u1@10:25; purchase
    # u3@10:31 has NO view -> must surface as (3, NULL) eventually
    with open(f"{vdir}/f0.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01 10:25:00", "page": "a"}) + "\n")
    with open(f"{pdir}/f0.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01 10:30:00", "amount": 9.99}) + "\n")
        f.write(json.dumps({"user_id": 3, "ts": "2024-01-01 10:31:00", "amount": 1.0}) + "\n")
    # advance BOTH streams' event time far past 10:31 + lookback so the
    # global watermark (min across inputs) closes u3's interval...
    with open(f"{vdir}/f1.json", "w") as f:
        f.write(json.dumps({"user_id": 8, "ts": "2024-01-01 13:00:00", "page": "z"}) + "\n")
    with open(f"{pdir}/f1.json", "w") as f:
        f.write(json.dumps({"user_id": 9, "ts": "2024-01-01 13:00:00", "amount": 0.5}) + "\n")
    # ...and one more batch on each side so the eviction pass runs
    with open(f"{vdir}/f2.json", "w") as f:
        f.write(json.dumps({"user_id": 8, "ts": "2024-01-01 14:00:00", "page": "z"}) + "\n")
    with open(f"{pdir}/f2.json", "w") as f:
        f.write(json.dumps({"user_id": 9, "ts": "2024-01-01 14:00:00", "amount": 0.5}) + "\n")
    import time as _time

    now = _time.time()
    for d in (vdir, pdir):
        for i, name in enumerate(("f0.json", "f1.json", "f2.json")):
            os.utime(os.path.join(d, name), (now + 10 * i, now + 10 * i))

    v = file_stream(
        spark, vdir, "user_id long, ts string, page string", fmt="json",
        maxFilesPerTrigger="1",
    ).withColumn("ts", F.to_timestamp("ts"))
    p = file_stream(
        spark, pdir, "user_id long, ts string, amount double", fmt="json",
        maxFilesPerTrigger="1",
    ).withColumn("ts", F.to_timestamp("ts"))
    joined = stream_stream_interval_join(
        p, v, lookback="10 minutes", watermark="10 seconds",
        join_type="left_outer",
    )
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(joined, sink, str(tmp_path / "ckpt"), output_mode="append")
    q.awaitTermination(240)
    rows = {
        (r["l_key"], r["r_page"]) for r in sink.read_committed(spark).collect()
    }
    assert (1, "a") in rows, f"matched pair missing: {rows}"
    assert (3, None) in rows, (
        f"unmatched left row never emitted with NULLs after watermark: {rows}"
    )


def test_streaming_window_join_twin(spark, tmp_path):
    """q_window_join's streaming twin: Spark rejects joining two
    streaming aggregations (chained stateful ops), so the twin is the
    ONE-aggregation pivot form (conditional per-side accumulators per
    (user, window), both-present filter) — the same state layout
    Flink's WindowJoin keeps. Append mode: a (user, window) row emits
    exactly once, after the watermark passes window end; a user with
    clicks but no purchase in the window must NOT emit."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.streaming import (
        IdempotentBatchSink,
        file_stream,
        streaming_window_join,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        run_exactly_once,
    )

    inp = str(tmp_path / "in")
    _os.makedirs(inp)
    # window [00:00, 01:00): user 1 has click+purchase (emits),
    # user 2 clicks only (must not emit)
    rows0 = [
        {"user_id": 1, "event_type": "click", "ts": "2024-01-01 00:05:00"},
        {"user_id": 1, "event_type": "click", "ts": "2024-01-01 00:15:00"},
        {"user_id": 1, "event_type": "purchase", "ts": "2024-01-01 00:30:00"},
        {"user_id": 2, "event_type": "click", "ts": "2024-01-01 00:40:00"},
    ]
    with open(_os.path.join(inp, "f0.json"), "w") as f:
        for r in rows0:
            f.write(_json.dumps(r) + "\n")
    # much later CLICK advances the watermark past 01:00 + 10 min.
    # It must be a click/purchase: Catalyst pushes the type filter
    # BELOW the EventTimeWatermark node (deterministic predicate on a
    # non-event-time column), so filtered-out types never advance the
    # watermark — the same per-side watermark semantics Flink's
    # WindowJoin has.
    with open(_os.path.join(inp, "f1.json"), "w") as f:
        f.write(
            _json.dumps(
                {"user_id": 3, "event_type": "click", "ts": "2024-01-01 06:00:00"}
            )
            + "\n"
        )
    # … and the watermark applies with a one-batch lag (it advances
    # AFTER the batch that carried the late data plans), so a third
    # batch is what actually emits the closed window
    with open(_os.path.join(inp, "f2.json"), "w") as f:
        f.write(
            _json.dumps(
                {"user_id": 3, "event_type": "click", "ts": "2024-01-01 07:00:00"}
            )
            + "\n"
        )
    now = _time.time()
    for i, name in enumerate(("f0.json", "f1.json", "f2.json")):
        _os.utime(_os.path.join(inp, name), (now + 10 * i, now + 10 * i))

    ev = file_stream(
        spark,
        inp,
        "user_id long, event_type string, ts string",
        fmt="json",
        maxFilesPerTrigger="1",
    ).withColumn("ts", F.to_timestamp("ts"))
    joined = streaming_window_join(ev)
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(joined, sink, str(tmp_path / "ckpt"), output_mode="append")
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["window_start"])): (r["n_clicks"], r["n_purchases"])
        for r in sink.read_committed(spark).collect()
    }
    assert got == {(1, "2024-01-01 00:00:00"): (2, 1)}, f"unexpected: {got}"


def test_continuous_aggregate_maintenance(spark, tmp_path):
    """Hypertable continuous-aggregate refresh, streaming side (the
    q_multires_rollup twin): an update-mode 1h windowed aggregation
    feeds ContinuousAggregateSink, which latest-wins-merges each
    batch's changed buckets into a snapshot-versioned materialized
    base. Contracts proven end to end: (1) after both batches the
    materialized base equals the batch-computed 1h rollup over ALL
    events — including a bucket UPDATED across batches; (2) replaying
    a committed batch is a byte-level no-op (exactly-once); (3) the
    6h level derives from the materialized base alone and matches the
    batch derivation."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.functions.money import cents
    from kafka_flink_exactlyonce_example_spark.streaming import file_stream
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        ContinuousAggregateSink,
        derive_coarser,
    )

    inp = str(tmp_path / "in")
    _os.makedirs(inp)
    rows0 = [
        {"event_type": "click", "value": 10.0, "ts": "2024-01-01 00:05:00"},
        {"event_type": "click", "value": 20.0, "ts": "2024-01-01 00:55:00"},
        {"event_type": "purchase", "value": 5.0, "ts": "2024-01-01 01:10:00"},
    ]
    rows1 = [  # second batch UPDATES the 00:00 click bucket …
        {"event_type": "click", "value": 30.0, "ts": "2024-01-01 00:30:00"},
        # … and inserts a new 06:00 bucket
        {"event_type": "click", "value": 7.0, "ts": "2024-01-01 06:15:00"},
    ]
    for i, rows in enumerate((rows0, rows1)):
        with open(_os.path.join(inp, f"f{i}.json"), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
    now = _time.time()
    for i in range(2):
        _os.utime(_os.path.join(inp, f"f{i}.json"), (now + 10 * i,) * 2)

    ev = file_stream(
        spark,
        inp,
        "event_type string, value double, ts string",
        fmt="json",
        maxFilesPerTrigger="1",
    ).withColumn("ts", F.to_timestamp("ts"))
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .select(F.col("w.start").alias("b"), "event_type", "n_events",
                "value_cents", "lo", "hi")
    )
    sink = ContinuousAggregateSink(str(tmp_path / "ca"), ["b", "event_type"])
    q = (
        agg.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # (1) materialized base == batch rollup over all events
    all_events = spark.read.schema(
        "event_type string, value double, ts string"
    ).json(inp).withColumn("ts", F.to_timestamp("ts"))
    expect = (
        all_events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .select(F.col("w.start").alias("b"), "event_type", "n_events",
                "value_cents", "lo", "hi")
    )
    got = sink.read_current(spark)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(got) == key(expect), "materialized base diverged from batch rollup"
    # the cross-batch UPDATE actually happened: 00:00 click bucket has 3 events
    upd = [r for r in got.collect()
           if r["event_type"] == "click" and str(r["b"]).startswith("2024-01-01 00:")]
    assert upd[0]["n_events"] == 3

    # (2) replaying the last committed batch is a no-op
    last = sink.committed_batches()[-1]
    before = key(sink.read_current(spark))
    sink(got.limit(0), last)  # replay: must short-circuit on the marker
    assert key(sink.read_current(spark)) == before

    # (3) 6h level derives from the materialized base alone
    got6 = derive_coarser(sink.read_current(spark), "b", 6 * 3600)
    exp6 = derive_coarser(expect, "b", 6 * 3600)
    assert key(got6) == key(exp6)


def test_continuous_aggregate_crash_mid_commit(spark, tmp_path):
    """Torn-snapshot recovery: a crash AFTER the snapshot write but
    BEFORE the marker rename leaves snap/batch_id=N on disk with no
    commit record. The replay must clobber the torn snapshot and
    converge to the same state a clean run produces — the two-phase
    property the IdempotentBatchSink crash test proves for the
    append sink, here for the mutable-table sink."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        ContinuousAggregateSink,
    )

    sink = ContinuousAggregateSink(str(tmp_path / "ca"), ["k"])
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    sink(b0, 0)

    b1 = spark.createDataFrame([("a", 10), ("c", 3)], ["k", "v"])
    # simulate the crash: write the snapshot exactly as __call__ would,
    # then "die" before the marker rename
    prev = spark.read.parquet(sink._snap_path(0))
    torn = prev.join(b1.select("k"), ["k"], "left_anti").unionByName(b1)
    torn.limit(1).write.mode("overwrite").parquet(sink._snap_path(1))  # torn!
    assert not sink.is_committed(1)
    # current table is untouched by the torn attempt
    cur = {r["k"]: r["v"] for r in sink.read_current(spark).collect()}
    assert cur == {"a": 1, "b": 2}

    # replay of batch 1 (same rows) clobbers the torn snapshot and commits
    sink(b1, 1)
    assert sink.is_committed(1)
    cur = {r["k"]: r["v"] for r in sink.read_current(spark).collect()}
    assert cur == {"a": 10, "b": 2, "c": 3}


def test_cdc_apply_streaming(spark, tmp_path):
    """CDC apply, streaming side (the q_cdc_merge twin — VERDICT r05
    item 7): a change feed streams through cdc_apply into a
    CdcUpsertSink. Contracts proven: (1) after both batches the
    snapshot equals the batch latest-wins-by-version merge over the
    WHOLE feed — including a key updated across batches AND a stale
    (lower-version) change arriving in a later batch that must NOT
    win; (2) replaying a committed batch is a no-op; (3) snapshot GC
    keeps only the last two generations."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.streaming import file_stream
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        CdcUpsertSink,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import cdc_apply

    inp = str(tmp_path / "in")
    _os.makedirs(inp)
    rows0 = [  # initial snapshot-ish feed; k=1 changed twice IN one batch
        {"k": 1, "seq": 1, "status": "new", "amt": 10.0},
        {"k": 1, "seq": 2, "status": "paid", "amt": 12.0},
        {"k": 2, "seq": 3, "status": "new", "amt": 20.0},
    ]
    rows1 = [  # k=2 updated; k=3 inserted; k=1 STALE change (seq 0 < 2)
        {"k": 2, "seq": 4, "status": "shipped", "amt": 21.0},
        {"k": 3, "seq": 5, "status": "new", "amt": 30.0},
        {"k": 1, "seq": 0, "status": "draft", "amt": 9.0},
    ]
    for i, rows in enumerate((rows0, rows1)):
        with open(_os.path.join(inp, f"f{i}.json"), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
    now = _time.time()
    for i in range(2):
        _os.utime(_os.path.join(inp, f"f{i}.json"), (now + 10 * i,) * 2)

    changes = file_stream(
        spark,
        inp,
        "k long, seq long, status string, amt double",
        fmt="json",
        maxFilesPerTrigger="1",
    )
    sink = CdcUpsertSink(str(tmp_path / "cdc"), ["k"], ["seq"])
    q = cdc_apply(changes, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # (1) snapshot == latest-wins-by-version over the whole feed
    cur = {
        r["k"]: (r["seq"], r["status"], r["amt"])
        for r in sink.read_current(spark).collect()
    }
    assert cur == {
        1: (2, "paid", 12.0),  # stale seq-0 change did NOT win
        2: (4, "shipped", 21.0),
        3: (5, "new", 30.0),
    }, f"unexpected snapshot: {cur}"

    # (2) replaying the last committed batch is a no-op
    last = sink.committed_batches()[-1]
    before = sorted(map(tuple, sink.read_current(spark).collect()))
    sink(sink.read_current(spark).limit(0), last)
    assert sorted(map(tuple, sink.read_current(spark).collect())) == before

    # (3) GC: at most the last two snapshot generations on disk
    snaps = [d for d in _os.listdir(sink.snap_dir) if d.startswith("batch_id=")]
    assert len(snaps) <= 2, f"snapshot GC failed: {snaps}"


def test_cdc_upsert_crash_mid_commit(spark, tmp_path):
    """Torn-snapshot recovery for the CDC sink: crash after the
    snapshot write, before the marker rename → replay clobbers the
    torn attempt and converges to the clean-run state, and a stale
    lower-version row still loses after the replay."""
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        CdcUpsertSink,
    )

    sink = CdcUpsertSink(str(tmp_path / "cdc"), ["k"], ["seq"])
    b0 = spark.createDataFrame(
        [(1, 1, "new"), (2, 2, "new")], ["k", "seq", "status"]
    )
    sink(b0, 0)

    b1 = spark.createDataFrame(
        [(1, 3, "paid"), (2, 0, "stale")], ["k", "seq", "status"]
    )
    # simulate the crash: torn snapshot on disk, no marker
    b1.limit(1).write.mode("overwrite").parquet(sink._snap_path(1))
    assert not sink.is_committed(1)
    cur = {r["k"]: r["status"] for r in sink.read_current(spark).collect()}
    assert cur == {1: "new", 2: "new"}  # current table untouched

    sink(b1, 1)  # replay: clobbers the torn snapshot, commits
    assert sink.is_committed(1)
    cur = {r["k"]: (r["seq"], r["status"])
           for r in sink.read_current(spark).collect()}
    assert cur == {1: (3, "paid"), 2: (2, "new")}  # stale seq-0 lost


def test_temporal_enrich_proc_time(spark, tmp_path):
    """Proc-time temporal join against the CDC-maintained dimension
    (Flink FOR SYSTEM_TIME AS OF proc_time): facts arriving AFTER a
    dimension update see the NEW version, and a dimension key the CDC
    feed never delivered joins as NULL (left enrichment)."""
    import json as _json
    import os as _os

    from kafka_flink_exactlyonce_example_spark.streaming import file_stream
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        CdcUpsertSink,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        temporal_enrich,
    )

    # 1) dimension: CDC-apply two versions of user 1, one of user 2
    dim_sink = CdcUpsertSink(str(tmp_path / "dim"), ["user_id"], ["seq"])
    b0 = spark.createDataFrame(
        [(1, 1, "bronze"), (2, 2, "silver")], ["user_id", "seq", "tier"]
    )
    dim_sink(b0, 0)
    b1 = spark.createDataFrame([(1, 3, "gold")], ["user_id", "seq", "tier"])
    dim_sink(b1, 1)

    # 2) fact stream: three events, one for an unknown user
    inp = str(tmp_path / "facts")
    _os.makedirs(inp)
    with open(_os.path.join(inp, "f0.json"), "w") as f:
        for r in [
            {"user_id": 1, "amt": 10.0},
            {"user_id": 2, "amt": 20.0},
            {"user_id": 99, "amt": 5.0},
        ]:
            f.write(_json.dumps(r) + "\n")
    facts = file_stream(spark, inp, "user_id long, amt double", fmt="json")

    q, rows = temporal_enrich(
        facts, dim_sink, "user_id", str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {r["user_id"]: r["tier"] for r in rows}
    # user 1 sees the LATEST committed version (gold, not bronze);
    # unknown user 99 enriches as NULL, the row is not dropped
    assert got == {1: "gold", 2: "silver", 99: None}, f"unexpected: {got}"


def test_temporal_enrich_schema_stable_before_first_snapshot(spark, tmp_path):
    """ADVICE r07: with ``dim_schema`` given, batches running BEFORE the
    first dimension snapshot commits must emit the JOINED schema (dim
    columns present, NULL) — not pass through un-joined — so the output
    stream's schema never changes mid-flight when the dimension
    appears."""
    import json as _json
    import os as _os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_flink_exactlyonce_example_spark.streaming import file_stream
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        CdcUpsertSink,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        temporal_enrich,
    )

    # dimension sink exists but NOTHING has committed yet
    dim_sink = CdcUpsertSink(str(tmp_path / "dim"), ["user_id"], ["seq"])
    dim_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("seq", LongType()),
            StructField("tier", StringType()),
        ]
    )

    inp = str(tmp_path / "facts")
    _os.makedirs(inp)
    with open(_os.path.join(inp, "f0.json"), "w") as f:
        f.write(_json.dumps({"user_id": 1, "amt": 10.0}) + "\n")
    facts = file_stream(spark, inp, "user_id long, amt double", fmt="json")

    schemas: list = []
    out: list = []

    def _capture(batch_df, batch_id):
        if batch_df.count():
            schemas.append([f.name for f in batch_df.schema.fields])
            out.extend(batch_df.collect())

    q, _ = temporal_enrich(
        facts,
        dim_sink,
        "user_id",
        str(tmp_path / "ckpt1"),
        out_sink=_capture,
        dim_schema=dim_schema,
    )
    q.awaitTermination(120)

    assert schemas and schemas[0] == ["user_id", "amt", "seq", "tier"], schemas
    assert out[0]["tier"] is None and out[0]["amt"] == 10.0

    # dimension commits; a later fact batch keeps the IDENTICAL schema
    dim_sink(
        spark.createDataFrame([(1, 1, "gold")], dim_schema), 0
    )
    with open(_os.path.join(inp, "f1.json"), "w") as f:
        f.write(_json.dumps({"user_id": 1, "amt": 20.0}) + "\n")
    facts2 = file_stream(spark, inp, "user_id long, amt double", fmt="json")
    q2, _ = temporal_enrich(
        facts2,
        dim_sink,
        "user_id",
        str(tmp_path / "ckpt2"),
        out_sink=_capture,
        dim_schema=dim_schema,
    )
    q2.awaitTermination(120)
    assert all(s == schemas[0] for s in schemas), f"schema drifted: {schemas}"
    enriched = [r for r in out if r["amt"] == 20.0]
    assert enriched and enriched[0]["tier"] == "gold"


def test_gc_keeps_markers_for_ancient_batches(spark, tmp_path):
    """ADVICE r07: snapshot GC drops old snapshot DATA but must KEEP
    every commit marker — ``is_committed`` is the replay-skip contract
    for ANY batch id the checkpoint might re-offer. A replayed batch
    whose snapshot data was GC'd must be a no-op, not re-merge."""
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        ContinuousAggregateSink,
    )

    sink = ContinuousAggregateSink(str(tmp_path / "ca"), ["k"])
    for i, rows in enumerate([[("a", 1)], [("b", 2)], [("c", 3)], [("d", 4)]]):
        sink(spark.createDataFrame(rows, ["k", "v"]), i)

    # data GC'd to the last two generations…
    assert sink.snapshot_batches() == [2, 3]
    # …but every marker survives
    assert sink.committed_batches() == [0, 1, 2, 3]
    assert all(sink.is_committed(b) for b in range(4))

    # replaying an ANCIENT batch (data long GC'd) is a strict no-op
    before = sorted(map(tuple, sink.read_current(spark).collect()))
    sink(spark.createDataFrame([("a", 999)], ["k", "v"]), 0)
    after = sorted(map(tuple, sink.read_current(spark).collect()))
    assert after == before, "replayed GC'd batch mutated the snapshot"
    assert sink.snapshot_batches() == [2, 3]


def test_gc_crash_between_marker_and_gc_recovers(spark, tmp_path):
    """Crash AFTER the marker rename but BEFORE _gc runs: the commit is
    durable (marker present), stale snapshot data lingers — and the
    NEXT successful commit's _gc sweeps it. No reader ever resolves the
    stale generation because read_current takes the latest marker-
    committed snapshot."""
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        ContinuousAggregateSink,
    )

    sink = ContinuousAggregateSink(str(tmp_path / "ca"), ["k"])
    sink(spark.createDataFrame([("a", 1)], ["k", "v"]), 0)
    sink(spark.createDataFrame([("b", 2)], ["k", "v"]), 1)

    # batch 2: simulate the crash window — commit fully, then undo _gc's
    # effect by recreating batch-0 snapshot data as a stale leftover
    sink(spark.createDataFrame([("c", 3)], ["k", "v"]), 2)
    spark.createDataFrame([("a", 1)], ["k", "v"]).write.mode(
        "overwrite"
    ).parquet(sink._snap_path(0))
    assert 0 in sink.snapshot_batches()  # stale generation lingers

    # reader still resolves the LATEST committed snapshot, not the stale one
    cur = {r["k"]: r["v"] for r in sink.read_current(spark).collect()}
    assert cur == {"a": 1, "b": 2, "c": 3}

    # the next commit's _gc sweeps the stale generation
    sink(spark.createDataFrame([("d", 4)], ["k", "v"]), 3)
    assert sink.snapshot_batches() == [2, 3]
    cur = {r["k"]: r["v"] for r in sink.read_current(spark).collect()}
    assert cur == {"a": 1, "b": 2, "c": 3, "d": 4}


def test_full_flink_application_composition(spark, tmp_path):
    """Capstone: the WHOLE Flink application shape as one composed
    run — CDC change feed → upsert dynamic table (CdcUpsertSink) →
    proc-time temporal enrichment of a fact stream → exactly-once
    enriched output (IdempotentBatchSink) → windowed rollup folded
    into a ContinuousAggregateSink → coarser level derived from the
    materialized base. Every stage is the runtime piece its own test
    proves; this pins that they COMPOSE (schemas line up, snapshots
    are visible downstream, markers gate every read)."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_flink_exactlyonce_example_spark.functions.money import cents
    from kafka_flink_exactlyonce_example_spark.streaming import file_stream
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        CdcUpsertSink,
        ContinuousAggregateSink,
        IdempotentBatchSink,
        derive_coarser,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        cdc_apply,
        temporal_enrich,
    )

    # -- 1. CDC feed maintains the user dimension (two runs: an update
    #       arrives after the first commit and must win by version)
    dim_sink = CdcUpsertSink(str(tmp_path / "dim"), ["user_id"], ["seq"])
    cdir = str(tmp_path / "changes")
    _os.makedirs(cdir)
    with open(_os.path.join(cdir, "c0.json"), "w") as f:
        for r in [
            {"user_id": 1, "seq": 1, "tier": "bronze"},
            {"user_id": 2, "seq": 2, "tier": "silver"},
        ]:
            f.write(_json.dumps(r) + "\n")
    cdc_apply(
        file_stream(spark, cdir, "user_id long, seq long, tier string"),
        dim_sink,
        str(tmp_path / "ck_cdc"),
    ).awaitTermination(120)
    with open(_os.path.join(cdir, "c1.json"), "w") as f:
        f.write(_json.dumps({"user_id": 1, "seq": 3, "tier": "gold"}) + "\n")
    cdc_apply(
        file_stream(spark, cdir, "user_id long, seq long, tier string"),
        dim_sink,
        str(tmp_path / "ck_cdc"),  # SAME checkpoint: the update is batch 1
    ).awaitTermination(120)

    # -- 2. fact stream enriched AT PROCESSING TIME against the dim,
    #       exactly-once into an idempotent sink
    fdir = str(tmp_path / "facts")
    _os.makedirs(fdir)
    with open(_os.path.join(fdir, "f0.json"), "w") as f:
        for r in [
            {"user_id": 1, "amt": 10.0, "ts": "2024-01-01 00:05:00"},
            {"user_id": 1, "amt": 2.5, "ts": "2024-01-01 00:55:00"},
            {"user_id": 2, "amt": 20.0, "ts": "2024-01-01 01:10:00"},
            {"user_id": 99, "amt": 5.0, "ts": "2024-01-01 07:30:00"},
        ]:
            f.write(_json.dumps(r) + "\n")
    out = IdempotentBatchSink(str(tmp_path / "enriched"))
    dim_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("seq", LongType()),
            StructField("tier", StringType()),
        ]
    )
    q, _ = temporal_enrich(
        file_stream(spark, fdir, "user_id long, amt double, ts timestamp"),
        dim_sink,
        "user_id",
        str(tmp_path / "ck_enrich"),
        out_sink=out,
        dim_schema=dim_schema,
    )
    q.awaitTermination(120)
    enriched = out.read_committed(spark)
    # the post-update dim version is what facts see (gold, not bronze)
    tiers = {r["user_id"]: r["tier"] for r in enriched.collect()}
    assert tiers == {1: "gold", 2: "silver", 99: None}

    # -- 3. hourly rollup of the enriched stream folded into the
    #       materialized continuous aggregate, then the 6 h level
    rollup = (
        enriched.select(
            F.col("ts"),
            F.coalesce("tier", F.lit("unknown")).alias("event_type"),
            F.col("amt").alias("value"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .select(
            F.col("w.start").alias("b"),
            "event_type",
            "n_events",
            "value_cents",
            "lo",
            "hi",
        )
    )
    ca = ContinuousAggregateSink(str(tmp_path / "ca"), ["b", "event_type"])
    ca(rollup, 0)
    base = {
        (str(r["b"]), r["event_type"]): (r["n_events"], r["value_cents"])
        for r in ca.read_current(spark).collect()
    }
    assert base[("2024-01-01 00:00:00", "gold")] == (2, 1250)
    assert base[("2024-01-01 01:00:00", "silver")] == (1, 2000)
    assert base[("2024-01-01 07:00:00", "unknown")] == (1, 500)

    got6 = {
        (str(r["b"]), r["event_type"]): (r["n_events"], r["value_cents"])
        for r in derive_coarser(ca.read_current(spark), "b", 6 * 3600).collect()
    }
    # 00:00 and 01:00 buckets merge into the 00:00 6h bucket per tier
    assert got6[("2024-01-01 00:00:00", "gold")] == (2, 1250)
    assert got6[("2024-01-01 00:00:00", "silver")] == (1, 2000)
    assert got6[("2024-01-01 06:00:00", "unknown")] == (1, 500)


# ---------------------------------------------------------------------------
# Round-9 adversarial fault injection on the 2-phase marker protocol
# (VERDICT r08 item 5): beyond the crash-window tests above, attack the
# protocol at the exact fault points a filesystem gives you — torn data
# without marker under a CONCURRENT reader, a crash INSIDE the marker
# create (mkstemp done, rename not), and marker-file corruption.
# ---------------------------------------------------------------------------


def test_torn_data_write_invisible_to_concurrent_reader(spark, tmp_path):
    """Kill between data-write and marker-rename, with a reader watching:
    the torn batch's data exists on disk but MUST be invisible to
    read_committed / read_current (the read_committed contract), and the
    restart replay must converge to exactly-once counts."""
    import os as _os

    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        ContinuousAggregateSink,
        IdempotentBatchSink,
    )

    # --- append-stream sink ---
    sink = IdempotentBatchSink(str(tmp_path / "eo"))
    sink(spark.createDataFrame([(1, "a")], ["id", "v"]), 0)
    # batch 1 dies AFTER the data write, BEFORE the marker rename:
    # perform exactly step 2 of the protocol by hand
    spark.createDataFrame([(2, "b")], ["id", "v"]).write.mode(
        "overwrite"
    ).parquet(_os.path.join(sink.data_dir, "batch_id=1"))
    assert _os.path.exists(_os.path.join(sink.data_dir, "batch_id=1"))
    # concurrent reader: only batch 0 is visible
    assert sink.committed_batches() == [0]
    got = sorted(map(tuple, sink.read_committed(spark).collect()))
    assert got == [(1, "a")], f"reader saw uncommitted data: {got}"
    # restart: Spark re-offers batch 1 (same rows) — overwrite + commit
    sink(spark.createDataFrame([(2, "b")], ["id", "v"]), 1)
    got = sorted(map(tuple, sink.read_committed(spark).collect()))
    assert got == [(1, "a"), (2, "b")]  # exactly once, no duplication

    # --- snapshot (continuous-aggregate) sink ---
    ca = ContinuousAggregateSink(str(tmp_path / "ca"), ["k"])
    ca(spark.createDataFrame([("a", 1)], ["k", "v"]), 0)
    # batch 1 merge result lands, marker does not
    spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]).write.mode(
        "overwrite"
    ).parquet(ca._snap_path(1))
    cur = {r["k"]: r["v"] for r in ca.read_current(spark).collect()}
    assert cur == {"a": 1}, f"reader resolved an uncommitted snapshot: {cur}"
    # restart replay of batch 1 clobbers the torn snapshot and commits
    ca(spark.createDataFrame([("b", 2)], ["k", "v"]), 1)
    cur = {r["k"]: r["v"] for r in ca.read_current(spark).collect()}
    assert cur == {"a": 1, "b": 2}


def test_crash_inside_marker_create_leaves_no_commit(spark, tmp_path):
    """Kill between mkstemp and rename: a ``.tmp*`` file sits in
    ``_commits``. It must not count as a commit, must not crash the
    listing, and the replay must complete the commit exactly once.
    Stray non-numeric files (editor droppings, lost+found) get the
    same treatment instead of raising ValueError."""
    import os as _os
    import tempfile as _tempfile

    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        IdempotentBatchSink,
    )

    sink = IdempotentBatchSink(str(tmp_path / "eo"))
    sink(spark.createDataFrame([(1, "a")], ["id", "v"]), 0)
    # batch 1: data written, then crash INSIDE the marker create
    spark.createDataFrame([(2, "b")], ["id", "v"]).write.mode(
        "overwrite"
    ).parquet(_os.path.join(sink.data_dir, "batch_id=1"))
    fd, _tmp = _tempfile.mkstemp(dir=sink.commits_dir, prefix=".tmp")
    _os.close(fd)
    # plus a stray non-numeric file a tool dropped in the directory
    with open(_os.path.join(sink.commits_dir, "README"), "w") as f:
        f.write("junk")

    assert sink.committed_batches() == [0]
    assert not sink.is_committed(1)
    got = sorted(map(tuple, sink.read_committed(spark).collect()))
    assert got == [(1, "a")]
    # replay completes the torn commit; exact counts
    sink(spark.createDataFrame([(2, "b")], ["id", "v"]), 1)
    assert sink.committed_batches() == [0, 1]
    got = sorted(map(tuple, sink.read_committed(spark).collect()))
    assert got == [(1, "a"), (2, "b")]


def test_corrupt_marker_content_is_still_a_commit(spark, tmp_path):
    """Marker files are existence-only commit bits: garbage CONTENT in
    a marker (bit rot, a tool writing into it) must not un-commit the
    batch — replay stays a no-op and readers still resolve the
    committed data. This pins the contract that no code path ever
    READS marker bytes."""
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        ContinuousAggregateSink,
        IdempotentBatchSink,
    )

    sink = IdempotentBatchSink(str(tmp_path / "eo"))
    sink(spark.createDataFrame([(1, "a")], ["id", "v"]), 0)
    with open(sink._marker(0), "w") as f:
        f.write("\x00\xff garbage \x7f")
    assert sink.is_committed(0)
    assert sink.committed_batches() == [0]
    # replay of the corrupt-marker batch with DIFFERENT rows is a no-op
    # (proves the skip happens before any write)
    sink(spark.createDataFrame([(999, "X")], ["id", "v"]), 0)
    got = sorted(map(tuple, sink.read_committed(spark).collect()))
    assert got == [(1, "a")]

    ca = ContinuousAggregateSink(str(tmp_path / "ca"), ["k"])
    ca(spark.createDataFrame([("a", 1)], ["k", "v"]), 0)
    ca(spark.createDataFrame([("b", 2)], ["k", "v"]), 1)
    with open(ca._marker(1), "w") as f:
        f.write("corrupt")
    ca(spark.createDataFrame([("b", 999)], ["k", "v"]), 1)  # replay: no-op
    cur = {r["k"]: r["v"] for r in ca.read_current(spark).collect()}
    assert cur == {"a": 1, "b": 2}


def test_torn_fanout_under_concurrent_readers(spark, tmp_path):
    """FanOutSink crash mid-fan-out, readers on BOTH destinations: the
    committed destination serves its data, the torn one refuses (no
    committed batches), and the replay converges both to identical
    exactly-once contents."""
    import pytest as _pytest

    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        FanOutSink,
    )

    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    fan = FanOutSink([d1, d2])
    fan.fail_on, fan.fail_after = 0, 1  # die after destination 0 commits
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    with _pytest.raises(RuntimeError, match="injected crash"):
        fan(df, 0)

    # destination 0 committed and readable; destination 1 torn: refuses
    got1 = sorted(map(tuple, fan.sinks[0].read_committed(spark).collect()))
    assert got1 == [(1, "a"), (2, "b")]
    assert fan.sinks[1].committed_batches() == []
    with _pytest.raises(FileNotFoundError):
        fan.sinks[1].read_committed(spark)

    # restart: replay the same batch — dest 0 skips, dest 1 commits
    fan.fail_on = None
    fan(df, 0)
    for s in fan.sinks:
        got = sorted(map(tuple, s.read_committed(spark).collect()))
        assert got == [(1, "a"), (2, "b")]


# ---------------------------------------------------------------------------
# Streaming ingest gate (VERDICT r09 item 6): frozen-index admission
# per micro-batch through the 2-phase marker sink — replay-safe
# decisions across a crash.
# ---------------------------------------------------------------------------


def _ingest_gate_fixture(spark, tmp_path, n_files=4):
    """Frozen corpus index + a stream-input dir of new-doc json files.

    Corpus/new split is the 'inc:' md5 tag on SMOKE_SF embeddings
    (exactly q_incremental_ann's convention); each item carries the
    doc's text and its embedding (doc_id == vec_id in the fixtures).
    One new item is PLANTED as a byte-exact copy of a corpus doc's
    text so the exact-dup path provably fires.
    """
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
    )

    docs = spark.read.parquet(f"{SMOKE_SF}/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    tagged = emb.select(
        "vec_id", "label", "embedding", hashing.is_new("vec_id").alias("is_new")
    )
    old = tagged.filter(~F.col("is_new")).select(
        "vec_id", "label", "embedding"
    )
    cent, seeds = frozen_index_frames(old)
    cent = cent.localCheckpoint()
    seeds = seeds.localCheckpoint()
    indexed = _assign_to_seeds(old, seeds).localCheckpoint()
    corpus_digests = (
        docs.join(old.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .select(
            F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("h")
        )
        .distinct()
        .localCheckpoint()
    )

    new_items = (
        tagged.filter(F.col("is_new"))
        .select(F.col("vec_id").alias("doc_id"), "embedding")
        .join(docs, "doc_id")
        .select("doc_id", "text", "embedding")
        .orderBy("doc_id")
        .collect()
    )
    corpus_text = (
        docs.join(old.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .orderBy("doc_id")
        .first()["text"]
    )
    inp = str(tmp_path / "gate_in")
    os.makedirs(inp, exist_ok=True)
    rows = [
        {
            "doc_id": r["doc_id"],
            # plant: first new item duplicates a corpus doc byte-exactly
            "text": corpus_text if i == 0 else r["text"],
            "embedding": [float(v) for v in r["embedding"]],
        }
        for i, r in enumerate(new_items)
    ]
    per = (len(rows) + n_files - 1) // n_files
    for fi in range(n_files):
        with open(os.path.join(inp, f"g{fi}.json"), "w") as f:
            for row in rows[fi * per : (fi + 1) * per]:
                f.write(json.dumps(row) + "\n")
    return inp, corpus_digests, cent, seeds, indexed


def test_streaming_ingest_gate_exactly_once_across_crash(spark, tmp_path):
    """Crash between decision write and commit marker → restart replays
    the batch, recomputes IDENTICAL admission decisions against the
    frozen index, commits once: read_committed holds every new doc's
    decision exactly once and equal to the batch-computed reference."""
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ingest_gate_decisions,
        streaming_ingest_gate,
    )

    inp, corpus_digests, cent, seeds, indexed = _ingest_gate_fixture(
        spark, tmp_path
    )
    schema = "doc_id bigint, text string, embedding array<float>"
    threshold = 0.35

    def build(sink):
        stream = file_stream(
            spark, inp, schema, fmt="json", maxFilesPerTrigger="1"
        )
        return streaming_ingest_gate(
            stream,
            corpus_digests,
            cent,
            seeds,
            indexed,
            sink,
            str(tmp_path / "gate_ckpt"),
            near_threshold=threshold,
        )

    out = str(tmp_path / "gate_out")
    crashing = _CrashOnce(out, crash_batch=1)
    q = build(crashing)
    # NOT pytest.raises(Exception): a sentinel raised inside that block
    # would satisfy it, silently passing when the crash batch is never
    # reached or the wait times out (round-13 self-review). A timeout
    # (awaitTermination returns False) is diagnosed as such and the
    # still-running query is stopped so it cannot bleed into later
    # tests on the shared session.
    outcome = None
    try:
        outcome = "finished" if q.awaitTermination(120) else "timed out"
    except Exception:
        pass  # the expected mid-protocol crash
    if outcome is not None:
        q.stop()
    assert outcome is None, f"query should have failed mid-protocol, {outcome}"
    assert not crashing.is_committed(1), "crashed batch must be uncommitted"

    sink = IdempotentBatchSink(out)
    q2 = build(sink)
    q2.awaitTermination(120)

    committed = sink.read_committed(spark)
    # the batch-computed reference over the SAME input files (so the
    # json float round-trip is identical by construction)
    static_new = spark.read.schema(schema).json(inp)
    ref = ingest_gate_decisions(
        static_new, corpus_digests, cent, seeds, indexed, threshold
    )

    got = sorted(
        (
            r["doc_id"],
            r["f_exact"],
            r["f_near"],
            r["neighbor_id"],
            r["sim"],
            r["admitted"],
        )
        for r in committed.collect()
    )
    want = sorted(
        (
            r["doc_id"],
            r["f_exact"],
            r["f_near"],
            r["neighbor_id"],
            r["sim"],
            r["admitted"],
        )
        for r in ref.collect()
    )
    # exactly once: every doc_id exactly one decision row
    ids = [g[0] for g in got]
    assert len(ids) == len(set(ids)), "duplicate decisions after replay"
    assert got == want, "replayed decisions differ from frozen-index batch"
    # the planted byte-exact duplicate is rejected through the exact path
    exact_rows = [g for g in got if g[1] == 1]
    assert exact_rows, "planted exact duplicate was not flagged"
    assert all(g[5] == 0 for g in exact_rows)
    # the gate admits something (it is a filter, not a wall)
    assert any(g[5] == 1 for g in got)
    # admitted == not (exact or near) row-wise
    assert all((g[5] == 1) == (g[1] == 0 and g[2] == 0) for g in got)


@pytest.mark.parametrize("rebuild_fires", [False, True])
def test_ingest_gate_rebuild_restart_lifecycle(spark, tmp_path, rebuild_fires):
    """Round-10 capstone, round-11 wiring (VERDICT r10 item 4): the
    FULL frozen-index lifecycle the gate's docstring promises — and
    the gen-2 rebuild decision now comes from q_index_refresh's OWN
    report (ingest.index_refresh_report), not test fiat. Generation 1
    streams against index v1 and crashes mid-batch; the report is run
    on (v1 cell census, gen-1 admitted routed by the frozen quantizer);
    then BOTH of its verdicts are exercised:

    - rebuild_fires=False (the report at the real _CELL_TARGET: no
      cell crosses its k boundary): the offline step does the CHEAP
      refresh — fold digests and APPEND the admitted vectors to the
      frozen quantizer's posting lists (frozen_route assignment; no
      retrain) — and the stream restarts on quantizer v1;
    - rebuild_fires=True (threshold retuned so the most-grown cell
      provably crosses k=1→2, the test_index_refresh_rebuild_flag
      _fires arithmetic): the report fires and the offline step does
      the WARM-START rebuild (round 12, VERDICT r11 item 5): retrain
      only the fired cells' sub-cell quantizers, keep v1 seeds and
      posting rows elsewhere, append admitted vectors at their
      frozen-routed cells — asserted against the cold full-retrain
      reference on BOTH admission verdicts and posting churn.

    Both paths then prove the same lifecycle contract:
    - exactly-once admission over the UNION of generations (every doc
      decided exactly once, none lost, none duplicated);
    - committed gen-1 batches keep their v1 decisions (markers stop
      recomputation); the crashed in-flight batch replays under v2
      (its v1 output was never committed, so this is legitimate);
    - the refresh is LIVE: a planted byte-copy of a gen-1-admitted doc
      arriving in gen 2 is REJECTED through the exact path by v2,
      while index v1 would have admitted it (counterfactual asserted).
    """
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators import ingest
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
        frozen_route,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ingest_gate_decisions,
        streaming_ingest_gate,
    )

    inp, digests1, cent1, seeds1, indexed1 = _ingest_gate_fixture(
        spark, tmp_path, n_files=4
    )
    schema = "doc_id bigint, text string, embedding array<float>"
    threshold = 0.35

    # pin the file-source processing order (it sorts by mtime): g0..g3
    files = sorted(os.listdir(inp))
    for i, fn in enumerate(files):
        t = 1_700_000_000 + i
        os.utime(os.path.join(inp, fn), (t, t))

    # choose the plant: a doc from the first two files that v1 ADMITS
    # (so its digest + vector enter the rebuild), byte-copied into the
    # LAST file under a fresh doc_id
    gen1_paths = [os.path.join(inp, files[0]), os.path.join(inp, files[1])]
    v1_g1 = ingest_gate_decisions(
        spark.read.schema(schema).json(gen1_paths),
        digests1, cent1, seeds1, indexed1, threshold,
    )
    admitted_g1 = {r["doc_id"] for r in v1_g1.filter("admitted = 1").collect()}
    assert admitted_g1, "fixture admits nothing in the first two files"
    src_id = min(admitted_g1)
    src = None
    for p in gen1_paths:
        with open(p) as f:
            for line in f:
                row = json.loads(line)
                if row["doc_id"] == src_id:
                    src = row
    planted_id = 10**9 + 7
    with open(os.path.join(inp, files[3]), "a") as f:
        f.write(
            json.dumps(
                {
                    "doc_id": planted_id,
                    "text": src["text"],
                    "embedding": src["embedding"],
                }
            )
            + "\n"
        )
    os.utime(os.path.join(inp, files[3]), (1_700_000_003, 1_700_000_003))

    out = str(tmp_path / "gate_out")
    ckpt = str(tmp_path / "gate_ckpt")

    def build(sink, digests, cent, seeds, indexed):
        stream = file_stream(
            spark, inp, schema, fmt="json", maxFilesPerTrigger="1"
        )
        return streaming_ingest_gate(
            stream, digests, cent, seeds, indexed, sink, ckpt,
            near_threshold=threshold,
        )

    # generation 1 on index v1: batches 0,1 commit; crash tears batch 2
    crashing = _CrashOnce(out, crash_batch=2)
    q = build(crashing, digests1, cent1, seeds1, indexed1)
    # NOT pytest.raises(Exception): a sentinel raised inside that block
    # would satisfy it, silently passing when the crash batch is never
    # reached or the wait times out (round-13 self-review). A timeout
    # (awaitTermination returns False) is diagnosed as such and the
    # still-running query is stopped so it cannot bleed into later
    # tests on the shared session.
    outcome = None
    try:
        outcome = "finished" if q.awaitTermination(120) else "timed out"
    except Exception:
        pass  # the expected mid-protocol crash
    if outcome is not None:
        q.stop()
    assert outcome is None, f"query should have failed mid-protocol, {outcome}"
    ro = IdempotentBatchSink(out)
    assert ro.committed_batches() == [0, 1]
    gen1 = ro.read_committed(spark).collect()
    gen1_ids = {r["doc_id"] for r in gen1}
    assert planted_id not in gen1_ids, "plant must arrive in generation 2"
    admitted_ids = sorted(
        r["doc_id"] for r in gen1 if r["admitted"] == 1
    )
    assert admitted_ids, "rebuild needs at least one admitted doc"

    # OFFLINE REFRESH, decided by THE OPERATOR'S REPORT: run
    # q_index_refresh's arithmetic on v1's cell census and the gen-1
    # admitted docs routed by the FROZEN quantizer (exactly where they
    # will land), then rebuild iff the report says a cell crossed its
    # sub-cell boundary. Vectors/labels come from the lake's
    # embeddings table (doc_id == vec_id in the fixtures).
    tagged = (
        spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
        .select("vec_id", "label", "embedding",
                hashing.is_new("vec_id").alias("is_new"))
    )
    adm_vec = spark.createDataFrame(
        [(int(i),) for i in admitted_ids], "vec_id bigint"
    )
    adm_emb = tagged.join(adm_vec, "vec_id").select("vec_id", "embedding")
    adm_routed = frozen_route(adm_emb, cent1, seeds1).localCheckpoint()
    oldcells = indexed1.groupBy(F.col("label").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_old")
    )
    newcells = adm_routed.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_admitted")
    )
    if rebuild_fires:
        # retune the report threshold so the most-grown cell provably
        # crosses k=1->2: T in (n_old/4, n_total/4] (the
        # test_index_refresh_rebuild_flag_fires arithmetic); T =
        # n_total/4 of the most-admitted cell satisfies both bounds
        grown = (
            oldcells.join(newcells, "cell")
            .orderBy(F.desc("n_admitted"), "cell")
            .first()
        )
        assert grown is not None and grown["n_admitted"] >= 1
        cell_target = (grown["n_old"] + grown["n_admitted"]) / 4.0
    else:
        cell_target = None  # the real _CELL_TARGET: nothing fires
    report = ingest.index_refresh_report(
        oldcells, newcells, cell_target=cell_target
    ).collect()
    fired = {r["cell"] for r in report if r["rebuild"] == 1}
    assert bool(fired) == rebuild_fires, (
        f"report verdict {sorted(fired)} does not match the "
        f"{'fire' if rebuild_fires else 'no-fire'} scenario"
    )
    # count arithmetic is consistent either way
    assert all(
        r["n_total"] == r["n_old"] + r["n_admitted"] for r in report
    )

    merged = (
        tagged.filter(~F.col("is_new"))
        .select("vec_id", "label", "embedding")
        .unionByName(
            tagged.join(adm_vec, "vec_id")
            .select("vec_id", "label", "embedding")
        )
    )
    if fired:
        # WARM-START rebuild — the fire-path DEFAULT (round 12,
        # VERDICT r11 item 5): retrain only the fired cells, keep v1
        # seeds (hence sub-cell identities and posting rows)
        # everywhere else, append the admitted vectors at their
        # frozen-routed sub-cells
        from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
            warm_index_rebuild,
        )

        cent2, seeds2, indexed2 = warm_index_rebuild(
            merged, seeds1, indexed1, adm_routed, fired
        )
        cent2, seeds2, indexed2 = (
            cent2.localCheckpoint(),
            seeds2.localCheckpoint(),
            indexed2.localCheckpoint(),
        )
        # COLD reference: the from-scratch retrain the warm path
        # replaces — kept to assert (a) admission semantics unchanged
        # and (b) measured posting churn below the cold baseline
        cent_c, seeds_c = frozen_index_frames(merged)
        cent_c, seeds_c = cent_c.localCheckpoint(), seeds_c.localCheckpoint()
        indexed_c = _assign_to_seeds(merged, seeds_c).localCheckpoint()

        def _cellmap(ix):
            return {
                r["vec_id"]: (r["label"], r["cell"]) for r in ix.collect()
            }

        m1, mw, mc = _cellmap(indexed1), _cellmap(indexed2), _cellmap(indexed_c)
        churn_warm = sum(1 for v, lc in mw.items() if m1.get(v) != lc)
        churn_cold = sum(1 for v, lc in mc.items() if m1.get(v) != lc)
        appended_ids = {r["vec_id"] for r in adm_routed.collect()}
        # (b) totality first: the warm index carries every merged
        # vector exactly once (the round-12 id-space fix — routed-vs-
        # lake divergent admits used to vanish here)
        assert set(mw) == set(mc), (
            f"warm/cold index membership differs: "
            f"{sorted(set(mw) ^ set(mc))[:5]}"
        )
        # warm churn is confined to fired-cell members + new rows
        assert all(
            (lc[0] in fired) or (v in appended_ids)
            for v, lc in mw.items()
            if m1.get(v) != lc
        ), "warm rebuild churned a posting outside the fired cells"
        # identity-preserving retrain: the fired cell's k did not
        # actually split at the real _CELL_TARGET, so its old members'
        # sub-cell ids survive verbatim — OLD-member churn is ZERO
        # under warm (a cold resample renames cells on md5 luck)
        old_moves_warm = sum(
            1 for v, lc in mw.items() if v in m1 and m1[v] != lc
        )
        assert old_moves_warm == 0, (
            f"warm retrain renamed {old_moves_warm} old postings"
        )
        assert churn_warm <= churn_cold, (
            f"warm-start churned more than cold: warm={churn_warm} "
            f"cold={churn_cold}"
        )
    else:
        # CHEAP refresh: keep quantizer v1, append the admitted
        # vectors to its posting lists at their frozen-routed cells
        cent2, seeds2 = cent1, seeds1
        indexed2 = indexed1.unionByName(
            adm_routed.select(
                "vec_id",
                F.col("cell").alias("label"),
                F.col("icell").alias("cell"),
                "embedding",
            )
        ).localCheckpoint()
    all_input = spark.read.schema(schema).json(inp)
    digests2 = (
        digests1.unionByName(
            all_input.join(
                adm_vec.withColumnRenamed("vec_id", "doc_id"), "doc_id"
            ).select(
                F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))
                .alias("h")
            )
        )
        .distinct()
        .localCheckpoint()
    )

    # generation 2: SAME checkpoint + sink, index v2 — the torn batch 2
    # replays under v2, then the remaining file processes under v2
    sink = IdempotentBatchSink(out)
    q2 = build(sink, digests2, cent2, seeds2, indexed2)
    q2.awaitTermination(120)

    rows = sink.read_committed(spark).collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)), "duplicate decisions across the swap"
    assert set(ids) == {
        r["doc_id"] for r in all_input.select("doc_id").collect()
    }, "lost decisions across the swap"

    def key(r):
        return (r["doc_id"], r["f_exact"], r["f_near"], r["neighbor_id"],
                r["sim"], r["admitted"])

    gen1_list = [int(i) for i in sorted(gen1_ids)]
    v1_ref = ingest_gate_decisions(
        all_input.filter(F.col("doc_id").isin(gen1_list)),
        digests1, cent1, seeds1, indexed1, threshold,
    )
    v2_ref = ingest_gate_decisions(
        all_input.filter(~F.col("doc_id").isin(gen1_list)),
        digests2, cent2, seeds2, indexed2, threshold,
    )
    want = sorted(
        [key(r) for r in v1_ref.collect()]
        + [key(r) for r in v2_ref.collect()]
    )
    assert sorted(key(r) for r in rows) == want, (
        "committed log != v1 decisions on gen-1 docs + v2 on the rest"
    )
    if fired:
        # (a) warm-start leaves the ADMITTED verdict unchanged vs the
        # cold full retrain. Full flag-tuple equality does NOT hold in
        # general — and the reason is a point in warm's favor: cold
        # re-indexes the admitted vectors at their LAKE LABEL, while
        # warm appends them at the cell the FROZEN ROUTER chose, which
        # is also where queries route — so a byte-copy querying an
        # appended vector finds it under warm (sim 1.0) but can miss
        # it under cold when the vector's geometric route differs from
        # its lake label. For OLD corpus members the k=1 identity
        # argument holds and the scans are identical either way.
        v2_cold = ingest_gate_decisions(
            all_input.filter(~F.col("doc_id").isin(gen1_list)),
            digests2, cent_c, seeds_c, indexed_c, threshold,
        )
        warm_rows = {r["doc_id"]: r for r in v2_ref.collect()}
        cold_rows = {r["doc_id"]: r for r in v2_cold.collect()}
        assert set(warm_rows) == set(cold_rows)
        assert all(
            warm_rows[d]["admitted"] == cold_rows[d]["admitted"]
            and warm_rows[d]["f_exact"] == cold_rows[d]["f_exact"]
            for d in warm_rows
        ), "warm-start rebuild changed an admission verdict vs cold"
        # the divergence case, pinned as warm's superiority: the
        # planted byte-copy's near-embedding check FINDS the appended
        # source vector through the geometric route (exact-duplicate
        # vector => sim 1.0), where the lake-label cold index misses it
        assert warm_rows[planted_id]["sim"] == 1.0, (
            "warm index failed to surface the appended source vector"
        )

    # the rebuild is live: v2 rejects the byte-copy of the admitted doc
    planted = next(r for r in rows if r["doc_id"] == planted_id)
    assert planted["f_exact"] == 1 and planted["admitted"] == 0
    # ...which index v1 would have admitted (the source doc itself was
    # admitted, so its digest was unknown and its own top-1 sim was
    # below threshold — a byte/vector copy scores identically)
    counter = ingest_gate_decisions(
        all_input.filter(F.col("doc_id") == planted_id),
        digests1, cent1, seeds1, indexed1, threshold,
    ).first()
    assert counter["admitted"] == 1, "plant was not a v1-admissible doc"


def test_streaming_gate_text_index_fold_lifecycle(spark, tmp_path):
    """Round 13 (VERDICT r12 item 3, the STREAMING side): the gate's
    optional frozen TEXT near-dup index goes through the same
    offline-fold + restart lifecycle as digests and vectors. Gen 1
    admits a fresh doc X through all three checks; the offline refresh
    folds X's digest AND its text signatures (the embedding index
    deliberately stays v1 — the near-emb path must not be what catches
    the plant); gen 2 restarts on the same checkpoint/sink and the
    planted NEAR-copy Y of X (one word of 30 changed → digests differ,
    embedding orthogonal) is REJECTED through f_near_text by v2 while
    the v1 text index would have admitted it (counterfactual
    asserted). Exactly-once admission holds over the generation union."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
        text_index_build,
        text_index_fold,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ingest_gate_decisions,
        streaming_ingest_gate,
    )

    schema = "doc_id bigint, lang string, text string, embedding array<float>"
    corpus = spark.createDataFrame(
        [
            (
                i,
                "en",
                " ".join(f"w{i}x{j}" for j in range(30)),
                [1.0, 0.01 * i, 0.0],
            )
            for i in range(1, 7)
        ],
        schema,
    )
    old = corpus.select(
        F.col("doc_id").alias("vec_id"),
        F.lit(0).cast("int").alias("label"),
        "embedding",
    )
    cent1, seeds1 = frozen_index_frames(old)
    cent1, seeds1 = cent1.localCheckpoint(), seeds1.localCheckpoint()
    indexed1 = _assign_to_seeds(old, seeds1).localCheckpoint()
    digests1 = (
        corpus.select(
            F.md5(F.lower(F.trim("text")).cast("binary")).alias("h")
        )
        .distinct()
        .localCheckpoint()
    )
    bands1, sets1 = text_index_build(corpus.select("doc_id", "lang", "text"))
    bands1, sets1 = bands1.localCheckpoint(), sets1.localCheckpoint()

    x_words = [f"fresh{j}" for j in range(30)]
    y_words = list(x_words)
    y_words[13] = "mutated"
    X = {
        "doc_id": 100, "lang": "en",
        "text": " ".join(x_words), "embedding": [0.0, 0.0, 1.0],
    }
    Y = {
        "doc_id": 200, "lang": "en",
        "text": " ".join(y_words), "embedding": [0.0, 1.0, 0.0],
    }
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    with open(f"{inp}/g0.json", "w") as f:
        f.write(json.dumps(X) + "\n")
    os.utime(f"{inp}/g0.json", (1_700_000_000, 1_700_000_000))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sink = IdempotentBatchSink(out)
    q = streaming_ingest_gate(
        file_stream(spark, inp, schema, fmt="json", maxFilesPerTrigger="1"),
        digests1, cent1, seeds1, indexed1, sink, ckpt,
        near_threshold=0.9, text_index=(bands1, sets1),
    )
    q.awaitTermination(120)
    g1 = {r["doc_id"]: r for r in sink.read_committed(spark).collect()}
    assert g1[100]["admitted"] == 1
    assert (g1[100]["f_exact"], g1[100]["f_near_text"], g1[100]["f_near"]) == (
        0, 0, 0,
    )

    # offline refresh: fold the admitted doc's digest AND text
    # signatures; embedding index stays v1 on purpose
    xdf = spark.createDataFrame(
        [(X["doc_id"], X["lang"], X["text"], X["embedding"])], schema
    )
    digests2 = (
        digests1.unionByName(
            xdf.select(
                F.md5(F.lower(F.trim("text")).cast("binary")).alias("h")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    bands2, sets2 = text_index_fold(
        bands1, sets1, xdf.select("doc_id", "lang", "text")
    )
    bands2, sets2 = bands2.localCheckpoint(), sets2.localCheckpoint()

    with open(f"{inp}/g1.json", "w") as f:
        f.write(json.dumps(Y) + "\n")
    os.utime(f"{inp}/g1.json", (1_700_000_001, 1_700_000_001))
    q2 = streaming_ingest_gate(
        file_stream(spark, inp, schema, fmt="json", maxFilesPerTrigger="1"),
        digests2, cent1, seeds1, indexed1, sink, ckpt,
        near_threshold=0.9, text_index=(bands2, sets2),
    )
    q2.awaitTermination(120)
    rows = sink.read_committed(spark).collect()
    ids = [r["doc_id"] for r in rows]
    assert sorted(ids) == [100, 200], "exactly-once broken across the swap"
    y_row = next(r for r in rows if r["doc_id"] == 200)
    # digest differs and the embedding is orthogonal — ONLY the folded
    # text index can reject the near-copy
    assert y_row["f_exact"] == 0 and y_row["f_near"] == 0
    assert y_row["f_near_text"] == 1 and y_row["admitted"] == 0
    # counterfactual: same digests/vectors but the v1 TEXT index — the
    # plant would have been admitted
    ydf = spark.createDataFrame(
        [(Y["doc_id"], Y["lang"], Y["text"], Y["embedding"])], schema
    )
    v1 = ingest_gate_decisions(
        ydf, digests2, cent1, seeds1, indexed1, 0.9,
        text_index=(bands1, sets1),
    ).first()
    assert v1["f_near_text"] == 0 and v1["admitted"] == 1


def test_streaming_gate_runs_on_persisted_generations(spark, tmp_path):
    """The full offline/online HANDOFF (round 13): every index the
    gate consumes — digests, frozen embedding index, frozen text
    index — is persisted to parquet per generation and each stream
    start loads it from disk ONLY (a serving restart is a new process;
    nothing in-memory may survive the swap). Gen 1 admits fresh doc X
    from the loaded gen-1 artifacts; the offline refresh folds X into
    digests + text index and SAVES generation 2; the restart on the
    same checkpoint/sink loads gen 2 and rejects the planted NEAR-copy
    Y through f_near_text. Exactly-once admission holds over the
    generation union. (The in-memory fold lifecycle is
    test_streaming_gate_text_index_fold_lifecycle; this pins that the
    parquet generations are a sufficient serving contract.)"""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
        load_text_index,
        save_text_index,
        text_index_build,
        text_index_fold,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
        load_frozen_index,
        save_frozen_index,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        streaming_ingest_gate,
    )

    schema = "doc_id bigint, lang string, text string, embedding array<float>"
    corpus = spark.createDataFrame(
        [
            (
                i,
                "en",
                " ".join(f"w{i}x{j}" for j in range(30)),
                [1.0, 0.01 * i, 0.0],
            )
            for i in range(1, 7)
        ],
        schema,
    )
    old = corpus.select(
        F.col("doc_id").alias("vec_id"),
        F.lit(0).cast("int").alias("label"),
        "embedding",
    )
    cent1, seeds1 = frozen_index_frames(old)
    indexed1 = _assign_to_seeds(old, seeds1)
    digests1 = corpus.select(
        F.md5(F.lower(F.trim("text")).cast("binary")).alias("h")
    ).distinct()
    bands1, sets1 = text_index_build(corpus.select("doc_id", "lang", "text"))

    # persist generation 1, then forget the in-memory frames
    gen1 = str(tmp_path / "gen1")
    save_frozen_index(gen1, cent1, seeds1, indexed1)
    save_text_index(f"{gen1}/text", bands1, sets1)
    digests1.write.parquet(f"{gen1}/digests")
    del cent1, seeds1, indexed1, digests1, bands1, sets1

    x_words = [f"fresh{j}" for j in range(30)]
    y_words = list(x_words)
    y_words[13] = "mutated"
    X = {
        "doc_id": 100, "lang": "en",
        "text": " ".join(x_words), "embedding": [0.0, 0.0, 1.0],
    }
    Y = {
        "doc_id": 200, "lang": "en",
        "text": " ".join(y_words), "embedding": [0.0, 1.0, 0.0],
    }
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    with open(f"{inp}/g0.json", "w") as f:
        f.write(json.dumps(X) + "\n")
    os.utime(f"{inp}/g0.json", (1_700_000_000, 1_700_000_000))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sink = IdempotentBatchSink(out)

    # generation 1 serving: every frame loaded from disk
    cent, seeds, indexed = load_frozen_index(spark, gen1)
    q = streaming_ingest_gate(
        file_stream(spark, inp, schema, fmt="json", maxFilesPerTrigger="1"),
        spark.read.parquet(f"{gen1}/digests"),
        cent, seeds, indexed, sink, ckpt,
        near_threshold=0.9,
        text_index=load_text_index(spark, f"{gen1}/text"),
    )
    q.awaitTermination(120)
    g1 = {r["doc_id"]: r for r in sink.read_committed(spark).collect()}
    assert g1[100]["admitted"] == 1

    # offline refresh: fold the admitted doc into digests + text index
    # and PERSIST generation 2 (embedding index carried over verbatim —
    # the near-emb path must not be what catches the plant)
    xdf = spark.createDataFrame(
        [(X["doc_id"], X["lang"], X["text"], X["embedding"])], schema
    )
    b1, s1 = load_text_index(spark, f"{gen1}/text")
    bands2, sets2 = text_index_fold(
        b1, s1, xdf.select("doc_id", "lang", "text")
    )
    gen2 = str(tmp_path / "gen2")
    save_text_index(f"{gen2}/text", bands2, sets2)
    spark.read.parquet(f"{gen1}/digests").unionByName(
        xdf.select(F.md5(F.lower(F.trim("text")).cast("binary")).alias("h"))
    ).distinct().write.parquet(f"{gen2}/digests")
    del b1, s1, bands2, sets2

    with open(f"{inp}/g1.json", "w") as f:
        f.write(json.dumps(Y) + "\n")
    os.utime(f"{inp}/g1.json", (1_700_000_001, 1_700_000_001))

    # generation 2 serving: restart on the same checkpoint/sink, all
    # frames again from disk only
    cent, seeds, indexed = load_frozen_index(spark, gen1)
    q2 = streaming_ingest_gate(
        file_stream(spark, inp, schema, fmt="json", maxFilesPerTrigger="1"),
        spark.read.parquet(f"{gen2}/digests"),
        cent, seeds, indexed, sink, ckpt,
        near_threshold=0.9,
        text_index=load_text_index(spark, f"{gen2}/text"),
    )
    q2.awaitTermination(120)
    rows = sink.read_committed(spark).collect()
    assert sorted(r["doc_id"] for r in rows) == [100, 200], (
        "exactly-once broken across the persisted-generation swap"
    )
    y_row = next(r for r in rows if r["doc_id"] == 200)
    assert y_row["f_exact"] == 0 and y_row["f_near"] == 0
    assert y_row["f_near_text"] == 1 and y_row["admitted"] == 0


def test_stream_stream_full_outer_interval_join_emits_nulls_both_sides(
    spark, tmp_path
):
    """Round-10 outer-join parity completion: full_outer interval join
    must emit BOTH an unmatched left row (NULL right columns) AND an
    unmatched right row (NULL left columns), each only after the
    watermark proves its interval can no longer be matched — both
    sides' state evictions drive emission. Same harness as the
    left_outer test with an extra never-purchased view planted."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.streaming import (
        stream_stream_interval_join,
    )

    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "purch")
    os.makedirs(vdir), os.makedirs(pdir)
    # purchase u1@10:30 matches view u1@10:25; purchase u3@10:31 has NO
    # view (left-unmatched); view u4@10:26 has NO purchase
    # (right-unmatched) -> both must surface with NULLs
    with open(f"{vdir}/f0.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01 10:25:00", "page": "a"}) + "\n")
        f.write(json.dumps({"user_id": 4, "ts": "2024-01-01 10:26:00", "page": "d"}) + "\n")
    with open(f"{pdir}/f0.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01 10:30:00", "amount": 9.99}) + "\n")
        f.write(json.dumps({"user_id": 3, "ts": "2024-01-01 10:31:00", "amount": 1.0}) + "\n")
    # advance BOTH streams far past the intervals, then one more batch
    # each so the eviction pass runs on both state stores
    with open(f"{vdir}/f1.json", "w") as f:
        f.write(json.dumps({"user_id": 8, "ts": "2024-01-01 13:00:00", "page": "z"}) + "\n")
    with open(f"{pdir}/f1.json", "w") as f:
        f.write(json.dumps({"user_id": 9, "ts": "2024-01-01 13:00:00", "amount": 0.5}) + "\n")
    with open(f"{vdir}/f2.json", "w") as f:
        f.write(json.dumps({"user_id": 8, "ts": "2024-01-01 14:00:00", "page": "z"}) + "\n")
    with open(f"{pdir}/f2.json", "w") as f:
        f.write(json.dumps({"user_id": 9, "ts": "2024-01-01 14:00:00", "amount": 0.5}) + "\n")
    import time as _time

    now = _time.time()
    for d in (vdir, pdir):
        for i, name in enumerate(("f0.json", "f1.json", "f2.json")):
            os.utime(os.path.join(d, name), (now + 10 * i, now + 10 * i))

    v = file_stream(
        spark, vdir, "user_id long, ts string, page string", fmt="json",
        maxFilesPerTrigger="1",
    ).withColumn("ts", F.to_timestamp("ts"))
    p = file_stream(
        spark, pdir, "user_id long, ts string, amount double", fmt="json",
        maxFilesPerTrigger="1",
    ).withColumn("ts", F.to_timestamp("ts"))
    joined = stream_stream_interval_join(
        p, v, lookback="10 minutes", watermark="10 seconds",
        join_type="full_outer",
    )
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = run_exactly_once(joined, sink, str(tmp_path / "ckpt"), output_mode="append")
    q.awaitTermination(240)
    rows = {
        (r["l_key"], r["r_key"], r["r_page"])
        for r in sink.read_committed(spark).collect()
    }
    assert (1, 1, "a") in rows, f"matched pair missing: {rows}"
    assert (3, None, None) in rows, (
        f"unmatched LEFT row never emitted with NULL rights: {rows}"
    )
    assert (None, 4, "d") in rows, (
        f"unmatched RIGHT row never emitted with NULL lefts: {rows}"
    )


def _ann_serve_fixture(spark, tmp_path, n_files=4):
    """Frozen index over the 'inc:' corpus split + a stream-input dir
    of query-vector json files (the is_new vectors play the query
    stream — same convention as the ingest-gate fixture, minus text)."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
    )

    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    tagged = emb.select(
        "vec_id", "label", "embedding", hashing.is_new("vec_id").alias("is_new")
    )
    old = tagged.filter(~F.col("is_new")).select(
        "vec_id", "label", "embedding"
    )
    cent, seeds = frozen_index_frames(old)
    cent = cent.localCheckpoint()
    seeds = seeds.localCheckpoint()
    indexed = _assign_to_seeds(old, seeds).localCheckpoint()

    queries = (
        tagged.filter(F.col("is_new"))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    inp = str(tmp_path / "serve_in")
    os.makedirs(inp, exist_ok=True)
    per = (len(queries) + n_files - 1) // n_files
    for fi in range(n_files):
        with open(os.path.join(inp, f"q{fi}.json"), "w") as f:
            for r in queries[fi * per : (fi + 1) * per]:
                f.write(
                    json.dumps(
                        {
                            "vec_id": r["vec_id"],
                            "embedding": [float(v) for v in r["embedding"]],
                        }
                    )
                    + "\n"
                )
    return inp, cent, seeds, indexed


def test_streaming_ann_serve_exactly_once_and_tombstone_swap(spark, tmp_path):
    """The query-path serving stream: (1) crash between answer write
    and commit marker → restart recomputes byte-identical answers and
    commits once, equal to the batch frozen-index search; (2) a
    takedown wave restarts serving on the SAME frozen generation plus
    a frozen tombstone set → answers equal the tombstone-filtered
    batch search, no deleted id is ever served, and at least one
    query's neighbor provably changed (the wave contains served
    neighbors, so the filter is load-bearing)."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ann_serve_results,
        streaming_ann_serve,
    )

    inp, cent, seeds, indexed = _ann_serve_fixture(spark, tmp_path)
    schema = "vec_id bigint, embedding array<float>"

    def build(sink, ckpt, tombstones=None):
        stream = file_stream(
            spark, inp, schema, fmt="json", maxFilesPerTrigger="1"
        )
        return streaming_ann_serve(
            stream,
            cent,
            seeds,
            indexed,
            sink,
            str(tmp_path / ckpt),
            tombstones=tombstones,
        )

    # phase 1: crash mid-protocol, restart, exactly-once equality
    out1 = str(tmp_path / "serve_out1")
    crashing = _CrashOnce(out1, crash_batch=1)
    q = build(crashing, "serve_ckpt1")
    # NOT pytest.raises(Exception): a sentinel raised inside that block
    # would satisfy it, silently passing when the crash batch is never
    # reached or the wait times out (round-13 self-review). A timeout
    # (awaitTermination returns False) is diagnosed as such and the
    # still-running query is stopped so it cannot bleed into later
    # tests on the shared session.
    outcome = None
    try:
        outcome = "finished" if q.awaitTermination(120) else "timed out"
    except Exception:
        pass  # the expected mid-protocol crash
    if outcome is not None:
        q.stop()
    assert outcome is None, f"query should have failed mid-protocol, {outcome}"
    assert not crashing.is_committed(1)

    sink1 = IdempotentBatchSink(out1)
    q2 = build(sink1, "serve_ckpt1")
    q2.awaitTermination(120)

    static_q = spark.read.schema(schema).json(inp)
    row = lambda r: (r["vec_id"], r["cell"], r["neighbor_id"], r["sim"])
    got1 = sorted(row(r) for r in sink1.read_committed(spark).collect())
    want1 = sorted(
        row(r)
        for r in ann_serve_results(static_q, cent, seeds, indexed).collect()
    )
    ids = [g[0] for g in got1]
    assert len(ids) == len(set(ids)), "duplicate answers after replay"
    assert got1 == want1, "replayed answers differ from batch search"

    # phase 2: takedown wave = three ids that WERE served as neighbors
    served = sorted({g[2] for g in got1 if g[2] is not None})[:3]
    assert len(served) == 3
    wave = spark.createDataFrame(
        [(int(v),) for v in served], "vec_id bigint"
    ).localCheckpoint()

    out2 = str(tmp_path / "serve_out2")
    sink2 = IdempotentBatchSink(out2)
    q3 = build(sink2, "serve_ckpt2", tombstones=wave)
    q3.awaitTermination(120)

    got2 = sorted(row(r) for r in sink2.read_committed(spark).collect())
    want2 = sorted(
        row(r)
        for r in ann_serve_results(
            static_q, cent, seeds, indexed, tombstones=wave
        ).collect()
    )
    assert got2 == want2
    assert not (set(served) & {g[2] for g in got2}), (
        "a tombstoned id was served as a neighbor"
    )
    # same query set answered, and the filter changed at least one answer
    assert [g[0] for g in got2] == ids
    assert got2 != got1


def test_streaming_serve_generation_swap_on_persisted_index(spark, tmp_path):
    """The serve-side HANDOFF (the gate has
    test_streaming_gate_runs_on_persisted_generations; this is the
    query path): generation 1 is persisted in the BUCKETED layout and
    served from the loaded frames only; a takedown wave (ids that
    WERE served as neighbors) is persisted in the same layout and a
    restart on the SAME checkpoint/sink answers the next batch with
    the loaded wave anti-joined (no deleted id served); the offline
    warm compact then removes the rows for good, generation 2 is
    persisted, and a second restart serves from it. Exactly-once
    holds over the union of the three phases, and every phase's
    committed answers equal the batch search over exactly the frames
    that phase loaded from disk."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
    )
    from kafka_flink_exactlyonce_example_spark.operators import simsearch
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ann_serve_results,
        streaming_ann_serve,
    )

    old = spark.createDataFrame(
        [(i, 0, [1.0, 0.03 * i, 0.002 * (i * i % 17)]) for i in range(40)]
        + [(100 + i, 1, [0.0, 1.0, 0.05 * i]) for i in range(10)],
        "vec_id bigint, label int, embedding array<float>",
    )
    cent1, seeds1 = simsearch.frozen_index_frames(old)
    cent1, seeds1 = cent1.localCheckpoint(), seeds1.localCheckpoint()
    indexed1 = _assign_to_seeds(old, seeds1).localCheckpoint()
    gen1 = str(tmp_path / "sgen1")
    simsearch.save_frozen_index_bucketed(gen1, "sg1", cent1, seeds1, indexed1)

    schema = "vec_id bigint, embedding array<float>"
    inp = str(tmp_path / "sin")
    os.makedirs(inp)

    def put(fname, rows, mtime):
        with open(os.path.join(inp, fname), "w") as f:
            for vid, emb in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": emb}) + "\n")
        os.utime(os.path.join(inp, fname), (mtime, mtime))

    out, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    sink = IdempotentBatchSink(out)

    def serve(cent, seeds, indexed, wave):
        q = streaming_ann_serve(
            file_stream(spark, inp, schema, fmt="json", maxFilesPerTrigger="4"),
            cent, seeds, indexed, sink, ckpt, tombstones=wave,
        )
        # a timed-out (still-running) query must not be treated as a
        # finished phase: the next phase would start a second query on
        # the same checkpoint/sink (self-review)
        finished = q.awaitTermination(120)
        if not finished:
            q.stop()
        assert finished, "serve phase timed out"

    row = lambda r: (r["vec_id"], r["cell"], r["neighbor_id"], r["sim"])

    # phase 1: serve from the LOADED bucketed generation, no wave
    put("p0.json", [(900, [0.0, 1.0, 0.35]), (901, [1.0, 0.5, 0.01])],
        1_700_000_000)
    c, s, x = simsearch.load_frozen_index_bucketed(spark, gen1, "sg1")
    try:
        serve(c, s, x, None)
        g1 = {row(r) for r in sink.read_committed(spark).collect()}
        served = sorted(nb for _, _, nb, _ in g1 if nb is not None)
        assert served, "phase 1 served nothing"

        # phase 2: persist a wave of ids that WERE served; restart on
        # the same checkpoint with the loaded wave
        wave_ids = served[:2]
        simsearch.save_tombstones_bucketed(
            spark.createDataFrame([(int(v),) for v in wave_ids],
                                  "vec_id bigint"),
            "sg1", str(tmp_path / "swave"),
        )
        put("p1.json", [(902, [0.0, 1.0, 0.35])], 1_700_000_001)
        wave = spark.table("sg1_tombstones")
        serve(c, s, x, wave)
        g2 = {row(r) for r in sink.read_committed(spark).collect()}
        new2 = g2 - g1
        assert new2, "phase 2 committed nothing new"
        assert not (set(wave_ids) & {nb for _, _, nb, _ in new2}), (
            "a tombstoned id was served after the wave restart"
        )

        # phase 3: offline warm compact -> generation 2 persisted ->
        # restart serves from the loaded gen 2, wave retired
        cent2, seeds2, indexed2 = simsearch.warm_index_compact(
            seeds1, indexed1, wave, fired_labels=[]
        )
        gen2 = str(tmp_path / "sgen2")
        simsearch.save_frozen_index_bucketed(
            gen2, "sg2", cent2.localCheckpoint(), seeds2.localCheckpoint(),
            indexed2.localCheckpoint(),
        )
        put("p2.json", [(903, [0.0, 1.0, 0.40])], 1_700_000_002)
        c2, s2, x2 = simsearch.load_frozen_index_bucketed(spark, gen2, "sg2")
        serve(c2, s2, x2, None)
        g3 = {row(r) for r in sink.read_committed(spark).collect()}
        new3 = g3 - g2
        assert new3
        assert not (set(wave_ids) & {nb for _, _, nb, _ in new3}), (
            "a compacted-away id resurfaced from generation 2"
        )

        # exactly-once over the union: every query answered once —
        # counted on the RAW committed rows, not a set (a duplicate
        # commit of byte-identical answers would collapse in a set
        # and hide the violation — self-review)
        committed_rows = sink.read_committed(spark).collect()
        assert len(committed_rows) == 4
        ids = sorted(r["vec_id"] for r in committed_rows)
        assert ids == [900, 901, 902, 903]

        # each phase's answers equal the batch search over exactly the
        # frames that phase loaded
        def batch(vids, cc, ss, xx, wv):
            probe = spark.read.schema(schema).json(inp).filter(
                F.col("vec_id").isin(vids)
            )
            return {row(r) for r in ann_serve_results(
                probe, cc, ss, xx, tombstones=wv).collect()}

        assert g1 == batch([900, 901], c, s, x, None)
        assert new2 == batch([902], c, s, x, wave)
        assert new3 == batch([903], c2, s2, x2, None)
    finally:
        for t in ("sg1_postings", "sg1_tombstones", "sg2_postings"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_gate_on_compacted_text_generation(spark, tmp_path):
    """Round 14 (VERDICT r13 item 1, the STREAMING side): the takedown
    lifecycle on PERSISTED text generations. Gen 1's index contains
    doc 1; the stream rejects a planted near-copy of it through
    f_near_text — correct then, but doc 1 is subsequently TAKEN DOWN,
    and a fresh near-copy must not keep dying on a ghost. The offline
    compact (load gen 1 → text_index_compact → save gen 2) removes the
    tombstoned doc's bands + word set + digest; the restart on the
    same checkpoint/sink loads gen 2 and ADMITS the same content under
    a new doc id, while a near-copy of a SURVIVING doc is still
    rejected. Exactly-once admission holds over the generation union
    (the gen-1 rejection stands — committed batches are never
    recomputed)."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
        load_text_index,
        save_text_index,
        text_index_build,
        text_index_compact,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
        load_frozen_index,
        save_frozen_index,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        streaming_ingest_gate,
    )

    schema = "doc_id bigint, lang string, text string, embedding array<float>"
    corpus = spark.createDataFrame(
        [
            (
                i,
                "en",
                " ".join(f"w{i}x{j}" for j in range(30)),
                [1.0, 0.01 * i, 0.0],
            )
            for i in range(1, 7)
        ],
        schema,
    )
    old = corpus.select(
        F.col("doc_id").alias("vec_id"),
        F.lit(0).cast("int").alias("label"),
        "embedding",
    )
    cent1, seeds1 = frozen_index_frames(old)
    indexed1 = _assign_to_seeds(old, seeds1)
    gen1 = str(tmp_path / "gen1")
    save_frozen_index(gen1, cent1, seeds1, indexed1)
    bands1, sets1 = text_index_build(corpus.select("doc_id", "lang", "text"))
    save_text_index(f"{gen1}/text", bands1, sets1)
    corpus.select(
        F.md5(F.lower(F.trim("text")).cast("binary")).alias("h")
    ).distinct().write.parquet(f"{gen1}/digests")
    del cent1, seeds1, indexed1, bands1, sets1

    def near_copy_of(src: int, pid: int) -> dict:
        words = [f"w{src}x{j}" for j in range(30)]
        words[13] = "mutated"
        return {
            "doc_id": pid, "lang": "en",
            "text": " ".join(words), "embedding": [0.0, 1.0, 0.0],
        }

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    with open(f"{inp}/g0.json", "w") as f:
        f.write(json.dumps(near_copy_of(1, 900)) + "\n")
    os.utime(f"{inp}/g0.json", (1_700_000_000, 1_700_000_000))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sink = IdempotentBatchSink(out)
    cent, seeds, indexed = load_frozen_index(spark, gen1)
    q = streaming_ingest_gate(
        file_stream(spark, inp, schema, fmt="json", maxFilesPerTrigger="1"),
        spark.read.parquet(f"{gen1}/digests"),
        cent, seeds, indexed, sink, ckpt,
        near_threshold=0.9,
        text_index=load_text_index(spark, f"{gen1}/text"),
    )
    q.awaitTermination(120)
    g1 = {r["doc_id"]: r for r in sink.read_committed(spark).collect()}
    assert g1[900]["f_near_text"] == 1 and g1[900]["admitted"] == 0, (
        "gen-1 must reject the near-copy while doc 1 is live"
    )

    # offline takedown window: doc 1 leaves. Compact the persisted
    # text generation and rebuild the digest relation over survivors.
    takedowns = spark.createDataFrame([(1,)], "doc_id bigint")
    b1, s1 = load_text_index(spark, f"{gen1}/text")
    bands2, sets2 = text_index_compact(b1, s1, takedowns)
    gen2 = str(tmp_path / "gen2")
    save_text_index(f"{gen2}/text", bands2, sets2)
    corpus.filter(F.col("doc_id") != 1).select(
        F.md5(F.lower(F.trim("text")).cast("binary")).alias("h")
    ).distinct().write.parquet(f"{gen2}/digests")
    del b1, s1, bands2, sets2

    # same content, new doc id (901) + a near-copy of a SURVIVOR (902)
    with open(f"{inp}/g1.json", "w") as f:
        f.write(json.dumps(near_copy_of(1, 901)) + "\n")
        f.write(json.dumps(near_copy_of(2, 902)) + "\n")
    os.utime(f"{inp}/g1.json", (1_700_000_001, 1_700_000_001))

    cent, seeds, indexed = load_frozen_index(spark, gen1)
    q2 = streaming_ingest_gate(
        file_stream(spark, inp, schema, fmt="json", maxFilesPerTrigger="1"),
        spark.read.parquet(f"{gen2}/digests"),
        cent, seeds, indexed, sink, ckpt,
        near_threshold=0.9,
        text_index=load_text_index(spark, f"{gen2}/text"),
    )
    q2.awaitTermination(120)
    rows = {r["doc_id"]: r for r in sink.read_committed(spark).collect()}
    assert sorted(rows) == [900, 901, 902], (
        "exactly-once broken across the compacted-generation swap"
    )
    assert rows[900]["admitted"] == 0, "committed gen-1 verdict must stand"
    assert rows[901]["f_near_text"] == 0 and rows[901]["admitted"] == 1, (
        "near-copy of the taken-down doc must be admitted post-compact"
    )
    assert rows[902]["f_near_text"] == 1 and rows[902]["admitted"] == 0, (
        "near-copy of a surviving doc must still be rejected"
    )


def test_streaming_ann_serve_filtered_routes(spark, tmp_path):
    """Round 14 (VERDICT r13 item 4): FILTERED serving end-to-end —
    the stream resolves a predicated request ONCE at start via the
    composed planner and every batch builds only the chosen plan.
    (1) The ~50% parity predicate at recall 0.45 resolves to fivf
    (the graded q_serve_filtered arithmetic), survives a crash
    between answer write and commit marker with byte-identical
    replayed answers equal to the batch search, never serves an
    odd-label or tombstoned neighbor, and the tombstone set is
    load-bearing (at least one answer changed vs the unwaved batch
    search). (2) A recall-1.0 request resolves to fbrute and the
    committed answers equal the exact survivor scan."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        _SEL_LABEL,
        serve_route,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ann_serve_results,
        streaming_ann_serve,
    )

    inp, cent, seeds, indexed = _ann_serve_fixture(spark, tmp_path)
    schema = "vec_id bigint, embedding array<float>"
    even = (F.col("label") % 2) == 0
    wave = indexed.filter(hashing.is_del("vec_id")).select("vec_id").localCheckpoint()

    def build(sink, ckpt, predicate, recall_target, tombstones=None):
        return streaming_ann_serve(
            file_stream(spark, inp, schema, fmt="json", maxFilesPerTrigger="1"),
            cent, seeds, indexed, sink, str(tmp_path / ckpt),
            tombstones=tombstones, k=3,
            predicate=predicate, recall_target=recall_target,
            candidate_budget=1_000_000,
        )

    # --- fivf route, tombstoned, crash mid-protocol then replay ---
    assert serve_route(indexed, even, 0.45, 1_000_000, wave)["index"] == "fivf"
    out1 = str(tmp_path / "fserve_out1")
    crashing = _CrashOnce(out1, crash_batch=1)
    q = build(crashing, "fserve_ckpt1", even, 0.45, tombstones=wave)
    outcome = None
    try:
        outcome = "finished" if q.awaitTermination(120) else "timed out"
    except Exception:
        pass  # the expected mid-protocol crash
    if outcome is not None:
        q.stop()
    assert outcome is None, f"query should have failed mid-protocol, {outcome}"
    assert not crashing.is_committed(1)

    sink1 = IdempotentBatchSink(out1)
    q2 = build(sink1, "fserve_ckpt1", even, 0.45, tombstones=wave)
    q2.awaitTermination(120)

    static_q = spark.read.schema(schema).json(inp)
    row = lambda r: (
        r["vec_id"], r["cell"], r["nb_rank"], r["neighbor_id"], r["sim"]
    )
    got = sorted(row(r) for r in sink1.read_committed(spark).collect())
    want = sorted(
        row(r)
        for r in ann_serve_results(
            static_q, cent, seeds, indexed, tombstones=wave, k=3,
            predicate=even,
            route=serve_route(indexed, even, 0.45, 1_000_000, wave),
        ).collect()
    )
    assert got == want, "replayed filtered answers differ from batch search"
    served = {g[3] for g in got if g[3] is not None}
    odd_or_dead = indexed.filter(
        (F.col("label") % 2 == 1) | hashing.is_del("vec_id")
    ).select("vec_id")
    bad = {r["vec_id"] for r in odd_or_dead.collect()} & served
    assert not bad, f"served a predicate-failing or tombstoned id: {bad}"
    # the wave is load-bearing: answers differ from the unwaved search
    unwaved = sorted(
        row(r)
        for r in ann_serve_results(
            static_q, cent, seeds, indexed, k=3, predicate=even,
            route=serve_route(indexed, even, 0.45, 1_000_000),
        ).collect()
    )
    assert got != unwaved

    # --- fbrute route: exactness override, answers equal the scan ---
    sel = F.col("label") == _SEL_LABEL
    assert serve_route(indexed, sel, 1.0, 1_000_000)["index"] == "fbrute"
    out2 = str(tmp_path / "fserve_out2")
    sink2 = IdempotentBatchSink(out2)
    q3 = build(sink2, "fserve_ckpt2", sel, 1.0)
    q3.awaitTermination(120)
    brow = lambda r: (r["vec_id"], r["nb_rank"], r["neighbor_id"], r["sim"])
    got_b = sorted(brow(r) for r in sink2.read_committed(spark).collect())
    want_b = sorted(
        brow(r)
        for r in ann_serve_results(
            static_q, cent, seeds, indexed, k=3, predicate=sel,
            route={"index": "fbrute"},
        ).collect()
    )
    assert got_b == want_b
    in_label = {
        r["vec_id"] for r in indexed.filter(sel).select("vec_id").collect()
    }
    assert {g[2] for g in got_b if g[2] is not None} <= in_label


def test_streaming_ann_serve_requires_explicit_recall(spark, tmp_path):
    """ADVICE r14: a predicated stream must state its recall contract
    — the old implicit default (recall 1.0 / unbounded budget) made
    serve_route silently resolve EVERY predicate-only stream to
    fbrute, an exact full-survivor scan per micro-batch the caller
    never asked for. The constructor now fails loudly BEFORE any
    batch is consumed; exactness stays one explicit argument away."""
    import pytest
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        streaming_ann_serve,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.sources import (
        file_stream,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        IdempotentBatchSink,
    )

    inp, cent, seeds, indexed = _ann_serve_fixture(spark, tmp_path)
    schema = "vec_id bigint, embedding array<float>"
    with pytest.raises(ValueError, match="recall_target"):
        streaming_ann_serve(
            file_stream(spark, inp, schema, fmt="json"),
            cent,
            seeds,
            indexed,
            IdempotentBatchSink(str(tmp_path / "out")),
            str(tmp_path / "ckpt"),
            predicate=(F.col("label") % 2) == 0,
        )


def test_streaming_gate_same_window_takedowns(spark, tmp_path):
    """Round 15 (VERDICT r14 item 1): the admission gate sees the SAME
    window's takedown wave — no compact, no generation swap, just the
    ``takedowns`` thread. Doc 1 (text near-dup source), doc 3 (exact
    digest source) and vector 5 (the only near-threshold embedding
    neighbor) are all being deleted in THIS window; probes that
    duplicate each of them must be admitted by the threaded gate while
    near/exact copies of SURVIVORS keep dying, and the committed
    streaming decisions must equal the batch twin
    (:func:`ingest_gate_decisions` with the same wave) byte-for-byte.
    Without the thread every one of the three flips ghost-rejects —
    asserted via the un-threaded batch twin, which keeps the test
    non-vacuous if the fixture drifts."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
        text_index_build,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ingest_gate_decisions,
        streaming_ingest_gate,
    )

    schema = "doc_id bigint, lang string, text string, embedding array<float>"
    # docs 1-4 share one embedding cluster; doc 5 sits alone so that a
    # probe near it has NO other near-threshold neighbor
    corpus = spark.createDataFrame(
        [
            (
                i,
                "en",
                " ".join(f"w{i}x{j}" for j in range(30)),
                [1.0, 0.01 * i, 0.0] if i != 5 else [0.0, 0.0, 1.0],
            )
            for i in range(1, 7)
        ],
        schema,
    )
    old = corpus.select(
        F.col("doc_id").alias("vec_id"),
        F.lit(0).cast("int").alias("label"),
        "embedding",
    )
    cent, seeds = frozen_index_frames(old)
    seeds = seeds.localCheckpoint()
    indexed = _assign_to_seeds(old, seeds).localCheckpoint()
    bands, sets = text_index_build(corpus.select("doc_id", "lang", "text"))
    digests = corpus.select(
        "doc_id", F.md5(F.lower(F.trim("text")).cast("binary")).alias("h")
    ).localCheckpoint()  # (doc_id, h) grain — the takedown thread needs it
    wave = spark.createDataFrame([(1,), (3,), (5,)], "doc_id bigint")

    def near_copy_of(src: int, pid: int, emb) -> dict:
        words = [f"w{src}x{j}" for j in range(30)]
        words[13] = "mutated"
        return {"doc_id": pid, "lang": "en",
                "text": " ".join(words), "embedding": emb}

    far = [0.0, 1.0, 0.0]  # near nothing in the index
    probes = [
        near_copy_of(1, 901, far),           # near-text flip: src deleted
        near_copy_of(2, 902, far),           # near-text hold: src survives
        {"doc_id": 903, "lang": "en",        # exact-digest flip: src deleted
         "text": " ".join(f"w3x{j}" for j in range(30)), "embedding": far},
        {"doc_id": 904, "lang": "en",        # exact-digest hold: src survives
         "text": " ".join(f"w4x{j}" for j in range(30)), "embedding": far},
        {"doc_id": 905, "lang": "en",        # near-emb flip: only neighbor
         "text": "entirely fresh content five", "embedding": [0.0, 0.1, 1.0]},
        {"doc_id": 906, "lang": "en",        # near-emb hold: cluster survives
         "text": "entirely fresh content six", "embedding": [1.0, 0.025, 0.0]},
    ]
    batch = spark.createDataFrame(
        [(p["doc_id"], p["lang"], p["text"], p["embedding"]) for p in probes],
        schema,
    )

    # the flips are real: the UN-threaded gate rejects all three
    unthreaded = {
        r["doc_id"]: r
        for r in ingest_gate_decisions(
            batch, digests.select("h").distinct(), cent, seeds, indexed,
            near_threshold=0.9, text_index=(bands, sets),
        ).collect()
    }
    assert unthreaded[901]["f_near_text"] == 1
    assert unthreaded[903]["f_exact"] == 1
    assert unthreaded[905]["f_near"] == 1
    assert all(unthreaded[i]["admitted"] == 0 for i in (901, 903, 905))

    want = {
        r["doc_id"]: tuple(r)
        for r in ingest_gate_decisions(
            batch, digests, cent, seeds, indexed,
            near_threshold=0.9, text_index=(bands, sets), takedowns=wave,
        ).collect()
    }

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    with open(f"{inp}/w0.json", "w") as f:
        for p in probes:
            f.write(json.dumps(p) + "\n")

    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = streaming_ingest_gate(
        file_stream(spark, inp, schema, fmt="json"),
        digests, cent, seeds, indexed, sink, str(tmp_path / "ckpt"),
        near_threshold=0.9, text_index=(bands, sets), takedowns=wave,
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: tuple(r) for r in sink.read_committed(spark).collect()
    }
    assert got == want, "streaming decisions must equal the batch twin"
    adm = {
        r[0]: r
        for r in ingest_gate_decisions(
            batch, digests, cent, seeds, indexed,
            near_threshold=0.9, text_index=(bands, sets), takedowns=wave,
        ).select("doc_id", "f_exact", "f_near_text", "f_near", "admitted")
        .collect()
    }
    # the three same-window flips
    assert adm[901]["f_near_text"] == 0 and adm[901]["admitted"] == 1
    assert adm[903]["f_exact"] == 0 and adm[903]["admitted"] == 1
    assert adm[905]["f_near"] == 0 and adm[905]["admitted"] == 1
    # the three survivor holds
    assert adm[902]["f_near_text"] == 1 and adm[902]["admitted"] == 0
    assert adm[904]["f_exact"] == 1 and adm[904]["admitted"] == 0
    assert adm[906]["f_near"] == 1 and adm[906]["admitted"] == 0


def test_gate_takedowns_equal_cold_compacted_state(spark):
    """The takedown thread's cold-equivalence contract: gating against
    (full gen-1 state, takedowns=wave) computes the SAME decisions as
    gating against the hand-compacted survivors-only state (digests
    anti-joined, text index compacted, postings tombstone-filtered) —
    the q_text_tombstone/compact argument lifted to the whole
    three-check verdict."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
        text_index_build,
        text_index_compact,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
        tombstone_filter,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ingest_gate_decisions,
    )

    schema = "doc_id bigint, lang string, text string, embedding array<float>"
    corpus = spark.createDataFrame(
        [
            (
                i,
                "en",
                " ".join(f"w{i}x{j}" for j in range(30)),
                [1.0, 0.01 * i, 0.0] if i != 5 else [0.0, 0.0, 1.0],
            )
            for i in range(1, 7)
        ],
        schema,
    )
    old = corpus.select(
        F.col("doc_id").alias("vec_id"),
        F.lit(0).cast("int").alias("label"),
        "embedding",
    )
    cent, seeds = frozen_index_frames(old)
    seeds = seeds.localCheckpoint()
    indexed = _assign_to_seeds(old, seeds).localCheckpoint()
    bands, sets = text_index_build(corpus.select("doc_id", "lang", "text"))
    digests = corpus.select(
        "doc_id", F.md5(F.lower(F.trim("text")).cast("binary")).alias("h")
    ).localCheckpoint()
    wave = spark.createDataFrame([(1,), (3,), (5,)], "doc_id bigint")

    batch = spark.createDataFrame(
        [
            (901, "en", " ".join(f"w1x{j}" for j in range(30)), [0.0, 1.0, 0.0]),
            (902, "en", " ".join(f"w2x{j}" for j in range(30)), [0.0, 0.1, 1.0]),
            (903, "en", "fresh content", [1.0, 0.02, 0.0]),
        ],
        schema,
    )
    threaded = sorted(
        tuple(r)
        for r in ingest_gate_decisions(
            batch, digests, cent, seeds, indexed,
            near_threshold=0.9, text_index=(bands, sets), takedowns=wave,
        ).collect()
    )
    bands_c, sets_c = text_index_compact(bands, sets, wave)
    cold = sorted(
        tuple(r)
        for r in ingest_gate_decisions(
            batch,
            digests.join(wave, "doc_id", "left_anti").select("h").distinct(),
            cent,
            seeds,
            tombstone_filter(
                indexed, wave.select(F.col("doc_id").alias("vec_id"))
            ),
            near_threshold=0.9,
            text_index=(bands_c, sets_c),
        ).collect()
    )
    assert threaded == cold and threaded


def test_streaming_wave_merge_replay_across_rejected_window(spark, tmp_path):
    """Round 16 (VERDICT r15 item 5): the WAVE-MERGE CONTRACT for a
    rejected window, driven through the streaming gate's marker sink
    with a crash between the windows. Window 1's decisions commit
    against gen-1; the window's roll is REJECTED (pointer stays on
    gen 1, the wave unapplied to serving — the
    test_roll_rejected_window_wave_merge_retry scenario). Window 2
    must therefore gate the MERGED wave (batch₁ ∪ batch₂ probes,
    takedowns₁ ∪ takedowns₂) against the UNCHANGED gen-1 state — and
    a crash mid-commit inside the merged window must replay to
    byte-identical decisions from the checkpoint. Asserted: (a) the
    torn batch is uncommitted; (b) the restarted stream's committed
    decisions equal the batch twin on the merged wave byte-for-byte;
    (c) every REPLAYED window-1 doc's decision is byte-identical to
    its window-1 commit — the determinism argument the wave-merge
    contract rests on (same doc, same gen-1 state, same merged
    takedown superset touching none of its check endpoints)."""
    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
        text_index_build,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
    )
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ingest_gate_decisions,
        streaming_ingest_gate,
    )

    schema = "doc_id bigint, lang string, text string, embedding array<float>"
    corpus = spark.createDataFrame(
        [
            (
                i,
                "en",
                " ".join(f"w{i}x{j}" for j in range(30)),
                [1.0, 0.01 * i, 0.0] if i != 5 else [0.0, 0.0, 1.0],
            )
            for i in range(1, 7)
        ],
        schema,
    )
    old = corpus.select(
        F.col("doc_id").alias("vec_id"),
        F.lit(0).cast("int").alias("label"),
        "embedding",
    )
    cent, seeds = frozen_index_frames(old)
    seeds = seeds.localCheckpoint()
    indexed = _assign_to_seeds(old, seeds).localCheckpoint()
    bands, sets = text_index_build(corpus.select("doc_id", "lang", "text"))
    digests = corpus.select(
        "doc_id", F.md5(F.lower(F.trim("text")).cast("binary")).alias("h")
    ).localCheckpoint()

    def near_copy_of(src: int, pid: int, emb) -> dict:
        words = [f"w{src}x{j}" for j in range(30)]
        words[13] = "mutated"
        return {"doc_id": pid, "lang": "en",
                "text": " ".join(words), "embedding": emb}

    far = [0.0, 1.0, 0.0]
    # window 1: a same-window flip (near-copy of deleted doc 1), a
    # survivor hold (near-copy of surviving doc 2), and fresh content
    w1_probes = [
        near_copy_of(1, 901, far),
        near_copy_of(2, 902, far),
        {"doc_id": 903, "lang": "en",
         "text": "entirely fresh content", "embedding": [0.0, 0.1, 1.0]},
    ]
    wave1 = spark.createDataFrame([(1,)], "doc_id bigint")

    inp1 = str(tmp_path / "in1")
    os.makedirs(inp1)
    with open(f"{inp1}/w1.json", "w") as f:
        for p in w1_probes:
            f.write(json.dumps(p) + "\n")
    sink1 = IdempotentBatchSink(str(tmp_path / "out1"))
    q1 = streaming_ingest_gate(
        file_stream(spark, inp1, schema, fmt="json"),
        digests, cent, seeds, indexed, sink1, str(tmp_path / "ckpt1"),
        near_threshold=0.9, text_index=(bands, sets), takedowns=wave1,
    )
    q1.awaitTermination(120)
    window1 = {
        r["doc_id"]: tuple(r) for r in sink1.read_committed(spark).collect()
    }
    assert set(window1) == {901, 902, 903}
    # ... the roll consuming these decisions is REJECTED: serving
    # stays on gen 1 (nothing to simulate — the gate state below is
    # simply the same gen-1 frames, which is the contract's point)

    # window 2: merged wave = window-1 probes ∪ new probes (distinct
    # on doc_id), takedowns = union of the two id-sets
    w2_probes = w1_probes + [
        near_copy_of(3, 904, far),   # flips only under the MERGED wave
        {"doc_id": 905, "lang": "en",
         "text": "late window content", "embedding": [0.3, 0.9, 0.1]},
    ]
    merged_wave = spark.createDataFrame([(1,), (3,)], "doc_id bigint")
    inp2 = str(tmp_path / "in2")
    os.makedirs(inp2)
    with open(f"{inp2}/merged.json", "w") as f:
        for p in w2_probes:
            f.write(json.dumps(p) + "\n")

    out2 = str(tmp_path / "out2")
    crashing = _CrashOnce(out2, crash_batch=0)
    q2 = streaming_ingest_gate(
        file_stream(spark, inp2, schema, fmt="json"),
        digests, cent, seeds, indexed, crashing, str(tmp_path / "ckpt2"),
        near_threshold=0.9, text_index=(bands, sets), takedowns=merged_wave,
    )
    outcome = None
    try:
        outcome = "finished" if q2.awaitTermination(120) else "timed out"
    except Exception:
        pass  # the expected mid-protocol crash
    if outcome is not None:
        q2.stop()
    assert outcome is None, f"query should have crashed mid-commit, {outcome}"
    assert not crashing.is_committed(0), "torn batch must be uncommitted"

    # restart: same checkpoint, healthy sink — the merged batch
    # replays the same offsets and commits
    sink2 = IdempotentBatchSink(out2)
    q3 = streaming_ingest_gate(
        file_stream(spark, inp2, schema, fmt="json"),
        digests, cent, seeds, indexed, sink2, str(tmp_path / "ckpt2"),
        near_threshold=0.9, text_index=(bands, sets), takedowns=merged_wave,
    )
    q3.awaitTermination(120)
    got = {
        r["doc_id"]: tuple(r) for r in sink2.read_committed(spark).collect()
    }

    merged_batch = spark.createDataFrame(
        [(p["doc_id"], p["lang"], p["text"], p["embedding"])
         for p in w2_probes],
        schema,
    ).dropDuplicates(["doc_id"])
    want = {
        r["doc_id"]: tuple(r)
        for r in ingest_gate_decisions(
            merged_batch, digests, cent, seeds, indexed,
            near_threshold=0.9, text_index=(bands, sets),
            takedowns=merged_wave,
        ).collect()
    }
    assert got == want, "replayed merged decisions must equal the batch twin"
    # the replayed window-1 docs recompute byte-identically on the
    # unchanged gen-1 state (their check endpoints are untouched by
    # the merged wave's extra takedown of doc 3)
    for doc in (901, 902, 903):
        assert got[doc] == window1[doc], (
            f"replayed doc {doc} diverged from its window-1 decision"
        )
    # and the merge is load-bearing: 904's source (doc 3) is deleted
    # only by the merged wave, so it flips admitted under the merge
    got904 = {
        r["doc_id"]: r
        for r in sink2.read_committed(spark).collect()
    }[904]
    assert got904["admitted"] == 1, (
        "the near-copy of a merged-wave takedown must be admitted"
    )
