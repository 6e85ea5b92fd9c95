"""``exactly_once_stream``: the paper's pipeline under an open-loop load.

Wiring, as in the package's streaming tests: ``file_stream`` (JSON lines)
-> ``streaming_wordcount(window="5 seconds")`` (10 s watermark) ->
``run_exactly_once(IdempotentBatchSink, trigger_once=False,
output_mode="update")``.

A generator thread writes seeded JSON-lines files (tmp file + rename) on
a fixed files/s schedule that does not slow down when the engine does.
Words follow a Zipf law; each line carries its creation time, and a
seeded share of lines is stamped up to 4 s early (out of order, inside
the watermark). After an untimed warm-up at the same rate (the first
micro-batches run at about twice the steady trigger time), the timed
section has a live phase of ``--seconds``, then crash cycles, one after another: the sink writes a batch's data and
dies before its commit marker (the torn write of the streaming tests'
``_CrashOnce``), the query stays down for a fixed time while the
generator keeps writing, then restarts from the same checkpoint and
catches up. The generator stops shortly after the last catch-up, and the
query drains.

A file's commit latency runs from when it was due to the commit of the
batch that holds it; batches are read from the checkpoint's
``sources/0`` log, commits from the benchmark's sink subclass. Files due
in the live phase are the latency samples.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import stats
from perfbench.harness import Result

FILES_PER_S = 20
LINES_PER_FILE = 100
WORDS_PER_LINE = 8
VOCAB_SIZE = 1000
ZIPF_S = 1.1
WINDOW_S = 5
MAX_EARLY_S = 4.0  # out-of-order lines are stamped up to this much early
WARMUP_S = 6.0  # the generator runs this long before the timed section
CRASHES = 2
DOWNTIME_S = 1.0
TAIL_S = 1.0  # the generator runs this long past the last catch-up
DRAIN_TIMEOUT_S = 30.0
SCHEMA = "value string, event_ts string"


def _ts(epoch: float) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch)) + f".{int(epoch % 1 * 1e6):06d}"


class Generator:
    """Open-loop file writer with a ledger of what it wrote."""

    def __init__(self, in_dir: str, seed: int) -> None:
        self.in_dir = in_dir
        rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.early_share = rng.uniform(0.02, 0.08)
        w = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
        self.word_p = w / w.sum()
        self.words = np.array([f"w{i:04d}" for i in range(VOCAB_SIZE)])
        self.files: list[dict] = []  # name, due, written, rows
        self.ledger: dict[tuple[int, str], int] = {}  # (window start ms, word) -> count
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        os.makedirs(in_dir, exist_ok=True)

    def write_file(self, due: float) -> None:
        now = time.time()
        idx = self.np_rng.choice(VOCAB_SIZE, (LINES_PER_FILE, WORDS_PER_LINE), p=self.word_p)
        early = self.np_rng.random(LINES_PER_FILE) < self.early_share
        shift = self.np_rng.uniform(0.5, MAX_EARLY_S, LINES_PER_FILE) * early
        lines = []
        for row, dt in zip(idx, shift):
            ts = now - float(dt)
            ts = int(ts * 1e6) / 1e6
            words = self.words[row]
            lines.append(json.dumps({"value": " ".join(words), "event_ts": _ts(ts)}))
            win = int(ts * 1000) // (WINDOW_S * 1000) * (WINDOW_S * 1000)
            for w in words:
                self.ledger[(win, w)] = self.ledger.get((win, w), 0) + 1
        name = f"f{len(self.files):06d}.json"
        tmp = os.path.join(self.in_dir, "." + name + ".tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.in_dir, name))
        self.files.append({"name": name, "due": due, "written": time.time(), "rows": LINES_PER_FILE})

    def start(self, t0: float) -> None:
        """Write file ``i`` when it is due, at ``t0 + i / FILES_PER_S``,
        until ``join``."""
        def loop() -> None:
            i = 0
            while not self._stop.is_set():
                due = t0 + i / FILES_PER_S
                wait = due - time.time()
                if wait > 0 and self._stop.wait(wait):
                    break
                self.write_file(due)
                i += 1

        self._thread = threading.Thread(target=loop, name="generator", daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join()


@dataclass
class SinkStats:
    commit_time: dict[int, float] = field(default_factory=dict)
    sink_ms: list[float] = field(default_factory=list)
    torn_rewrites: int = 0
    replay_skips: int = 0
    bytes_written: int = 0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def make_sink_class():
    from kafka_flink_exactlyonce_example_spark.streaming import IdempotentBatchSink

    class BenchSink(IdempotentBatchSink):
        """Times the package's sink; optionally tears the next batch."""

        def __init__(self, out_dir: str, stats_: SinkStats, tracer) -> None:
            super().__init__(out_dir)
            self.stats = stats_
            self.tracer = tracer
            self.crash_next = False

        def __call__(self, batch_df, batch_id: int) -> None:
            if self.is_committed(batch_id):
                self.stats.replay_skips += 1
                return
            part = os.path.join(self.data_dir, f"batch_id={batch_id}")
            if os.path.exists(part):
                self.stats.torn_rewrites += 1
            with self.tracer.span("streaming.exactly_once.sink", batch_id=batch_id) as sp:
                if self.crash_next:
                    self.crash_next = False
                    batch_df.write.mode("overwrite").parquet(part)
                    raise RuntimeError("injected crash before commit")
                super().__call__(batch_df, batch_id)
            self.stats.commit_time[batch_id] = sp.end
            self.stats.sink_ms.append(sp.dur * 1000)
            self.stats.bytes_written += _dir_bytes(part)

    return BenchSink


def files_to_batches(source_log_dir: str) -> dict[str, int]:
    """Map input file basename -> batch id from a file source's metadata
    log (``<checkpoint>/sources/0``): one file per batch (``<id>``) plus
    periodic ``<id>.compact`` files that repeat all earlier entries."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_log_dir):
        return out
    for name in os.listdir(source_log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(source_log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version, e.g. "v1"
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _median(xs):
    return stats.percentile(xs, 50) if xs else 0.0


class StreamRun:
    def __init__(self, run) -> None:
        self.run = run
        self.base = os.path.join(run.work, "stream")
        self.stats = SinkStats()
        self.progress: list[dict] = []
        self.query = None
        self.sink = None

    # -- query lifecycle -------------------------------------------------
    def _paths(self, tag: str) -> tuple[str, str, str]:
        d = os.path.join(self.base, tag)
        return os.path.join(d, "in"), os.path.join(d, "ckpt"), os.path.join(d, "out")

    def start_query(self, spark, tag: str):
        from pyspark.sql import functions as F

        from kafka_flink_exactlyonce_example_spark.streaming import (
            file_stream,
            streaming_wordcount,
        )
        from kafka_flink_exactlyonce_example_spark.streaming.jobs import run_exactly_once

        inp, ckpt, out = self._paths(tag)
        lines = file_stream(spark, inp, SCHEMA, fmt="json").withColumn(
            "event_ts", F.to_timestamp("event_ts")
        )
        result = streaming_wordcount(lines, "event_ts", window=f"{WINDOW_S} seconds")
        self.sink = make_sink_class()(out, self.stats, self.run.tracer)
        self.query = run_exactly_once(
            result, self.sink, ckpt, trigger_once=False, output_mode="update"
        )
        return self.query

    def harvest_progress(self) -> None:
        if self.query is not None:
            self.progress.extend(json.loads(p.json) for p in self.query.recentProgress)

    def stop_query(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.harvest_progress()
            self.query = None

    def wait_for(self, done, what: str) -> None:
        """Poll ``done()`` until true; fail if the query dies or
        ``DRAIN_TIMEOUT_S`` passes."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        while not done():
            if time.time() > deadline:
                raise TimeoutError(f"{what}: not done in {DRAIN_TIMEOUT_S} s")
            if self.query is not None and self.query.exception() is not None:
                raise RuntimeError(f"{what}: stream failed: {self.query.exception()}")
            time.sleep(0.02)


def _setup_once(run, sr: StreamRun, tag: str, restart: bool):
    """Session up (restarted after the first) and the first batch of a
    fresh query committed; returns (seconds, spark, generator)."""
    t0 = time.perf_counter()
    spark = run.start_session(restart)
    gen = Generator(sr._paths(tag)[0], run.seed)
    gen.write_file(time.time())
    sr.stats.commit_time.clear()
    sr.start_query(spark, tag)
    sr.wait_for(lambda: 0 in sr.stats.commit_time, "first batch")
    return time.perf_counter() - t0, spark, gen


def run_stream(run):
    """The exactly_once_stream workload; returns a ``Result``."""
    sr = StreamRun(run)
    shutil.rmtree(sr.base, ignore_errors=True)
    setups, spark, gen = [], None, None
    for i in range(run.setups):
        if sr.query is not None:
            sr.stop_query()
        secs, spark, gen = _setup_once(run, sr, f"setup{i}", restart=i > 0)
        setups.append(secs)
    sr.progress.clear()
    stats_ = sr.stats = SinkStats(commit_time=dict(sr.stats.commit_time))
    sr.sink.stats = stats_
    tag = f"setup{run.setups - 1}"
    ckpt = sr._paths(tag)[1]

    src_log = os.path.join(ckpt, "sources", "0")
    gen.start(time.time())  # untimed warm-up, then the timed section from t0
    t0 = time.time() + WARMUP_S
    live_end = t0 + run.seconds
    time.sleep(max(0.0, t0 - time.time()))
    run.begin_timed()
    time.sleep(max(0.0, live_end - time.time()))
    crashes = []
    for _ in range(CRASHES):
        with run.tracer.span("stream.crash_cycle") as sp:
            sr.sink.crash_next = True
            crashed = time.time()
            try:
                sr.query.awaitTermination(DRAIN_TIMEOUT_S)
            except Exception:  # the injected crash surfaces here, as designed
                pass
            if sr.query.isActive:
                raise RuntimeError("injected crash did not stop the query")
            sr.harvest_progress()
            time.sleep(DOWNTIME_S)
            restart = time.time()
            written_before = len(gen.files)
            before = set(stats_.commit_time)
            with run.tracer.span("stream.restart"):
                sr.start_query(spark, tag)
            last = gen.files[written_before - 1]["name"]
            sr.wait_for(lambda: files_to_batches(src_log).get(last) in stats_.commit_time,
                        "catch-up after restart")
        crashes.append({"crash": crashed, "restart": restart, "files_before": written_before,
                        "commits_before": before, "span": sp.sid})
    time.sleep(TAIL_S)
    gen.join()
    mapping: dict[str, int] = {}

    def drained() -> bool:  # every written file is in a committed batch
        nonlocal mapping
        mapping = files_to_batches(src_log)
        return all(mapping.get(f["name"]) in stats_.commit_time for f in gen.files)

    sr.wait_for(drained, "drain")
    run.end_timed()
    t_end = max(stats_.commit_time.values())
    sr.stop_query()
    wall = t_end - t0

    # ---- per-file latency and recovery ---------------------------------
    timed = [f for f in gen.files if f["due"] >= t0]
    committed = {f["name"]: stats_.commit_time[mapping[f["name"]]]
                 for f in gen.files if mapping.get(f["name"]) in stats_.commit_time}
    live = [(committed[f["name"]] - f["due"]) * 1000 for f in timed
            if f["due"] < live_end and f["name"] in committed]
    all_lat = [(committed[f["name"]] - f["due"]) * 1000 for f in timed if f["name"] in committed]
    recovery, first_commit, catchup_batches = [], [], set()
    for c in crashes:
        last = gen.files[c["files_before"] - 1]["name"]
        b = mapping.get(last)
        if b in stats_.commit_time:
            recovery.append(stats_.commit_time[b] - c["restart"])
        after = [t for bid, t in stats_.commit_time.items() if bid not in c["commits_before"]]
        if after:
            first_commit.append(min(after) - c["restart"])
        first_new = min((bid for bid in stats_.commit_time if bid not in c["commits_before"]), default=None)
        if first_new is not None and b is not None:
            catchup_batches.update(range(first_new, b + 1))

    # ---- output check against the ledger -------------------------------
    emitted = read_latest_counts(sr._paths(tag)[2], sorted(stats_.commit_time))
    mismatched = sum(emitted.get(k) != v for k, v in gen.ledger.items()) + sum(
        k not in gen.ledger for k in emitted
    )
    uncommitted = len(gen.files) - len(committed)
    # one more op: each injected crash is replayed as exactly one torn rewrite
    attempted = len(gen.files) + len(gen.ledger) + 1
    failed = uncommitted + mismatched + (stats_.torn_rewrites != CRASHES)

    progress = [p for p in sr.progress if p.get("numInputRows", 0) > 0]
    by_batch = {p["batchId"]: p for p in progress}
    e2e = {"setup_s": stats.percentile(setups, 50)}
    tail_q = stats.highest_percentile(len(live)) or 50.0
    layers = stream_layers(progress, by_batch, stats_, gen, mapping, recovery, first_commit,
                           catchup_batches, live, tail_q)
    layers["timed.wall_s"] = wall
    report = {
        "setups_s": setups,
        "files": len(gen.files),
        "files_per_s": FILES_PER_S,
        "lines_per_file": LINES_PER_FILE,
        "early_share": gen.early_share,
        "generator_late_ms_max": max((f["written"] - f["due"]) * 1000 for f in gen.files),
        "latency_ms": stats.summary(live, (50, 90, 95, 99)),
        "commit_latency_all_files_ms": stats.summary(all_lat, (50, 90, 99)),
        "tail_percentile": tail_q,
        "crashes": [{k: v for k, v in c.items() if k != "commits_before"} for c in crashes],
        "recovery_s": recovery,
        "restart_to_first_commit_s": first_commit,
        "uncommitted_files": uncommitted,
        "ledger_pairs": len(gen.ledger),
        "mismatched_pairs": mismatched,
        "batches": [
            {"batch_id": b, "rows": p["numInputRows"], "durations_ms": p["durationMs"],
             "commit": stats_.commit_time.get(b),
             "files": sum(1 for v in mapping.values() if v == b)}
            for b, p in sorted(by_batch.items())
        ],
    }
    return Result(e2e, layers, attempted, failed, report)


def read_latest_counts(out_dir: str, batch_ids: list[int]) -> dict[tuple[int, str], int]:
    """Last emitted count per (window start ms, word) over committed batches."""
    import pyarrow.parquet as pq

    latest: dict[tuple[int, str], int] = {}
    for b in batch_ids:  # ascending: a later batch's row wins
        part = os.path.join(out_dir, "data", f"batch_id={b}")
        if not os.path.isdir(part):
            continue
        t = pq.read_table(part).to_pydict()
        for ws, w, c in zip(t["window_start"], t["word"], t["cnt"]):
            ms = int(ws.timestamp() * 1000) if hasattr(ws, "timestamp") else int(ws) // 1000
            latest[(ms, w)] = int(c)
    return latest


def stream_layers(progress, by_batch, st: SinkStats, gen: Generator, mapping, recovery,
                  first_commit, catchup_batches, live, tail_q) -> dict[str, float]:
    def dur(key):
        return _median([p["durationMs"].get(key, 0) for p in progress])

    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    # backlog at each trigger: files written before it started and not yet in an earlier batch
    lag = []
    for b, p in by_batch.items():
        started = _epoch(p["timestamp"])
        lag.append(sum(1 for f in gen.files if f["written"] < started
                       and mapping.get(f["name"], b) >= b))
    catch = [by_batch[b] for b in catchup_batches if b in by_batch]
    catch_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in catch)
    return {
        "streaming.sources.latest_offset_ms": dur("latestOffset"),
        "streaming.sources.get_batch_ms": dur("getBatch"),
        "streaming.sources.lag_files_max": float(max(lag, default=0)),
        "streaming.jobs.trigger_ms": dur("triggerExecution"),
        "streaming.jobs.add_batch_ms": dur("addBatch"),
        "streaming.jobs.query_planning_ms": dur("queryPlanning"),
        "streaming.jobs.wal_commit_ms": dur("walCommit"),
        "streaming.jobs.commit_offsets_ms": dur("commitOffsets"),
        "streaming.jobs.state_commit_ms": _median([s.get("commitTimeMs", 0) for s in state]),
        "streaming.jobs.state_rows": float(max((s.get("numRowsTotal", 0) for s in state), default=0)),
        "streaming.jobs.state_memory_bytes": float(max((s.get("memoryUsedBytes", 0) for s in state), default=0)),
        "streaming.jobs.rows_dropped_by_watermark": float(sum(s.get("numRowsDroppedByWatermark", 0) for s in state)),
        "streaming.jobs.rows_per_batch": _median([p["numInputRows"] for p in progress]),
        "streaming.jobs.restart_to_first_commit_s": _median(first_commit),
        "streaming.exactly_once.sink_ms_p50": _median(st.sink_ms),
        "streaming.exactly_once.sink_ms_max": max(st.sink_ms, default=0.0),
        "streaming.exactly_once.torn_rewrites": float(st.torn_rewrites),
        "streaming.exactly_once.replay_skips": float(st.replay_skips),
        "streaming.exactly_once.bytes_written": float(st.bytes_written),
        "stream.commit_latency_p50_ms": _median(live),
        "stream.commit_latency_tail_ms": stats.percentile(live, tail_q) if live else 0.0,
        "stream.recovery_s": _median(recovery),
        "stream.catchup_rows_per_s": (sum(p["numInputRows"] for p in catch) / (catch_ms / 1000.0)
                                      if catch_ms else 0.0),
    }


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
