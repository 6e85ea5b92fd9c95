"""Metric definitions: the one source for BENCHMARK.json's metric lists.

Every run prints every end-to-end metric, and every traced run every
per-layer metric, whatever the workload; a per-layer metric that does
not apply to a workload reads 0. End-to-end metrics are never 0, so each
is defined on both workloads:

- ``setup_s``: median of the run's set-ups (session up, registry loaded,
  warm-up done; for the stream, the first batch committed);
- ``peak_rss_mb``: peak resident memory of the process tree (Python
  driver, JVM, Python workers), sampled over the run until the timed
  section ends. The driver heap has a fixed size and is touched at
  start (``harness.configure_env``), so the figure is that heap plus
  everything outside it: JIT code, metaspace, threads, native and Arrow
  buffers, the Python side.

Time and CPU figures of the timed section are per-layer, unbounded. On
a shared 4-vCPU host (no CPU steal, but neighbours share the cores)
the same pure-Python loop took 0.20 to 0.31 s from one moment to the
next, and every timing follows: ``timed.cpu_s`` of ``llm_pipeline``
spread 13% and 27% (IQR over median, ten seeds) in two sets of runs of
the same code, and 9-11% in four or five interleaved runs each with
the heap fixed, with or without the JIT limited to C1. It is not the
benchmark's own noise: the JIT compiler threads (about 60% of that
CPU), the task threads and the collector all rose and fell together
with the host. Wall time, the
latency percentiles, recovery time and catch-up rate spread as much or
more. ``llm_pipeline`` has too few keys for a percentile above the
median (``stats.MIN_BEYOND``). ``error_ratio`` is the result line's
``failed`` / ``attempted``; it is 0 on a correct run, so it is not a
bounded metric.

Each per-layer entry names the metric it should move, and on which
workload; BENCHMARK.json has no field for that, so it lives here
(``python3 perfbench/metrics.py --moves`` prints it).
"""

from __future__ import annotations

import json
import sys

#: name, unit, better, bound
END_TO_END: tuple[tuple[str, str, str, float], ...] = (
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
)

#: the session caches ``llm_pipeline`` builds, in ``CACHE_BUILDERS`` order
CACHE_NAMES = ("shingles", "minhash_sigs", "capped_bands", "lsh_edges", "inc_indexed1")

#: name, unit, better, (end-to-end metric it should move, workload)
PER_LAYER: tuple[tuple[str, str, str, str], ...] = (
    ("timed.wall_s", "s", "lower", "none: wall time of the timed section (host speed)"),
    ("timed.cpu_s", "s", "lower", "none: CPU time of the process tree over the timed section (host speed)"),
    ("session.get_spark_s", "s", "lower", "setup_s on all workloads"),
    ("keys.latency_p50_ms", "ms", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline"),
    ("operators.build_s", "s", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline"),
    ("operators.build_jobs", "count", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline"),
    ("spark.plan_s", "s", "lower", "keys.latency_p50_ms on llm_pipeline"),
    ("spark.exec_s", "s", "lower", "timed.cpu_s, timed.wall_s and keys.latency_p50_ms on llm_pipeline"),
    ("spark.jobs", "count", "lower", "keys.latency_p50_ms on llm_pipeline"),
    ("spark.jobs_in_group", "count", "lower", "none: job-group count, shown beside spark.jobs"),
    ("spark.stages", "count", "lower", "keys.latency_p50_ms on llm_pipeline"),
    ("spark.tasks", "count", "lower", "keys.latency_p50_ms on llm_pipeline"),
    ("spark.sql_executions", "count", "lower", "keys.latency_p50_ms on llm_pipeline"),
    ("spark.executor_run_ms", "ms", "lower", "timed.cpu_s on llm_pipeline"),
    ("spark.executor_cpu_ms", "ms", "lower", "timed.cpu_s on llm_pipeline"),
    ("spark.gc_ms", "ms", "lower", "timed.cpu_s on llm_pipeline"),
    ("spark.input_bytes", "bytes", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline"),
    ("spark.shuffle_read_bytes", "bytes", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline"),
    ("spark.spill_bytes", "bytes", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline"),
    ("spark.driver_gap_s", "s", "lower", "keys.latency_p50_ms on llm_pipeline"),
    ("session_caches.build_s", "s", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline"),
    *((f"session_caches.build_s.{c}", "s", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline") for c in CACHE_NAMES),
    ("overlap.factor", "ratio", "higher", "timed.wall_s on llm_pipeline"),
    ("scale.unpersist_s", "s", "lower", "timed.cpu_s and timed.wall_s on llm_pipeline"),
    ("scale.storage_mb", "MB", "lower", "peak_rss_mb on llm_pipeline"),
    ("streaming.sources.latest_offset_ms", "ms", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.sources.get_batch_ms", "ms", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.sources.lag_files_max", "count", "lower", "stream.commit_latency_tail_ms on exactly_once_stream"),
    ("streaming.jobs.trigger_ms", "ms", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.jobs.add_batch_ms", "ms", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.jobs.query_planning_ms", "ms", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.jobs.wal_commit_ms", "ms", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.jobs.commit_offsets_ms", "ms", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.jobs.state_commit_ms", "ms", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.jobs.state_rows", "count", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.jobs.state_memory_bytes", "bytes", "lower", "peak_rss_mb on exactly_once_stream"),
    ("streaming.jobs.rows_dropped_by_watermark", "count", "lower", "none: must be 0 (correctness)"),
    ("streaming.jobs.rows_per_batch", "count", "higher", "stream.catchup_rows_per_s on exactly_once_stream"),
    ("streaming.jobs.restart_to_first_commit_s", "s", "lower", "stream.recovery_s on exactly_once_stream"),
    ("streaming.exactly_once.sink_ms_p50", "ms", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("streaming.exactly_once.sink_ms_max", "ms", "lower", "stream.commit_latency_tail_ms on exactly_once_stream"),
    ("streaming.exactly_once.torn_rewrites", "count", "lower", "none: equals the injected crashes"),
    ("streaming.exactly_once.replay_skips", "count", "lower", "stream.recovery_s on exactly_once_stream"),
    ("streaming.exactly_once.bytes_written", "bytes", "lower", "stream.commit_latency_p50_ms on exactly_once_stream"),
    ("stream.commit_latency_p50_ms", "ms", "lower", "timed.wall_s and timed.cpu_s on exactly_once_stream"),
    ("stream.commit_latency_tail_ms", "ms", "lower", "timed.wall_s on exactly_once_stream"),
    ("stream.recovery_s", "s", "lower", "timed.wall_s on exactly_once_stream"),
    ("stream.catchup_rows_per_s", "rows/s", "higher", "timed.wall_s on exactly_once_stream"),
)

E2E_UNITS = {n: u for n, u, _, _ in END_TO_END}
LAYER_UNITS = {n: u for n, u, _, _ in PER_LAYER}


def benchmark_json_lists() -> dict[str, list[dict]]:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json."""
    return {
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }


if __name__ == "__main__":
    if sys.argv[1:] == ["--moves"]:
        for n, _, _, moves in PER_LAYER:
            print(f"{n:<45} -> {moves}")
    else:
        print(json.dumps(benchmark_json_lists(), indent=2))
