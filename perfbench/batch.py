"""``llm_pipeline``: a closed loop with one caller.

The timed section first builds the workload's session caches in
``CACHE_BUILDERS`` order, which is dependency order, then runs each key
as build (``QUERIES[key](spark, sf_dir)``), plan
(``queryExecution().executedPlan()``), exec (the noop write ``bench.py``
uses) and ``scale.unpersist_all()``, one key at a time, in an order the
run seed permutes.

The keys are a fixed subset of the llm operator modules, sized so
that a run fits the benchmark's time budget at local[4]; see README.md
for how they relate to ``bench.py``'s 297 keys. ``--seconds`` sets the
number of passes over the keys: one per ``PASS_SECONDS``.
"""

from __future__ import annotations

import os
import random
import sys
import threading
import time

from perfbench import oracles, stats
from perfbench.harness import Result
from perfbench.metrics import CACHE_NAMES
from perfbench.procmem import tree_cpu_s

PASS_SECONDS = 10
WARMUP_KEY = "q_wordcount"
SETUP_GROUP = "perfbench.setup"

#: keys of the dedup, lifecycle and pipeline modules that read only the
#: text-dedup caches and ``inc_indexed1`` (``metrics.CACHE_NAMES``) and
#: build no other shared cache; ``q_roll_delete_only`` runs an
#: ``overlap.run_overlapped`` wave
LLM_KEYS = (
    "q_exact_dedup", "q_near_dup", "q_minhash_est", "q_dup_stats", "q_jaccard_pairs",
    "q_lsh_dup_groups", "q_dup_threshold_sweep", "q_dedup_tombstone", "q_cross_lang_dup",
    "q_bag_dup", "q_shard_dup_locality", "q_incremental_dedup", "q_leakage_split",
    "q_index_compact", "q_manifest_repoint", "q_pipeline_curate", "q_curate_post_takedown",
    "q_minhash_containment", "q_minhash_calibration", "q_roll_delete_only",
)


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class JobIds:
    """Job-id range of each key, from Spark's status tracker.

    Keys run one at a time, each under its own job group; jobs started
    from threads inside the package carry no group. A key's range runs
    from the previous key's last job id to the highest id that is in the
    key's group or is a new group-less job."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()
        self.seen_orphans = set(self.tracker.getJobIdsForGroup(None))
        setup = set(self.tracker.getJobIdsForGroup(SETUP_GROUP))
        self.last = max(self.seen_orphans | setup, default=-1)

    def close(self, group: str) -> tuple[list[int], int]:
        """Job ids of ``group``'s range, and how many carry the group."""
        in_group = set(self.tracker.getJobIdsForGroup(group))
        orphans = set(self.tracker.getJobIdsForGroup(None)) - self.seen_orphans
        self.seen_orphans |= orphans
        end = max(in_group | orphans | {self.last})
        ids, self.last = list(range(self.last + 1, end + 1)), end
        return ids, len(in_group)


class StoragePeak:
    """Peak MB of persisted and checkpointed blocks, polled from the
    driver's storage info while the timed section runs (traced runs)."""

    def __init__(self, sc, interval: float = 0.2) -> None:
        self.sc, self.interval, self.peak_mb = sc, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="storage-peak", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
            self.peak_mb = max(self.peak_mb, mb)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_mb


def _wrap_overlap(tracer) -> None:
    """Span every ``run_overlapped`` wave: rebind the name in each
    loaded module that imported it (traced runs only)."""
    from kafka_flink_exactlyonce_example_spark.operators import overlap

    orig = overlap.run_overlapped

    def run_overlapped(*thunks):
        with tracer.span("overlap.run_overlapped", thunks=len(thunks)):
            return orig(*thunks)

    for mod in list(sys.modules.values()):
        if getattr(mod, "run_overlapped", None) is orig:
            mod.run_overlapped = run_overlapped


def _setup(run):
    """Session up, registry loaded, warm-up key run."""
    from kafka_flink_exactlyonce_example_spark import registry

    spark = run.start_session(restart=run.spark is not None)
    registry.load_all()
    if run.trace:
        spark.sparkContext.setJobGroup(SETUP_GROUP, "warm-up")
    _force(registry.QUERIES[WARMUP_KEY](spark, run.sf_dir))
    return spark


def run_workload(run) -> Result:
    from kafka_flink_exactlyonce_example_spark import registry
    from kafka_flink_exactlyonce_example_spark.operators import scale, session_caches

    tracer = run.tracer
    setups = []
    for _ in range(run.setups):
        t0 = time.perf_counter()
        spark = _setup(run)
        setups.append(time.perf_counter() - t0)

    sc = spark.sparkContext
    order = list(LLM_KEYS)
    random.Random(run.seed).shuffle(order)
    passes = max(1, round(run.seconds / PASS_SECONDS))
    if run.trace:
        _wrap_overlap(tracer)
        job_ids = JobIds(sc)
        storage = StoragePeak(sc)
    cache_rows, rows, frames = [], [], {}

    run.begin_timed()
    t_start = time.perf_counter()
    for name in CACHE_NAMES:
        if run.trace:
            sc.setJobGroup(f"cache:{name}", name)
        row = {"cache": name}
        try:
            with tracer.span("session_caches.build", cache=name) as sp:
                session_caches.CACHE_BUILDERS[name](spark, run.sf_dir)
            row.update(sid=sp.sid, wall_s=sp.dur)
        except Exception as e:  # counted as a failed operation; the run goes on
            row["error"] = repr(e)[:500]
        if run.trace:
            row["job_ids"], row["jobs_in_group"] = job_ids.close(f"cache:{name}")
        cache_rows.append(row)
    caches_s = time.perf_counter() - t_start

    pass_walls, pass_cpu = [], []
    for p in range(passes):
        t_pass, c_pass = time.perf_counter(), tree_cpu_s(os.getpid())
        for key in order:
            if run.trace:
                sc.setJobGroup(key, key)
            row = {"key": key, "pass": p}
            try:
                with tracer.span("key", key=key) as sp:
                    with tracer.span("operators.build") as b:
                        df = registry.QUERIES[key](spark, run.sf_dir)
                    with tracer.span("spark.plan") as pl:
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("spark.exec") as ex:
                        _force(df)
                    with tracer.span("scale.unpersist") as up:
                        scale.unpersist_all()
                row.update(sid=sp.sid, wall_s=sp.dur, build_s=b.dur, plan_s=pl.dur,
                           exec_s=ex.dur, unpersist_s=up.dur, build_end=b.end)
                frames.setdefault(key, df)
            except Exception as e:  # counted as a failed operation; the run goes on
                row["error"] = repr(e)[:500]
                scale.unpersist_all()
            if run.trace:
                row["job_ids"], row["jobs_in_group"] = job_ids.close(key)
            rows.append(row)
        pass_walls.append(time.perf_counter() - t_pass)
        pass_cpu.append(tree_cpu_s(os.getpid()) - c_pass)
    wall = caches_s + stats.percentile(pass_walls, 50)
    storage_mb = storage.stop() if run.trace else 0.0
    run.end_timed()

    run.check_s = {}
    problems = check(run, spark, frames)
    failed = sum("error" in r for r in cache_rows) + sum(
        "error" in r or r["key"] in problems for r in rows
    )
    lat = [(r["build_s"] + r["plan_s"] + r["exec_s"]) * 1000 for r in rows if "wall_s" in r]
    e2e = {"setup_s": stats.percentile(setups, 50)}
    report = {
        "setups_s": setups, "passes": passes, "caches_s": caches_s, "pass_walls_s": pass_walls, "pass_cpu_s": pass_cpu,
        "order": order, "latency_ms": stats.summary(lat, (50, 90)), "check_s": run.check_s,
        "tail_percentile": stats.highest_percentile(len(lat)),
        "check_problems": problems, "cache_rows": cache_rows, "rows": rows,
        "storage_mb": storage_mb, "app_id": sc.applicationId,
    }
    layers = {"timed.wall_s": wall, "keys.latency_p50_ms": stats.percentile(lat, 50)}
    return Result(e2e, layers, len(rows) + len(cache_rows), failed, report)


def check(run, spark, frames) -> dict[str, list[str]]:
    """Outside the timed section, on the frame the timed section built:
    each oracled key must equal its DuckDB oracle
    (``tools/crosscheck.compare_frames``); each rows-only key must be
    non-empty."""
    from kafka_flink_exactlyonce_example_spark import registry
    from kafka_flink_exactlyonce_example_spark.operators import scale
    from tools.crosscheck import compare_frames

    problems: dict[str, list[str]] = {}
    for key, timed_df in sorted(frames.items()):
        t0 = time.perf_counter()
        try:
            sdf = timed_df.toPandas()
            if key in registry.ORACLES:
                found = compare_frames(sdf, oracles.load(run.sf_dir, key), key)
            else:
                found = [] if len(sdf) else [f"{key}: no rows"]
        except Exception as e:  # a failing check is counted; the others still run
            found = [f"{key}: {e!r}"[:500]]
        scale.unpersist_all()
        run.check_s[key] = time.perf_counter() - t0
        if found:
            problems[key] = found
    return problems
