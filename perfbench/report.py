"""Per-layer metrics of a traced run, and the human-readable summary.

The traced batch report has one row per key and per cache build: the
span's wall time and self time, its build / plan / exec / unpersist
steps, and the Spark side folded from the event log over the job-id
range the span covers. The stream's rows (one per micro-batch) come from
Spark's progress reports and are built in ``stream.py``.
"""

from __future__ import annotations

import json
import os

from perfbench import stats
from perfbench.metrics import E2E_UNITS, LAYER_UNITS, PER_LAYER
from perfbench.tracing import fold, read_event_log, self_times

_SPARK_SUMS = (
    "jobs", "stages", "tasks", "sql_executions", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "driver_gap_s",
)
#: a key's four step spans must cover its wall time to within this share
COVERAGE_TOLERANCE = 0.05


def _ancestor_keys(spans) -> dict[int, int]:
    """Span id -> id of the enclosing key span, for every span under a key."""
    by_id = {s.sid: s for s in spans}
    out = {}
    for s in spans:
        p = s.parent
        while p is not None:
            if by_id[p].name == "key":
                out[s.sid] = p
                break
            p = by_id[p].parent
    return out


def batch_layers(run, result) -> dict[str, float]:
    rep = result.report
    log = read_event_log(run.event_log_dir, rep["app_id"])
    spans = run.tracer.spans
    selfs = self_times(spans)
    overlapped = {k for s, k in _ancestor_keys(spans).items()
                  if spans[s].name == "overlap.run_overlapped"}
    layers = {n: 0.0 for n, *_ in PER_LAYER}
    ov_jobs = ov_wall = 0.0
    uncovered = []
    for row in rep["rows"] + rep["cache_rows"]:
        if "sid" not in row:
            continue
        span = spans[row["sid"]]
        spark_row = fold(log, span, row["job_ids"])
        row.update(spark_row, self_s=selfs[row["sid"]], overlapped=row["sid"] in overlapped)
        row["job_ids"] = [row["job_ids"][0], row["job_ids"][-1]] if row["job_ids"] else []
        if "cache" in row:
            layers["session_caches.build_s"] += row["wall_s"]
            layers[f"session_caches.build_s.{row['cache']}"] += row["wall_s"]
            continue
        steps = row["build_s"] + row["plan_s"] + row["exec_s"] + row["unpersist_s"]
        if abs(row["wall_s"] - steps) > COVERAGE_TOLERANCE * row["wall_s"]:
            uncovered.append(row["key"])
        ids = range(row["job_ids"][0], row["job_ids"][-1] + 1) if row["job_ids"] else range(0)
        build_end = row.pop("build_end")
        row["build_jobs"] = sum(1 for j in ids if j in log.jobs and log.jobs[j].submit <= build_end)
        layers["operators.build_s"] += row["build_s"]
        layers["operators.build_jobs"] += row["build_jobs"]
        layers["spark.plan_s"] += row["plan_s"]
        layers["spark.exec_s"] += row["exec_s"]
        layers["scale.unpersist_s"] += row["unpersist_s"]
        layers["spark.jobs_in_group"] += row["jobs_in_group"]
        for k in _SPARK_SUMS:
            layers[f"spark.{k}"] += spark_row.get(k, 0)
        if row["overlapped"]:
            ov_jobs += spark_row["job_time_s"]
            ov_wall += row["wall_s"]
    layers["overlap.factor"] = ov_jobs / ov_wall if ov_wall else 0.0
    layers["scale.storage_mb"] = rep["storage_mb"]
    rep["coverage"] = {"tolerance": COVERAGE_TOLERANCE, "keys_outside": uncovered}
    return layers


def layers(run, result) -> dict[str, float]:
    """Every per-layer metric of a traced run (0 where not applicable)."""
    out = {n: 0.0 for n in LAYER_UNITS}
    if run.workload != "exactly_once_stream":
        out.update(batch_layers(run, result))
    out.update(result.layers)
    out["session.get_spark_s"] = stats.percentile(run.get_spark_s, 50)
    result.layers = out
    result.report["tracing_overhead"] = tracing_overhead(run, result)
    return out


def tracing_overhead(run, result) -> dict:
    """Traced minus untraced values, from this checkout's untraced result
    for the same workload and seed, if one exists."""
    path = os.path.join(run.work, "..", "results",
                        f"{run.workload}-seed{run.seed}-trace0.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload and seed in this checkout"}
    with open(path) as f:
        base = json.load(f)
    pairs = {n: (result.layers[n], base["layers"][n]) for n in ("timed.cpu_s", "timed.wall_s")}
    return {n: {"traced": t, "untraced": u, "overhead": t - u} for n, (t, u) in pairs.items()}


def print_summary(result, meta) -> None:
    print(f"workload={meta['workload']} seed={meta['seed']} nproc={meta['nproc']} "
          f"SPARK_GRAFT_CPUS={meta['SPARK_GRAFT_CPUS']} loadavg={meta['loadavg_before']:.2f}"
          f"->{meta['loadavg_after']:.2f}{' (busy host)' if meta['busy_host'] else ''}")
    for name, unit in E2E_UNITS.items():
        print(f"  {name:<12} {result.e2e[name]:12.4f} {unit}")
    print(f"  wall_s       {result.layers['timed.wall_s']:12.4f} s")
    print(f"  cpu_s        {result.layers['timed.cpu_s']:12.4f} s")
    for q, s in result.report["latency_ms"].items():
        note = "" if s["supported"] else ", fewer than 10 beyond"
        print(f"  latency {q:<4} {s['value']:12.4f} ms  (n={s['n']}, {s['beyond']:.1f} beyond{note})")
    print(f"  error_ratio  {result.failed}/{result.attempted}")
