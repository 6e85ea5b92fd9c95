"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run generates the input tables
and the DuckDB oracle results under ``.perfbench/data``; every run writes
its full result (and, traced, its spans and per-layer report) under
``.perfbench/results``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics, or with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kafka_flink_exactlyonce_example_spark"
SF = 0.1
WORKLOADS = ("llm_pipeline", "exactly_once_stream")


def prepare_data(state_dir: str) -> str:
    """Tables and oracle results, made once per checkout."""
    from perfbench import datagen, oracles

    data_dir = os.path.join(state_dir, "data", f"sf{SF}")
    if not os.path.exists(os.path.join(data_dir, "READY")):
        shutil.rmtree(data_dir, ignore_errors=True)
        datagen.write(data_dir, SF)
        oracles.compute(data_dir)
        open(os.path.join(data_dir, "READY"), "w").close()
    return data_dir


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def metadata(run, load_before: float) -> dict:
    import pyspark

    nproc = len(os.sched_getaffinity(0))
    java = "unknown"
    if run.spark is not None:
        java = run.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": run.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg()[0],
        "busy_host": load_before > nproc,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "git_commit": _git_commit(),
        "sf": SF,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    state_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    from perfbench import batch, report, stream
    from perfbench.harness import Run, configure_env

    configure_env(work, bool(args.trace))
    load_before = os.getloadavg()[0]
    data_dir = prepare_data(state_dir)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, data_dir)
    try:
        if args.workload == "exactly_once_stream":
            result = stream.run_stream(run)
        else:
            result = batch.run_workload(run)
        meta = metadata(run, load_before)
    finally:
        run.shutdown()
    result.e2e["peak_rss_mb"] = run.rss.peak_mb
    result.layers["timed.cpu_s"] = run.cpu_s
    result.report["meta"] = meta
    result.report["get_spark_s"] = run.get_spark_s

    results_dir = os.path.join(state_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if run.trace:
        layers = report.layers(run, result)
        run.tracer.dump(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump({"e2e": result.e2e, "layers": result.layers, "attempted": result.attempted,
                   "failed": result.failed, "report": result.report}, f, indent=1, default=str)

    from perfbench.metrics import E2E_UNITS, LAYER_UNITS

    report.print_summary(result, meta)
    chosen = (
        {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in LAYER_UNITS.items()}
        if run.trace
        else {n: {"value": float(result.e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    )
    print(json.dumps({"correct": result.failed == 0, "attempted": result.attempted,
                      "failed": result.failed, "metrics": chosen}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
