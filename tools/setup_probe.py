"""Setup probe: where a restarted session's set-up time goes.

Runs one set-up on a fresh JVM, then ``--restarts`` more, each
stopping the running session first (the JVM stays up, the SparkContext
is new). A set-up is ``session.get_spark``, ``registry.load_all`` and
the benchmark's warm-up key (``perfbench.batch.WARMUP_KEY``) built and
executed through the noop sink, in the benchmark's own Spark
environment (``perfbench.harness.configure_env``). One row per set-up
gives the seconds of each step and the Spark jobs each launched:

- ``age_s``: how long the stopped session had lived, from the start of
  its ``get_spark`` to its ``stop()`` call;
- ``stop_s``: ``spark.stop()``. PySpark's accumulator server polls
  every 0.5 s from when the session started; a stop that waits for the
  poll lands ``age_s + stop_s`` just past a multiple of 0.5 s;
- ``get_spark_s``, ``load_all_s``, ``build_s``, ``exec_s`` and their
  ``*_jobs``; a catalog read that infers its schema is one build job.

Usage: python tools/setup_probe.py --restarts N --sf DIR

Scratch files go under ``.perfbench/setup-probe`` in the checkout.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

COLUMNS = (
    "setup", "age_s", "stop_s", "get_spark_s", "get_spark_jobs", "load_all_s",
    "build_s", "build_jobs", "exec_s", "exec_jobs", "total_s",
)
STEPS = ("stop_s", "get_spark_s", "load_all_s", "build_s", "exec_s")  # summed into total_s


def timed_in_group(sc, group: str, fn):
    """``(seconds, jobs)``: how long ``fn()`` took and how many Spark
    jobs it launched under job group ``group``."""
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        fn()
        seconds = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker learns of jobs from the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return seconds, len(sc.statusTracker().getJobIdsForGroup(group))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--restarts", type=int, required=True)
    ap.add_argument("--sf", required=True, help="directory of the catalog's parquet tables")
    args = ap.parse_args(argv)

    from perfbench.batch import WARMUP_KEY
    from perfbench.harness import configure_env

    work = ROOT / ".perfbench" / "setup-probe"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(str(work), trace=False)  # before pyspark starts the JVM

    from kafka_flink_exactlyonce_example_spark import registry
    from kafka_flink_exactlyonce_example_spark.session import get_spark

    print("\t".join(COLUMNS))
    spark, started, totals = None, 0.0, []
    for setup in range(args.restarts + 1):
        row = {"setup": setup, "age_s": "-", "stop_s": "-"}
        t0 = time.perf_counter()
        if spark is not None:
            row["age_s"] = t0 - started
            spark.stop()
            row["stop_s"] = time.perf_counter() - t0
        started = time.perf_counter()
        spark = get_spark(app_name="setup-probe")
        row["get_spark_s"] = time.perf_counter() - started
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        row["get_spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(None))
        t1 = time.perf_counter()
        registry.load_all()
        row["load_all_s"] = time.perf_counter() - t1
        frame = []
        row["build_s"], row["build_jobs"] = timed_in_group(
            sc, "setup_probe.build", lambda: frame.append(registry.QUERIES[WARMUP_KEY](spark, args.sf))
        )
        row["exec_s"], row["exec_jobs"] = timed_in_group(
            sc, "setup_probe.exec", lambda: frame[0].write.mode("overwrite").format("noop").save()
        )
        row["total_s"] = sum(row[k] for k in STEPS if row[k] != "-")
        if setup:
            totals.append(row["total_s"])
        print("\t".join(
            f"{row[c]:.3f}" if isinstance(row[c], float) else str(row[c]) for c in COLUMNS
        ))
    if totals:
        print(f"median total_s over {len(totals)} restarts: {statistics.median(totals):.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
