"""Bench harness: every registered query at $SPARK_GRAFT_SF_DIR
(default sf0.1) on one reused ``local[session.local_cpus()]`` session.

Prints ONE SHORT JSON line (round 1 lesson: a 175-key map on stdout got
truncated by the driver's capture → ``"parsed": null`` in BENCH_r01):
  {"metric": "total_query_sec", "value": N, "unit": "sec",
   "sf": 0.1, "n_queries": N, "cache_build_sec": N,
   "queries": {10 slowest only}}
The full per-query map (plus the per-cache build map — shared session
caches are pre-built and timed as named "caches" line items since
round 9, so each query row is its MARGINAL cost) goes to
``BENCH_FULL.json`` next to this file. ``value`` = queries + cache
builds: the identical work earlier rounds charged to the first
consumer query, so the headline stays cross-round comparable.

Discipline (BASELINE.md): single warm session, AQE on, small shuffle
partition count, no Python row UDFs on measured paths, and results are
executed with a noop sink (full computation, no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _force(df) -> None:
    """Execute the full plan without materializing to the driver."""
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from kafka_flink_exactlyonce_example_spark import registry
    from kafka_flink_exactlyonce_example_spark.session import get_spark, local_cpus

    registry.load_all()
    spark = get_spark(app_name="bench")
    # host-load bookends (VERDICT r09 item 8): four same-code runs
    # climbed 228.9 → 278.4 s with the guest idle — external host
    # contention. Recording 1-min loadavg before/after makes a future
    # total delta self-explaining without a separate uptime log.
    load_before = round(os.getloadavg()[0], 2)

    from kafka_flink_exactlyonce_example_spark.operators import (
        scale,
        session_caches,
    )

    # warmup: JIT + parquet footer caches, not measured
    _force(registry.QUERIES["q_wordcount"](spark, sf_dir))

    # Pre-build every SHARED session cache as its own timed line item
    # (VERDICT r08 item 3): otherwise whichever family member the loop
    # hits first absorbs the whole build (q_semdedup spent four rounds
    # wearing the ~2.8 s _ivf_cells build). Query rows below then read
    # each query's MARGINAL cost; the cache rows carry the amortized
    # infrastructure cost, and the headline total still includes both.
    caches = session_caches.build_all(spark, sf_dir)

    times: dict[str, float] = {}
    for name in sorted(registry.QUERIES):
        t0 = time.perf_counter()
        _force(registry.QUERIES[name](spark, sf_dir))
        times[name] = round(time.perf_counter() - t0, 3)
        # drain ordered_scan's per-invocation persists between queries
        # (round-3 verdict item 7): they are never reused across
        # queries, and 193 accumulated MEMORY_AND_DISK relations is
        # storage pressure the 128 GiB sandbox doesn't owe us. The
        # session caches (MinHash/IVF/shingles/û) are NOT drained —
        # cross-query reuse is their whole point.
        scale.unpersist_all()

    load_after = round(os.getloadavg()[0], 2)
    payload = json.dumps(
        {
            "sf": sf,
            # self-identify which run a map belongs to (VERDICT r16
            # item 2: an 8-core scaling rerun was only identifiable by
            # cross-referencing loadavg tails)
            "cpus": local_cpus(),
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            "caches": caches,
            "queries": times,
        },
        indent=1,
    )
    here = Path(__file__).resolve().parent
    (here / "BENCH_FULL.json").write_text(payload)
    # per-round copy (round-5 verdict item 8): BENCH_FULL.json gets
    # overwritten each run, which makes per-query regressions beyond
    # the top-10 invisible to the next audit — keep one map per round
    # so consecutive rounds stay comparable. Label: normally the
    # derived rotation round, EXCEPT when this round's CORRECTNESS
    # artifact already landed but its bench copy hasn't (the driver may
    # grade correctness before bench within one round — the derived
    # round has then already advanced, and the bench still belongs to
    # the just-graded round).
    label = registry.rotation_round()
    prev = label - 1
    if (here / f"CORRECTNESS_r{prev:02d}.json").exists() and not (
        here / f"BENCH_FULL_r{prev:02d}.json"
    ).exists():
        label = prev
    if os.environ.get("SPARK_GRAFT_BENCH_LOCAL"):
        # builder-local sample (VERDICT r13 process note): the
        # BENCH_FULL_r{N} namespace belongs to the DRIVER's per-round
        # maps — a builder closing sample under that name destroys
        # artifact provenance (round 13's collision). Local samples
        # get their own namespace with a free sequence suffix so the
        # 3-sample discipline keeps every sample.
        n = 1
        while (here / f"BENCH_LOCAL_r{label:02d}_s{n}.json").exists():
            n += 1
        (here / f"BENCH_LOCAL_r{label:02d}_s{n}.json").write_text(payload)
    else:
        # Never overwrite an existing per-round map (VERDICT r16 item 2:
        # the r16 8-core scaling run overwrote the 32-core full map that
        # rotation had already labelled r17). First run of a round keeps
        # the plain r{N} name; any later run of the same round — e.g. a
        # scaling rerun at a different $SPARK_GRAFT_CPUS — lands under a
        # distinct _c{cpus}[_sK] name so every map survives.
        cpus = local_cpus()
        dest = here / f"BENCH_FULL_r{label:02d}.json"
        if dest.exists():
            dest = here / f"BENCH_FULL_r{label:02d}_c{cpus}.json"
            n = 2
            while dest.exists():
                dest = here / f"BENCH_FULL_r{label:02d}_c{cpus}_s{n}.json"
                n += 1
        dest.write_text(payload)

    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                # headline stays comparable across rounds: query time
                # PLUS shared-cache builds (the same work previous
                # rounds charged to the first consumer query)
                "value": round(sum(times.values()) + sum(caches.values()), 3),
                "unit": "sec",
                "sf": sf,
                "n_queries": len(times),
                "cache_build_sec": round(sum(caches.values()), 3),
                "loadavg": [load_before, load_after],
                "queries": slowest,
            }
        )
    )


if __name__ == "__main__":
    main()
