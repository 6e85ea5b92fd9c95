"""Ingest admission gate + index-refresh report — the driver-graded
batch twins of the streaming ingest gate (streaming/jobs.py
``streaming_ingest_gate``).

Round 10: the streaming gate's runtime test proves its decisions are
exactly-once and replay-stable; ``q_ingest_gate`` puts the decision
semantics themselves under the DuckDB hash grade, and
``q_index_refresh`` grades the OFFLINE side of the frozen-index
contract — the rebuild-decision report that tells you when the frozen
quantizer has drifted from the grown corpus. Same deterministic 'inc:'
md5 split as q_incremental_dedup / q_incremental_ann: ~10% of docs play
the "new batch", the rest are the frozen corpus.

Per new doc, the gate's three-check verdict:

- ``f_exact``     — normalized md5 digest appears in the corpus digest
                    set (q_incremental_dedup's exact path);
- ``f_near_text`` — the doc sits on a verified LSH edge (jaccard ≥ 0.8)
                    whose other endpoint is in the corpus (the shared
                    ``_lsh_verified_edges`` session cache);
- ``f_near_emb``  — its frozen-index top-1 embedding neighbor (two-stage
                    (label → sub-cell) routing, q_incremental_ann's
                    machinery verbatim) has 6-dp-rounded cosine ≥
                    ``_NEAR_EMB_THRESHOLD``;
- ``admitted``    — none of the three fired.

Scale shape: inherited entirely from the parts — digest and edge checks
are 16-byte-hash semi-joins against corpus-side indexes (linear in the
BATCH), the ANN check routes against bounded/√n-scaled broadcast tables
and scans one sub-cell posting list per doc (∝ √n rows). Docs without
an embedding row (possible at sf0.1 where |documents| > |embeddings|)
take NULL neighbor/sim and f_near_emb = 0 through the left join —
mirrored in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_exactlyonce_example_spark.functions import hashing
from kafka_flink_exactlyonce_example_spark.functions.similarity import (
    cosine,
    cosine_spark_sql,
    cosine_sql,
    jaccard,
)
from kafka_flink_exactlyonce_example_spark.operators.dedup import (
    _CELL_TARGET,
    _LSH_SCORED_CTES,
    _MAX_BUCKET,
    _MINHASH_CTES,
    _TEXT_GEN_SHINGLE_SQL,
    _TEXT_GEN_SIG_SQL,
    _TT_PLANT,
    _assign_to_seeds,
    _tt_plant,
    _bands_rel,
    _lsh_verified_edges,
    _shingles_frame,
    _signatures_frame,
    _tg_base,
    _tg_isets,
    _tg_qsets,
    _tg_slice_bands,
    _word_set_col,
)
from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
    _inc_tagged,
    frozen_route,
    frozen_top1,
    inc_index_build,
    warm_index_cycle,
)
from kafka_flink_exactlyonce_example_spark.operators.overlap import (
    run_overlapped,
    session_cache,
)
from kafka_flink_exactlyonce_example_spark.registry import query
from kafka_flink_exactlyonce_example_spark.sources import table

#: Admission threshold on the 6-dp-rounded frozen-index cosine. 0.35
#: sits just above this synthetic corpus's intra-cluster sim peak
#: (~0.47 max, q_embed_dup's docstring) so both outcomes occur; a real
#: pipeline on tight embeddings runs ~0.95. The comparison happens on
#: the ROUNDED value in BOTH engines, so the flag is integer-exact.
_NEAR_EMB_THRESHOLD = 0.35

#: Shared oracle prefix: the full gate chain ending in a per-new-doc
#: ``verdict`` CTE (doc_id, flags, assigned cell, neighbor, sim,
#: admitted). q_ingest_gate projects it; q_index_refresh rolls it up.
_GATE_CTES = (
    _MINHASH_CTES
    + _LSH_SCORED_CTES
    + f"""
    , edges AS (
        SELECT doc_a, doc_b FROM scored
        WHERE n_common / (n_sum - n_common) >= 0.8
    ), dsplit AS (
        SELECT doc_id, lang,
               CASE WHEN {hashing.is_new_sql('doc_id')}
                    THEN 1 ELSE 0 END AS is_new,
               md5(lower(trim(text))) AS h
        FROM documents
    ), corpus_h AS (
        SELECT DISTINCT h FROM dsplit WHERE is_new = 0
    ), corpus_doc AS (
        SELECT doc_id FROM dsplit WHERE is_new = 0
    ), near_text AS (
        SELECT DISTINCT n.doc_id
        FROM dsplit n
        JOIN (SELECT doc_a AS x, doc_b AS y FROM edges
              UNION ALL SELECT doc_b, doc_a FROM edges) e ON e.x = n.doc_id
        JOIN corpus_doc c ON c.doc_id = e.y
        WHERE n.is_new = 1
    ), esplit AS (
        SELECT vec_id, label, embedding,
               CASE WHEN {hashing.is_new_sql('vec_id')}
                    THEN 1 ELSE 0 END AS is_new
        FROM embeddings
    ), ecent AS (
        SELECT label, list(m ORDER BY i) AS centroid
        FROM (
            SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
            FROM esplit, generate_series(1, 64) t(i)
            WHERE is_new = 0
            GROUP BY label, i
        )
        GROUP BY label
    ), eassign AS (
        SELECT vec_id, cell, embedding FROM (
            SELECT n.vec_id, c.label AS cell, n.embedding,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round({cosine_sql('n.embedding', 'c.centroid')},
                                      6) DESC, c.label) AS rn
            FROM esplit n, ecent c
            WHERE n.is_new = 1
        ) WHERE rn = 1
    ), nn AS (
        SELECT vec_id, cell, neighbor_id, ROUND(sim, 6) AS sim FROM (
            SELECT a.vec_id, a.cell, x.vec_id AS neighbor_id,
                   {cosine_sql('a.embedding', 'x.embedding')} AS sim,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {cosine_sql('a.embedding', 'x.embedding')}
                                DESC, x.vec_id) AS rn
            FROM eassign a
            -- LEFT join mirrors frozen_top1's totality contract
            -- (ADVICE r12: an FP-tie-emptied sub-cell surfaces as a
            -- NULL row on BOTH engines — the verdict CTE already
            -- reads NULL sim as f_near_emb = 0 via COALESCE).
            -- LABEL-GRAIN scan vs Spark's ONE frozen sub-cell: exact
            -- only while every graded-SF label stays under
            -- 4*_CELL_TARGET (k=1 collapse). Guarded by tests/
            -- test_ivf_cells.py::test_graded_sfs_stay_under_split_threshold
            -- — if grading fails HERE after a testdata regen, check
            -- that guard before suspecting the engine.
            LEFT JOIN esplit x ON x.is_new = 0 AND x.label = a.cell
        ) WHERE rn = 1
    ), verdict AS (
        SELECT d.doc_id,
               CASE WHEN ch.h IS NOT NULL THEN 1 ELSE 0 END AS f_exact,
               CASE WHEN nt.doc_id IS NOT NULL THEN 1 ELSE 0
                    END AS f_near_text,
               CASE WHEN nn.sim >= {_NEAR_EMB_THRESHOLD} THEN 1 ELSE 0
                    END AS f_near_emb,
               nn.cell AS cell,
               nn.neighbor_id AS neighbor_id,
               nn.sim AS sim,
               CASE WHEN ch.h IS NULL AND nt.doc_id IS NULL
                         AND COALESCE(nn.sim < {_NEAR_EMB_THRESHOLD}, TRUE)
                    THEN 1 ELSE 0 END AS admitted
        FROM dsplit d
        LEFT JOIN corpus_h ch ON ch.h = d.h
        LEFT JOIN near_text nt ON nt.doc_id = d.doc_id
        LEFT JOIN nn ON nn.vec_id = d.doc_id
        WHERE d.is_new = 1
    )
"""
)


#: _GATE_CTES + the SURVIVOR-gated verdict: the same three checks
#: decided against the corpus MINUS the graded 'del:' wave, so a doc
#: is never rejected because of a doc that was taken down — digest
#: anti-join at DOC grain before the distinct-h view (a digest shared
#: by a deleted and a surviving doc still rejects), edges restricted
#: to surviving corpus endpoints, the posting scan tombstone-filtered.
#: ``verdict_s`` is the oracle twin of
#: ``gate_flags_for(survivors_only=True)`` /
#: ``ingest_gate_decisions(takedowns=...)``; q_generation_roll's
#: census and q_gate_post_takedown grade against it.
_GATE_POST_CTES = (
    _GATE_CTES
    + f"""
    , surv_doc AS (
        SELECT doc_id FROM dsplit
        WHERE is_new = 0 AND NOT {hashing.is_del_sql('doc_id')}
    ), surv_h AS (
        SELECT DISTINCT d.h FROM dsplit d
        JOIN surv_doc s ON s.doc_id = d.doc_id
    ), near_text_s AS (
        SELECT DISTINCT n.doc_id
        FROM dsplit n
        JOIN (SELECT doc_a AS x, doc_b AS y FROM edges
              UNION ALL SELECT doc_b, doc_a FROM edges) e ON e.x = n.doc_id
        JOIN surv_doc c ON c.doc_id = e.y
        WHERE n.is_new = 1
    ), nn_s AS (
        SELECT vec_id, cell, neighbor_id, ROUND(sim, 6) AS sim FROM (
            SELECT a.vec_id, a.cell, x.vec_id AS neighbor_id,
                   {cosine_sql('a.embedding', 'x.embedding')} AS sim,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {cosine_sql('a.embedding', 'x.embedding')}
                                DESC, x.vec_id) AS rn
            FROM eassign a
            LEFT JOIN esplit x
              ON x.is_new = 0 AND x.label = a.cell
             AND NOT {hashing.is_del_sql('x.vec_id')}
        ) WHERE rn = 1
    ), verdict_s AS (
        SELECT d.doc_id,
               CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END AS f_exact,
               CASE WHEN nt.doc_id IS NOT NULL THEN 1 ELSE 0
                    END AS f_near_text,
               CASE WHEN nn_s.sim >= {_NEAR_EMB_THRESHOLD} THEN 1 ELSE 0
                    END AS f_near_emb,
               nn_s.cell AS cell,
               nn_s.neighbor_id AS neighbor_id,
               nn_s.sim AS sim,
               CASE WHEN sh.h IS NULL AND nt.doc_id IS NULL
                         AND COALESCE(nn_s.sim < {_NEAR_EMB_THRESHOLD}, TRUE)
                    THEN 1 ELSE 0 END AS admitted
        FROM dsplit d
        LEFT JOIN surv_h sh ON sh.h = d.h
        LEFT JOIN near_text_s nt ON nt.doc_id = d.doc_id
        LEFT JOIN nn_s ON nn_s.vec_id = d.doc_id
        WHERE d.is_new = 1
    )
"""
)


def _gate_frame_dual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH admission-verdict variants from ONE corpus pass (round 16,
    optimization — the q_gate_post_takedown round-16 device applied to
    the gate itself; the two variants previously re-ran the whole
    chain, and the nn scoring scan alone is ~2 s per variant at
    sf0.1): one row per new doc carrying the standing verdict
    (``*_v1`` — checks against the full frozen corpus) and the
    survivor-gated verdict (``*_v2`` — the corpus minus the 'del:'
    wave, VERDICT r14 item 1's semantics).

    Per check, the collapse and its byte-equivalence argument:

    - digest: the per-h MAX of the endpoint survivor flag gives both
      distinct-h views in one aggregation — h ∈ corpus-h iff the h
      row exists, h ∈ survivor-h iff its max flag is 1.
    - near-text: the per-probe MAX of the edge-endpoint survivor flag
      — an edge to ANY corpus endpoint is the v1 hit, an edge to a
      SURVIVING endpoint the v2 hit (the old semi-join + distinct,
      folded into one aggregation).
    - embedding: ONE scored scan of the routed batch against the FULL
      posting relation, each neighbor carrying its 'del:' flag
      (derivable from the id — no tombstone join); v1 ranks all
      neighbors, v2 ranks survivors FIRST (``_tb`` asc) and NULLs
      neighbor and sim when the best row is tombstoned —
      byte-equivalent to :func:`simsearch.frozen_top1`'s
      tombstone-filtered LEFT join including its totality contract (a
      fully-tombstoned or empty sub-cell surfaces as an explicit NULL
      row, and f_near_emb reads 0 through the same
      NULL-comparison path). Routing is variant-independent
      (tombstones never affected :func:`simsearch.frozen_route`), so
      ``cell`` is shared.
    """
    d = table(spark, sf_dir, "documents")
    is_new = hashing.is_new("doc_id")
    dsplit = d.select(
        "doc_id",
        is_new.cast("int").alias("is_new"),
        hashing.text_digest().alias("h"),
    )
    new_docs = dsplit.filter(F.col("is_new") == 1).select("doc_id", "h")
    corpus = dsplit.filter(F.col("is_new") == 0)
    surv = (~hashing.is_del("doc_id")).cast("int")
    h_both = corpus.select("h", surv.alias("_sv")).groupBy("h").agg(
        F.max("_sv").alias("_hsv")
    )

    edges = _lsh_verified_edges(spark, sf_dir)
    sym = edges.select(
        F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
    ).unionAll(edges.select(F.col("doc_b").alias("x"), F.col("doc_a").alias("y")))
    near_both = (
        sym.join(
            corpus.select(F.col("doc_id").alias("y"), surv.alias("_sv")),
            "y",
        )
        .groupBy(F.col("x").alias("doc_id"))
        .agg(F.max("_sv").alias("_nsv"))
    )

    cent, seeds = inc_index_build(spark, sf_dir)
    tagged = _inc_tagged(spark, sf_dir)
    old_vec = tagged.filter(~F.col("is_new")).select(
        "vec_id", "label", "embedding"
    )
    new_vec = tagged.filter(F.col("is_new")).select("vec_id", "embedding")
    from pyspark.sql import Window

    x = _assign_to_seeds(old_vec, seeds).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("icell"),
        F.col("embedding").alias("xe"),
    )
    scored = (
        frozen_route(new_vec, cent, seeds)
        .join(x, "icell", "left")
        .select(
            "vec_id",
            "cell",
            "neighbor_id",
            cosine("embedding", "xe").alias("sim_raw"),
            hashing.is_del("neighbor_id").cast("int").alias("_tb"),
        )
    )
    w1 = Window.partitionBy("vec_id").orderBy(
        F.desc("sim_raw"), F.col("neighbor_id")
    )
    w2 = Window.partitionBy("vec_id").orderBy(
        F.col("_tb"), F.desc("sim_raw"), F.col("neighbor_id")
    )
    nn1 = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("doc_id"),
            "cell",
            F.col("neighbor_id").alias("nb1"),
            F.round("sim_raw", 6).alias("sim1"),
        )
    )
    nn2 = (
        scored.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.when(F.col("_tb") == 0, F.col("neighbor_id")).alias("nb2"),
            F.when(F.col("_tb") == 0, F.round("sim_raw", 6)).alias("sim2"),
        )
    )

    t = F.lit(_NEAR_EMB_THRESHOLD)
    f_exact_v1 = F.when(F.col("_hsv").isNotNull(), 1).otherwise(0)
    f_exact_v2 = F.when(F.col("_hsv") == 1, 1).otherwise(0)
    f_text_v1 = F.when(F.col("_nsv").isNotNull(), 1).otherwise(0)
    f_text_v2 = F.when(F.col("_nsv") == 1, 1).otherwise(0)
    f_emb_v1 = F.when(F.col("sim1") >= t, 1).otherwise(0)
    f_emb_v2 = F.when(F.col("sim2") >= t, 1).otherwise(0)
    return (
        new_docs.join(h_both, "h", "left")
        .join(near_both, "doc_id", "left")
        .join(nn1, "doc_id", "left")
        .join(nn2, "doc_id", "left")
        .select(
            "doc_id",
            "cell",
            f_exact_v1.alias("f_exact_v1"),
            f_text_v1.alias("f_text_v1"),
            f_emb_v1.alias("f_emb_v1"),
            F.col("nb1"),
            F.col("sim1"),
            (
                (f_exact_v1 == 0) & (f_text_v1 == 0) & (f_emb_v1 == 0)
            ).cast("int").alias("admitted_v1"),
            f_exact_v2.alias("f_exact_v2"),
            f_text_v2.alias("f_text_v2"),
            f_emb_v2.alias("f_emb_v2"),
            F.col("nb2"),
            F.col("sim2"),
            (
                (f_exact_v2 == 0) & (f_text_v2 == 0) & (f_emb_v2 == 0)
            ).cast("int").alias("admitted_v2"),
        )
    )


def _gate_variant(dual: DataFrame, survivors_only: bool) -> DataFrame:
    """Project one verdict variant out of the dual frame: doc_id,
    f_exact, f_near_text, f_near_emb, cell, neighbor_id, sim,
    admitted — the oracle's ``verdict`` / ``verdict_s`` columns."""
    s = "_v2" if survivors_only else "_v1"
    nb, sim = ("nb2", "sim2") if survivors_only else ("nb1", "sim1")
    return dual.select(
        "doc_id",
        F.col(f"f_exact{s}").alias("f_exact"),
        F.col(f"f_text{s}").alias("f_near_text"),
        F.col(f"f_emb{s}").alias("f_near_emb"),
        "cell",
        F.col(nb).alias("neighbor_id"),
        F.col(sim).alias("sim"),
        F.col(f"admitted{s}").alias("admitted"),
    )


#: The MATERIALIZED DUAL gate verdict (one build serves both variants;
#: ADVICE r16 — the key carries no survivors_only component because
#: the variants are projections of the same checkpoint). Uncached, the
#: |batch|-bounded admission relation is rebuilt per consumer — ~2.2 s
#: of gate-chain work each time — by TWO queries per variant
#: (q_ingest_gate + q_index_refresh on the standing scenario;
#: q_generation_roll + q_derived_catalog2 on the survivor-gated one),
#: which is exactly the shared-session-cache
#: policy's threshold (VERDICT r08 item 3: multi-consumer relations are
#: pre-built, timed cache line items; single-consumer ones stay on
#: their query's row).
@session_cache("gate_flags")
def _gate_flags_dual(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gate_frame_dual(spark, sf_dir).localCheckpoint()


def gate_flags_for(
    spark: SparkSession, sf_dir: str, survivors_only: bool = False
) -> DataFrame:
    """Session-cached checkpoint of the DUAL gate frame, projected to
    the requested variant — one |batch|-row materialization serves all
    four consumers of both variants."""
    return _gate_variant(_gate_flags_dual(spark, sf_dir), survivors_only)


@query(
    "q_ingest_gate",
    oracle=_GATE_CTES
    + """
    SELECT doc_id, f_exact, f_near_text, f_near_emb, neighbor_id, sim,
           admitted
    FROM verdict
    """,
)
def q_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc admission verdict for the 'inc:'-split ingest batch —
    see the module docstring. Composes three session-cached /
    frozen-index relations; the verdict relation itself is the shared
    session cache ``gate_flags_for`` (q_index_refresh consumes the
    identical chain)."""
    return gate_flags_for(spark, sf_dir).drop("cell")


@query(
    "q_index_refresh",
    oracle=_GATE_CTES
    + f"""
    , newcells AS (
        SELECT v.cell AS cell, CAST(COUNT(*) AS BIGINT) AS n_admitted
        FROM verdict v
        WHERE v.admitted = 1 AND v.cell IS NOT NULL
        GROUP BY v.cell
    ), oldcells AS (
        SELECT label AS cell, CAST(COUNT(*) AS BIGINT) AS n_old
        FROM esplit WHERE is_new = 0 GROUP BY label
    )
    SELECT o.cell,
           o.n_old,
           COALESCE(nc.n_admitted, 0) AS n_admitted,
           o.n_old + COALESCE(nc.n_admitted, 0) AS n_total,
           GREATEST(1, CAST(FLOOR(SQRT(o.n_old / {_CELL_TARGET}.0))
                            AS BIGINT)) AS k_frozen,
           GREATEST(1, CAST(FLOOR(SQRT((o.n_old + COALESCE(nc.n_admitted, 0))
                                       / {_CELL_TARGET}.0))
                            AS BIGINT)) AS k_next,
           CASE WHEN GREATEST(1, CAST(FLOOR(SQRT(
                         (o.n_old + COALESCE(nc.n_admitted, 0))
                         / {_CELL_TARGET}.0)) AS BIGINT))
                   > GREATEST(1, CAST(FLOOR(SQRT(o.n_old / {_CELL_TARGET}.0))
                                      AS BIGINT))
                THEN 1 ELSE 0 END AS rebuild
    FROM oldcells o LEFT JOIN newcells nc ON nc.cell = o.cell
    """,
)
def q_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OFFLINE half of the frozen-index contract: per label-cell of
    the frozen quantizer — how many vectors the cell held when the
    index was trained (n_old), how many this batch's ADMITTED docs
    would add to it (n_admitted, routed by the frozen quantizer, which
    is exactly where they will land at the next rebuild), the
    post-merge total, and whether that total moves the cell's sub-cell
    count k = max(1, ⌊√(n/_CELL_TARGET)⌋) — ``rebuild = 1`` means the
    frozen quantizer has drifted enough that the next offline rebuild
    will re-partition this cell. This is the report a production
    pipeline runs after each ingest window to decide when "rebuild +
    restart the stream" is due (the streaming gate's docstring names
    that lifecycle; this query grades its trigger condition).

    Scale shape: the gate chain's shape (see module docstring) plus
    two label-grain reduces and a bounded join — output is |labels|
    rows, all columns integer-derived (counts and floor/sqrt of
    counts: no float-summation hash exposure). At the graded SFs
    every cell sits far below the split threshold, so k_frozen =
    k_next = 1 and rebuild = 0 — the flag's arithmetic is still fully
    oracle-checked; the TRIGGER branch is fired directly by
    tests/test_ivf_cells.py::test_index_refresh_rebuild_flag_fires
    (threshold retuned so the most-grown cell provably crosses the
    k=1→2 boundary, arithmetic verified against an independent float
    recomputation), and the k>1 routing regime by the probe sweep and
    the split-regime unit tests."""
    flags = gate_flags_for(spark, sf_dir)
    newcells = (
        flags.filter((F.col("admitted") == 1) & F.col("cell").isNotNull())
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_admitted"))
    )
    oldcells = (
        _inc_tagged(spark, sf_dir)
        .filter(~F.col("is_new"))
        .groupBy(F.col("label").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_old"))
    )
    return index_refresh_report(oldcells, newcells)


def index_refresh_report(
    oldcells: DataFrame,
    newcells: DataFrame,
    cell_target: float | None = None,
) -> DataFrame:
    """The rebuild-trigger arithmetic of q_index_refresh as a
    frame-level function, so LIFECYCLE consumers (the streaming
    restart test, a production scheduler) can run the report on their
    OWN frozen index + admitted batch instead of the graded sf_dir
    fixtures. ``oldcells`` is (cell, n_old); ``newcells`` (cell,
    n_admitted); output one row per OLD cell with k_frozen / k_next /
    rebuild (see q_index_refresh's docstring for semantics).

    ``cell_target`` defaults to the module's _CELL_TARGET **read at
    call time**. IMPORT-TIME / CALL-TIME ASYMMETRY (ADVICE r10): the
    oracle SQL above baked _CELL_TARGET in when the @query decorator
    ran at import, while this expression resolves HERE, at call time.
    test_index_refresh_rebuild_flag_fires relies on exactly this split
    (it monkeypatches only the Spark side and never hash-grades); any
    caller that retunes ingest._CELL_TARGET and THEN hash-grades would
    compare against the stale baked-in threshold — re-import the
    module (or regenerate the oracle) after retuning."""
    t = float(_CELL_TARGET if cell_target is None else cell_target)

    def _k(n):
        return F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.sqrt(n / F.lit(t))).cast("bigint"),
        )

    n_total = F.col("n_old") + F.coalesce(F.col("n_admitted"), F.lit(0))
    return (
        oldcells.join(newcells, "cell", "left")
        .select(
            "cell",
            "n_old",
            F.coalesce("n_admitted", F.lit(0).cast("bigint")).alias(
                "n_admitted"
            ),
            n_total.alias("n_total"),
            _k(F.col("n_old")).alias("k_frozen"),
            _k(n_total).alias("k_next"),
            (_k(n_total) > _k(F.col("n_old"))).cast("int").alias("rebuild"),
        )
    )


@query(
    "q_index_compact",
    oracle=f"""
    WITH esplit AS (
        SELECT vec_id, label,
               CASE WHEN {hashing.is_new_sql('vec_id')}
                    THEN 1 ELSE 0 END AS is_new,
               CASE WHEN {hashing.is_del_sql('vec_id')}
                    THEN 1 ELSE 0 END AS is_del
        FROM embeddings
    ), oldcells AS (
        SELECT label AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_before,
               CAST(COUNT(*) FILTER (WHERE is_del = 1) AS BIGINT) AS n_deleted
        FROM esplit WHERE is_new = 0 GROUP BY label
    )
    SELECT cell,
           n_before,
           n_deleted,
           n_before - n_deleted AS n_after,
           GREATEST(1, CAST(FLOOR(SQRT(n_before / {_CELL_TARGET}.0))
                            AS BIGINT)) AS k_frozen,
           GREATEST(1, CAST(FLOOR(SQRT((n_before - n_deleted)
                                       / {_CELL_TARGET}.0))
                            AS BIGINT)) AS k_after,
           CASE WHEN GREATEST(1, CAST(FLOOR(SQRT((n_before - n_deleted)
                                              / {_CELL_TARGET}.0)) AS BIGINT))
                   < GREATEST(1, CAST(FLOOR(SQRT(n_before / {_CELL_TARGET}.0))
                                      AS BIGINT))
                THEN 1 ELSE 0 END AS compact
    FROM oldcells
    """,
)
def q_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHRINK half of the frozen-index lifecycle (round 12 —
    q_index_refresh grades growth; production pipelines also DELETE:
    takedowns, license revocations, dedup retractions). Per cell of
    the frozen quantizer: how many vectors it held (n_before), how
    many a deterministic md5 'del:' tombstone batch removes (~20% of
    the frozen corpus — a takedown wave), the post-delete total, and
    whether the shrink moves the cell's sub-cell count k = max(1,
    ⌊√(n/_CELL_TARGET)⌋) DOWN — ``compact = 1`` means the next offline
    rebuild should merge this cell's sub-cells (oversplit posting
    lists waste probe fan-out: a query pays nprobe cells either way,
    but each visit scans a list sized for a corpus that no longer
    exists). The exact mirror-image of q_index_refresh's rebuild
    trigger; a production scheduler runs BOTH reports after each
    ingest/delete window and rebuilds when either fires.

    Tombstone semantics before the rebuild fires: deletes are an
    id-set filter on the posting scan (an anti-join on 8-byte ids —
    the same shape as the admission digest check). Since round 13 the
    engine EXECUTES both halves of what this report prices:
    :func:`simsearch.tombstone_filter` threads the id-set through
    frozen_top1 (graded end-to-end by q_ann_tombstone), and
    :func:`simsearch.warm_index_compact` performs the fired merge
    (lifecycle-tested: wave → fire → warm merge → deleted data gone,
    churn ≤ cold). So search stays correct between rebuilds and this
    report prices when the index geometry itself is due. At the
    graded SFs every cell sits far
    below the split threshold (k_frozen = k_after = 1, compact = 0) —
    the arithmetic is still fully hash-checked, and the FIRING branch
    is exercised by tests/test_ivf_cells.py::
    test_index_compact_flag_fires with a retuned cell target (the
    test_index_refresh_rebuild_flag_fires recipe).

    Scale shape: two label-grain conditional aggregates over one scan
    of the frozen corpus — output |labels| rows, every column
    integer-derived (counts and floor/sqrt of counts)."""
    old = (
        _inc_tagged(spark, sf_dir)
        .filter(~F.col("is_new"))
        .select("vec_id", "label", hashing.is_del("vec_id").cast("int").alias("is_del"))
    )
    cells = old.groupBy(F.col("label").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum("is_del").cast("long").alias("n_deleted"),
    )
    return index_compact_report(cells)


def index_compact_report(
    cells: DataFrame, cell_target: float | None = None
) -> DataFrame:
    """The compaction-trigger arithmetic of q_index_compact as a
    frame-level function (the :func:`index_refresh_report` twin, same
    call-time ``cell_target`` contract): ``cells`` is (cell, n_before,
    n_deleted); output one row per cell with k_frozen / k_after /
    compact."""
    t = float(_CELL_TARGET if cell_target is None else cell_target)

    def _k(n):
        return F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.sqrt(n / F.lit(t))).cast("bigint"),
        )

    n_after = F.col("n_before") - F.col("n_deleted")
    return cells.select(
        "cell",
        "n_before",
        "n_deleted",
        n_after.alias("n_after"),
        _k(F.col("n_before")).alias("k_frozen"),
        _k(n_after).alias("k_after"),
        (_k(n_after) < _k(F.col("n_before"))).cast("int").alias("compact"),
    )


@query(
    "q_ann_tombstone",
    oracle=f"""
    WITH split AS (
        SELECT vec_id, label, embedding,
               CASE WHEN {hashing.is_new_sql('vec_id')}
                    THEN 1 ELSE 0 END AS is_new,
               CASE WHEN {hashing.is_del_sql('vec_id')}
                    THEN 1 ELSE 0 END AS is_del
        FROM embeddings
    ), cent AS (
        SELECT label, list(m ORDER BY i) AS centroid
        FROM (
            SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
            FROM split, generate_series(1, 64) t(i)
            WHERE is_new = 0
            GROUP BY label, i
        )
        GROUP BY label
    ), assign AS (
        SELECT vec_id, cell, embedding FROM (
            SELECT n.vec_id, c.label AS cell, n.embedding,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round({cosine_sql('n.embedding', 'c.centroid')},
                                      6) DESC, c.label) AS rn
            FROM split n, cent c
            WHERE n.is_new = 1
        ) WHERE rn = 1
    )
    SELECT vec_id, cell, neighbor_id, ROUND(sim, 6) AS sim FROM (
        SELECT a.vec_id, a.cell, x.vec_id AS neighbor_id,
               {cosine_sql('a.embedding', 'x.embedding')} AS sim,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {cosine_sql('a.embedding', 'x.embedding')}
                            DESC, x.vec_id) AS rn
        FROM assign a
        -- LEFT join mirrors frozen_top1's totality contract (a cell
        -- emptied by the tombstone wave surfaces as a NULL row on
        -- both engines). LABEL-GRAIN scan vs Spark's ONE frozen
        -- sub-cell: exact only under the k=1 collapse — guarded by
        -- tests/test_ivf_cells.py::
        -- test_graded_sfs_stay_under_split_threshold.
        LEFT JOIN split x ON x.is_new = 0 AND x.is_del = 0
                         AND x.label = a.cell
    ) WHERE rn = 1
    """,
)
def q_ann_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-aware ingest-time ANN lookup — q_incremental_ann's
    exact machinery with the delete path EXECUTED: the deterministic
    'del:' takedown wave (``hashing.is_del``, ~20% of the frozen
    corpus — the same wave
    q_index_compact prices) is threaded through :func:`frozen_top1`'s
    ``tombstones`` anti-join, so a deleted vector can never surface as
    a neighbor BETWEEN rebuilds. The frozen index stays trained on the
    FULL pre-delete corpus — takedowns arrive after training, and the
    frozen-quantizer contract (a wave must not move the router) is
    exactly why the delete is a scan-side id filter and not a retrain;
    the retrain is :func:`warm_index_compact`, fired by
    q_index_compact's report (lifecycle-tested).

    Grading semantics: top-1 OVER THE SURVIVORS differs from
    q_incremental_ann's top-1 wherever the old winner was tombstoned
    (~20% of probes in expectation) — the oracle recomputes the truth
    under ``is_del = 0``, so the anti-join path is value-graded, not
    just row-counted.

    Scale shape: q_incremental_ann's plus ONE broadcast anti semi-join
    on 8-byte ids (the tombstone set is the small side — same shape as
    the admission digest check). Output one row per new vector,
    6-dp-rounded sims."""
    cent, seeds = inc_index_build(spark, sf_dir)
    tagged = _inc_tagged(spark, sf_dir)
    old = tagged.filter(~F.col("is_new")).select("vec_id", "label", "embedding")
    new = tagged.filter(F.col("is_new")).select("vec_id", "embedding")
    tomb = old.filter(hashing.is_del("vec_id")).select("vec_id")
    return frozen_top1(
        frozen_route(new, cent, seeds),
        _assign_to_seeds(old, seeds),
        tombstones=tomb,
    )


# --------------------------------------------------------------------------
# q_gate_post_takedown — admission under the SAME window's wave
# --------------------------------------------------------------------------

#: Plant id offsets for q_gate_post_takedown's four O(1) populations —
#: disjoint from each other, from every graded-SF doc_id, and from the
#: 1e9/2e9/3e9 spaces q_text_gen_fold / q_text_tombstone use.
_GPT_NEAR_DEL_BASE = 4_000_000_000
_GPT_NEAR_SURV_BASE = 5_000_000_000
_GPT_EXACT_DEL_BASE = 6_000_000_000
_GPT_EXACT_SURV_BASE = 7_000_000_000


def _gpt_plants(base: DataFrame) -> DataFrame:
    """The four plant populations (16 rows): near/exact copies of the
    first 4 taken-down and the first 4 surviving corpus docs — ONE
    builder, :func:`dedup._tt_plant` (q_text_tombstone's recipe; the
    ``exact`` mode copies text verbatim so the plant shares its
    source's normalized digest — round-15 self-review folded the
    variant into the shared helper instead of duplicating it)."""
    del_pop = (F.col("g") >= 1) & hashing.is_del("doc_id")
    surv_pop = (F.col("g") >= 1) & ~hashing.is_del("doc_id")
    return (
        _tt_plant(base, del_pop, _GPT_NEAR_DEL_BASE)
        .unionByName(_tt_plant(base, surv_pop, _GPT_NEAR_SURV_BASE))
        .unionByName(
            _tt_plant(base, del_pop, _GPT_EXACT_DEL_BASE, exact=True)
        )
        .unionByName(
            _tt_plant(base, surv_pop, _GPT_EXACT_SURV_BASE, exact=True)
        )
    )


#: Session cache of the materialized 16-row plant relation — the
#: plants are a pure function of the fixtures, and their four
#: TakeOrdered corpus chains cost ~0.7 s of SEQUENTIAL construction
#: latency per graded run.
@session_cache("gpt_plants")
def _gpt_plants_cached(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # a true pure-function memo (the inc_index_build idiom): the base
    # frame is derived HERE from the same session-cached _tg_base, so
    # a cache hit can never silently return plants built from some
    # other caller's differently-filtered base (round-16 self-review)
    base, _, _ = _tg_base(spark, sf_dir)
    return _gpt_plants(base)


def _route_inline(
    new_vec: DataFrame, cent: DataFrame, seeds: DataFrame
) -> DataFrame:
    """:func:`simsearch.frozen_route` re-expressed WITHOUT the coarse
    window shuffle (round 16, VERDICT r15 item 3): the per-probe
    nearest-centroid argmax runs as the same inline
    array_max-over-struct idiom :func:`dedup._assign_to_seeds` uses
    for the fine stage — struct(round(cos, 6), -cell, cell) orders by
    rounded cosine then smallest cell, EXACTLY frozen_route's
    (desc cell_sim, cell) row_number tie-break — over one broadcast
    of the bounded centroid table, so the probe scan stays narrow
    (no Exchange, no per-(probe, cell) row explosion). Same (vec_id,
    cell, icell, embedding) output, value-identical by construction;
    q_gate_post_takedown's oracle grades the values at every SF."""
    cent_arr = cent.agg(
        F.collect_list(
            F.struct(F.col("cell").alias("cell"), F.col("centroid").alias("centroid"))
        ).alias("_cents")
    )
    best = F.expr(
        "array_max(transform(_cents, c -> struct("
        f"round({cosine_spark_sql('embedding', 'c.centroid')}, 6) AS _cs, "
        "-c.cell AS _nc, c.cell AS cell))).cell AS cell"
    )
    coarse = new_vec.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id", best, "embedding"
    )
    return _assign_to_seeds(
        coarse.withColumnRenamed("cell", "label"), seeds
    ).select(
        "vec_id",
        F.col("label").alias("cell"),
        F.col("cell").alias("icell"),
        "embedding",
    )


def _gpt_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate pair's ONE-PASS scored relation, lazy — the two-stage
    batch routing × the gen-1 posting assignment's sub-cell members,
    each neighbor carrying its tombstone flag. The caller checkpoints
    the bounded |batch| × posting-list relation once for BOTH top-1
    windows."""
    cent, seeds = inc_index_build(spark, sf_dir)
    tagged = _inc_tagged(spark, sf_dir)
    old_vec = tagged.filter(~F.col("is_new")).select(
        "vec_id", "label", "embedding"
    )
    new_vec = tagged.filter(F.col("is_new")).select("vec_id", "embedding")
    x = _assign_to_seeds(old_vec, seeds).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("icell"),
        F.col("embedding").alias("xe"),
    )
    tomb_vec = old_vec.filter(hashing.is_del("vec_id")).select("vec_id")
    scored = (
        _route_inline(new_vec, cent, seeds)
        .join(x, "icell", "left")
        .join(
            tomb_vec.withColumnRenamed("vec_id", "neighbor_id")
            .withColumn("_tb", F.lit(1)),
            "neighbor_id",
            "left",
        )
        .select(
            "vec_id",
            "neighbor_id",
            cosine("embedding", "xe").alias("sim_raw"),
            F.coalesce("_tb", F.lit(0)).alias("_tb"),
        )
    )
    return scored


_GPT_PLANT_TEXT_SQL = """
        SELECT {base} + doc_id AS doc_id, lang,
               text || ' ' || coalesce(
                   list_filter(string_split(text, ' '), w -> w <> '')[1],
                   'x') AS text
        FROM base WHERE g >= 1 AND is_del = {is_del}
        ORDER BY doc_id LIMIT {n}
"""

_GPT_PLANT_EXACT_SQL = """
        SELECT {base} + doc_id AS doc_id, lang, text
        FROM base WHERE g >= 1 AND is_del = {is_del}
        ORDER BY doc_id LIMIT {n}
"""

_GPT_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, lang, text,
               {hashing.inc_batch_sql('doc_id')} AS g,
               CASE WHEN {hashing.is_del_sql('doc_id')}
                    THEN 1 ELSE 0 END AS is_del
        FROM documents
    ), arr AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), shingles AS ({_TEXT_GEN_SHINGLE_SQL.format(src='arr')}
    ), sig AS ({_TEXT_GEN_SIG_SQL.format(src='shingles')}
    ), bands AS (
        SELECT doc_id, CAST(seed // 4 AS BIGINT) AS band_idx,
               string_agg(mh, '' ORDER BY seed) AS band_key
        FROM sig GROUP BY doc_id, seed // 4
    ), words AS (
        SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), sets AS (
        SELECT doc_id, any_value(lang) AS lang,
               CAST(COUNT(*) AS BIGINT) AS n, list(word) AS ws
        FROM words WHERE word <> '' GROUP BY doc_id
    ), plants AS (
        ({_GPT_PLANT_TEXT_SQL.format(base=_GPT_NEAR_DEL_BASE, is_del=1, n=_TT_PLANT)})
        UNION ALL
        ({_GPT_PLANT_TEXT_SQL.format(base=_GPT_NEAR_SURV_BASE, is_del=0, n=_TT_PLANT)})
        UNION ALL
        ({_GPT_PLANT_EXACT_SQL.format(base=_GPT_EXACT_DEL_BASE, is_del=1, n=_TT_PLANT)})
        UNION ALL
        ({_GPT_PLANT_EXACT_SQL.format(base=_GPT_EXACT_SURV_BASE, is_del=0, n=_TT_PLANT)})
    ), arrp AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM plants
    ), shingp AS ({_TEXT_GEN_SHINGLE_SQL.format(src='arrp')}
    ), sigp AS ({_TEXT_GEN_SIG_SQL.format(src='shingp')}
    ), bandsp AS (
        SELECT doc_id, CAST(seed // 4 AS BIGINT) AS band_idx,
               string_agg(mh, '' ORDER BY seed) AS band_key
        FROM sigp GROUP BY doc_id, seed // 4
    ), wordsp AS (
        SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS word
        FROM plants
    ), setsp AS (
        SELECT doc_id, any_value(lang) AS lang,
               CAST(COUNT(*) AS BIGINT) AS n, list(word) AS ws
        FROM wordsp WHERE word <> '' GROUP BY doc_id
    ), qbands AS (
        SELECT b.* FROM bands b JOIN base d USING (doc_id) WHERE d.g = 0
        UNION ALL SELECT * FROM bandsp
    ), qsets AS (
        SELECT s.* FROM sets s JOIN base d USING (doc_id) WHERE d.g = 0
        UNION ALL SELECT * FROM setsp
    ), capped_v1 AS (
        SELECT b.* FROM bands b JOIN base d USING (doc_id) WHERE d.g >= 1
        QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_key) <= {_MAX_BUCKET}
    ), capped_v2 AS (
        SELECT b.* FROM bands b JOIN base d USING (doc_id)
        WHERE d.g >= 1 AND d.is_del = 0
        QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_key) <= {_MAX_BUCKET}
    ), cand_v1 AS (
        SELECT DISTINCT q.doc_id, c.doc_id AS idx_doc
        FROM qbands q JOIN capped_v1 c ON c.band_idx = q.band_idx
                                      AND c.band_key = q.band_key
                                      AND c.doc_id <> q.doc_id
    ), cand_v2 AS (
        SELECT DISTINCT q.doc_id, c.doc_id AS idx_doc
        FROM qbands q JOIN capped_v2 c ON c.band_idx = q.band_idx
                                      AND c.band_key = q.band_key
                                      AND c.doc_id <> q.doc_id
    ), hits_v1 AS (
        SELECT DISTINCT c.doc_id
        FROM cand_v1 c
        JOIN qsets sq ON sq.doc_id = c.doc_id
        JOIN sets si ON si.doc_id = c.idx_doc AND si.lang = sq.lang
        JOIN base di ON di.doc_id = c.idx_doc AND di.g >= 1
        WHERE CAST(len(list_intersect(sq.ws, si.ws)) AS DOUBLE)
              / (sq.n + si.n - len(list_intersect(sq.ws, si.ws))) >= 0.8
    ), hits_v2 AS (
        SELECT DISTINCT c.doc_id
        FROM cand_v2 c
        JOIN qsets sq ON sq.doc_id = c.doc_id
        JOIN sets si ON si.doc_id = c.idx_doc AND si.lang = sq.lang
        JOIN base di ON di.doc_id = c.idx_doc AND di.g >= 1
                    AND di.is_del = 0
        WHERE CAST(len(list_intersect(sq.ws, si.ws)) AS DOUBLE)
              / (sq.n + si.n - len(list_intersect(sq.ws, si.ws))) >= 0.8
    ), probe_h AS (
        SELECT doc_id, md5(lower(trim(text))) AS h FROM base WHERE g = 0
        UNION ALL SELECT doc_id, md5(lower(trim(text))) AS h FROM plants
    ), h_v1 AS (
        SELECT DISTINCT md5(lower(trim(text))) AS h FROM base WHERE g >= 1
    ), h_v2 AS (
        SELECT DISTINCT md5(lower(trim(text))) AS h FROM base
        WHERE g >= 1 AND is_del = 0
    ), esplit AS (
        SELECT vec_id, label, embedding,
               CASE WHEN {hashing.is_new_sql('vec_id')}
                    THEN 1 ELSE 0 END AS is_new
        FROM embeddings
    ), ecent AS (
        SELECT label, list(m ORDER BY i) AS centroid
        FROM (
            SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
            FROM esplit, generate_series(1, 64) t(i)
            WHERE is_new = 0
            GROUP BY label, i
        )
        GROUP BY label
    ), eassign AS (
        SELECT vec_id, cell, embedding FROM (
            SELECT n.vec_id, c.label AS cell, n.embedding,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round({cosine_sql('n.embedding', 'c.centroid')},
                                      6) DESC, c.label) AS rn
            FROM esplit n, ecent c
            WHERE n.is_new = 1
        ) WHERE rn = 1
    ), enn_v1 AS (
        SELECT vec_id, ROUND(sim, 6) AS sim FROM (
            SELECT a.vec_id,
                   {cosine_sql('a.embedding', 'x.embedding')} AS sim,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {cosine_sql('a.embedding', 'x.embedding')}
                                DESC, x.vec_id) AS rn
            FROM eassign a
            LEFT JOIN esplit x ON x.is_new = 0 AND x.label = a.cell
        ) WHERE rn = 1
    ), enn_v2 AS (
        SELECT vec_id, ROUND(sim, 6) AS sim FROM (
            SELECT a.vec_id,
                   {cosine_sql('a.embedding', 'x.embedding')} AS sim,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {cosine_sql('a.embedding', 'x.embedding')}
                                DESC, x.vec_id) AS rn
            FROM eassign a
            LEFT JOIN esplit x ON x.is_new = 0 AND x.label = a.cell
             AND NOT {hashing.is_del_sql('x.vec_id')}
        ) WHERE rn = 1
    ), probes AS (
        SELECT doc_id FROM base WHERE g = 0
        UNION ALL SELECT doc_id FROM plants
    )
    SELECT p.doc_id,
           CASE WHEN x1.h IS NOT NULL THEN 1 ELSE 0 END AS f_exact_v1,
           CASE WHEN t1.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_text_v1,
           CASE WHEN n1.sim >= {{T}} THEN 1 ELSE 0 END AS f_emb_v1,
           CASE WHEN x1.h IS NULL AND t1.doc_id IS NULL
                     AND COALESCE(n1.sim < {{T}}, TRUE)
                THEN 1 ELSE 0 END AS admitted_v1,
           CASE WHEN x2.h IS NOT NULL THEN 1 ELSE 0 END AS f_exact_v2,
           CASE WHEN t2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_text_v2,
           CASE WHEN n2.sim >= {{T}} THEN 1 ELSE 0 END AS f_emb_v2,
           CASE WHEN x2.h IS NULL AND t2.doc_id IS NULL
                     AND COALESCE(n2.sim < {{T}}, TRUE)
                THEN 1 ELSE 0 END AS admitted_v2
    FROM probes p
    JOIN probe_h ph ON ph.doc_id = p.doc_id
    LEFT JOIN h_v1 x1 ON x1.h = ph.h
    LEFT JOIN h_v2 x2 ON x2.h = ph.h
    LEFT JOIN hits_v1 t1 ON t1.doc_id = p.doc_id
    LEFT JOIN hits_v2 t2 ON t2.doc_id = p.doc_id
    LEFT JOIN enn_v1 n1 ON n1.vec_id = p.doc_id
    LEFT JOIN enn_v2 n2 ON n2.vec_id = p.doc_id
""".replace("{T}", str(_NEAR_EMB_THRESHOLD))


@query("q_gate_post_takedown", oracle=_GPT_ORACLE)
def q_gate_post_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission decisions under the SAME window's takedown wave,
    driver-graded per probe against BOTH formulations (round 15,
    VERDICT r14 item 1 — the graded twin of
    :func:`streaming.jobs.ingest_gate_decisions`'s ``takedowns``
    thread): v1 = the three checks against the full frozen gen-1
    corpus ('inc:' g ≥ 1), v2 = against its 'del:'-wave SURVIVORS —
    digest anti-joined at doc grain before the distinct-h view, text
    index compacted (cap re-derived over survivors, the
    :func:`dedup.text_index_compact` cold-equivalence), posting scan
    tombstone-filtered. Output per probe: (f_exact, f_text, f_emb,
    admitted) × both formulations, so the rejected→admitted flip is
    hash-graded, not just row-counted.

    Probe batch: the g = 0 ingest batch PLUS four O(1) planted
    populations (q_text_tombstone's determinism device, dedup.py) —
    NEAR-copies of the first 4 taken-down and first 4 surviving corpus
    docs (the TEXT flip 1→0 and hold 1→1), and EXACT copies of the
    same two populations (the DIGEST flip and hold; an exact copy
    also near-text-matches its source, so those flip/hold in
    lockstep). The embedding check has no planted flip (plants carry
    no vectors — f_emb 0 through the LEFT join on both sides, the
    totality convention) but is value-graded on every natural batch
    doc against the tombstone-filtered truth; its same-window flip is
    runtime-pinned on a fixture that manufactures one
    (tests/test_streaming.py::test_streaming_gate_same_window_takedowns).

    Admission monotonicity (admitted_v1 ≤ admitted_v2 per doc — a
    takedown can only ADMIT more) holds under the cap precondition
    (q_text_gen_fold's monotone claim) and is asserted
    precondition-first in tests/test_ingest_gate_takedowns.py.

    Scale shape: the text side is q_text_tombstone's exactly (shared
    per-(session, sf) signature pass sliced per role by id semi-joins,
    O(1)-row plant signature builds, (band_idx, band_key) equi-joins
    with C(cap,·)-bounded fan-out, word-set verify on candidates
    only); the digest side ONE per-h aggregation whose survivor-flag
    max yields both distinct-h views in a single shuffle (round 16 —
    was two); the embedding side ONE sub-cell scoring scan of the
    routed relation, checkpointed, with each formulation a window
    over it — v2 ranks survivors first and NULLs a tombstoned best
    row, byte-equivalent to frozen_top1's tombstone-filtered LEFT
    join including its totality contract (round 16 — was two full
    frozen_top1 passes re-running the routing/assign chains; the
    4–6 s calm floor VERDICT r15 priced, now ~2× cheaper). Everything
    joins on 8-byte ids; output is |batch| + 16 rows."""
    base, bands_all, sets_all = _tg_base(spark, sf_dir)
    corpus_ids = base.filter(F.col("g") >= 1).select("doc_id")
    batch_ids = base.filter(F.col("g") == 0).select("doc_id")

    # 16 rows, referenced by 4 relations; session-cached since round
    # 16 (pure function of the fixtures — the four TakeOrdered chains
    # were ~0.7 s of per-run sequential construction latency)
    plants = _gpt_plants_cached(spark, sf_dir)
    bands_p = _bands_rel(_signatures_frame(_shingles_frame(plants)))
    wsp = _word_set_col()
    qsets_p = plants.select(
        "doc_id",
        F.col("lang").alias("lang_q"),
        wsp.alias("wq"),
        F.size(wsp).alias("nq"),
    )
    # qb and qsets are each consumed by BOTH hits formulations, and
    # every lazy reference re-runs the 16-row plant signature chain
    # (cheap data, many STAGES — shuffle-round overhead dominates at
    # this grain) plus the batch slice; one checkpoint each halves
    # that (bounded: |batch| + 16 rows; the batch slices are
    # cached-scan reads). The two probe-side checkpoints and the
    # embedding-side scored checkpoint (built lazily HERE on the main
    # thread so its
    # session-cache getters never resolve inside a thunk) share no
    # inputs beyond the session caches, so the three eager jobs run as
    # one overlapped wave (guide §2.6; plans unchanged).
    qb, qsets, scored = run_overlapped(
        _tg_slice_bands(bands_all, batch_ids)
        .unionByName(bands_p)
        .localCheckpoint,
        _tg_qsets(sets_all, batch_ids)
        .unionByName(qsets_p)
        .localCheckpoint,
        _gpt_scored(spark, sf_dir).localCheckpoint,
    )
    # ONE dual-cap candidate+verify pass serves BOTH text formulations
    # (round 17, VERDICT r16 next-round item 1 — was two full passes:
    # two corpus band slices, two cap windows, two candidate joins, two
    # word-set verifies). Per-band equivalence of the cap collapse:
    # v1 keeps a corpus band row iff its (band_idx, band_key) bucket's
    # TOTAL corpus count ≤ cap — count(*) over the one corpus slice
    # (identical relation, identical window as _cap_bands_rel). v2
    # re-derives the cap over the SURVIVOR slice: a survivor-slice
    # bucket holds exactly the survivor rows of the corpus bucket
    # (same key, subset rows — the 'del:' tag is a pure function of
    # doc_id), so "row present in the survivor slice AND its bucket
    # count ≤ cap" ⟺ "row is a survivor AND the bucket's survivor
    # count ≤ cap" — a conditional sum over the SAME window. Note
    # v2 ⊄ v1 at the cap boundary (a mega-bucket can fall back under
    # the cap once its tombstoned members leave), which is why both
    # flags ride every row instead of one filtered subset. Candidates:
    # one (band_idx, band_key) equi-join; the per-pair MAX of each
    # flag is the old per-variant DISTINCT. Verify: the Jaccard
    # expression is pair-local and identical in both formulations, a
    # _c2 candidate's index doc is a survivor by construction (its
    # word-set row is content-identical in either slice), and the v1
    # "idx in corpus" condition is the isets slice itself — so ONE
    # corpus-wide word-set join scores each candidate pair once and a
    # per-doc conditional MAX yields both hit sets. Values
    # crosschecked vs the unchanged two-sided oracle at
    # sf0.001/0.01/0.1.
    from pyspark.sql import Window

    cb = _tg_slice_bands(bands_all, corpus_ids).withColumn(
        "_sv", (~hashing.is_del("doc_id")).cast("int")
    )
    wsz = Window.partitionBy("band_idx", "band_key")
    capped_dual = (
        cb.withColumn(
            "_c1",
            (F.count(F.lit(1)).over(wsz) <= _MAX_BUCKET).cast("int"),
        )
        .withColumn(
            "_c2",
            (
                (F.col("_sv") == 1)
                & (F.sum("_sv").over(wsz) <= _MAX_BUCKET)
            ).cast("int"),
        )
        .filter((F.col("_c1") == 1) | (F.col("_c2") == 1))
        .select(
            F.col("doc_id").alias("idx_doc"),
            "band_idx",
            "band_key",
            "_c1",
            "_c2",
        )
    )
    cand = (
        qb.join(capped_dual, ["band_idx", "band_key"])
        .filter(F.col("doc_id") != F.col("idx_doc"))
        .groupBy("doc_id", "idx_doc")
        .agg(F.max("_c1").alias("_c1"), F.max("_c2").alias("_c2"))
    )
    jacc = jaccard("wq", "nq", "wi", "ni")
    hits_both = (
        cand.join(qsets, "doc_id")
        .join(_tg_isets(sets_all, corpus_ids), "idx_doc")
        .filter(F.col("lang_q") == F.col("lang_i"))
        .filter(jacc >= 0.8)
        .groupBy("doc_id")
        .agg(F.max("_c1").alias("_t1"), F.max("_c2").alias("_t2"))
    )

    dig = hashing.text_digest().alias("h")
    probe_h = (
        base.filter(F.col("g") == 0)
        .select("doc_id", dig)
        .unionByName(plants.select("doc_id", dig))
    )
    # ONE digest aggregation serves both formulations (round 16,
    # VERDICT r15 item 3): a digest is in the v1 set iff any corpus
    # doc carries it, in the v2 set iff any SURVIVOR does — so the
    # per-h max of the survivor flag computes both distinct-h views
    # in a single shuffle instead of two, and the probe join collapses
    # from two to one
    h_both = (
        base.filter(F.col("g") >= 1)
        .select(dig, (~hashing.is_del("doc_id")).cast("int").alias("_sv"))
        .groupBy("h")
        .agg(F.max("_sv").alias("_e2"))
        .withColumn("_e1", F.lit(1))
    )

    # ONE cosine scan serves both formulations (round 16, VERDICT r15
    # item 3 — the v1/v2 pair was this key's 4–6 s calm floor: two
    # frozen_top1 passes each re-ran the assign/routing chains AND
    # re-scored the same sub-cell posting scan). The scored relation —
    # routed probe × its sub-cell's members, every neighbor carrying a
    # tombstone flag — is computed once and checkpointed (bounded:
    # |batch| × one posting list), then each side is a window over it:
    # v1 ranks all neighbors, v2 ranks survivors FIRST (_tb asc) and
    # NULLs the sim when the best row is tombstoned — byte-equivalent
    # to frozen_top1's tombstone-filtered LEFT join incl. its totality
    # contract (a fully-tombstoned cell surfaces as a NULL-sim row,
    # never a vanished probe; f_emb_v2 = 0 through the same coalesce).
    w1 = Window.partitionBy("vec_id").orderBy(
        F.desc("sim_raw"), F.col("neighbor_id")
    )
    w2 = Window.partitionBy("vec_id").orderBy(
        F.col("_tb"), F.desc("sim_raw"), F.col("neighbor_id")
    )
    nn1 = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round("sim_raw", 6).alias("sim1"),
        )
    )
    nn2 = (
        scored.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.when(F.col("_tb") == 0, F.round("sim_raw", 6)).alias("sim2"),
        )
    )

    probe_ids = batch_ids.unionByName(plants.select("doc_id"))
    t = F.lit(_NEAR_EMB_THRESHOLD)
    f_exact_v1 = F.coalesce("_e1", F.lit(0))
    f_exact_v2 = F.coalesce("_e2", F.lit(0))
    f_text_v1 = F.coalesce("_t1", F.lit(0))
    f_text_v2 = F.coalesce("_t2", F.lit(0))
    f_emb_v1 = F.when(F.col("sim1") >= t, 1).otherwise(0)
    f_emb_v2 = F.when(F.col("sim2") >= t, 1).otherwise(0)
    return (
        probe_ids.join(probe_h, "doc_id")
        .join(h_both, "h", "left")
        .join(hits_both, "doc_id", "left")
        .join(nn1, "doc_id", "left")
        .join(nn2, "doc_id", "left")
        .select(
            "doc_id",
            f_exact_v1.alias("f_exact_v1"),
            f_text_v1.alias("f_text_v1"),
            f_emb_v1.alias("f_emb_v1"),
            (
                (f_exact_v1 == 0) & (f_text_v1 == 0) & (f_emb_v1 == 0)
            ).cast("int").alias("admitted_v1"),
            f_exact_v2.alias("f_exact_v2"),
            f_text_v2.alias("f_text_v2"),
            f_emb_v2.alias("f_emb_v2"),
            (
                (f_exact_v2 == 0) & (f_text_v2 == 0) & (f_emb_v2 == 0)
            ).cast("int").alias("admitted_v2"),
        )
    )


# --------------------------------------------------------------------------
# q_fired_rebuild — the fired-cell warm retrain EXECUTED, driver-graded
# --------------------------------------------------------------------------

def _fr_seeds(old: DataFrame, k: int = 1) -> DataFrame:
    """PLANTED gen-1 sub-cell quantizer for q_fired_rebuild /
    q_fired_merge: the ``k`` md5('seed:'||vec_id)-minimal members per
    label (vec_id tie-break), the same hash family
    :func:`simsearch._warm_subseeds` ranks with. Why planted instead
    of :func:`dedup._ivf_seeds`: the cold sampler's xxhash64
    oversample pre-filter has no DuckDB twin, so a graded key that
    must mirror SEED IDENTITIES CTE-for-CTE (the retrain's whole
    point — a split keeps the old seed and adds a ranked extra, a
    merge keeps the md5-first survivor) derives them from the md5
    lane both engines share. Same schema as _ivf_seeds (label,
    _seeds[struct(cell, seed)]). k = 1 is the real frozen law's shape
    at every graded SF (guard-tested: all cells sit under the global
    split threshold), so the planted index is structurally the one
    the incremental family grades against; k = 2 plants the
    legitimately-OVERSPLIT gen-1 state the compact report exists to
    price (q_fired_merge's device)."""
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(
        F.md5(F.concat(F.lit("seed:"), F.col("vec_id").cast("string"))),
        F.col("vec_id"),
    )
    return (
        old.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy("label")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("vec_id").alias("cell"),
                    F.col("embedding").alias("seed"),
                )
            ).alias("_seeds")
        )
    )


def _fr_frames(spark: SparkSession, sf_dir: str):
    """q_fired_rebuild's corpus-touching state: the planted quantizer,
    the posting relation, and the routed batch are checkpointed (each
    is consumed by 2–4 warm-cycle/report/census stages, and a lazy
    reference re-runs its scan per consumer)."""
    tagged = _inc_tagged(spark, sf_dir)
    old = tagged.filter(~F.col("is_new")).select(
        "vec_id", "label", "embedding"
    )
    new = tagged.filter(F.col("is_new")).select(
        "vec_id", "label", "embedding"
    )
    # the coarse-stage centroid relation is the per-label mean over the
    # SAME frozen old corpus the shared inc-index cache trains on — it
    # does not depend on the planted k (only the SEEDS differ between
    # this key, q_fired_merge and the real quantizer) — so the chain
    # reads the session-cached checkpoint instead of re-aggregating the
    # corpus per run
    cent1, _seeds_real = inc_index_build(spark, sf_dir)
    seeds1 = _fr_seeds(old).localCheckpoint()  # |labels| rows, 4 consumers
    indexed1 = _assign_to_seeds(old, seeds1)
    adm_routed = frozen_route(new.select("vec_id", "embedding"), cent1, seeds1)
    # the posting assignment (fired + non-fired slices) and the routed
    # batch (report + 2 warm slices) both depend only on the seeds1
    # checkpoint — one overlapped wave (plans unchanged)
    indexed1, adm_routed = run_overlapped(
        indexed1.localCheckpoint, adm_routed.localCheckpoint
    )
    return old, new, cent1, seeds1, indexed1, adm_routed


_FR_ORACLE = f"""
    WITH esplit AS (
        SELECT vec_id, label, embedding,
               CASE WHEN {hashing.is_new_sql('vec_id')}
                    THEN 1 ELSE 0 END AS is_new
        FROM embeddings
    ), old AS (
        SELECT vec_id, label, embedding FROM esplit WHERE is_new = 0
    ), cent AS (
        SELECT label, list(m ORDER BY i) AS centroid
        FROM (
            SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
            FROM old, generate_series(1, 64) t(i)
            GROUP BY label, i
        )
        GROUP BY label
    ), pseeds AS (
        -- the planted quantizer: md5-minimal member per label
        SELECT label, vec_id AS scell, embedding AS seed FROM (
            SELECT label, vec_id, embedding,
                   row_number() OVER (
                       PARTITION BY label
                       ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)),
                                vec_id) AS rn
            FROM old
        ) WHERE rn = 1
    ), coarse AS (
        SELECT vec_id, cell, embedding FROM (
            SELECT n.vec_id, c.label AS cell, n.embedding,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round({cosine_sql('n.embedding', 'c.centroid')},
                                      6) DESC, c.label) AS rn
            FROM esplit n, cent c
            WHERE n.is_new = 1
        ) WHERE rn = 1
    ), routed AS (
        -- fine stage at k = 1: the label's single planted seed
        SELECT r.vec_id, r.cell, s.scell AS icell, r.embedding
        FROM coarse r JOIN pseeds s ON s.label = r.cell
    ), cells AS (
        SELECT o.cell, o.n_old, COALESCE(a.n_admitted, 0) AS n_admitted
        FROM (SELECT label AS cell, CAST(COUNT(*) AS BIGINT) AS n_old
              FROM old GROUP BY label) o
        LEFT JOIN (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_admitted
                   FROM coarse GROUP BY cell) a USING (cell)
    ), tt AS (
        -- the data-derived trigger target: exactly the argmax grown
        -- cell reaches n_total / t = 4.0 (IEEE-exact: /4.0 is a
        -- power-of-two division), so k_next = 2 fires there and
        -- nowhere else
        SELECT MAX(n_old + n_admitted) / 4.0 AS t
        FROM cells WHERE n_admitted >= 1
    ), report AS (
        SELECT cell, n_old, n_admitted,
               GREATEST(1, CAST(FLOOR(SQRT(n_old / tt.t))
                                AS BIGINT)) AS k_frozen,
               GREATEST(1, CAST(FLOOR(SQRT((n_old + n_admitted) / tt.t))
                                AS BIGINT)) AS k_next
        FROM cells CROSS JOIN tt
    ), fired AS (
        SELECT cell FROM report WHERE k_next > k_frozen
    ), fmembers AS (
        -- the fired population, selected the way the report counted
        -- it: old members by lake label, admits by routed cell
        SELECT vec_id, label, embedding FROM old
        WHERE label IN (SELECT cell FROM fired)
        UNION ALL
        SELECT vec_id, cell AS label, embedding FROM routed
        WHERE cell IN (SELECT cell FROM fired)
    ), fk AS (
        -- k recomputed from the retrain population under the SAME
        -- call-time target (the _warm_subseeds law)
        SELECT f.label,
               GREATEST(1, CAST(FLOOR(SQRT(f.n / tt.t)) AS BIGINT)) AS k
        FROM (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
              FROM fmembers GROUP BY label) f
        CROSS JOIN tt
    ), keep AS (
        -- identity retention: old seeds in md5 seed-order, up to k
        SELECT s.label, s.scell AS cell, s.seed FROM (
            SELECT p.label, p.scell, p.seed,
                   row_number() OVER (
                       PARTITION BY p.label
                       ORDER BY md5('seed:' || CAST(p.scell AS VARCHAR)),
                                p.scell) AS rn
            FROM pseeds p
            WHERE p.label IN (SELECT cell FROM fired)
        ) s JOIN fk ON fk.label = s.label
        WHERE s.rn <= fk.k
    ), nkeep AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS nk FROM keep GROUP BY label
    ), extras AS (
        -- the k - k_old shortfall: md5-ranked non-seed members
        SELECT e.label, e.vec_id AS cell, e.embedding AS seed FROM (
            SELECT m.label, m.vec_id, m.embedding,
                   row_number() OVER (
                       PARTITION BY m.label
                       ORDER BY md5('seed:' || CAST(m.vec_id AS VARCHAR)),
                                m.vec_id) AS rn
            FROM fmembers m
            WHERE NOT EXISTS (SELECT 1 FROM pseeds p
                              WHERE p.label = m.label
                                AND p.scell = m.vec_id)
        ) e JOIN fk ON fk.label = e.label
        LEFT JOIN nkeep ON nkeep.label = e.label
        WHERE e.rn <= fk.k - COALESCE(nkeep.nk, 0)
    ), fseeds AS (
        SELECT * FROM keep UNION ALL SELECT * FROM extras
    ), fassign AS (
        -- nearest retrained seed: raw cosine desc, cell asc — the
        -- _assign_to_seeds struct-argmax tie-break
        SELECT vec_id, label, cell FROM (
            SELECT m.vec_id, m.label, s.cell,
                   row_number() OVER (
                       PARTITION BY m.vec_id
                       ORDER BY {cosine_sql('m.embedding', 's.seed')}
                                DESC, s.cell) AS rn
            FROM fmembers m JOIN fseeds s ON s.label = m.label
        ) WHERE rn = 1
    ), postings2 AS (
        SELECT vec_id, label, cell FROM fassign
        UNION ALL
        SELECT o.vec_id, o.label, p.scell AS cell
        FROM old o JOIN pseeds p ON p.label = o.label
        WHERE o.label NOT IN (SELECT cell FROM fired)
        UNION ALL
        SELECT r.vec_id, r.cell AS label, r.icell AS cell
        FROM routed r
        WHERE r.cell NOT IN (SELECT cell FROM fired)
    )
    SELECT p.label, p.cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(e.is_new) AS BIGINT) AS n_new,
           CAST(SUM(p.vec_id) AS BIGINT) AS sum_id,
           CAST(MIN(p.vec_id) AS BIGINT) AS min_id,
           CAST(MAX(p.vec_id) AS BIGINT) AS max_id,
           r.n_old, r.n_admitted,
           CAST(CASE WHEN r.k_next > r.k_frozen THEN 1 ELSE 0 END
                AS INTEGER) AS fired
    FROM postings2 p
    JOIN esplit e ON e.vec_id = p.vec_id
    JOIN report r ON r.cell = p.label
    GROUP BY p.label, p.cell, r.n_old, r.n_admitted, r.k_next, r.k_frozen
"""


@query("q_fired_rebuild", oracle=_FR_ORACLE)
def q_fired_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fired-cell warm retrain EXECUTED inside a driver-graded key
    (round 16, VERDICT r15 item 1 — the one graded-surface branch that
    had never run under a driver hash: at the graded SFs the roll's
    fired set is empty and k = 1 made every grade fired-insensitive;
    this key makes the branch fire DETERMINISTICALLY at every SF and
    grades the retrained index, sub-cell membership included, against
    a CTE-for-CTE DuckDB mirror).

    The device, in three parts:

    1. **Planted md5 quantizer** (:func:`_fr_seeds`): gen-1 seeds =
       each label's md5('seed:'||id)-minimal member, k = 1 — the real
       frozen law's shape at every graded SF, but with seed IDENTITIES
       both engines can derive (:func:`dedup._ivf_seeds`'s xxhash64
       oversample pre-filter has no DuckDB twin, and the retrain's
       grade is precisely about identities: the split KEEPS the old
       seed and adds a ranked extra).
    2. **Data-derived trigger target**: t = max(n_old + n_admitted
       over cells receiving admits) / 4.0, fed CALL-TIME into
       :func:`index_refresh_report` (its documented retune contract) —
       the argmax grown cell lands on n_total/t = 4.0 exactly (IEEE-
       exact power-of-two division), so k_next = 2 > k_frozen = 1
       fires THAT cell and no other, at sf0.001/0.01/0.1 alike
       (verified: labels 9/3/2 respectively).
    3. **The real branch**: :func:`simsearch.warm_index_cycle` with
       ``fired_labels`` from the live report and the SAME ``cell_target``
       (round 16 threading — the reports and the retrain must agree on
       the k law), executing the identity-retaining 1→2 split of
       :func:`simsearch._warm_subseeds`: keep the planted seed, add
       the md5-first non-seed member, reassign every fired member to
       the nearest of the two (raw-cosine argmax, cell-id tie-break —
       :func:`dedup._assign_to_seeds`).

    Graded census: one row per retrained posting sub-cell — (label,
    cell, n_members, n_new, sum_id/min_id/max_id membership checksum)
    joined with the report's (n_old, n_admitted, fired). The fired
    label contributes TWO rows (the split) whose membership checksums
    grade the assignment itself; non-fired labels contribute their
    planted cell with admits appended at their routed sub-cell. The
    grade is fired-SENSITIVE by construction: skip the retrain and the
    fired label's rows collapse to one.

    Scale shape: the lifecycle's exactly — one bounded seed rank, one
    posting assignment scan against broadcast √n-bounded seeds, the
    two-stage routed batch, label-grain report aggregates (the t and
    fired collects are catalog-grain, the licensed pattern), and a
    retrain that touches ONLY the fired cell's members. Output ≤
    |labels| + |fired| rows. Checkpoints: planted seeds, postings,
    routed batch, merged corpus, and the trigger report (each 2–4
    consumers)."""
    old, new, _cent1, seeds1, indexed1, adm_routed = _fr_frames(spark, sf_dir)
    oldcells = old.groupBy(F.col("label").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_old")
    )
    newcells = adm_routed.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_admitted")
    )
    cells = oldcells.join(newcells, "cell", "left").select(
        "cell",
        "n_old",
        F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
    )
    def _trigger():
        # t_max → report checkpoint → fired collect is one dependent
        # chain (|labels| rows: fired collect + census join)
        t_max = (
            cells.filter(F.col("n_admitted") >= 1)
            .agg(F.max(F.col("n_old") + F.col("n_admitted")))
            .first()[0]
        )
        if t_max is None:
            # loud, not an opaque float(None) TypeError (the
            # catalog-typo guard's convention): with zero admitted
            # routings there is no grown cell, hence no defined
            # trigger target and no fired branch to grade
            raise ValueError(
                "q_fired_rebuild: no cell received an admitted vector "
                f"on {sf_dir} — the data-derived trigger target is "
                "undefined"
            )
        t = float(t_max) / 4.0
        report = index_refresh_report(
            oldcells, newcells, cell_target=t
        ).localCheckpoint()
        fired = sorted(
            int(r["cell"])
            for r in report.filter(F.col("rebuild") == 1).collect()
        )
        return t, report, fired

    # the trigger chain reads the adm_routed/indexed1 checkpoints; the
    # merged-corpus checkpoint (3 warm-cycle reads) reads only the raw
    # tagged scan — independent, so the two overlap (guide §2.6)
    (t, report, fired), merged = run_overlapped(
        _trigger, old.unionByName(new).localCheckpoint
    )
    _cent2, _seeds2, indexed2 = warm_index_cycle(
        merged, seeds1, indexed1, adm_routed, None, fired, cell_target=t
    )
    new_flag = new.select("vec_id").withColumn("_n", F.lit(1))
    rep = report.select(
        F.col("cell").alias("label"),
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_admitted").cast("long").alias("n_admitted"),
        F.col("rebuild").alias("fired"),
    )
    return (
        indexed2.join(new_flag, "vec_id", "left")
        .groupBy("label", "cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.coalesce("_n", F.lit(0))).cast("long").alias("n_new"),
            F.sum("vec_id").cast("long").alias("sum_id"),
            F.min("vec_id").cast("long").alias("min_id"),
            F.max("vec_id").cast("long").alias("max_id"),
        )
        .join(F.broadcast(rep), "label")
        .select(
            "label",
            "cell",
            "n_members",
            "n_new",
            "sum_id",
            "min_id",
            "max_id",
            "n_old",
            "n_admitted",
            "fired",
        )
    )


# --------------------------------------------------------------------------
# q_fired_merge — the fired-cell warm MERGE executed, driver-graded
# --------------------------------------------------------------------------

def _fm_frames(spark: SparkSession, sf_dir: str):
    """q_fired_merge's corpus-touching state, checkpointed: the planted
    k=2 quantizer, its posting assignment, and the survivor slice (each
    consumed by 2–3 warm-cycle/census stages)."""
    old = (
        _inc_tagged(spark, sf_dir)
        .filter(~F.col("is_new"))
        .select("vec_id", "label", "embedding")
    )
    tomb = old.filter(hashing.is_del("vec_id")).select("vec_id")
    seeds1 = _fr_seeds(old, k=2).localCheckpoint()  # |labels| rows, 3 consumers
    indexed1 = _assign_to_seeds(old, seeds1)
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        tombstone_filter,
    )

    surv = tombstone_filter(old, tomb)
    # the posting assignment (fired/non-fired slices) and the survivor
    # anti-join (warm-cycle merged, 3 reads) are independent — one
    # overlapped wave
    indexed1, surv = run_overlapped(
        indexed1.localCheckpoint, surv.localCheckpoint
    )
    return old, tomb, seeds1, indexed1, surv


_FM_ORACLE = f"""
    WITH esplit AS (
        SELECT vec_id, label, embedding,
               CASE WHEN {hashing.is_new_sql('vec_id')}
                    THEN 1 ELSE 0 END AS is_new,
               CASE WHEN {hashing.is_del_sql('vec_id')}
                    THEN 1 ELSE 0 END AS is_del
        FROM embeddings
    ), old AS (
        SELECT vec_id, label, embedding, is_del FROM esplit WHERE is_new = 0
    ), pseeds AS (
        -- the planted OVERSPLIT quantizer: the two md5-minimal
        -- members per label
        SELECT label, vec_id AS scell, embedding AS seed FROM (
            SELECT label, vec_id, embedding,
                   row_number() OVER (
                       PARTITION BY label
                       ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)),
                                vec_id) AS rn
            FROM old
        ) WHERE rn <= 2
    ), assign1 AS (
        -- gen-1 postings: nearest of the label's two planted seeds
        -- (raw cosine desc, cell asc — the _assign_to_seeds argmax)
        SELECT vec_id, label, cell, is_del FROM (
            SELECT o.vec_id, o.label, s.scell AS cell, o.is_del,
                   row_number() OVER (
                       PARTITION BY o.vec_id
                       ORDER BY {cosine_sql('o.embedding', 's.seed')}
                                DESC, s.scell) AS rn
            FROM old o JOIN pseeds s ON s.label = o.label
        ) WHERE rn = 1
    ), cells AS (
        SELECT label AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_before,
               CAST(SUM(is_del) AS BIGINT) AS n_deleted
        FROM old GROUP BY label
    ), tt AS (
        -- the data-derived trigger target: exactly the argmax cell
        -- reaches n_before / t = 4.0 (k_frozen = 2) and its ≥1-row
        -- wave drops k_after to 1 — the merge fires there, nowhere
        -- else
        SELECT MAX(n_before) / 4.0 AS t FROM cells
    ), report AS (
        SELECT cell, n_before, n_deleted,
               GREATEST(1, CAST(FLOOR(SQRT(n_before / tt.t))
                                AS BIGINT)) AS k_frozen,
               GREATEST(1, CAST(FLOOR(SQRT((n_before - n_deleted) / tt.t))
                                AS BIGINT)) AS k_after
        FROM cells CROSS JOIN tt
    ), fired AS (
        SELECT cell FROM report WHERE k_after < k_frozen
    ), sseeds AS (
        -- a tombstoned member cannot remain a quantizer anchor in a
        -- cell being retrained: the v1 seeds pre-filtered to the
        -- SURVIVING ones (warm_index_cycle's delete branch)
        SELECT p.label, p.scell, p.seed FROM pseeds p
        WHERE NOT EXISTS (SELECT 1 FROM old o
                          WHERE o.vec_id = p.scell AND o.is_del = 1)
    ), fmembers AS (
        SELECT vec_id, label, embedding FROM old
        WHERE is_del = 0 AND label IN (SELECT cell FROM fired)
    ), fk AS (
        SELECT f.label,
               GREATEST(1, CAST(FLOOR(SQRT(f.n / tt.t)) AS BIGINT)) AS k
        FROM (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
              FROM fmembers GROUP BY label) f
        CROSS JOIN tt
    ), keep AS (
        -- identity retention under the merge: the md5-first SURVIVING
        -- seed keeps the cell id
        SELECT s.label, s.scell AS cell, s.seed FROM (
            SELECT p.label, p.scell, p.seed,
                   row_number() OVER (
                       PARTITION BY p.label
                       ORDER BY md5('seed:' || CAST(p.scell AS VARCHAR)),
                                p.scell) AS rn
            FROM sseeds p
            WHERE p.label IN (SELECT cell FROM fired)
        ) s JOIN fk ON fk.label = s.label
        WHERE s.rn <= fk.k
    ), nkeep AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS nk FROM keep GROUP BY label
    ), extras AS (
        SELECT e.label, e.vec_id AS cell, e.embedding AS seed FROM (
            SELECT m.label, m.vec_id, m.embedding,
                   row_number() OVER (
                       PARTITION BY m.label
                       ORDER BY md5('seed:' || CAST(m.vec_id AS VARCHAR)),
                                m.vec_id) AS rn
            FROM fmembers m
            WHERE NOT EXISTS (SELECT 1 FROM sseeds p
                              WHERE p.label = m.label
                                AND p.scell = m.vec_id)
        ) e JOIN fk ON fk.label = e.label
        LEFT JOIN nkeep ON nkeep.label = e.label
        WHERE e.rn <= fk.k - COALESCE(nkeep.nk, 0)
    ), fseeds AS (
        SELECT * FROM keep UNION ALL SELECT * FROM extras
    ), fassign AS (
        SELECT vec_id, label, cell FROM (
            SELECT m.vec_id, m.label, s.cell,
                   row_number() OVER (
                       PARTITION BY m.vec_id
                       ORDER BY {cosine_sql('m.embedding', 's.seed')}
                                DESC, s.cell) AS rn
            FROM fmembers m JOIN fseeds s ON s.label = m.label
        ) WHERE rn = 1
    ), postings2 AS (
        SELECT vec_id, label, cell FROM fassign
        UNION ALL
        SELECT vec_id, label, cell FROM assign1
        WHERE is_del = 0 AND label NOT IN (SELECT cell FROM fired)
    )
    SELECT p.label, p.cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(p.vec_id) AS BIGINT) AS sum_id,
           CAST(MIN(p.vec_id) AS BIGINT) AS min_id,
           CAST(MAX(p.vec_id) AS BIGINT) AS max_id,
           r.n_before, r.n_deleted,
           CAST(CASE WHEN r.k_after < r.k_frozen THEN 1 ELSE 0 END
                AS INTEGER) AS fired
    FROM postings2 p
    JOIN report r ON r.cell = p.label
    GROUP BY p.label, p.cell, r.n_before, r.n_deleted, r.k_after, r.k_frozen
"""


@query("q_fired_merge", oracle=_FM_ORACLE)
def q_fired_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fired-cell warm MERGE executed inside a driver-graded key
    (round 16 — q_fired_rebuild's SHRINK twin, completing VERDICT r15
    item 1 for both fire directions): the planted md5 quantizer is
    deliberately OVERSPLIT (k = 2 per label — :func:`_fr_seeds`, the
    state :func:`index_compact_report` exists to price), the standing
    'del:' takedown wave (~20%) hits it, the data-derived call-time
    target t = max(n_before)/4.0 makes the argmax cell's k_frozen
    exactly 2 and its post-wave k_after 1 — the compact report fires
    THAT cell and no other at every graded SF — and the real
    :func:`simsearch.warm_index_cycle` delete branch executes the
    identity-keeping 2→1 merge of :func:`simsearch._warm_subseeds`:
    the v1 seeds pre-filtered to SURVIVORS (a tombstoned member
    cannot remain a quantizer anchor — at sf0.1 the fired label's
    second seed IS deleted, so the pre-filter is live in the grade),
    the md5-first surviving seed keeps the cell id, and the dropped
    cell's surviving members reassign onto it. Non-fired labels keep
    both sub-cells and their surviving posting rows verbatim (the
    zero-churn point of warm).

    Graded census: one row per post-merge posting sub-cell — (label,
    cell, n_members, sum_id/min_id/max_id membership checksum) joined
    with the report's (n_before, n_deleted, fired). The fired label
    contributes ONE row whose cell id IS the retained survivor seed;
    skip the merge and it contributes two — fired-sensitive and
    identity-sensitive by shape.

    Scale shape: q_fired_rebuild's exactly, minus the batch side —
    one bounded seed rank, one posting assignment against broadcast
    √n-bounded seeds, one tombstone anti-join, label-grain report
    aggregates (t and fired collects catalog-grain), a retrain
    touching only the fired cell's survivors. Output |labels| × 2 − 1
    rows."""
    old, tomb, seeds1, indexed1, surv = _fm_frames(spark, sf_dir)
    cells = old.select(
        "label", hashing.is_del("vec_id").cast("int").alias("is_del")
    ).groupBy(F.col("label").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum("is_del").cast("long").alias("n_deleted"),
    )
    t_max = cells.agg(F.max("n_before")).first()[0]
    if t_max is None:
        raise ValueError(
            f"q_fired_merge: empty frozen corpus on {sf_dir} — the "
            "data-derived trigger target is undefined"
        )
    t = float(t_max) / 4.0
    report = index_compact_report(cells, cell_target=t).localCheckpoint()
    fired = sorted(
        int(r["cell"])
        for r in report.filter(F.col("compact") == 1).collect()
    )
    _cent2, _seeds2, indexed2 = warm_index_cycle(
        surv, seeds1, indexed1, None, tomb, fired, cell_target=t
    )
    rep = report.select(
        F.col("cell").alias("label"),
        F.col("n_before").cast("long").alias("n_before"),
        F.col("n_deleted").cast("long").alias("n_deleted"),
        F.col("compact").alias("fired"),
    )
    return (
        indexed2.groupBy("label", "cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("vec_id").cast("long").alias("sum_id"),
            F.min("vec_id").cast("long").alias("min_id"),
            F.max("vec_id").cast("long").alias("max_id"),
        )
        .join(F.broadcast(rep), "label")
        .select(
            "label",
            "cell",
            "n_members",
            "sum_id",
            "min_id",
            "max_id",
            "n_before",
            "n_deleted",
            "fired",
        )
    )
