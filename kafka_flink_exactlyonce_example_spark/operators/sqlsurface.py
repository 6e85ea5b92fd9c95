"""SQL-surface breadth: unpivot, RANGE-interval frames, conditional
aggregates, date-series generation, nth_value, BM25 ranking.

Rounding out the relational surface (SURVEY.md §2.12 addendum): each op
is a native Catalyst expression (no Python boundary), with a DuckDB
oracle mirroring the exact arithmetic. Scale notes per query docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_exactlyonce_example_spark.functions.money import cents, cents_sql
from kafka_flink_exactlyonce_example_spark.registry import query
from kafka_flink_exactlyonce_example_spark.sources import table


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, 'quantity' AS measure,
           CAST(l_quantity AS DOUBLE) AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_partkey, 'extendedprice', l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_partkey, 'discount', l_discount
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_partkey, 'tax', l_tax FROM lineitem
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of the lineitem measures. Spark plans
    this as a single-pass Expand (one scan emitting 4 rows per input
    row) — strictly better than the oracle's 4-scan UNION ALL, and at
    100 TB the difference is 4× the input I/O."""
    li = table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber", "l_partkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    ).withColumn("measure", F.expr("substring(measure, 3)"))


@query(
    "q_win_range",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS win_events,
           CAST(SUM({cents_sql('value')}) OVER w AS BIGINT) AS win_value_cents
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_win_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame: per user, events and value in
    the trailing hour. RANGE frames are tie-insensitive — the frame is
    defined by the ordering VALUE, so no unique tie-break is needed
    (contrast q_win_running_sum). Both engines order by floored epoch
    seconds (Spark's timestamp→long cast truncates)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("win_events"),
        F.sum(cents("value")).over(w).alias("win_value_cents"),
    )


@query(
    "q_cond_agg",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE value > 100) AS BIGINT) AS n_hi,
           CAST(COALESCE(SUM({cents_sql('value')}) FILTER (WHERE value > 100), 0)
                AS BIGINT) AS hi_value_cents,
           ROUND(CAST(COUNT(*) FILTER (WHERE value > 100) AS DOUBLE)
                 / COUNT(*), 6) AS pct_hi,
           CAST(MAX(CASE WHEN value > 100 THEN user_id END) AS BIGINT)
               AS max_hi_user
    FROM events
    GROUP BY event_type
    """,
)
def q_cond_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER / CASE inside agg) — partial
    aggregation still applies, so the map-side combine keeps shuffle
    volume at one row per (task, group) regardless of input size."""
    ev = table(spark, sf_dir, "events")
    hi = F.col("value") > 100
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(hi, 1).otherwise(0)).alias("n_hi"),
        F.coalesce(F.sum(F.when(hi, cents("value"))), F.lit(0)).alias(
            "hi_value_cents"
        ),
        F.round(
            F.sum(F.when(hi, 1).otherwise(0)).cast("double") / F.count(F.lit(1)), 6
        ).alias("pct_hi"),
        F.max(F.when(hi, F.col("user_id"))).alias("max_hi_user"),
    )


@query(
    "q_date_series",
    oracle="""
    SELECT o_orderkey,
           unnest(generate_series(o_orderdate,
                                  o_orderdate + INTERVAL 3 DAY,
                                  INTERVAL 1 DAY)) AS d
    FROM orders
    WHERE o_orderkey % 997 = 0
    """,
)
def q_date_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series generation: explode a per-row generated date range (the
    calendar-spine idiom for gap-filling time series). `sequence()` is
    a codegen'd array constructor — no driver loop, no UDF; the explode
    multiplies rows inside the task that owns the input row."""
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % 997 == 0)
        .select(
            "o_orderkey",
            F.explode(
                F.expr(
                    "sequence(o_orderdate, o_orderdate + interval 3 days,"
                    " interval 1 day)"
                )
            ).alias("d"),
        )
    )


@query(
    "q_nth_value",
    oracle="""
    SELECT event_id, user_id, value,
           nth_value(value, 2) OVER w AS second_value,
           nth_value(value, 3) OVER w AS third_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over a full-partition frame: each user's 2nd and 3rd
    event value on every row. (ts, event_id) is a verified-unique total
    order, so the nth row is well-defined in both engines."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.nth_value("value", 2).over(w).alias("second_value"),
        F.nth_value("value", 3).over(w).alias("third_value"),
    )


_BM25_TERMS = ("hash", "vector", "stream")
_K1 = 1.2
_B = 0.75


@query(
    "q_bm25",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), words_f AS (SELECT * FROM words WHERE word <> ''),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM words_f GROUP BY doc_id
    ),
    corpus AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM words_f WHERE word IN {_BM25_TERMS!r} GROUP BY doc_id, word
    ),
    df AS (
        SELECT word, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
        FROM words_f WHERE word IN {_BM25_TERMS!r} GROUP BY word
    )
    SELECT tf.doc_id AS doc_id,
           ROUND(SUM(
               ln((n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({_K1} + 1.0))
               / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / corpus.avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN df ON tf.word = df.word
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN corpus
    GROUP BY tf.doc_id
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring for a fixed term set (k1=1.2, b=0.75) —
    the retrieval-quality upgrade over q_tfidf. Shape at 100 TB: tf is
    a pre-filtered explode (only query terms survive the scan), df and
    corpus stats are broadcast-sized, so the whole score is one
    shuffle (the per-doc groupBy)."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    terms = list(_BM25_TERMS)
    tf = (
        words.filter(F.col("word").isin(terms))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df = (
        words.filter(F.col("word").isin(terms))
        .groupBy("word")
        .agg(F.countDistinct("doc_id").cast("double").alias("df"))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = idf * (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 6).alias("bm25"))
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "q_profile",
    oracle="""
    SELECT 'l_quantity' AS col,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(l_quantity) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*), COUNT(l_extendedprice),
           COUNT(DISTINCT l_extendedprice), MIN(l_extendedprice),
           MAX(l_extendedprice) FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(l_discount),
           COUNT(DISTINCT l_discount), MIN(l_discount), MAX(l_discount)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', COUNT(*), COUNT(l_tax), COUNT(DISTINCT l_tax),
           MIN(l_tax), MAX(l_tax) FROM lineitem
    """,
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality pre-flight every ingest
    pipeline runs): null/distinct/min/max per measure column. Spark
    computes ALL columns' stats in ONE scan (a single multi-aggregate
    pass, then a tiny unpivot of the 1-row result) — the oracle's
    4-scan UNION ALL shape is exactly what we avoid at 100 TB."""
    li = table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            F.count(c).alias(f"{c}__n_nonnull"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            F.min(c).cast("double").alias(f"{c}__min_val"),
            F.max(c).cast("double").alias(f"{c}__max_val"),
        ]
    one = li.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("col"),
            F.col(f"{c}__n_rows").alias("n_rows"),
            F.col(f"{c}__n_nonnull").alias("n_nonnull"),
            F.col(f"{c}__n_distinct").alias("n_distinct"),
            F.col(f"{c}__min_val").alias("min_val"),
            F.col(f"{c}__max_val").alias("max_val"),
        )
        for c in _PROFILE_COLS
    ]
    return one.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


@query(
    "q_entropy",
    oracle="""
    WITH p AS (
        SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(CAST(COUNT(*) AS DOUBLE)) OVER () AS total
        FROM events GROUP BY event_type
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(-SUM((n / total) * ln(n / total)), 6) AS entropy_nats,
           ROUND(MAX(n / total), 6) AS max_share
    FROM p
    """,
)
def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type distribution (a drift /
    class-balance monitor). Two tiny aggregations over one scan; the
    5-row intermediate never leaves the cluster."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    # total as a broadcast scalar, not an unpartitioned window — the
    # per-type frame is tiny but the plan shape stays shuffle-clean
    p = counts.crossJoin(F.broadcast(counts.agg(F.sum("n").alias("total"))))
    share = F.col("n") / F.col("total")
    return p.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(-F.sum(share * F.log(share)), 6).alias("entropy_nats"),
        F.round(F.max(share), 6).alias("max_share"),
    )


_RRF_K = 60   # the standard reciprocal-rank-fusion damping constant
_RRF_TOP = 32  # per-retriever candidate depth — FIXED, not corpus-scaled


@query(
    "q_rank_fusion",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), words_f AS (SELECT * FROM words WHERE word <> ''),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM words_f GROUP BY doc_id
    ),
    corpus AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM words_f WHERE word IN {_BM25_TERMS!r} GROUP BY doc_id, word
    ),
    df AS (
        SELECT word, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
        FROM words_f WHERE word IN {_BM25_TERMS!r} GROUP BY word
    ),
    bm AS (
        SELECT tf.doc_id,
               ROUND(SUM(
                   ln((n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * ({_K1} + 1.0))
                   / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / corpus.avgdl))
               ), 6) AS bm25
        FROM tf
        JOIN df ON tf.word = df.word
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN corpus
        GROUP BY tf.doc_id
    ),
    bm_top AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_sparse
        FROM bm QUALIFY r_sparse <= {_RRF_TOP}
    ),
    anchor AS (SELECT embedding AS a FROM embeddings WHERE vec_id = 0),
    cos AS (
        SELECT vec_id AS doc_id,
               ROUND(list_sum(list_transform(list_zip(embedding, a),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(embedding,
                        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                    * sqrt(list_sum(list_transform(a,
                        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6)
                   AS sim
        FROM embeddings, anchor WHERE vec_id <> 0
    ),
    cos_top AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY sim DESC, doc_id) AS r_dense
        FROM cos QUALIFY r_dense <= {_RRF_TOP}
    ),
    fused AS (
        SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
               b.r_sparse, c.r_dense,
               ROUND(COALESCE(1.0 / ({_RRF_K} + b.r_sparse), 0)
                     + COALESCE(1.0 / ({_RRF_K} + c.r_dense), 0), 6) AS rrf
        FROM bm_top b FULL OUTER JOIN cos_top c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, CAST(r_sparse AS BIGINT) AS r_sparse,
           CAST(r_dense AS BIGINT) AS r_dense, rrf
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers — the hybrid-search
    primitive every RAG / retrieval-curation stack runs: sparse = BM25
    over the fixed query terms (q_bm25's exact scoring chain), dense =
    cosine against the anchor embedding (q_cosine_topk's chain), each
    truncated to its top-32 by the distributed top-k, then
    RRF(d) = Σ_lists 1/(60 + rank_list(d)) over a full-outer join of
    the two candidate lists, top-10 out.

    Scale shape: both retrievers end in TakeOrderedAndProject at a
    FIXED depth (32), so the rank windows run on 32-row bounded
    relations — global ranking of the full corpus is never
    materialized (RRF only ever needs each retriever's top-k; that is
    the point of the formula). The fusion join and final sort are
    metadata-scale. Ranks are assigned on ROUNDED scores with doc_id
    tie-breaks, so both engines truncate identical candidate sets."""
    from kafka_flink_exactlyonce_example_spark.registry import QUERIES

    bm = QUERIES["q_bm25"](spark, sf_dir)
    bm_top = (
        bm.orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_TOP)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), "doc_id"))
            .alias("r_sparse"),
        )
    )
    emb = table(spark, sf_dir, "embeddings")
    anchor = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("a"))
    from kafka_flink_exactlyonce_example_spark.functions.similarity import cosine

    cos = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine("embedding", "a"), 6).alias("sim"),
        )
    )
    cos_top = (
        cos.orderBy(F.desc("sim"), "doc_id")
        .limit(_RRF_TOP)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("sim"), "doc_id"))
            .alias("r_dense"),
        )
    )
    fused = bm_top.join(cos_top, "doc_id", "full_outer").select(
        "doc_id",
        F.col("r_sparse").cast("long").alias("r_sparse"),
        F.col("r_dense").cast("long").alias("r_dense"),
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("r_sparse")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("r_dense")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(10)
