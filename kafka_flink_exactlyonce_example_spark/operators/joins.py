"""Join shapes (SURVEY.md §2.3) over the measured star schema.

Scale posture: dimension tables (region 5, nation 25, supplier ~1k,
customer ~15k rows at sf0.1) are explicitly ``F.broadcast`` where the
query is a star probe — at 100 TB the fact side never shuffles for
those joins. The one deliberate non-equi join (q_join_range) is kept on
the smallest table because BNLJ is quadratic; that's a semantics demo,
not a scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka_flink_exactlyonce_example_spark.functions import hashing
from kafka_flink_exactlyonce_example_spark.functions.money import cents, cents_sql
from kafka_flink_exactlyonce_example_spark.registry import query
from kafka_flink_exactlyonce_example_spark.sources import table


@query(
    "q_join_inner",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS sum_price_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("sum_price_cents"),
        )
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c_custkey,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q_join_full",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
                FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey, cn.n_cust, sn.n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("nk")).agg(F.count(F.lit(1)).alias("n_cust"))
    sn = (
        s.filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cn.join(sn, cn.nk == sn.nk, "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"), "n_cust", "n_supp"
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_acctbal"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "q_join_broadcast",
    oracle=f"""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({cents_sql('l_extendedprice * (1 - l_discount)')}) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                cents(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("revenue_cents"),
        )
    )


@query(
    "q_join_range",
    oracle="""
    SELECT s1.s_suppkey AS s_suppkey,
           CAST(COUNT(s2.s_suppkey) AS BIGINT) AS n_richer
    FROM supplier s1 LEFT JOIN supplier s2 ON s1.s_acctbal < s2.s_acctbal
    GROUP BY s1.s_suppkey
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure theta (non-equi) join → Spark plans BroadcastNestedLoopJoin.

    Deliberately on the smallest fact-free table: BNLJ is O(n²) and is
    NOT a 100 TB path; large-scale rank-by-value is q_win_rank's job.
    """
    s1 = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), F.col("s_acctbal").alias("bal1")
    )
    s2 = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k2"), F.col("s_acctbal").alias("bal2")
    )
    return (
        s1.join(F.broadcast(s2), s1.bal1 < s2.bal2, "left")
        .groupBy("s_suppkey")
        .agg(F.count("k2").alias("n_richer"))
    )


@query(
    "q_cross_small",
    oracle="""
    SELECT r_name, o_orderstatus, n_status
    FROM region
    CROSS JOIN (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_status
                FROM orders GROUP BY o_orderstatus) st
    """,
)
def q_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").select("r_name")
    st = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_status"))
    )
    return r.crossJoin(F.broadcast(st))


@query(
    "q_star_join",
    oracle=f"""
    SELECT n_name,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM({cents_sql('l_extendedprice * (1 - l_discount)')}) AS BIGINT)
               AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q5-shaped 5-table star join.

    The fact table (lineitem) joins orders on the shuffle path (both
    large at 100 TB — SMJ/SHJ with AQE), while customer/nation/region
    are broadcast so the probe side streams through without exchange.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_asof_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           ROUND(p.value, 2) AS purchase_value,
           v.event_id AS view_id,
           ROUND(v.value, 2) AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (temporal) join: each purchase matched to the same user's
    most recent view at-or-before it (NULL if none) — the operator
    ticker/trade-quote pipelines need and Spark lacks natively.

    Spark-first plan: NOT a range join (O(n·m) BNLJ) — tag both sides,
    union, and take `last(view_id, ignorenulls=True)` over a per-user
    window ordered by (ts, side). One shuffle on user_id, one sort,
    linear scan: at 100 TB this is a single repartition + in-partition
    merge, the same cost as the sort-merge ASOF implementations in
    kdb/QuestDB. Ordering puts views before purchases at equal ts, so
    equality matches (ts >= semantics) are included.

    Oracle: DuckDB's native ASOF LEFT JOIN — an independent
    implementation of the same semantics, so the parity check is a real
    cross-engine proof, not the same algorithm twice.
    """
    ev = table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("view_id"),
        F.lit(None).cast("double").alias("view_value"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = views.unionByName(purchases).select(
        "*",
        F.last("view_id", ignorenulls=True).over(w).alias("m_view_id"),
        F.last("view_value", ignorenulls=True).over(w).alias("m_view_value"),
    )
    return merged.filter(F.col("side") == 1).select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.round("purchase_value", 2).alias("purchase_value"),
        F.col("m_view_id").alias("view_id"),
        F.round("m_view_value", 2).alias("view_value"),
    )


@query(
    "q_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(COUNT(v.event_id) AS BIGINT) AS n_views_1h,
           CAST(COALESCE(SUM(CAST(FLOOR(v.value*100.0 + 0.5) AS BIGINT)), 0)
                AS BIGINT) AS viewed_value_cents
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    GROUP BY p.event_id, p.user_id
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-stream interval join (streaming/jobs.py
    stream_stream_interval_join): views within the hour before each
    purchase, aggregated per purchase. The equi-key (user_id) makes
    this a hash join with a range residual — NOT a BNLJ — so it
    shuffles on user_id and scales like any equi-join; the range
    predicate only trims matches within each key group."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
        F.col("value").alias("v_value"),
    )
    joined = p.join(
        v,
        (p.user_id == v.v_user)
        & (v.v_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
        & (v.v_ts <= p.p_ts),
        "left",
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("view_id").alias("n_views_1h"),
        F.coalesce(F.sum(cents("v_value")), F.lit(0)).cast("long").alias(
            "viewed_value_cents"
        ),
    )


@query(
    "q_lateral_topk",
    oracle="""
    SELECT n_name, c.c_name, c.c_acctbal
    FROM nation,
    LATERAL (SELECT c_name, c_acctbal FROM customer
             WHERE c_nationkey = n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery via the Spark 4 ``DataFrame.
    lateralJoin`` API: each nation's top-2 customers by balance.

    Catalyst decorrelates the per-row ORDER BY + LIMIT into a
    ``WindowGroupLimit`` (map-side partial top-k per group, no full
    sort) joined back to the outer side — verified in the physical
    plan by tests. That rewrite is exactly what you want at 100 TB:
    the naive reading (re-scan customer per outer row) never executes.
    ``c_custkey`` breaks balance ties so the kept rows are
    deterministic. Same semantics as q_topk_per_group, expressed
    through the lateral entry point to grade the API surface.
    """
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    return n.lateralJoin(
        c.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(2)
        .select("c_name", "c_acctbal")
    ).select("n_name", "c_name", "c_acctbal")


@query(
    "q_order_dist",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def q_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    INCLUDING zero-order customers — the left-outer-join + double
    aggregation pattern (count(o_orderkey) counts only matched rows;
    a naive inner join silently drops the zero bucket).

    Scale: the join shuffles on custkey (both sides large at 100 TB;
    AQE picks SMJ/SHJ), the first aggregation reuses that partitioning
    (no second exchange — custkey is the grouping key), and the
    histogram aggregation shrinks to |distinct counts| rows."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_SALTS = 8


@query(
    "q_salted_join",
    oracle=f"""
    WITH f AS (
        SELECT l_suppkey, l_extendedprice, l_discount,
               CAST({hashing.tag_u32_sql('salt:', 'l_orderkey', 'l_linenumber')}
                    % {_SALTS} AS BIGINT) AS salt
        FROM lineitem
    ), dim AS (
        SELECT s_suppkey, s_nationkey, s.salt
        FROM supplier CROSS JOIN (SELECT unnest(range(0, {_SALTS})) AS salt) s
    )
    SELECT f.salt,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS n_nations,
           CAST(SUM({cents_sql('l_extendedprice * (1 - l_discount)')})
                AS BIGINT) AS revenue_cents
    FROM f JOIN dim ON f.l_suppkey = dim.s_suppkey AND f.salt = dim.salt
    GROUP BY f.salt
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join — the skew-mitigation pattern proven end to end:
    every fact row gets a deterministic salt in [0, 8) (md5 of
    its unique (orderkey, linenumber) — portable across engines, no
    RNG), the dim side is replicated once per salt, and the join runs
    on the COMPOSITE key (suppkey, salt), splitting any hot key's rows
    across 8 reducers instead of one straggler task. The
    per-salt census shows the balance the salt buys (n_rows near
    uniform across salts), and the salted aggregate must equal the
    plain join's total — the oracle runs the identical salted plan, and
    tests/test_skew.py asserts the Spark-side parity against the
    UNSALTED join, which is the actual correctness claim of the
    technique.

    At 100 TB this is the manual fallback when AQE's skew-join split
    (enabled session-wide here) can't help — e.g. a skewed GROUPED
    aggregation or a key so hot one split still exceeds a task; the
    dim replication is ×8 of a BOUNDED relation, never of the
    fact side. Money stays integer-exact via the house cents
    convention."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    salt = (
        F.expr(hashing.tag_u32_spark_sql("salt:", "l_orderkey", "l_linenumber"))
        % _SALTS
    )
    f = li.select(
        "l_suppkey", "l_extendedprice", "l_discount", salt.alias("salt")
    )
    dim = s.select(
        "s_suppkey",
        "s_nationkey",
        F.explode(F.sequence(F.lit(0), F.lit(_SALTS - 1)).cast("array<long>")).alias(
            "salt"
        ),
    )
    return (
        f.join(F.broadcast(dim), (f.l_suppkey == dim.s_suppkey) & (f.salt == dim.salt))
        .groupBy(f.salt)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_suppkey").alias("n_keys"),
            F.countDistinct("s_nationkey").alias("n_nations"),
            F.sum(
                cents(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("revenue_cents"),
        )
    )
