"""Data-mining / BI operators beyond the SURVEY §2 core: skyline
(Pareto-dominance), market-basket association, RFM segmentation,
weighted median, grouped mode, EWMA smoothing.

Reference parity note: the reference app (a ~150-line Flink word-count
demo, SURVEY.md §0 ``[R]``) has no analytics surface; these extend the
mandated LLM-pipeline/BI direction (BASELINE.json:6) with classic
mining ops, each expressed as a Catalyst-plannable DataFrame program
with a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_exactlyonce_example_spark.functions import hashing
from kafka_flink_exactlyonce_example_spark.operators.scale import (
    _PERSISTED,
    global_ntile,
    ordered_scan,
    widen_small_scan,
)
from kafka_flink_exactlyonce_example_spark.registry import query
from kafka_flink_exactlyonce_example_spark.sources import table


@query(
    "q_skyline",
    oracle="""
    WITH pts AS (
        SELECT p_size, p_retailprice,
               min(p_retailprice) OVER (
                   ORDER BY p_size DESC
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS min_price_larger,
               min(p_retailprice) OVER (PARTITION BY p_size) AS min_price_same
        FROM part
    )
    SELECT p_size,
           round(p_retailprice, 6) AS p_retailprice,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM pts
    WHERE (min_price_larger IS NULL OR min_price_larger > p_retailprice)
      AND min_price_same >= p_retailprice
    GROUP BY p_size, p_retailprice
    ORDER BY p_size, p_retailprice
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of parts: maximize ``p_size``, minimize
    ``p_retailprice``. A part is dominated iff some other part is at
    least as large AND at most as expensive with one strict inequality.

    NOT the textbook O(n²) self-anti-join, and (since round 2) no
    global window either: domination by larger sizes depends only on
    the MIN price among them, so first contract to one row per size
    (|sizes| ≤ 50 — a bounded domain, not a data-scaled grain), then
    resolve "min price over strictly larger sizes" with a triangular
    join on that tiny relation, broadcast back onto the full point set.
    One parallel groupBy shuffle + one broadcast join; the frontier is
    unchanged by the per-size contraction. Dominated ⇔ min_larger ≤
    price OR min_same < price.
    """
    pts = table(spark, sf_dir, "part").select("p_size", "p_retailprice")
    size_min = pts.groupBy("p_size").agg(
        F.min("p_retailprice").alias("min_price_same")
    )
    a, b = size_min.alias("a"), size_min.alias("b")
    per_size = (
        a.join(b, F.col("b.p_size") > F.col("a.p_size"), "left")
        .groupBy(F.col("a.p_size").alias("p_size"), F.col("a.min_price_same").alias("min_price_same"))
        .agg(F.min("b.min_price_same").alias("min_price_larger"))
    )
    flagged = pts.join(F.broadcast(per_size), "p_size")
    return (
        flagged.filter(
            (F.col("min_price_larger").isNull() | (F.col("min_price_larger") > F.col("p_retailprice")))
            & (F.col("min_price_same") >= F.col("p_retailprice"))
        )
        .groupBy("p_size", F.round("p_retailprice", 6).alias("p_retailprice"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("p_size", "p_retailprice")
    )


@query(
    "q_basket_pairs",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n FROM ob
    ), brand_freq AS (
        SELECT p_brand, CAST(count(*) AS DOUBLE) AS cnt FROM ob GROUP BY p_brand
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(count(*) AS BIGINT) AS pair_orders
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    )
    SELECT p.brand_a, p.brand_b, p.pair_orders,
           round(p.pair_orders / n.n, 6) AS support,
           round((p.pair_orders / n.n) / ((fa.cnt / n.n) * (fb.cnt / n.n)), 6) AS lift
    FROM pairs p
    JOIN brand_freq fa ON p.brand_a = fa.p_brand
    JOIN brand_freq fb ON p.brand_b = fb.p_brand
    CROSS JOIN n_orders n
    WHERE p.pair_orders >= 20
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association at the brand grain: for every pair of
    part brands co-purchased in one order, the co-occurrence count,
    support, and lift = P(a,b) / (P(a)·P(b)).

    Scale discipline: no pair SELF-JOIN (the textbook form shuffles the
    (orderkey, brand) relation twice and hash-joins it against itself).
    Instead ONE shuffle groups each order's distinct brands into a
    sorted array and the C(k,2) pairs are generated inline by nested
    ``transform``/``slice`` higher-order functions — pure codegen'd
    expression work, fan-out capped at C(|brands|,2) with |brands| ≤
    ~25. The brand-frequency side is ≤25 rows — broadcast. At item
    (partkey) grain you would block on a frequency threshold first
    (classic Apriori pruning) before pairing. DuckDB's oracle keeps the
    self-join form — same relation, different physical strategy.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    # one row per order with a tiny sorted array — feeds three branches
    # (pair counts, brand marginals, order total), so persist it once
    # instead of re-running the scan+join+groupBy per branch
    baskets = (
        ob.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        .persist()
    )
    # order-grain (data-scaled) persist → drainable list, same policy
    # as q_rfm's customer-grain persist below (round-5 verdict: this
    # third site was the one _PERSISTED registration missed).
    _PERSISTED.append(baskets)
    n_orders = baskets.select(F.count(F.lit(1)).cast("double").alias("n"))
    brand_freq = baskets.select(F.explode("bs").alias("p_brand")).groupBy(
        "p_brand"
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    # single-row flatten is safe HERE because bs is a DISTINCT brand
    # set, bounded by brand cardinality (~25) — C(k,2) <= ~300 structs
    # per row. Data-scaled lists (gram postings) must use the nested
    # explode instead (q_char_ngram round-8 note).
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (a, i) -> "
                    "transform(slice(bs, i + 2, size(bs)), "
                    "b -> struct(a AS brand_a, b AS brand_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= 20)
    )
    return (
        pairs.join(F.broadcast(brand_freq).withColumnsRenamed({"p_brand": "brand_a", "cnt": "cnt_a"}), "brand_a")
        .join(F.broadcast(brand_freq).withColumnsRenamed({"p_brand": "brand_b", "cnt": "cnt_b"}), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "pair_orders",
            F.round(F.col("pair_orders") / F.col("n"), 6).alias("support"),
            F.round(
                (F.col("pair_orders") / F.col("n"))
                / ((F.col("cnt_a") / F.col("n")) * (F.col("cnt_b") / F.col("n"))),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q_rfm",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate), TIMESTAMP '2001-08-01') AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               sum(CAST(FLOOR(o_totalprice*100.0 + 0.5) AS BIGINT))
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ), scored AS (
        SELECT *,
               ntile(5) OVER (ORDER BY recency_days ASC,  o_custkey) AS r_score,
               ntile(5) OVER (ORDER BY frequency DESC,    o_custkey) AS f_score,
               ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
                   AS m_score
        FROM cust
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(monetary_cents) / 100.0, 6) AS avg_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days from last order to the
    dataset's max order date 2001-08-01), frequency (order count),
    monetary (revenue sum), each ntile(5)-scored, then the segment
    census (count + average spend per R/F/M cell).

    One aggregation collapses the fact table to one row per customer
    BEFORE any ranking runs — the ntile sorts are over |customers|,
    not |orders|. Ntile ties are decided by the ordering, so every
    ranking carries the ``o_custkey`` tie-break (scores are then
    bit-identical across engines and shuffle widths). The customer
    grain grows with the dataset, so each ntile is the DISTRIBUTED
    form (operators/scale.py): range-partitioned local row_numbers +
    broadcast prefix offsets + the ANSI ntile identity — no
    single-partition global window anywhere in the plan. The oracle
    keeps plain ``ntile`` (same ANSI rule, single-node is fine there).
    """
    from kafka_flink_exactlyonce_example_spark.functions.money import cents

    anchor = F.to_timestamp(F.lit("2001-08-01"))
    cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(anchor, F.max("o_orderdate")).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            # integer-cents money policy (functions/money.py): the raw
            # double sum diverged 1 ulp from DuckDB at sf0.1 right on a
            # 6-dp rounding boundary; exact cents also make the
            # m_score ordering ulp-proof.
            F.sum(cents("o_totalprice")).alias("monetary_cents"),
        )
    )
    # three independent orderings consume the same contracted grain —
    # persist it once (lazy) so the orders scan + groupBy runs once,
    # not once per score. Customer grain is data-scaled → drainable
    # list, same policy as ordered_scan's own persists.
    from pyspark import StorageLevel

    from kafka_flink_exactlyonce_example_spark.operators.scale import _PERSISTED

    cust = cust.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(cust)
    orderings = {
        "r_score": [F.col("recency_days").asc(), F.col("o_custkey")],
        "f_score": [F.col("frequency").desc(), F.col("o_custkey")],
        "m_score": [F.col("monetary_cents").desc(), F.col("o_custkey")],
    }
    scored = cust
    for name, order in orderings.items():
        scores = global_ntile(cust, order, 5, name).select("o_custkey", name)
        scored = scored.join(scores, "o_custkey")
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("monetary_cents") / 100.0, 6).alias("avg_monetary"),
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag, l_extendedprice AS v, l_quantity AS wt,
               sum(l_quantity) OVER (PARTITION BY l_returnflag) AS total,
               sum(l_quantity) OVER (
                   PARTITION BY l_returnflag ORDER BY l_extendedprice
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM lineitem
    )
    SELECT l_returnflag, round(min(v), 6) AS weighted_median
    FROM w WHERE cum >= total / 2
    GROUP BY l_returnflag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median of extended price per return flag: the
    smallest price whose cumulative weight reaches half the group total.

    One partitioned cumsum window + one min — no sort-to-driver, no
    percentile UDAF. Determinism under value ties WITHOUT a unique key
    (lineitem has none): a tied value group qualifies iff its
    END-of-group cumulative weight crosses half-total, and that end-sum
    is order-free — so ``min(v) WHERE cum >= total/2`` is stable across
    shuffle widths even though intra-tie row order is not. At 100 TB
    the window sorts within each returnflag partition only (3 groups →
    pre-aggregate to (flag, price) grain with summed weights first if a
    single flag outgrows one executor's sort spill budget; the median
    is unchanged under that rewrite).
    """
    li = table(spark, sf_dir, "lineitem")
    wp = Window.partitionBy("l_returnflag")
    wcum = wp.orderBy("l_extendedprice").rowsBetween(Window.unboundedPreceding, 0)
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum("l_quantity").over(wp).alias("total"),
        F.sum("l_quantity").over(wcum).alias("cum"),
    )
    return (
        w.filter(F.col("cum") >= F.col("total") / 2)
        .groupBy("l_returnflag")
        .agg(F.round(F.min("v"), 6).alias("weighted_median"))
    )


@query(
    "q_mode",
    oracle="""
    WITH cnt AS (
        SELECT p_type, p_brand, CAST(count(*) AS BIGINT) AS n,
               row_number() OVER (
                   PARTITION BY p_type ORDER BY count(*) DESC, p_brand
               ) AS rk
        FROM part GROUP BY p_type, p_brand
    )
    SELECT p_type, p_brand AS mode_brand, n AS n_parts
    FROM cnt WHERE rk = 1
    """,
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group: the top brand within each
    part type. Engine-native ``mode()`` aggregates are tie-ambiguous
    across engines, so the portable-deterministic form is count-then-
    rank with an explicit (count DESC, value ASC) tie-break — the same
    two-phase plan Catalyst would emit for mode anyway (partial counts
    map-side, one shuffle on the group key, tiny ranking window per
    group)."""
    cnt = (
        table(spark, sf_dir, "part")
        .groupBy("p_type", "p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rk = Window.partitionBy("p_type").orderBy(F.col("n").desc(), "p_brand")
    return (
        cnt.select(
            "p_type",
            F.col("p_brand").alias("mode_brand"),
            F.col("n").alias("n_parts"),
            F.row_number().over(rk).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


@query(
    "q_ewma",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, sum(value) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), idx AS (
        SELECT day, x,
               CAST(row_number() OVER (ORDER BY day) AS DOUBLE) AS i
        FROM daily
    ), acc AS (
        SELECT day, x, i,
               sum(CASE WHEN i = 1 THEN x * power(0.7, -1.0)
                        ELSE 0.3 * x * power(0.7, -i) END)
                 OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS u
        FROM idx
    )
    SELECT day, round(x, 6) AS revenue, round(power(0.7, i) * u, 6) AS ewma
    FROM acc
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.3) of daily
    purchase revenue — the recursive smoother s_t = a*x_t + (1-a)*s_{t-1}
    rewritten into its closed form s_t = (1-a)^t * (u_1 + a*sum u_i),
    u_i = x_i*(1-a)^{-i}, so one cumulative-sum window computes it with
    NO per-row recursion (recursion doesn't distribute; a prefix sum
    does). Numerically safe here because the series is 30 days —
    (1-a)^{-i} stays < 5e4; for multi-year series, chunk the window and
    carry the boundary state (the standard segmented-scan rewrite).
    Day index comes from row_number over the day grain, so calendar
    gaps don't corrupt the exponent on either engine."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("x"))
    )
    idx = daily.select(
        "day", "x", F.row_number().over(Window.orderBy("day")).cast("double").alias("i")
    )
    u_term = F.when(
        F.col("i") == 1, F.col("x") * F.pow(F.lit(0.7), F.lit(-1.0))
    ).otherwise(F.lit(0.3) * F.col("x") * F.pow(F.lit(0.7), -F.col("i")))
    acc = idx.select(
        "day",
        "x",
        "i",
        F.sum(u_term)
        .over(Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0))
        .alias("u"),
    )
    return acc.select(
        "day",
        F.round("x", 6).alias("revenue"),
        F.round(F.pow(F.lit(0.7), F.col("i")) * F.col("u"), 6).alias("ewma"),
    )


@query(
    "q_changepoint",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, sum(value) AS x
        FROM events GROUP BY 1
    ), idx AS (
        SELECT day, x,
               CAST(row_number() OVER (ORDER BY day) AS DOUBLE) AS i,
               sum(x) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(x) OVER () AS s,
               CAST(count(*) OVER () AS DOUBLE) AS n
        FROM daily
    ), scored AS (
        SELECT day,
               cum / i AS mean_before,
               (s - cum) / (n - i) AS mean_after,
               abs(cum / i - (s - cum) / (n - i)) * sqrt(i * (n - i) / n) AS score
        FROM idx WHERE i < n
    )
    SELECT day AS split_day,
           round(mean_before, 6) AS mean_before,
           round(mean_after, 6) AS mean_after,
           round(score, 6) AS score
    FROM scored
    QUALIFY row_number() OVER (ORDER BY score DESC, day) = 1
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection by binary segmentation (first split): scan
    every day boundary, score it by the between-segment mean gap scaled
    by sqrt(i*(n-i)/n) (the two-sample z numerator under equal
    variance), return the best split with both segment means.

    The O(n²) naive form (re-averaging both sides per candidate)
    collapses to ONE prefix-sum window: mean_before = cum/i and
    mean_after = (S-cum)/(n-i) are both functions of the running sum.
    The scan runs on the pre-aggregated day grain (n=30 here; a few
    thousand even at 100 TB), so the global window is trivially cheap —
    the heavy lifting is the day-grain groupBy which partial-aggregates
    map-side. Recursing on each side yields full binary segmentation.
    """
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("x"))
    )
    wday = Window.orderBy("day")
    wall = Window.partitionBy()
    idx = daily.select(
        "day",
        "x",
        F.row_number().over(wday).cast("double").alias("i"),
        F.sum("x").over(wday.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("x").over(wall).alias("s"),
        F.count(F.lit(1)).over(wall).cast("double").alias("n"),
    )
    mb = F.col("cum") / F.col("i")
    ma = (F.col("s") - F.col("cum")) / (F.col("n") - F.col("i"))
    scored = idx.filter(F.col("i") < F.col("n")).select(
        F.col("day").alias("split_day"),
        mb.alias("mean_before"),
        ma.alias("mean_after"),
        (F.abs(mb - ma) * F.sqrt(F.col("i") * (F.col("n") - F.col("i")) / F.col("n"))).alias("score"),
    )
    best = Window.orderBy(F.col("score").desc(), "split_day")
    return (
        scored.withColumn("rk", F.row_number().over(best))
        .filter(F.col("rk") == 1)
        .select(
            "split_day",
            F.round("mean_before", 6).alias("mean_before"),
            F.round("mean_after", 6).alias("mean_after"),
            F.round("score", 6).alias("score"),
        )
    )


@query(
    "q_attribution",
    oracle="""
    WITH tagged AS (
        SELECT event_type, value,
               coalesce(
                 last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                            IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 'direct') AS channel
        FROM events
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS purchases,
           round(sum(value), 6) AS attributed_revenue
    FROM tagged WHERE event_type = 'purchase'
    GROUP BY channel
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent preceding non-purchase event type ('direct' when the
    purchase opens the session history). Purchases and revenue roll up
    per channel.

    The credit assignment is ONE pass: an IGNORE-NULLS last_value over
    a (user, time)-ordered frame ending 1 row before current — the same
    forward-fill machinery as gap repair, repurposed. No self-join of
    purchases back onto the event stream (the naive formulation joins
    every purchase against all earlier rows per user — quadratic in
    events-per-user; the window form is linear after one shuffle on
    user_id, which is also how the state would layout in the streaming
    twin)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.select(
        "event_type",
        "value",
        F.coalesce(
            F.last(
                F.when(F.col("event_type") != "purchase", F.col("event_type")),
                ignorenulls=True,
            ).over(w),
            F.lit("direct"),
        ).alias("channel"),
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.round(F.sum("value"), 6).alias("attributed_revenue"),
        )
    )


@query(
    "q_interarrival",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        FROM events
    ), hist AS (
        SELECT event_type, gap_s, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY event_type, gap_s
    ), cdf AS (
        SELECT event_type, gap_s, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY gap_s) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM hist
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           round(SUM(gap_s * cnt) * 1.0 / MAX(n), 6) AS avg_gap_s,
           round(CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN gap_s END)
                      AS DOUBLE), 6) AS p50_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM cdf GROUP BY event_type
    """,
)
def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival profile: per event type of the LATER event, the
    count / mean / median / max of whole-second gaps since the same
    user's previous event — the burstiness diagnostic that sizes
    session-window gaps and streaming watermark tolerances.

    Gaps are floor-epoch second differences (integer) so the ns-parquet
    vs µs-Spark timestamp precision mismatch cannot leak into values
    (FIXTURES.md precision note). One shuffle on user_id for the lag,
    then the median comes from a SECONDS-GRAIN HISTOGRAM CDF (the
    q_watermark_plan form, round-5 verdict item 5): count per (type,
    gap) bin, pick the smallest gap whose cumulative count reaches
    ⌈n/2⌉. The first formulation buffered every gap in an exact
    `percentile` aggregate — per-type value counts grow with data;
    here state is bounded by the gap RANGE in whole seconds, the
    windows order bins, and the mean is the exact integer identity
    Σ(gap·cnt)/n. [histogram-cdf-percentile]"""
    ev = table(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type", (sec - F.lag(sec).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    hist = gaps.groupBy("event_type", "gap_s").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wb = Window.partitionBy("event_type").orderBy("gap_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("event_type")
    cdf = hist.select(
        "event_type",
        "gap_s",
        "cnt",
        F.sum("cnt").over(wb).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    p50 = F.min(
        F.when(F.col("cum") >= F.ceil(0.5 * F.col("n")), F.col("gap_s"))
    )
    return cdf.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.round(
            F.sum(F.col("gap_s") * F.col("cnt")) * 1.0 / F.max("n"), 6
        ).alias("avg_gap_s"),
        F.round(p50.cast("double"), 6).alias("p50_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


@query(
    "q_survival",
    oracle="""
    WITH t0 AS (
        SELECT user_id, min(date_trunc('day', ts)) AS d0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), horizon AS (
        SELECT max(date_trunc('day', ts)) AS dmax FROM events
    ), first_purchase AS (
        SELECT e.user_id, min(date_trunc('day', e.ts)) AS dp
        FROM events e JOIN t0 ON e.user_id = t0.user_id
        WHERE e.event_type = 'purchase' AND date_trunc('day', e.ts) >= t0.d0
        GROUP BY e.user_id
    ), per_user AS (
        SELECT t0.user_id,
               CAST(date_diff('day', t0.d0,
                    coalesce(fp.dp, h.dmax)) AS BIGINT) AS t_days,
               CASE WHEN fp.dp IS NULL THEN 0 ELSE 1 END AS ev
        FROM t0 LEFT JOIN first_purchase fp ON t0.user_id = fp.user_id
        CROSS JOIN horizon h
    ), by_day AS (
        SELECT t_days AS day, CAST(sum(ev) AS BIGINT) AS events,
               CAST(sum(1 - ev) AS BIGINT) AS censored
        FROM per_user GROUP BY t_days
    ), km AS (
        SELECT day, events, censored,
               CAST((SELECT count(*) FROM per_user) -
                 coalesce(sum(events + censored) OVER (
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS n_at_risk
        FROM by_day
    )
    SELECT day, n_at_risk, events, censored,
           CASE WHEN max(CASE WHEN events >= n_at_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                THEN 0.0
                ELSE round(exp(sum(CASE WHEN events < n_at_risk
                                        THEN ln(1.0 - CAST(events AS DOUBLE) / n_at_risk)
                                        ELSE 0.0 END)
                     OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
           END AS km_survival
    FROM km
    """,
)
def q_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of time-to-first-purchase after signup,
    right-censored at the observation horizon (the corpus max day).

    The KM product Π(1 − e_d/n_d) — a running PRODUCT, which no engine
    windows natively — is rewritten exp(Σ ln(·)): the same
    prefix-sum-instead-of-recursion move as EWMA, so the curve is one
    cumulative window over the day-grain life table. The risk set n_d
    is the complement of a lagged cumsum (no per-day re-count of
    survivors). Everything upstream is per-user min/max aggregation —
    one shuffle on user_id, then a ~30-row life table; censoring uses
    the global horizon so the batch result is a deterministic function
    of the data alone."""
    ev = table(spark, sf_dir, "events")
    day = lambda c: F.date_trunc("day", c)
    t0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day(F.col("ts"))).alias("d0"))
    )
    dmax = ev.agg(F.max(day(F.col("ts"))).alias("dmax"))
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t0, "user_id")
        .filter(day(F.col("ts")) >= F.col("d0"))
        .groupBy("user_id")
        .agg(F.min(day(F.col("ts"))).alias("dp"))
    )
    per_user = (
        t0.join(fp, "user_id", "left")
        .crossJoin(F.broadcast(dmax))
        .select(
            F.datediff(F.coalesce("dp", "dmax"), F.col("d0")).cast("long").alias("t_days"),
            F.when(F.col("dp").isNull(), 0).otherwise(1).alias("ev"),
        )
    )
    by_day = per_user.groupBy(F.col("t_days").alias("day")).agg(
        F.sum("ev").alias("events"),
        F.sum(F.lit(1) - F.col("ev")).alias("censored"),
    )
    n_total = per_user.agg(F.count(F.lit(1)).alias("n_total"))
    wprev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    km = by_day.crossJoin(F.broadcast(n_total)).select(
        "day",
        "events",
        "censored",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("events") + F.col("censored")).over(wprev), F.lit(0))
        ).alias("n_at_risk"),
    )
    # a day where every remaining at-risk user converts drives the
    # factor to exactly 0: guard the log and latch the curve at 0 from
    # that day on (ANSI ln(0) raises; the latch is the KM semantics)
    safe_log = F.when(
        F.col("events") < F.col("n_at_risk"),
        F.log(F.lit(1.0) - F.col("events").cast("double") / F.col("n_at_risk")),
    ).otherwise(F.lit(0.0))
    hit_zero = F.max(
        F.when(F.col("events") >= F.col("n_at_risk"), 1).otherwise(0)
    ).over(wcum)
    return km.select(
        "day",
        "n_at_risk",
        "events",
        "censored",
        F.when(hit_zero == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(safe_log).over(wcum)), 6))
        .alias("km_survival"),
    )


@query(
    "q_autocorr",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, sum(value) AS x
        FROM events GROUP BY 1
    ), lagged AS (
        SELECT x,
               lag(x, 1) OVER (ORDER BY day) AS x1,
               lag(x, 7) OVER (ORDER BY day) AS x7
        FROM daily
    )
    SELECT 1 AS lag_k, round(corr(x, x1), 6) AS acf FROM lagged
    UNION ALL
    SELECT 7 AS lag_k, round(corr(x, x7), 6) AS acf FROM lagged
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of the daily revenue series —
    the stationarity / weekly-seasonality diagnostic that decides
    whether a forecasting feature needs differencing.

    corr() here is the plain aggregate over the 30-row day grain (the
    ANSI zero-variance trap from q_win_corr applies to tiny window
    FRAMES, not a full series with real variance). Both lags come from
    one ordered pass — two lag columns, one window sort — then two
    4-number sufficient-stats aggregations; the union is of two scalar
    rows, not two scans of the fact table (Catalyst reuses the
    exchange)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("x"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 7).over(w).alias("x7"),
    )
    a1 = lagged.agg(
        F.lit(1).alias("lag_k"), F.round(F.corr("x", "x1"), 6).alias("acf")
    )
    a7 = lagged.agg(
        F.lit(7).alias("lag_k"), F.round(F.corr("x", "x7"), 6).alias("acf")
    )
    return a1.unionByName(a7)


@query(
    "q_seasonality",
    oracle="""
    WITH base AS (
        SELECT isodow(ts) AS dow, value FROM events
    )
    SELECT CAST(dow AS INTEGER) AS dow,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(value), 6) AS avg_value,
           round(sum(value) / (sum(sum(value)) OVER () / 7.0), 6) AS seasonal_index
    FROM base GROUP BY dow
    """,
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile: event volume, mean value, and the
    seasonal index (day revenue vs the uniform-week expectation) — the
    calendar decomposition half of the q_autocorr diagnostic.

    Day-of-week conventions differ across engines (Spark dayofweek is
    1=Sunday; DuckDB dayofweek is 0=Sunday yet ALSO parses on Spark
    with the 1-based meaning — a silent cross-dialect trap caught by
    the DF-vs-SQL agreement test): standardize on ISO numbering
    (Monday=1..Sunday=7), spelled ``isodow`` in the oracle (Spark's
    resolver rejects it, so the same-text check skips rather than
    silently diverges) and derived arithmetically on the Spark side.
    One groupBy on a 7-value key; the global revenue total rides the
    same 7-row post-agg via a window over the GROUPED sums (sum of
    sums), never a second fact-table scan."""
    base = table(spark, sf_dir, "events").select(
        ((F.dayofweek("ts") + 5) % 7 + 1).cast("int").alias("dow"), "value"
    )
    return base.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(
            F.sum("value") / (F.sum(F.sum("value")).over(Window.partitionBy()) / F.lit(7.0)),
            6,
        ).alias("seasonal_index"),
    )


@query(
    "q_cuped",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS INTEGER) AS variant,
               sum(CASE WHEN ts <  TIMESTAMP '2024-01-15'
                        AND event_type = 'purchase' THEN value ELSE 0 END) AS x,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                        AND event_type = 'purchase' THEN value ELSE 0 END) AS y
        FROM events GROUP BY user_id
    ), stats AS (
        SELECT covar_pop(x, y) / var_pop(x) AS theta, avg(x) AS mean_x,
               var_pop(y) AS var_y
        FROM per_user
    ), adjusted AS (
        SELECT variant, y, y - s.theta * (x - s.mean_x) AS y_adj,
               s.theta AS theta, s.var_y AS var_y
        FROM per_user CROSS JOIN stats s
    )
    SELECT round(max(theta), 6) AS theta,
           round(avg(CASE WHEN variant = 1 THEN y END)
                 - avg(CASE WHEN variant = 0 THEN y END), 6) AS raw_effect,
           round(avg(CASE WHEN variant = 1 THEN y_adj END)
                 - avg(CASE WHEN variant = 0 THEN y_adj END), 6) AS cuped_effect,
           round(1.0 - var_pop(y_adj) / max(var_y), 6) AS var_reduction
    FROM adjusted
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: pre-period revenue
    (before Jan 15) is the covariate, theta = cov(X,Y)/var(X), and the
    adjusted metric Y' = Y − theta·(X − E[X]) shrinks metric variance
    by the squared pre/post correlation — the experimentation-platform
    op that halves required sample sizes.

    Deterministic variant assignment (user_id parity), one fact-table
    pass to the per-user (X, Y) grain, one 4-number sufficient-stats
    row (theta, mean, variance) broadcast back, one re-aggregation —
    no second scan of the raw events. covar_pop/var_pop are portable
    and the population forms avoid the n−1 edge when a variant is
    empty at tiny SFs."""
    ev = table(spark, sf_dir, "events")
    cutoff = F.to_timestamp(F.lit("2024-01-15"))
    is_buy = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when((F.col("ts") < cutoff) & is_buy, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when((F.col("ts") >= cutoff) & is_buy, F.col("value")).otherwise(0.0)).alias("y"),
    ).select("*", (F.col("user_id") % 2).cast("int").alias("variant"))
    stats = per_user.agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("theta"),
        F.avg("x").alias("mean_x"),
        F.var_pop("y").alias("var_y"),
    )
    adjusted = per_user.crossJoin(F.broadcast(stats)).select(
        "variant",
        "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("mean_x"))).alias("y_adj"),
        "theta",
        "var_y",
    )
    t, c = F.col("variant") == 1, F.col("variant") == 0
    return adjusted.agg(
        F.round(F.max("theta"), 6).alias("theta"),
        F.round(
            F.avg(F.when(t, F.col("y"))) - F.avg(F.when(c, F.col("y"))), 6
        ).alias("raw_effect"),
        F.round(
            F.avg(F.when(t, F.col("y_adj"))) - F.avg(F.when(c, F.col("y_adj"))), 6
        ).alias("cuped_effect"),
        F.round(F.lit(1.0) - F.var_pop("y_adj") / F.max("var_y"), 6).alias("var_reduction"),
    )


@query(
    "q_event_paths",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                         - lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800 THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sess AS (
        SELECT user_id, event_type, ts, event_id,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS sid
        FROM ordered
    ), numbered AS (
        SELECT user_id, sid, event_type,
               row_number() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS rn
        FROM sess
    ), per_session AS (
        SELECT user_id, sid,
               string_agg(event_type, '>' ORDER BY rn)
                 FILTER (WHERE rn <= 3) AS path,
               CAST(count(*) AS BIGINT) AS n_events
        FROM numbered GROUP BY user_id, sid
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_sessions,
           round(avg(CAST(n_events AS DOUBLE)), 6) AS avg_session_events
    FROM per_session GROUP BY path
    """,
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: sessionize each user's stream (30-minute gap
    rule, the q_session_window derivation), take each session's first
    three steps as the canonical entry path 'a>b>c', and rank paths by
    session count — the navigation-flow rollup behind funnel design.

    Sessionization is the lag→gap-flag→cumsum pipeline (one shuffle on
    user_id; all three windows share its sort). The path string is
    assembled per session from an order-keyed collect: Spark's
    collect_list is order-free, so elements carry their row_number and
    array_sort restores the sequence before join — the same
    determinism move as the centroid rebuild. Paths are bounded (≤3
    steps of 5 types), so the final rollup key is tiny.
    """
    ev = table(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(sec - F.lag(sec).over(w) > 1800, 1).otherwise(0).alias("new_session"),
    )
    sess = ordered.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    numbered = sess.select(
        "user_id", "sid", "event_type", F.row_number().over(ws).alias("rn")
    )
    per_session = numbered.groupBy("user_id", "sid").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN rn <= 3 THEN struct(rn, event_type) END)), "
            "x -> x.event_type), '>')"
        ).alias("path"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_session.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.avg(F.col("n_events").cast("double")), 6).alias("avg_session_events"),
    )


@query(
    "q_srm",
    oracle="""
    WITH users AS (
        SELECT DISTINCT user_id FROM events
    ), counts AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS variant,
               CAST(count(*) AS DOUBLE) AS n
        FROM users GROUP BY 1
    ), tot AS (SELECT sum(n) AS nt FROM counts)
    SELECT CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_control,
           CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_treatment,
           round(sum((n - nt / 2) * (n - nt / 2) / (nt / 2)), 6) AS chi2,
           CAST(CASE WHEN sum((n - nt / 2) * (n - nt / 2) / (nt / 2)) > 3.841
                     THEN 1 ELSE 0 END AS INTEGER) AS srm_flag
    FROM counts CROSS JOIN tot
    """,
)
def q_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the A/B pipeline: chi-square
    of observed variant sizes against the designed 50/50 split, with
    the 95%-critical flag (χ²₁ > 3.841) — the first sanity gate any
    experiment readout must pass before effects are believed.

    Distinct-users → two counts → one scalar combine: the whole test
    is a tree-reduce; at 100 TB the only real cost is the user-grain
    distinct, which the q_cuped per-user aggregation already pays —
    in a production DAG this rides that exchange for free."""
    users = table(spark, sf_dir, "events").select("user_id").distinct()
    counts = users.groupBy(
        (F.col("user_id") % 2).cast("int").alias("variant")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = counts.agg(F.sum("n").alias("nt"))
    chi2 = F.sum(
        (F.col("n") - F.col("nt") / 2) * (F.col("n") - F.col("nt") / 2) / (F.col("nt") / 2)
    )
    return counts.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n"))).cast("long").alias("n_control"),
        F.sum(F.when(F.col("variant") == 1, F.col("n"))).cast("long").alias("n_treatment"),
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("int").alias("srm_flag"),
    )


@query(
    "q_winsorize",
    oracle="""
    WITH caps AS (
        SELECT event_type,
               percentile_cont(0.99) WITHIN GROUP (ORDER BY value) AS p99
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(avg(e.value), 6) AS raw_mean,
           round(avg(least(e.value, c.p99)), 6) AS winsorized_mean,
           round(max(c.p99), 6) AS p99_cap,
           CAST(sum(CASE WHEN e.value > c.p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped
    FROM events e JOIN caps c ON e.event_type = c.event_type
    GROUP BY e.event_type
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized metric means: cap each event's value at its type's
    exact p99 before averaging — the outlier-robust readout that keeps
    one whale purchase from moving a mean (the metric-engineering
    counterpart of q_anomaly's detection).

    Caps are a per-type exact percentile (5 rows) broadcast back onto
    the fact scan; the re-aggregation is one pass. Same two-level
    shape as q_cuped/q_unigram_ce: the tiny derived relation rides a
    broadcast, the big table is scanned once and never shuffled beyond
    its own groupBy. [bounded-grain-percentile: contracted cap table —
    the §6 policy's accepted exactness demo; at extreme per-type value
    counts swap approx_percentile, schema unchanged]"""
    ev = table(spark, sf_dir, "events")
    caps = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.99)").alias("p99")
    )
    return (
        ev.join(F.broadcast(caps), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("raw_mean"),
            F.round(F.avg(F.least(F.col("value"), F.col("p99"))), 6).alias(
                "winsorized_mean"
            ),
            F.round(F.max("p99"), 6).alias("p99_cap"),
            F.sum(F.when(F.col("value") > F.col("p99"), 1).otherwise(0)).alias(
                "n_capped"
            ),
        )
    )


@query(
    "q_rolling_slope",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, sum(value) AS y
        FROM events GROUP BY 1
    ), idx AS (
        SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS DOUBLE) AS i
        FROM daily
    ), mom AS (
        SELECT day, y,
               count(*)  OVER w AS n,
               sum(i)    OVER w AS sx,
               sum(y)    OVER w AS sy,
               sum(i*y)  OVER w AS sxy,
               sum(i*i)  OVER w AS sxx
        FROM idx
        WINDOW w AS (ORDER BY i ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, round(y, 6) AS revenue,
           CASE WHEN n * sxx - sx * sx > 0
                THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS slope7
    FROM mom
    """,
)
def q_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS trend of daily revenue: the per-day slope of
    revenue against the day index over a trailing window — the
    trend-detection primitive behind alerting ("revenue has been
    sliding for a week").

    No regr_* aggregate supports window frames, so the slope is spelled
    from its four co-moment sums (n, Σx, Σy, Σxy, Σx²) — five windowed
    sums sharing ONE frame and one sort, exactly the guarded-co-moment
    discipline of q_win_corr (the n·Σx²−(Σx)² denominator is CASE-
    guarded for the 1-row opening frame on both engines). Day indexes
    come from row_number so calendar gaps can't bend the regressor."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("y"))
    )
    idx = daily.select(
        "day", "y", F.row_number().over(Window.orderBy("day")).cast("double").alias("i")
    )
    w = Window.orderBy("i").rowsBetween(-6, 0)
    mom = idx.select(
        "day",
        "y",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum("i").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("i") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("i") * F.col("i")).over(w).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return mom.select(
        "day",
        F.round("y", 6).alias("revenue"),
        F.when(
            den > 0,
            F.round((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den, 6),
        ).alias("slope7"),
    )


@query(
    "q_twap",
    oracle="""
    WITH seq AS (
        SELECT user_id, value,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
               lead(CAST(FLOOR(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_sec
        FROM events
    ), held AS (
        SELECT user_id, value,
               CAST(next_sec - sec AS DOUBLE) AS held_s
        FROM seq WHERE next_sec IS NOT NULL AND next_sec > sec
    )
    SELECT user_id,
           round(sum(value * held_s) / sum(held_s), 6) AS twap,
           round(avg(value), 6) AS plain_avg,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM held
    GROUP BY user_id
    HAVING count(*) >= 20
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each observation is
    weighted by how long it was the user's CURRENT value (until their
    next event) — the batch twin of time-weighted streaming state,
    where a value that held for an hour must count 3600× a one-second
    blip; the plain average is emitted alongside to show the bias it
    hides.

    One lead() pass over the (user, time) order turns point events
    into hold intervals — the same single-shuffle shape as
    q_interarrival; whole-second arithmetic keeps the ns/µs parquet
    precision out of the values. Zero-length holds (same-second
    events) are dropped identically on both engines; the HAVING keeps
    the output at active-user scale."""
    ev = table(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        sec.alias("sec"),
        F.lead(sec).over(w).alias("next_sec"),
    )
    held = seq.filter(
        F.col("next_sec").isNotNull() & (F.col("next_sec") > F.col("sec"))
    ).select(
        "user_id",
        "value",
        (F.col("next_sec") - F.col("sec")).cast("double").alias("held_s"),
    )
    return (
        held.groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value") * F.col("held_s")) / F.sum("held_s"), 6).alias("twap"),
            F.round(F.avg("value"), 6).alias("plain_avg"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .filter(F.col("n_intervals") >= 20)
    )


@query(
    "q_concurrency",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
               CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                         - lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800 THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sess AS (
        SELECT user_id, sec,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS sid
        FROM ordered
    ), spans AS (
        SELECT min(sec) AS start_sec, max(sec) + 1 AS end_sec
        FROM sess GROUP BY user_id, sid
    ), deltas AS (
        SELECT start_sec AS sec, CAST(1 AS BIGINT) AS d FROM spans
        UNION ALL
        SELECT end_sec AS sec, CAST(-1 AS BIGINT) AS d FROM spans
    ), net AS (
        SELECT sec, sum(d) AS net FROM deltas GROUP BY sec
    ), active AS (
        SELECT sec,
               sum(net) OVER (ORDER BY sec
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS n_active
        FROM net
    )
    SELECT CAST(sec // 86400 AS BIGINT) AS day_idx,
           CAST(max(n_active) AS BIGINT) AS peak_concurrent
    FROM active
    GROUP BY day_idx
    """,
)
def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning number —
    via the sweep-line rewrite: each session span becomes a +1 at start
    and a −1 just past its end, deltas are NETTED PER SECOND first
    (that pre-aggregation is what makes the result order-free: the
    running sum then visits one deterministic row per timestamp), and
    one global prefix sum yields the active count whose per-day max is
    the answer.

    The naive form joins every session against every overlapping
    session — quadratic in peak concurrency; the sweep line is
    O(n log n). The prefix sum runs on the netted second grain
    (data-size independent, but it grows with the covered TIME span —
    a year of seconds is 31M rows), so it is the DISTRIBUTED prefix
    sum (operators/scale.py), not a single-partition window. Session
    derivation reuses the 30-minute-gap pipeline of q_event_paths."""
    ev = table(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        sec.alias("sec"),
        F.when(sec - F.lag(sec).over(w) > 1800, 1).otherwise(0).alias("new_session"),
    )
    sess = ordered.select(
        "user_id",
        "sec",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
    )
    spans = sess.groupBy("user_id", "sid").agg(
        F.min("sec").alias("start_sec"), (F.max("sec") + 1).alias("end_sec")
    )
    deltas = spans.select(F.col("start_sec").alias("sec"), F.lit(1).cast("long").alias("d")).unionByName(
        spans.select(F.col("end_sec").alias("sec"), F.lit(-1).cast("long").alias("d"))
    )
    net = deltas.groupBy("sec").agg(F.sum("d").alias("net"))
    active = ordered_scan(
        net, [F.col("sec")], sums={"n_active": F.col("net")}, rn=None
    ).select("sec", "n_active")
    return active.groupBy((F.col("sec") / 86400).cast("long").alias("day_idx")).agg(
        F.max("n_active").alias("peak_concurrent")
    )


@query(
    "q_cohort_ltv",
    oracle="""
    WITH cohorts AS (
        SELECT user_id,
               CAST(FLOOR(epoch(min(ts)) / 604800) AS BIGINT) AS cohort_wk
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), revenue AS (
        SELECT c.cohort_wk,
               CAST(FLOOR(epoch(e.ts) / 604800) AS BIGINT) - c.cohort_wk AS wk_offset,
               e.value
        FROM events e JOIN cohorts c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(FLOOR(epoch(e.ts) / 604800) AS BIGINT) >= c.cohort_wk
    ), sizes AS (
        SELECT cohort_wk, CAST(count(*) AS DOUBLE) AS n_users FROM cohorts GROUP BY cohort_wk
    ), cell AS (
        SELECT cohort_wk, wk_offset, sum(value) AS rev
        FROM revenue GROUP BY cohort_wk, wk_offset
    )
    SELECT c.cohort_wk, c.wk_offset,
           CAST(s.n_users AS BIGINT) AS cohort_users,
           round(sum(c.rev) OVER (PARTITION BY c.cohort_wk ORDER BY c.wk_offset
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / s.n_users, 6) AS cum_ltv_per_user
    FROM cell c JOIN sizes s ON c.cohort_wk = s.cohort_wk
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: users grouped by signup week, purchase
    revenue bucketed by weeks-since-signup, reported as CUMULATIVE
    revenue per cohort user — the retention economics table every
    growth team reads, and the batch twin of a keyed running aggregate
    per (cohort, offset).

    Week indexes are integer epoch-week divisions (not date_trunc) so
    both engines bucket identically with zero calendar parsing. The
    fact table is touched twice only logically — cohort assignment is
    a per-user min over the signup slice (small), broadcast into the
    purchase scan; the cumulative window runs on the (cohort, offset)
    CELL grain, dozens of rows, after all heavy aggregation is done."""
    ev = table(spark, sf_dir, "events")
    wk = (F.floor(F.col("ts").cast("double")) / 604800).cast("long")
    cohorts = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", wk.alias("wk"))
        .groupBy("user_id")
        .agg(F.min("wk").alias("cohort_wk"))
    )
    revenue = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", wk.alias("ewk"), "value")
        .join(F.broadcast(cohorts), "user_id")
        .filter(F.col("ewk") >= F.col("cohort_wk"))
        .select(
            "cohort_wk", (F.col("ewk") - F.col("cohort_wk")).alias("wk_offset"), "value"
        )
    )
    sizes = cohorts.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("double").alias("n_users")
    )
    cell = revenue.groupBy("cohort_wk", "wk_offset").agg(F.sum("value").alias("rev"))
    wcum = (
        Window.partitionBy("cohort_wk")
        .orderBy("wk_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cell.join(F.broadcast(sizes), "cohort_wk")
        .select(
            "cohort_wk",
            "wk_offset",
            F.col("n_users").cast("long").alias("cohort_users"),
            F.round(F.sum("rev").over(wcum) / F.col("n_users"), 6).alias(
                "cum_ltv_per_user"
            ),
        )
    )


@query(
    "q_benford",
    oracle="""
    WITH digits AS (
        SELECT CAST(FLOOR(o_totalprice / power(10, FLOOR(log10(o_totalprice))))
                    AS INTEGER) AS d
        FROM orders WHERE o_totalprice > 0
    ), obs AS (
        SELECT d, CAST(count(*) AS BIGINT) AS n,
               sum(count(*)) OVER () AS total
        FROM digits GROUP BY d
    )
    SELECT d,
           n,
           round(CAST(n AS DOUBLE) / total, 6) AS observed_p,
           round(log10(1.0 + 1.0 / d), 6) AS benford_p,
           round(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / d), 6) AS deviation
    FROM obs
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on order totals: observed first-digit
    frequencies against log10(1+1/d) — the classic fraud/fabrication
    tripwire for financial fact tables (organic multiplicative data
    follows it; invented numbers don't).

    First digit extracted arithmetically (x / 10^floor(log10 x)) — no
    string formatting, so double-printing differences can't leak in.
    One 9-group aggregation with map-side partials; the total rides a
    window over the grouped counts. Integer-exact counts, rounding only
    on the derived probabilities."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    obs = o.select(d.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return obs.select(
        "d",
        "n",
        F.round(F.col("n").cast("double") / total, 6).alias("observed_p"),
        F.round(F.log10(1.0 + 1.0 / F.col("d")), 6).alias("benford_p"),
        F.round(
            F.col("n").cast("double") / total - F.log10(1.0 + 1.0 / F.col("d")), 6
        ).alias("deviation"),
    )


@query(
    "q_chi2_indep",
    oracle="""
    WITH joint AS (
        SELECT c.c_mktsegment AS seg, r.r_name AS region,
               CAST(count(*) AS DOUBLE) AS o
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY seg, region
    ), margins AS (
        SELECT seg, region, o,
               sum(o) OVER (PARTITION BY seg) AS rs,
               sum(o) OVER (PARTITION BY region) AS cs,
               sum(o) OVER () AS n
        FROM joint
    )
    SELECT round(sum((o - rs * cs / n) * (o - rs * cs / n) / (rs * cs / n)), 6)
             AS chi2,
           CAST((count(DISTINCT seg) - 1) * (count(DISTINCT region) - 1) AS BIGINT)
             AS dof
    FROM margins
    """,
)
def q_chi2_indep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of market segment × region — "is
    segment mix geographically uniform?" — the categorical-association
    screen behind stratification and sampling-bias checks.

    The contingency table is one 25-cell aggregation over the dim-chain
    join (both dims broadcast); row/column margins and the grand total
    come from three windows OVER THE CELLS, not re-scans; expected
    counts and the statistic fold in a single combine. Absent cells
    contribute 0 to the statistic on both engines (they're absent from
    the cell relation, not zero-rows) — fine for a screen; add a
    dense spine via cross join if exact dof matters with empty cells."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joint = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("r_name").alias("region"))
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    margins = joint.select(
        "seg",
        "region",
        "o",
        F.sum("o").over(Window.partitionBy("seg")).alias("rs"),
        F.sum("o").over(Window.partitionBy("region")).alias("cs"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rs") * F.col("cs") / F.col("n")
    return margins.agg(
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias("chi2"),
        (
            (F.countDistinct("seg") - 1) * (F.countDistinct("region") - 1)
        ).cast("long").alias("dof"),
    )


@query(
    "q_growth_accounting",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS wk
        FROM events
    ), seq AS (
        SELECT user_id, wk,
               min(wk) OVER (PARTITION BY user_id) AS first_wk,
               lag(wk)  OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
               lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk,
               max(wk) OVER () AS max_wk
        FROM uw
    ), status AS (
        SELECT wk,
               CASE WHEN wk = first_wk THEN 1 ELSE 0 END AS is_new,
               CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END AS is_retained,
               CASE WHEN wk > first_wk AND (prev_wk IS NULL OR prev_wk < wk - 1)
                    THEN 1 ELSE 0 END AS is_resurrected,
               CASE WHEN (next_wk IS NULL OR next_wk > wk + 1) AND wk < max_wk
                    THEN 1 ELSE 0 END AS churns_next
        FROM seq
    ), per_wk AS (
        SELECT wk,
               CAST(sum(is_new) AS BIGINT) AS new_users,
               CAST(sum(is_retained) AS BIGINT) AS retained,
               CAST(sum(is_resurrected) AS BIGINT) AS resurrected
        FROM status GROUP BY wk
    ), churn AS (
        SELECT wk + 1 AS wk, CAST(sum(churns_next) AS BIGINT) AS churned
        FROM status GROUP BY wk + 1
    )
    SELECT p.wk, p.new_users, p.retained, p.resurrected,
           coalesce(c.churned, 0) AS churned
    FROM per_wk p LEFT JOIN churn c ON p.wk = c.wk
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active user-week classified as new
    (first ever), retained (also active last week), or resurrected
    (returning after a gap), plus the churn ledger (active last week,
    gone this week) — the four numbers whose identity
    active(t) = new + retained + resurrected and
    active(t-1) = retained + churned audits itself.

    One DISTINCT to the (user, week) grain, one user-partitioned
    window pass supplying first/prev/next in a single sort, then two
    tiny week-grain rollups (churn attributes forward to the week the
    user is MISSING, via lead — no self-join of week t against t−1,
    which is the naive two-scan formulation). Week buckets are integer
    epoch divisions spelled FLOOR(x/604800) on both engines."""
    ev = table(spark, sf_dir, "events")
    wk = (F.floor(F.col("ts").cast("double")) / 604800).cast("long")
    uw = ev.select("user_id", wk.alias("wk")).distinct()
    wuser = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(Window.partitionBy("user_id")).alias("first_wk"),
        F.lag("wk").over(wuser).alias("prev_wk"),
        F.lead("wk").over(wuser).alias("next_wk"),
        F.max("wk").over(Window.partitionBy()).alias("max_wk"),
    )
    status = seq.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0).alias("is_new"),
        F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0).alias("is_retained"),
        F.when(
            (F.col("wk") > F.col("first_wk"))
            & (F.col("prev_wk").isNull() | (F.col("prev_wk") < F.col("wk") - 1)),
            1,
        ).otherwise(0).alias("is_resurrected"),
        F.when(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1))
            & (F.col("wk") < F.col("max_wk")),
            1,
        ).otherwise(0).alias("churns_next"),
    )
    per_wk = status.groupBy("wk").agg(
        F.sum("is_new").alias("new_users"),
        F.sum("is_retained").alias("retained"),
        F.sum("is_resurrected").alias("resurrected"),
    )
    churn = status.groupBy((F.col("wk") + 1).alias("wk")).agg(
        F.sum("churns_next").alias("churned")
    )
    return per_wk.join(churn, "wk", "left").select(
        "wk",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce("churned", F.lit(0)).alias("churned"),
    )


@query(
    "q_abc_class",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(FLOOR(l_extendedprice*100.0 + 0.5) AS BIGINT)) AS rev_cents
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum,
               CAST(sum(rev_cents) OVER () AS BIGINT) AS total
        FROM rev
    ), classed AS (
        SELECT rev_cents,
               CASE WHEN CAST(cum AS DOUBLE) / total <= 0.80 THEN 'A'
                    WHEN CAST(cum AS DOUBLE) / total <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc
        FROM ranked
    )
    SELECT abc,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(CAST(rev_cents AS DOUBLE)) / max(CAST(total AS DOUBLE)), 6)
             AS revenue_share
    FROM classed CROSS JOIN (SELECT CAST(sum(rev_cents) AS BIGINT) AS total FROM rev) t
    GROUP BY abc
    """,
)
def q_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, classed A
    (first 80% of cumulative revenue), B (to 95%), C (tail) — the
    workhorse assortment/stocking segmentation, and q_pareto's
    classification-shaped sibling.

    Revenue is integer-cents summed (exact, order-free) BEFORE the
    descending cumulative scan, so the class boundary is a
    deterministic function of (revenue, partkey) — a float cumsum
    would make boundary parts flap across engines. The part grain
    grows with the dataset, so the cumulative revenue is the
    DISTRIBUTED prefix sum (operators/scale.py: range partition +
    local window + broadcast offsets) and the grand total a broadcast
    one-row aggregate — no single-partition window; class census is a
    3-row rollup."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("rev_cents"))
    ranked = ordered_scan(
        rev,
        [F.col("rev_cents").desc(), F.col("l_partkey")],
        sums={"cum": F.col("rev_cents")},
        rn=None,
        totals_of={"total": F.sum("rev_cents").cast("long")},
    ).select("rev_cents", F.col("cum").cast("long").alias("cum"), "total")
    share = F.col("cum").cast("double") / F.col("total")
    classed = ranked.select(
        "rev_cents",
        "total",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").alias("abc"),
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(
            F.sum(F.col("rev_cents").cast("double")) / F.max(F.col("total").cast("double")), 6
        ).alias("revenue_share"),
    )


@query(
    "q_control_chart",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, sum(value) AS x
        FROM events GROUP BY 1
    ), mr AS (
        SELECT day, x,
               abs(x - lag(x) OVER (ORDER BY day)) AS moving_range
        FROM daily
    ), limits AS (
        SELECT avg(x) AS xbar, avg(moving_range) AS mrbar
        FROM mr
    )
    SELECT m.day, round(m.x, 6) AS x,
           round(l.xbar, 6) AS center,
           round(l.xbar + 2.66 * l.mrbar, 6) AS ucl,
           round(l.xbar - 2.66 * l.mrbar, 6) AS lcl,
           CAST(CASE WHEN m.x > l.xbar + 2.66 * l.mrbar
                       OR m.x < l.xbar - 2.66 * l.mrbar
                     THEN 1 ELSE 0 END AS INTEGER) AS out_of_control
    FROM mr m CROSS JOIN limits l
    """,
)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals & moving range) control chart over daily
    revenue: center line, ±2.66·mean-moving-range control limits, and
    the out-of-control flag per day — the SPC primitive behind "did
    the pipeline break today or is this normal variation?" alerting,
    complementing q_anomaly's z-scores with limits that need no
    normality assumption.

    One lag pass for moving ranges, one two-number stats row broadcast
    back — the limits join touches the 30-row day grain, never the
    fact table. The 2.66 (=3/d2, d2=1.128 for n=2) is the standard
    XmR constant, a literal on both engines."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("x"))
    )
    mr = daily.select(
        "day",
        "x",
        F.abs(F.col("x") - F.lag("x").over(Window.orderBy("day"))).alias("moving_range"),
    )
    limits = mr.agg(
        F.avg("x").alias("xbar"), F.avg("moving_range").alias("mrbar")
    )
    ucl = F.col("xbar") + 2.66 * F.col("mrbar")
    lcl = F.col("xbar") - 2.66 * F.col("mrbar")
    return mr.crossJoin(F.broadcast(limits)).select(
        "day",
        F.round("x", 6).alias("x"),
        F.round("xbar", 6).alias("center"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        F.when((F.col("x") > ucl) | (F.col("x") < lcl), 1)
        .otherwise(0)
        .cast("int")
        .alias("out_of_control"),
    )


@query(
    "q_repeat_revenue",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey, min(o_orderdate) AS first_dt
        FROM orders GROUP BY o_custkey
    ), tagged AS (
        SELECT date_trunc('month', o.o_orderdate) AS month,
               CASE WHEN o.o_orderdate = f.first_dt THEN 'new' ELSE 'repeat' END
                 AS order_kind,
               o.o_totalprice
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT month, order_kind,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(FLOOR(o_totalprice*100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM tagged
    WHERE month >= TIMESTAMP '2001-01-01'
    GROUP BY month, order_kind
    """,
)
def q_repeat_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-repeat revenue split per month (2001 slice): each order
    tagged by whether it is its customer's FIRST order — the
    acquisition-vs-retention revenue decomposition that growth
    accounting does for users, applied to money.

    The first-order table is one per-customer min (customer-grain,
    broadcast); tagging is a join + comparison, never a window over
    the fact table ordered by date (which would serialize per-customer
    history for no reason — min is associative, order isn't needed).
    Integer-cents revenue keeps the monthly sums exact. Ties on the
    first DATE mark all same-day orders 'new' — deterministic on both
    engines either way because the rule uses the date value, not a
    row rank."""
    o = table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    tagged = o.join(F.broadcast(firsts), "o_custkey").select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.when(F.col("o_orderdate") == F.col("first_dt"), "new")
        .otherwise("repeat")
        .alias("order_kind"),
        cents.alias("cents"),
    )
    return (
        tagged.filter(F.col("month") >= F.to_timestamp(F.lit("2001-01-01")))
        .groupBy("month", "order_kind")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


@query(
    "q_sla",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(avg(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                          THEN 1.0 ELSE 0.0 END), 6) AS pct_within_30d,
           round(avg(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                          THEN 1.0 ELSE 0.0 END), 6) AS pct_within_90d,
           CAST(max(date_diff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT)
             AS worst_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA attainment by order priority: share of line
    items shipped within 30/90 days of order placement plus the
    worst-case lag — the conditional-aggregation report pattern
    (FILTER-style shares from AVG over 0/1) on the fact-to-fact join.

    The orders side projects two columns before the join; day deltas
    are integer date arithmetic (ms-precision timestamps truncate
    identically). One shuffle join on orderkey, one 5-group rollup —
    at 100 TB this is THE bucketed-join candidate (both sides keyed by
    orderkey; tests/test_storage.py shows the Exchange-free layout)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg(F.when(lag <= 30, 1.0).otherwise(0.0)), 6).alias(
                "pct_within_30d"
            ),
            F.round(F.avg(F.when(lag <= 90, 1.0).otherwise(0.0)), 6).alias(
                "pct_within_90d"
            ),
            F.max(lag).cast("long").alias("worst_days"),
        )
    )


@query(
    "q_affinity",
    oracle="""
    WITH cell AS (
        SELECT r.r_name AS region, p.p_type AS ptype,
               CAST(count(*) AS DOUBLE) AS n
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nn  ON c.c_nationkey = nn.n_nationkey
        JOIN region r   ON nn.n_regionkey = r.r_regionkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        GROUP BY region, ptype
    ), margins AS (
        SELECT region, ptype, n,
               sum(n) OVER (PARTITION BY region) AS rn,
               sum(n) OVER (PARTITION BY ptype) AS cn,
               sum(n) OVER () AS tot
        FROM cell
    )
    SELECT region, ptype,
           CAST(n AS BIGINT) AS n_items,
           round((n / tot) / ((rn / tot) * (cn / tot)), 6) AS affinity
    FROM margins
    """,
)
def q_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region × part-type affinity matrix: observed cell share over the
    independence expectation (row share × column share) — the
    merchandising "what over-indexes where" heat map, the cell-level
    view whose aggregate is q_chi2_indep.

    The five-way star join broadcasts every dimension (customer is the
    largest at 150k rows — still broadcast-range), so the fact scan
    shuffles exactly once, for the 30-cell groupBy. All three margins
    are windows over the CELLS. Same margin discipline as q_basket_pairs'
    lift, generalized to a dimension pair."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cell = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("r_name").alias("region"), F.col("p_type").alias("ptype"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    margins = cell.select(
        "region",
        "ptype",
        "n",
        F.sum("n").over(Window.partitionBy("region")).alias("rn"),
        F.sum("n").over(Window.partitionBy("ptype")).alias("cn"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
    )
    return margins.select(
        "region",
        "ptype",
        F.col("n").cast("long").alias("n_items"),
        F.round(
            (F.col("n") / F.col("tot"))
            / ((F.col("rn") / F.col("tot")) * (F.col("cn") / F.col("tot"))),
            6,
        ).alias("affinity"),
    )


@query(
    "q_heaps",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), wf AS (SELECT * FROM words WHERE word <> ''),
    doc_tokens AS (
        SELECT doc_id, CAST(count(*) AS DOUBLE) AS toks FROM wf GROUP BY doc_id
    ), first_seen AS (
        SELECT word, min(doc_id) AS doc_id
        FROM wf GROUP BY word
    ), new_vocab AS (
        SELECT doc_id, CAST(count(*) AS DOUBLE) AS newv
        FROM first_seen GROUP BY doc_id
    ), curve AS (
        SELECT t.doc_id,
               sum(t.toks) OVER (ORDER BY t.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
               sum(coalesce(v.newv, 0)) OVER (ORDER BY t.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vocab
        FROM doc_tokens t LEFT JOIN new_vocab v ON t.doc_id = v.doc_id
    )
    SELECT round(regr_slope(ln(cum_vocab), ln(cum_tokens)), 6) AS heaps_beta,
           round(regr_r2(ln(cum_vocab), ln(cum_tokens)), 6) AS r2,
           CAST(max(cum_tokens) AS BIGINT) AS total_tokens,
           CAST(max(cum_vocab) AS BIGINT) AS total_vocab
    FROM curve
    """,
)
def q_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: vocabulary growth V(n) ≈ K·n^β along the corpus
    (β from OLS on the log-log curve) — the scaling diagnostic that
    predicts how much NEW vocabulary another 10× of data buys, which
    is exactly the question a 100 TB ingest plan asks before sizing
    its dictionaries.

    The growth curve never materializes per-token state: each word
    contributes vocabulary at its FIRST doc (min(doc_id) per word —
    the first-seen rewrite from q_running_distinct), so the cumulative
    windows run on the DOC grain. The doc grain grows linearly with
    the corpus, so both cumulatives are DISTRIBUTED prefix sums
    (operators/scale.py), not a single-partition window. The final fit
    is the regr_* 4-number combine. Curve order is doc_id —
    deterministic, no tie ambiguity."""
    docs = table(spark, sf_dir, "documents")
    wf = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    doc_tokens = wf.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("toks"))
    new_vocab = (
        wf.groupBy("word")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("newv"))
    )
    curve = ordered_scan(
        doc_tokens.join(new_vocab, "doc_id", "left"),
        [F.col("doc_id")],
        sums={
            "cum_tokens": F.col("toks"),
            "cum_vocab": F.coalesce("newv", F.lit(0.0)),
        },
        rn=None,
    )
    return curve.agg(
        F.round(F.regr_slope(F.log("cum_vocab"), F.log("cum_tokens")), 6).alias("heaps_beta"),
        F.round(F.regr_r2(F.log("cum_vocab"), F.log("cum_tokens")), 6).alias("r2"),
        F.max("cum_tokens").cast("long").alias("total_tokens"),
        F.max("cum_vocab").cast("long").alias("total_vocab"),
    )


@query(
    "q_mde",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS rev
        FROM events GROUP BY user_id
    ), stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               avg(rev) AS mu,
               stddev_samp(rev) AS sigma
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round(mu, 6) AS mean_revenue,
           round(sigma, 6) AS std_revenue,
           round((1.959964 + 0.841621) * sigma * sqrt(2.0 / (n / 2)), 6)
             AS mde_abs,
           round((1.959964 + 0.841621) * sigma * sqrt(2.0 / (n / 2)) / mu, 6)
             AS mde_rel
    FROM stats
    """,
)
def q_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: the minimum detectable effect (80%
    power, two-sided alpha=0.05) for a 50/50 split of the current user
    base on per-user revenue — the "is this experiment even worth
    running?" number that closes the q_srm / q_cuped / q_ab_test
    toolkit.

    MDE = (z_{alpha/2} + z_{beta}) * sigma * sqrt(2/n_per_arm), with the
    z constants as 6-decimal literals on both engines (no inverse-CDF
    in either SQL dialect, and none needed for fixed alpha/power).
    Everything reduces to one per-user aggregation and a single
    3-number stats row — a tree-reduce at any scale."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("rev")
    )
    stats = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("rev").alias("mu"),
        F.stddev_samp("rev").alias("sigma"),
    )
    z = F.lit(1.959964 + 0.841621)
    mde = z * F.col("sigma") * F.sqrt(2.0 / (F.col("n") / 2))
    return stats.select(
        F.col("n").cast("long").alias("n_users"),
        F.round("mu", 6).alias("mean_revenue"),
        F.round("sigma", 6).alias("std_revenue"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / F.col("mu"), 6).alias("mde_rel"),
    )


@query(
    "q_dup_payments",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS band,
               o_orderdate
        FROM orders
    )
    SELECT a.o_custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.band AS amount_band,
           CAST(date_diff('day', a.o_orderdate, b.o_orderdate) AS BIGINT)
             AS days_apart
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.band = b.band
     AND a.o_orderkey < b.o_orderkey
     AND date_diff('day', a.o_orderdate, b.o_orderdate) BETWEEN -90 AND 90
    """,
)
def q_dup_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: pairs of orders from the same customer
    in the same $1000 amount band within ±90 days — the accounts-
    payable double-charge screen, which is record-level dedup on
    BUSINESS keys (who, roughly how much, when) rather than content
    hashes. (Banded, not exact-cents, because this synthetic corpus
    draws prices from a continuous range — exact-amount collisions
    don't exist; real AP data would tighten both knobs.)

    The self-join is equi-keyed on (custkey, amount-band) — the band
    computed by integer floor-division BEFORE joining, so float
    equality never decides a match — with the ±90-day window as a
    residual filter on the hash join, not a range-join driver. Key
    cardinality ≈ |customers|×|bands| keeps groups tiny, so the join
    output stays small by construction (the audit's point); orderkey
    ordering dedups the pair direction."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias("band"),
        "o_orderdate",
    )
    a, b = o.alias("a"), o.alias("b")
    dd = F.datediff(F.col("b.o_orderdate"), F.col("a.o_orderdate"))
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & dd.between(-90, 90),
        )
        .select(
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.band").alias("amount_band"),
            dd.cast("long").alias("days_apart"),
        )
    )


@query(
    "q_rank_shift",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', o.o_orderdate) AS month, p.p_brand,
               sum(CAST(FLOOR(l.l_extendedprice*100.0 + 0.5) AS BIGINT)) AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p   ON l.l_partkey = p.p_partkey
        WHERE o.o_orderdate >= TIMESTAMP '2001-01-01'
        GROUP BY month, p.p_brand
    ), ranked AS (
        SELECT month, p_brand,
               CAST(rank() OVER (PARTITION BY month
                                 ORDER BY rev DESC, p_brand) AS BIGINT) AS rk
        FROM monthly
    )
    SELECT month, p_brand, rk,
           CAST(lag(rk) OVER (PARTITION BY p_brand ORDER BY month) - rk AS BIGINT)
             AS rank_gain
    FROM ranked
    QUALIFY lag(rk) OVER (PARTITION BY p_brand ORDER BY month) IS NOT NULL
        AND abs(lag(rk) OVER (PARTITION BY p_brand ORDER BY month) - rk) >= 5
    """,
)
def q_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movers-and-shakers: brands whose monthly revenue rank jumped or
    fell by ≥5 places month-over-month (2001 slice) — the leaderboard-
    delta report behind trend alerts, composing TWO window axes: rank
    WITHIN month, then lag ACROSS months per brand.

    Ranking uses exact integer-cents revenue with a brand tie-break so
    rank is engine-deterministic; the cross-month lag runs on the
    (month, brand) grain (tiny), so the expensive part remains the one
    fact-table rollup. rank() not row_number() within month: equal
    revenues share a rank, so a tie can't fabricate a phantom shift."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    monthly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2001-01-01")))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"), "p_brand")
        .agg(F.sum(cents).alias("rev"))
    )
    wm = Window.partitionBy("month").orderBy(F.col("rev").desc(), "p_brand")
    ranked = monthly.select(
        "month", "p_brand", F.rank().over(wm).cast("long").alias("rk")
    )
    wb = Window.partitionBy("p_brand").orderBy("month")
    shifted = ranked.select(
        "month",
        "p_brand",
        "rk",
        (F.lag("rk").over(wb) - F.col("rk")).cast("long").alias("rank_gain"),
    )
    return shifted.filter(
        F.col("rank_gain").isNotNull() & (F.abs("rank_gain") >= 5)
    )


@query(
    "q_price_index",
    oracle="""
    WITH cells AS (
        SELECT date_trunc('month', o.o_orderdate) AS month, p.p_brand,
               avg(l.l_extendedprice / l.l_quantity) AS unit_price,
               sum(l.l_quantity) AS qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p   ON l.l_partkey = p.p_partkey
        WHERE o.o_orderdate >= TIMESTAMP '2001-01-01'
        GROUP BY month, p.p_brand
    ), base AS (
        SELECT p_brand, unit_price AS p0, qty AS q0
        FROM cells WHERE month = TIMESTAMP '2001-01-01'
    )
    SELECT c.month,
           round(sum(c.unit_price * b.q0) / sum(b.p0 * b.q0), 6)
             AS laspeyres_index,
           CAST(count(*) AS BIGINT) AS n_brands
    FROM cells c JOIN base b ON c.p_brand = b.p_brand
    GROUP BY c.month
    """,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index: monthly brand unit prices weighted by the
    base month's (2001-01) quantity basket — "how much would January's
    purchases cost at this month's prices" — the economic-index shape
    (fixed-weight re-aggregation against a frozen reference period)
    that CPI-style monitoring runs over transaction data.

    One fact rollup to (month, brand) cells; the base basket is the
    January slice of those same cells (no second scan), broadcast back
    onto the cell grain. Brands absent from the base month drop out by
    the inner join on BOTH engines — the index is over January's
    basket by definition. The ratio of basket sums is rounded only at
    the end."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cells = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2001-01-01")))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"), "p_brand")
        .agg(
            F.avg(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
            F.sum("l_quantity").alias("qty"),
        )
    )
    base = cells.filter(
        F.col("month") == F.to_timestamp(F.lit("2001-01-01"))
    ).select("p_brand", F.col("unit_price").alias("p0"), F.col("qty").alias("q0"))
    return (
        cells.join(F.broadcast(base), "p_brand")
        .groupBy("month")
        .agg(
            F.round(
                F.sum(F.col("unit_price") * F.col("q0")) / F.sum(F.col("p0") * F.col("q0")),
                6,
            ).alias("laspeyres_index"),
            F.count(F.lit(1)).alias("n_brands"),
        )
    )


@query(
    "q_session_stats",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
               CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                         - lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800 THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sess AS (
        SELECT user_id, sec,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS sid
        FROM ordered
    ), per_session AS (
        SELECT user_id, sid,
               CAST(max(sec) - min(sec) AS BIGINT) AS duration_s,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
    ), hist AS (
        SELECT duration_s,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(n_events) AS BIGINT) AS sum_ev,
               CAST(max(n_events) AS BIGINT) AS max_ev
        FROM per_session GROUP BY duration_s
    ), cdf AS (
        SELECT duration_s, cnt, sum_ev, max_ev,
               SUM(cnt) OVER (ORDER BY duration_s) AS cum,
               SUM(cnt) OVER () AS n
        FROM hist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_sessions,
           round(SUM(duration_s * cnt) * 1.0 / MAX(n), 6) AS avg_duration_s,
           round(CAST(MIN(CASE WHEN cum * 2 >= n THEN duration_s END)
                      AS DOUBLE), 6) AS p50_duration_s,
           round(CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN duration_s END)
                      AS DOUBLE), 6) AS p90_duration_s,
           round(SUM(sum_ev) * 1.0 / MAX(n), 6) AS avg_events,
           CAST(MAX(max_ev) AS BIGINT) AS max_events
    FROM cdf
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shape distribution: count, mean/median/p90 duration and
    event counts over 30-minute-gap sessions — the numbers that size
    streaming session-window state budgets (how long does state live?
    how many rows per key?) before you deploy the streaming twin.

    Third reuse of the sessionize pipeline (paths → concurrency →
    stats), each composing different downstream aggregation on the
    same one-shuffle derivation. Percentiles come from a SECONDS-GRAIN
    HISTOGRAM CDF (the q_interarrival form, VERDICT r07 item 3): count
    sessions per whole-second duration bin, then take the smallest bin
    whose cumulative count reaches the rank. The earlier formulation's
    exact `percentile(duration_s, …)` buffered every session duration
    on one reducer — sessions scale with users × activity; here window
    state is bounded by the duration RANGE in whole seconds, and the
    rank thresholds use the integer identities cum·2 ≥ n and
    cum·10 ≥ 9n (≡ cum ≥ ⌈p·n⌉ for integer cum, no float half-way
    risk). Means are the exact integer identities Σ(x·cnt)/n; event
    stats ride the same binned relation (sum_ev/max_ev per bin), so no
    second scan of per_session. [histogram-cdf-percentile]"""
    ev = table(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        sec.alias("sec"),
        F.when(sec - F.lag(sec).over(w) > 1800, 1).otherwise(0).alias("new_session"),
    )
    sess = ordered.select(
        "user_id",
        "sec",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        (F.max("sec") - F.min("sec")).cast("long").alias("duration_s"),
        F.count(F.lit(1)).alias("n_events"),
    )
    hist = per_session.groupBy("duration_s").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_events").alias("sum_ev"),
        F.max("n_events").alias("max_ev"),
    )
    # bounded-bin window: rows = distinct whole-second durations, capped
    # by the 30-min session-gap policy's practical range, not by |events|
    wb = Window.orderBy("duration_s").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cdf = hist.select(
        "duration_s",
        "cnt",
        "sum_ev",
        "max_ev",
        F.sum("cnt").over(wb).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    return cdf.agg(
        F.max("n").cast("long").alias("n_sessions"),
        F.round(
            F.sum(F.col("duration_s") * F.col("cnt")) * 1.0 / F.max("n"), 6
        ).alias("avg_duration_s"),
        F.round(
            F.min(
                F.when(F.col("cum") * 2 >= F.col("n"), F.col("duration_s"))
            ).cast("double"),
            6,
        ).alias("p50_duration_s"),
        F.round(
            F.min(
                F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("duration_s"))
            ).cast("double"),
            6,
        ).alias("p90_duration_s"),
        F.round(F.sum("sum_ev") * 1.0 / F.max("n"), 6).alias("avg_events"),
        F.max("max_ev").alias("max_events"),
    )


@query(
    "q_hour_heatmap",
    oracle="""
    SELECT CAST(hour(ts) AS INTEGER) AS hr,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS views,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
             AS purchases,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS errors,
           round(CAST(count(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
                 / nullif(count(*) FILTER (WHERE event_type = 'view'), 0), 6)
             AS purchase_per_view
    FROM events
    GROUP BY hr
    """,
)
def q_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity heat map: per-type event counts and the
    purchase-per-view conversion ratio for each of the 24 hours — the
    intra-day profile that q_seasonality gives per weekday, at the
    wide (one-row-per-hour, one-column-per-type) shape dashboards
    consume directly.

    A single conditional-aggregation pass: FILTER-style counts compile
    to the same partial-agg plan as a pivot but with a fixed, declared
    column set (no two-phase pivot value discovery); the ratio guards
    empty cells with nullif on both engines. hour() truncation agrees
    across engines at every precision."""
    ev = table(spark, sf_dir, "events")
    cnt = lambda t: F.count(F.when(F.col("event_type") == t, 1))
    return ev.groupBy(F.hour("ts").cast("int").alias("hr")).agg(
        cnt("view").alias("views"),
        cnt("click").alias("clicks"),
        cnt("purchase").alias("purchases"),
        cnt("error").alias("errors"),
        F.round(
            cnt("purchase").cast("double") / F.nullif(cnt("view"), F.lit(0)), 6
        ).alias("purchase_per_view"),
    )


@query(
    "q_coverage_gaps",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM bounds
    ), active AS (
        SELECT DISTINCT date_trunc('hour', ts) AS hr FROM events
        WHERE event_type = 'error'
    ), missing AS (
        SELECT CAST(FLOOR(epoch(s.hr) / 3600) AS BIGINT) AS hidx
        FROM spine s LEFT JOIN active a ON s.hr = a.hr
        WHERE a.hr IS NULL
    ), islands AS (
        SELECT hidx,
               hidx - row_number() OVER (ORDER BY hidx) AS grp
        FROM missing
    )
    SELECT CAST(min(hidx) AS BIGINT) AS gap_start_hidx,
           CAST(max(hidx) AS BIGINT) AS gap_end_hidx,
           CAST(count(*) AS BIGINT) AS n_hours
    FROM islands GROUP BY grp
    """,
)
def q_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring-coverage gap report: maximal runs of consecutive
    hours with ZERO error events across the observation range — the
    "was telemetry down, and for how long?" question, which needs both
    the calendar-spine anti-join (absence is not a row you can filter
    for) and the gaps-and-islands trick (hour_index − row_number is
    constant within a consecutive run, so one window + one groupBy
    merges runs without iteration).

    The spine generates from two scalar bounds (no driver loop); the
    anti-join is hour-grain (≤ thousands of rows at any data scale —
    the spine's size is set by the time range, not the volume). Gap
    density is SF-dependent by nature: sparse data shows gaps, dense
    data proves coverage — both are correct answers."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr")
    )
    active = (
        ev.filter(F.col("event_type") == "error")
        .select(F.date_trunc("hour", "ts").alias("hr"))
        .distinct()
    )
    missing = spine.join(active, "hr", "left_anti").select(
        (F.floor(F.col("hr").cast("double") / 3600)).cast("long").alias("hidx")
    )
    islands = missing.select(
        "hidx",
        (F.col("hidx") - F.row_number().over(Window.orderBy("hidx"))).alias("grp"),
    )
    return islands.groupBy("grp").agg(
        F.min("hidx").alias("gap_start_hidx"),
        F.max("hidx").alias("gap_end_hidx"),
        F.count(F.lit(1)).alias("n_hours"),
    ).drop("grp")


@query(
    "q_conversion_lag",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'
                        THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS first_view,
               min(CASE WHEN event_type = 'purchase'
                        THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS first_buy
        FROM events GROUP BY user_id
    ), lags AS (
        SELECT first_buy - first_view AS lag_s
        FROM firsts
        WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
          AND first_buy >= first_view
    ), hist AS (
        SELECT lag_s, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lags GROUP BY lag_s
    ), cdf AS (
        SELECT lag_s, cnt,
               SUM(cnt) OVER (ORDER BY lag_s) AS cum,
               SUM(cnt) OVER () AS n
        FROM hist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           round(CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN lag_s END)
                      AS DOUBLE), 6) AS p50_s,
           round(CAST(MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN lag_s END)
                      AS DOUBLE), 6) AS p90_s,
           round(SUM(lag_s * cnt) * 1.0 / MAX(n), 6) AS avg_s,
           CAST(MAX(lag_s) AS BIGINT) AS max_s
    FROM cdf
    """,
)
def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: seconds from a user's FIRST view to their
    FIRST purchase (converters only), as median/p90/mean/max — the
    time-to-convert distribution that sets attribution windows and
    the retargeting cadence.

    Both firsts come from ONE conditional-min aggregation pass (min
    over a CASE), not two filtered scans joined back — per-user state
    is two longs, associative, so the plan is a single shuffle and a
    tree-reduce. Percentiles come from a SECONDS-GRAIN HISTOGRAM CDF
    (the q_watermark_plan form — converter grain grows with data, so
    the old exact `percentile` buffered an unbounded value list):
    state is bounded by the lag RANGE in whole seconds and the window
    orders bins, never converters. The same whole-second epoch
    discipline as q_interarrival keeps ns parquet precision out of
    the values. [histogram-cdf-percentile]"""
    ev = table(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", sec)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", sec)).alias("first_buy"),
    )
    lags = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select((F.col("first_buy") - F.col("first_view")).alias("lag_s"))
    hist = lags.groupBy("lag_s").agg(F.count(F.lit(1)).alias("cnt"))
    # bounded bin grain: distinct whole-second lags, not converters
    wb = Window.orderBy("lag_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = hist.select(
        "lag_s",
        "cnt",
        F.sum("cnt").over(wb).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )

    def pick(p: float):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("n")),
                   F.col("lag_s"))
        )

    return cdf.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.round(pick(0.5).cast("double"), 6).alias("p50_s"),
        F.round(pick(0.9).cast("double"), 6).alias("p90_s"),
        F.round(
            F.sum(F.col("lag_s") * F.col("cnt")) * 1.0 / F.max("n"), 6
        ).alias("avg_s"),
        F.max("lag_s").alias("max_s"),
    )


@query(
    "q_mutual_info",
    oracle="""
    WITH cell AS (
        SELECT lang, source, CAST(count(*) AS DOUBLE) AS n
        FROM documents GROUP BY lang, source
    ), margins AS (
        SELECT lang, source, n,
               sum(n) OVER (PARTITION BY lang) AS nl,
               sum(n) OVER (PARTITION BY source) AS ns,
               sum(n) OVER () AS tot
        FROM cell
    )
    SELECT round(sum((n / tot) * ln((n / tot) / ((nl / tot) * (ns / tot)))), 6)
             AS mutual_info_nats,
           round(-sum((n / tot) * ln(n / tot)), 6) AS joint_entropy_nats,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM margins
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between language and source (plus the joint
    entropy): the information-theoretic dependence measure — MI ≈ 0
    means sources are language-balanced, high MI means languages
    concentrate in particular sources, the sampling-bias number a
    corpus card should report next to q_chi2_indep's significance.

    Same margins-from-windows discipline as the chi-square: one
    ≤100-cell contingency aggregation, three windows over the cells,
    one combine. Absent cells contribute exactly 0 to both sums (the
    p·ln(p) limit), identically on both engines because they are
    absent rows, not zeros."""
    d = table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    margins = cell.select(
        "n",
        F.sum("n").over(Window.partitionBy("lang")).alias("nl"),
        F.sum("n").over(Window.partitionBy("source")).alias("ns"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
    )
    p = F.col("n") / F.col("tot")
    return margins.agg(
        F.round(
            F.sum(p * F.log(p / ((F.col("nl") / F.col("tot")) * (F.col("ns") / F.col("tot"))))),
            6,
        ).alias("mutual_info_nats"),
        F.round(-F.sum(p * F.log(p)), 6).alias("joint_entropy_nats"),
        F.count(F.lit(1)).alias("n_cells"),
    )


@query(
    "q_drawdown",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, sum(value) AS x
        FROM events GROUP BY 1
    ), dd AS (
        SELECT day, x,
               max(x) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS peak
        FROM daily
    )
    SELECT day, round(x, 6) AS revenue, round(peak, 6) AS peak,
           round(x / peak - 1.0, 6) AS drawdown
    FROM dd
    """,
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown curve of daily revenue: each day's value against the
    running historical peak (x/peak − 1) — the peak-to-trough risk
    metric finance runs on equity curves, applied to a business
    series; its minimum is the max drawdown.

    The running peak is a prefix-MAX window — the monotone sibling of
    the prefix sums used everywhere else (EWMA, KM, concurrency):
    associative, order-free given the day grain, one global window on
    a data-size-independent series. No self-join of every day against
    its history (the quadratic textbook form)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("x"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select("day", "x", F.max("x").over(w).alias("peak"))
    return dd.select(
        "day",
        F.round("x", 6).alias("revenue"),
        F.round("peak", 6).alias("peak"),
        F.round(F.col("x") / F.col("peak") - 1.0, 6).alias("drawdown"),
    )


@query(
    "q_whale_curve",
    oracle="""
    WITH rev AS (
        SELECT o_custkey, sum(CAST(FLOOR(o_totalprice*100.0 + 0.5) AS BIGINT))
                 AS cents
        FROM orders GROUP BY o_custkey
    ), deciled AS (
        SELECT cents,
               ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
        FROM rev
    ), tot AS (SELECT CAST(sum(cents) AS DOUBLE) AS t FROM rev)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           round(sum(cents) / max(t.t), 6) AS revenue_share
    FROM deciled CROSS JOIN tot t
    GROUP BY decile
    """,
)
def q_whale_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale curve: customers deciled by total spend (decile 1 = top
    whales), with each decile's revenue and share — the
    concentration TABLE whose scalar summary is q_pareto's top-share/
    Gini; this is the shape account teams actually read.

    Integer-cents revenue before the ntile sort (same boundary
    discipline as q_abc_class: float sums would let decile edges flap),
    custkey tie-break for engine-identical decile assignment. The
    customer grain grows with the dataset, so the decile assignment is
    the DISTRIBUTED ntile (operators/scale.py) — range-partitioned
    row_numbers + the ANSI ntile identity, no single-partition global
    window; the oracle keeps plain ``ntile``."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    rev = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    deciled = global_ntile(
        rev,
        [F.col("cents").desc(), F.col("o_custkey")],
        10,
        "decile",
        totals_of={"t": F.sum("cents").cast("double")},
    ).select("cents", "decile", "t")
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("revenue_cents"),
            F.round(F.sum("cents") / F.max("t"), 6).alias("revenue_share"),
        )
    )


# Poisson(1) inverse CDF ladder: cumulative e^{-1}·Σ 1/k! — enough mass
# that P(w > 6) < 1e-4; the tail clamps to 6. 17-digit literals so both
# engines compare against bit-identical doubles.
_POIS_CDF = (
    (0, "0.36787944117144233"),
    (1, "0.73575888234288467"),
    (2, "0.91969860292860584"),
    (3, "0.98101184312384615"),
    (4, "0.99634015317265628"),
    (5, "0.99940581518241827"),
)
_B_REPS = 32  # bootstrap replicates


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {p} THEN {k}" for k, p in _POIS_CDF
    )
    return f"CASE {branches} ELSE 6 END"


@query(
    "q_poisson_bootstrap",
    oracle=f"""
    WITH reps AS (
        SELECT o.o_orderkey, o.o_totalprice, r.b,
               CAST({hashing.md5_hex_sql(
                   "concat('boot', CAST(r.b // 4 AS VARCHAR), ':', "
                   "CAST(o.o_orderkey AS VARCHAR))", "(r.b % 4) * 8 + 1")}
                    AS DOUBLE) / 4294967296.0 AS u
        FROM orders o
        CROSS JOIN (SELECT unnest(range({_B_REPS})) AS b) r
    ), weighted AS (
        SELECT b, o_totalprice, {_pois_case_sql('u')} AS w FROM reps
    ), rep_means AS (
        SELECT b, ROUND(SUM(w * o_totalprice) / SUM(w), 9) AS m
        FROM weighted GROUP BY b HAVING SUM(w) > 0
    )
    SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_orders,
           ROUND((SELECT AVG(o_totalprice) FROM orders), 6) AS mean_full,
           CAST(COUNT(*) AS BIGINT) AS n_reps,
           ROUND(STDDEV_SAMP(m), 6) AS boot_se,
           ROUND(percentile_cont(0.025) WITHIN GROUP (ORDER BY m), 6)
               AS ci_lo,
           ROUND(percentile_cont(0.975) WITHIN GROUP (ORDER BY m), 6)
               AS ci_hi
    FROM rep_means
    """,
)
def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value —
    THE bootstrap that scales: classical resampling needs N draws per
    replicate from a materialized population (impossible distributed),
    but multinomial(N, 1/N) per-row counts converge to iid Poisson(1),
    so each row independently draws its weight per replicate from its
    own deterministic hash — ONE pass over the data for all B
    replicates, no global state, no resample shuffle (the Google
    'Poisson bootstrap' used for exactly this reason on web-scale
    logs). Deterministic twist: u = md5('boot{{b}}:{{key}}') as a
    uniform, inverted through the Poisson(1) CDF ladder, so both
    engines draw the SAME weights and the CI is reproducible run to
    run — a property real pipelines want anyway for debuggability.

    Plan: explode ×B=32 replicates map-side, per-replicate weighted
    mean via partial+final hash agg (32 groups — each partition
    reduces to 64 doubles before the exchange, so nothing data-scaled
    shuffles), then the tiny 32-row replicate relation yields SE and
    percentile CI. The uniforms slice 4 8-hex lanes per md5 digest
    (8 digests per row-group of 4 replicates). A/B note: the
    no-explode form (64 wide aggregate expressions, one per Σw_b·x /
    Σw_b) measured 2× SLOWER (10.3 s vs 5.1 s at sf0.1) — 64
    CASE-ladder+md5 mega-expressions in one aggregate defeat
    whole-stage codegen, while the exploded form keeps one small
    codegen'd expression over 32× the rows. Kept the explode.
    Replicate means use sum(w·x)/sum(w) — never avg-of-avgs."""
    # B md5+conv draws per order before any shuffle — widen the
    # one-split toy scan so the draw stage uses every core (no-op at
    # scale; replicate means are rounded to 9 dp post-aggregation, the
    # same partial-sum-order tolerance the width-7/64 determinism sweep
    # already exercises)
    o = widen_small_scan(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    )
    reps = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(_B_REPS - 1))).alias("b"),
    )
    # 8 hex digits at a per-row offset, not hashing.md5_u32's first 8
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot"),
                        (F.col("b") / 4).cast("long").cast("string"),
                        F.lit(":"),
                        F.col("o_orderkey").cast("string"),
                    )
                ),
                (F.col("b") % 4) * 8 + 1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / 4294967296.0
    )
    w = F.lit(6)
    for k, p in reversed(_POIS_CDF):
        w = F.when(F.col("u") < float(p), k).otherwise(w)
    weighted = reps.select("b", "o_totalprice", u.alias("u")).select(
        "b", "o_totalprice", w.alias("w")
    )
    # replicate means rounded to 9 dp so the downstream SE/percentile
    # arithmetic sees bit-identical inputs in every engine and plan
    # (unrounded double sums are aggregation-order-sensitive).
    rep_means = (
        weighted.groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w"), 9
            ).alias("m"),
            F.sum("w").alias("_sw"),
        )
        .filter(F.col("_sw") > 0)
    )
    full = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("o_totalprice"), 6).alias("mean_full"),
    )
    return rep_means.crossJoin(F.broadcast(full)).agg(
        F.first("n_orders").alias("n_orders"),
        F.first("mean_full").alias("mean_full"),
        F.count(F.lit(1)).alias("n_reps"),
        F.round(F.stddev_samp("m"), 6).alias("boot_se"),
        # [bounded-grain-percentile: B=32 replicate means, fixed]
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
    )


@query(
    "q_jackknife_source",
    oracle="""
    WITH per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY source
    ), tot AS (
        SELECT SUM(n_docs) AS n_tot, SUM(sum_chars) AS s_tot,
               COUNT(*) AS g
        FROM per_src
    )
    SELECT p.source, p.n_docs,
           ROUND((t.s_tot - p.sum_chars) * 1.0
                 / (t.n_tot - p.n_docs), 6) AS loo_mean,
           ROUND((t.s_tot - p.sum_chars) * 1.0 / (t.n_tot - p.n_docs)
                 - t.s_tot * 1.0 / t.n_tot, 6) AS influence
    FROM per_src p CROSS JOIN tot t
    """,
)
def q_jackknife_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out jackknife over mean document length — the
    robustness audit that answers 'which provider is dragging the
    corpus statistic?': each fold's mean is computed WITHOUT refolding
    the data, from the global sufficient statistics minus the fold's
    own (one corpus pass total, g folds of arithmetic) — the identity
    that makes jackknifing free at 100 TB where naive per-fold
    recomputation would be g full scans. The influence column (fold
    mean − full mean) ranks sources by leverage; |influence| spikes
    flag a provider whose removal shifts the corpus profile.

    One groupBy to the bounded source grain, a 1-row totals broadcast,
    pure arithmetic after."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    tot = per_src.agg(
        F.sum("n_docs").alias("n_tot"),
        F.sum("sum_chars").alias("s_tot"),
    )
    loo = (F.col("s_tot") - F.col("sum_chars")) / (
        F.col("n_tot") - F.col("n_docs")
    )
    full = F.col("s_tot") / F.col("n_tot")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(loo, 6).alias("loo_mean"),
        F.round(loo - full, 6).alias("influence"),
    )
