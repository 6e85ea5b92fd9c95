"""End-to-end exactly-once sink (SURVEY.md §2.9, §4.3).

The reference achieves exactly-once with Flink checkpoints + a
transactional Kafka producer committed on checkpoint completion
(two-phase commit; reconstructed, SURVEY.md §0). Structured Streaming's
equivalent recipe, implemented here:

  replayable source + checkpointed offset WAL + idempotent foreachBatch

Spark guarantees each ``batchId`` contains the same data on replay (the
offsets are written to the checkpoint WAL *before* execution), so a
sink that commits each batch atomically-and-idempotently yields
end-to-end exactly-once: a batch that crashed mid-write is simply
rewritten to the same location and re-marked committed.

Commit protocol per batch (all on the driver, filesystem-atomic):
  1. if ``_commits/{batchId}`` exists → skip (idempotent replay)
  2. write batch output to ``data/batch_id={batchId}/`` (overwrite —
     a torn previous attempt is clobbered, never appended)
  3. create the ``_commits/{batchId}`` marker (rename-atomic)

Readers take only marker-committed partitions — the analog of Kafka's
``read_committed``.

ACID-table-format mapping (README "Mapping to ACID table formats"):
on a Delta/Iceberg/Hudi lake the same ``foreachBatch`` driver calls a
``MERGE INTO`` keyed on the batch's natural key instead of the
directory overwrite, the format's atomic commit replaces the marker
rename (collapsing steps 2+3 into one atomic operation), and snapshot
isolation replaces ``read_committed()``'s path filtering. Delta's
``txnAppId``/``txnVersion`` pair is the direct equivalent of the
marker check in step 1. Replay safety is identical: same batchId →
same data → idempotent MERGE converges to exactly-once.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


class CommitMarkers:
    """The ``_commits/{batchId}`` marker directory shared by every sink
    here: existence-only commit bits, created rename-atomically."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir
        self.commits_dir = os.path.join(out_dir, "_commits")
        os.makedirs(self.commits_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, str(batch_id))

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def _commit(self, batch_id: int) -> None:
        """Rename-atomic marker: the commit point of the 2-phase protocol."""
        fd, tmp = tempfile.mkstemp(dir=self.commits_dir, prefix=".tmp")
        os.close(fd)
        os.rename(tmp, self._marker(batch_id))

    def committed_batches(self) -> list[int]:
        # only batch-id-named markers count: a leftover ``.tmp*`` from a
        # crash inside the marker create (mkstemp done, rename not) or
        # any stray non-numeric file must neither count as a commit nor
        # crash the listing. isascii: str.isdigit alone accepts e.g.
        # superscript '\u00b2' (int() rejects -> crash) and non-ASCII
        # decimal digits like '\u0663' (int() parses -> a phantom commit)
        return sorted(
            int(b)
            for b in os.listdir(self.commits_dir)
            if b.isascii() and b.isdigit()
        )


class IdempotentBatchSink(CommitMarkers):
    """foreachBatch handler writing batch-partitioned parquet with
    atomic commit markers (exactly-once under replay)."""

    def __init__(self, out_dir: str) -> None:
        super().__init__(out_dir)
        self.data_dir = os.path.join(out_dir, "data")
        os.makedirs(self.data_dir, exist_ok=True)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replayed batch: already fully committed
        batch_df.write.mode("overwrite").parquet(
            os.path.join(self.data_dir, f"batch_id={batch_id}")
        )
        self._commit(batch_id)

    def read_committed(self, spark: SparkSession) -> DataFrame:
        """Union of all marker-committed batches — for append-mode
        streams (each row appears in exactly one committed batch):
        the ``read_committed`` consumer analog."""
        paths = [
            os.path.join(self.data_dir, f"batch_id={b}")
            for b in self.committed_batches()
            if os.path.exists(os.path.join(self.data_dir, f"batch_id={b}"))
        ]
        if not paths:
            raise FileNotFoundError(f"no committed batches under {self.out_dir}")
        return spark.read.parquet(*paths)

    def read_latest(self, spark: SparkSession) -> DataFrame:
        """Latest committed batch only — for complete-mode aggregations
        (each batch is a full result snapshot; latest snapshot wins,
        the upsert-sink analog)."""
        committed = self.committed_batches()
        if not committed:
            raise FileNotFoundError(f"no committed batches under {self.out_dir}")
        return spark.read.parquet(
            os.path.join(self.data_dir, f"batch_id={committed[-1]}")
        )


def kafka_transactional_writer_options(
    bootstrap_servers: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """writeStream options for the Kafka sink path (documented contract;
    no broker in this environment). Spark's Kafka sink is at-least-once;
    end-to-end exactly-once needs either downstream read-side dedup on a
    record key or the IdempotentBatchSink pattern above feeding a
    transactional producer inside foreachBatch."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


class FanOutSink:
    """Exactly-once fan-out to MULTIPLE destinations from one stream.

    No distributed transaction needed: each destination is its own
    :class:`IdempotentBatchSink` with its own commit marker, so a crash
    between destination commits just replays the batch — already-
    committed destinations skip, the torn one overwrites and commits.
    Every destination converges to exactly-once independently (the same
    argument that lets Kafka's 2PC be replaced by idempotent commits
    when the sink supports overwrite-by-key).

    ``fail_on`` (test hook): raise after committing the first
    ``fail_after`` destinations of that batch — simulates a crash
    mid-fan-out.
    """

    def __init__(self, out_dirs: list[str]) -> None:
        self.sinks = [IdempotentBatchSink(d) for d in out_dirs]
        self.fail_on: int | None = None
        self.fail_after: int = 1

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for i, sink in enumerate(self.sinks):
                if self.fail_on == batch_id and i == self.fail_after:
                    raise RuntimeError(
                        f"injected crash: batch {batch_id} after {i} sinks"
                    )
                sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()


class ContinuousAggregateSink(CommitMarkers):
    """Materialized continuous-aggregate maintenance — the streaming
    half of q_multires_rollup's hypertable story: an UPDATE-mode
    windowed aggregation emits each batch's changed (key, accumulator)
    rows, and this sink folds them into a materialized base table by
    LATEST-WINS key merge (update-mode rows carry the full new
    accumulator for their window, not a delta, so replace-by-key is
    the correct MERGE). Coarser levels (6 h / 1 d) are then derived
    from the materialized base by :func:`derive_coarser` — refresh
    cost ∝ changed base buckets, never raw events, exactly the
    TimescaleDB continuous-aggregate refresh contract.

    Exactly-once under replay, same two-phase protocol as
    :class:`IdempotentBatchSink` but SNAPSHOT-versioned because the
    output is a mutable table, not an append stream:

      1. ``_commits/{batchId}`` exists → skip (replay of a committed
         batch touches nothing);
      2. build snapshot N = (snapshot N−1 anti-joined on the batch's
         keys) ∪ batch rows, written to ``snap/batch_id={N}``
         (overwrite — a torn attempt is clobbered);
      3. rename-atomic marker. Readers resolve the LATEST committed
         snapshot — a reader never sees a half-merged table.

    Replay safety: Spark replays batch N with identical rows, and
    snapshot N is a pure function of (snapshot N−1, batch N), so the
    rebuilt snapshot is byte-identical. On a Delta/Iceberg lake steps
    2+3 collapse into one atomic ``MERGE INTO`` commit (README table).
    """

    def __init__(self, out_dir: str, key_cols: list[str]) -> None:
        super().__init__(out_dir)
        self.key_cols = list(key_cols)
        self.snap_dir = os.path.join(out_dir, "snap")
        os.makedirs(self.snap_dir, exist_ok=True)

    def _snap_path(self, batch_id: int) -> str:
        return os.path.join(self.snap_dir, f"batch_id={batch_id}")

    def snapshot_batches(self) -> list[int]:
        """Committed batches whose snapshot data still exists (GC keeps
        only the last two generations of DATA, but every marker)."""
        return [
            b for b in self.committed_batches()
            if os.path.exists(self._snap_path(b))
        ]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return
        prior = [b for b in self.snapshot_batches() if b < batch_id]
        prev = (
            batch_df.sparkSession.read.parquet(self._snap_path(prior[-1]))
            if prior
            else None
        )
        self._merge(prev, batch_df).write.mode("overwrite").parquet(
            self._snap_path(batch_id)
        )
        self._commit(batch_id)
        self._gc(batch_id)

    def _merge(self, prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        """Snapshot N from snapshot N−1 (None for the first) and batch N:
        replace by key."""
        if prev is None:
            return batch_df
        keys = batch_df.select(*self.key_cols)
        return prev.join(keys, self.key_cols, "left_anti").unionByName(batch_df)

    def _gc(self, batch_id: int) -> None:
        """Retention: drop snapshot DATA older than the previous
        committed generation, but KEEP every commit marker. Keeping
        snapshots N and N−1 covers torn-write recovery — snapshot N is
        a pure function of (N−1, batch N), so older data is dead
        weight; without this a long-running stream grows storage as
        O(batches × table size) (round-5 advice). Markers stay because
        ``is_committed`` is the replay-skip contract for ANY batch id
        the checkpoint might re-offer — deleting a marker with its
        snapshot silently narrowed that contract to the last two
        generations (ADVICE r07): a replayed ancient batch would have
        re-merged into the current snapshot as if it were new data.
        Markers are 0-byte files, so retention is O(batches) dentries,
        the same order as Spark's own checkpoint commit log; on a
        lakehouse the table's transaction log plays this role."""
        keep = {b for b in self.committed_batches() if b >= batch_id} | {
            max((b for b in self.committed_batches() if b < batch_id),
                default=batch_id)
        }
        for b in self.snapshot_batches():
            if b not in keep:
                shutil.rmtree(self._snap_path(b), ignore_errors=True)

    def read_current(self, spark: SparkSession) -> DataFrame:
        with_data = self.snapshot_batches()
        if not with_data:
            raise FileNotFoundError(f"no committed snapshots under {self.out_dir}")
        return spark.read.parquet(self._snap_path(with_data[-1]))


class CdcUpsertSink(ContinuousAggregateSink):
    """CDC apply — the STREAMING twin of q_cdc_merge (operators/
    datamgmt.py): a change feed upserts into a materialized snapshot
    by latest-wins-per-key, exactly the Flink "dynamic table → upsert
    sink" shape (Flink SQL's upsert-kafka / `INSERT INTO` a table
    with PRIMARY KEY ... NOT ENFORCED).

    Unlike the aggregate sink's replace-by-key (update-mode aggregate
    rows always supersede), CDC changes carry an explicit VERSION and
    a batch may hold several changes for one key, possibly out of
    order — so the merge is version-aware: snapshot N = one keyed
    ``row_number`` window over (snapshot N−1 ∪ batch N) ordered by
    the version columns DESC, keep rn = 1. That is q_cdc_merge's
    batch window applied incrementally — refresh cost ∝ snapshot +
    batch, never the full change history. ``version_cols`` must be a
    per-key total order (e.g. a change sequence number) so the merge
    is deterministic and batch replay rebuilds a byte-identical
    snapshot; inherits the two-phase marker protocol + snapshot GC,
    so a crash mid-commit or a replayed batch cannot tear or double-
    apply (proven in tests/test_streaming.py). On Delta/Iceberg this
    collapses into ``MERGE INTO ... WHEN MATCHED AND s.version >
    t.version THEN UPDATE`` (README table)."""

    def __init__(
        self, out_dir: str, key_cols: list[str], version_cols: list[str]
    ) -> None:
        super().__init__(out_dir, key_cols)
        self.version_cols = list(version_cols)

    def _merge(self, prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        merged = batch_df if prev is None else prev.unionByName(batch_df)
        w = Window.partitionBy(*self.key_cols).orderBy(
            *[F.col(v).desc() for v in self.version_cols]
        )
        return (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )


def derive_coarser(
    base: DataFrame, bucket_col: str, seconds: int
) -> DataFrame:
    """Re-aggregate a materialized finer-level rollup to a coarser
    bucket — count/sum/min/max are mergeable, so this never touches
    raw events (avg is re-derived downstream as sum/count)."""
    from pyspark.sql import functions as F

    coarse = F.timestamp_seconds(
        (F.unix_timestamp(bucket_col) / seconds).cast("long") * seconds
    )
    return base.groupBy(
        coarse.alias(bucket_col), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("value_cents").alias("value_cents"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
    )
