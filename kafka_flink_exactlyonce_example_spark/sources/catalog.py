"""Batch catalog: the driver's ten parquet tables (FIXTURES.md).

Schemas are not declared here: :func:`table` infers each one from the
parquet footer, and FIXTURES.md documents what the fixtures carry. The
one normalization needs that inference: when ``events.ts`` is
TIMESTAMP(NANOS) in parquet, Spark reads it (under ``nanosAsLong``) as
LongType nanos — we convert with ``ts DIV 1000`` (integer truncation)
to µs, matching bit-for-bit what DuckDB produces when it coerces the
same column. When a generation writes the table with µs precision
instead, the column already arrives as TimestampType (NTZ inference is
disabled in session confs) and no conversion is needed — the check is
on the inferred physical type, not on an assumed generation.

At 100 TB these would be partitioned/bucketed external tables; the load
pattern stays ``spark.read.parquet(dir)`` and every query would pick up
partition pruning for free — nothing here assumes single files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from kafka_flink_exactlyonce_example_spark.operators.overlap import session_cache
from kafka_flink_exactlyonce_example_spark.session import ensure_session_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: One loaded LAZY DataFrame per (session, sf_dir, name). Re-running
#: ``spark.read.parquet`` for every query costs ~0.1–0.25 s per call on
#: the driver (file listing + footer/schema read + plan setup) — across
#: a ~300-query bench that is tens of seconds of pure fixed overhead
#: (measured round 16, OPTIMIZATION_r16.md). The memo holds only the
#: lazy plan object: every execution still scans the parquet files, so
#: nothing here caches *results* — it removes repeated driver-side
#: metadata work, exactly what a warehouse catalog does for a real
#: deployment. The catalog's fixture files are immutable per path
#: (testdata SFs and one-shot tmp-dir fixtures), which is what makes
#: the captured file listing safe.
#: FAILURE MODE IF VIOLATED (ADVICE r16): rewriting or appending to a
#: path within one session silently serves the stale listing — a test
#: that must mutate a fixture must write it to a fresh tmp path (the
#: convention everywhere).
@session_cache("table")
def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``{sf_dir}/{name}.parquet``."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # ns → µs truncation, identical to DuckDB's coercion of the
            # column.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # belt-and-braces: if a caller-built session read the file
            # before our confs applied, align to the one timestamp type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Temp views for the ``spark.sql`` entry point (GROUPING SETS etc.)."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
