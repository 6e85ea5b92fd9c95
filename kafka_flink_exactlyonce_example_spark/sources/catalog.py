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

Inference is a Spark job (one per read without a schema, even for a
single file), so each inferred ``StructType`` is kept for the life of
the process in :data:`_SCHEMAS`, keyed by path and stamped with the
path's recursive file listing: (relative name, size, ``st_mtime_ns``)
per file. A later session — a restarted one included — reads with the
kept schema while the stamp matches. Invalidation rule: any added,
removed, resized or re-timed file under the path changes the stamp, and
the next read infers again and replaces the entry; a path ``os.stat``
cannot see (a remote URI) is never stamped and is inferred on every
read. The inference-relevant confs (``nanosAsLong``,
``inferTimestampNTZ``) are pinned by ``ensure_session_confs`` before
every read, so a kept schema is the one inference would give.

At 100 TB these would be partitioned/bucketed external tables; the load
pattern stays ``spark.read.parquet(dir)`` and every query would pick up
partition pruning for free — nothing here assumes single files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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


#: path -> (listing stamp, inferred schema); see the module docstring.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _listing_stamp(path: str) -> tuple | None:
    """(relative name, size, st_mtime_ns) of every file under ``path``,
    sorted; None when ``os.stat`` cannot see the path."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        stamp = []
        for root, _, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                stamp.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(stamp))
    except OSError:
        return None


#: One loaded LAZY DataFrame per (session, sf_dir, name). A
#: ``spark.read.parquet`` costs ~0.1–0.25 s on the driver (file listing,
#: schema, plan setup), and a query reads 1–10 tables. The memo holds
#: only the lazy plan object: every execution still scans the parquet
#: files, so nothing here caches *results* — it removes repeated
#: driver-side metadata work, exactly what a warehouse catalog does for
#: a real deployment. The file listing it captures is safe because the
#: catalog's fixture files are immutable per path (testdata SFs and
#: one-shot tmp-dir fixtures). If a path is rewritten or appended to
#: within one session, the session keeps serving the stale listing, so
#: a test that must mutate a fixture writes it to a fresh tmp path (the
#: convention everywhere).
@session_cache("table")
def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``{sf_dir}/{name}.parquet``."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    stamp = _listing_stamp(path)
    kept = _SCHEMAS.get(path)
    if kept is not None and kept[0] == stamp:
        df = spark.read.schema(kept[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if stamp is not None:
            _SCHEMAS[path] = (stamp, df.schema)
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
