"""The deterministic md5 splits, spelled once for both engines.

Every content-derived split in the package (the ingest batch, the
takedown wave, shards, train/val/test buckets, salts, sketches) hashes
an expression by md5, keeps the first 8 hex digits and reads them as an
unsigned 32-bit integer. Each text below sits beside its twin:
``*_sql`` is the DuckDB text the oracles embed, ``*_spark_sql`` the
Spark SQL text, and the bare name one ``F.expr`` of the Spark text.
These splits are the frozen inputs that make a replayed micro-batch
byte-identical, so the two engines must read one spelling.

Why this shape:

- No RNG. A hash of the row's own content gives the same assignment on
  every engine, run and cluster width, so a re-run, a replay or the
  oracle re-derives exactly the same split.
- Eight hex digits. DuckDB reads ``'0x' || hex`` as a ``UBIGINT`` and
  Spark's ``conv(hex, 16, 10)`` reads it as an unsigned 64-bit value,
  so the two agree on up to 16 digits; Spark then casts to a signed
  ``BIGINT``. Thirty-two bits keep that cast exact, keep ``%``,
  comparisons and the cast to double exact in both engines, and leave
  ``u / 2^32`` in [0, 1) for the sketches that need a uniform draw.
- Tag prefixes. A split hashes ``prefix || id`` rather than the bare
  id, so each split is an independent function of the id: without
  the prefix, the ingest batch and the takedown wave of one id would
  both be md5(id) and their buckets would correlate.
- The two id-keyed conventions every incremental and delete path
  shares:

  * ``'inc:'`` mod 10 is the ingest batch g ∈ [0, 10): g = 0 is the
    new batch admitted against the frozen index (``is_new``), g = 1
    the text-generation probe batch, g ≥ 2 the frozen corpus;
  * ``'del:'`` mod 5 = 0 is the takedown wave, about 20% of ids,
    removed from the frozen corpus (``is_del``).

:func:`text_digest` is the one content digest: the exact-duplicate key
of a document's normalized text, which the exact-dedup keys, the
ingest gate's digest check and every generation's ``digests`` relation
compare.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hex_sql(expr: str, start: str | int = 1, digits: int = 8) -> str:
    """DuckDB: ``digits`` hex digits of md5(expr) from ``start``, as a
    UBIGINT. Only the 48-bit checksum and the sliding bootstrap window
    read another span than :func:`md5_u32_sql`'s."""
    return f"CAST(concat('0x', substring(md5({expr}), {start}, {digits})) AS UBIGINT)"


def md5_u32_sql(expr: str) -> str:
    """DuckDB: the first 32 bits of md5(expr), as a UBIGINT."""
    return md5_hex_sql(expr)


def md5_u32_spark_sql(expr: str) -> str:
    """Spark twin of :func:`md5_u32_sql`, as a BIGINT."""
    return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def md5_u32(expr: str) -> Column:
    return F.expr(md5_u32_spark_sql(expr))


def tag_u32_sql(prefix: str, *ids: str) -> str:
    """DuckDB: md5_u32 of ``prefix || id``; several ids join with ':'."""
    key = " || ':' || ".join(f"CAST({i} AS VARCHAR)" for i in ids)
    return md5_u32_sql(f"'{prefix}' || {key}")


def tag_u32_spark_sql(prefix: str, *ids: str) -> str:
    """Spark twin of :func:`tag_u32_sql`."""
    key = ", ':', ".join(f"CAST({i} AS STRING)" for i in ids)
    return md5_u32_spark_sql(f"concat('{prefix}', {key})")


def inc_batch_sql(id_col: str) -> str:
    """DuckDB: the ingest batch g ∈ [0, 10) of an id, as a BIGINT."""
    return f"CAST({tag_u32_sql('inc:', id_col)} % 10 AS BIGINT)"


def is_new_sql(id_col: str) -> str:
    """DuckDB: the id is in the new batch (g = 0)."""
    return f"{inc_batch_sql(id_col)} = 0"


def is_del_sql(id_col: str) -> str:
    """DuckDB: the id is in the takedown wave."""
    return f"CAST({tag_u32_sql('del:', id_col)} % 5 AS BIGINT) = 0"


def _inc_batch_spark_sql(id_col: str) -> str:
    return f"({tag_u32_spark_sql('inc:', id_col)} % 10)"


def inc_batch(id_col: str) -> Column:
    return F.expr(_inc_batch_spark_sql(id_col))


def is_new(id_col: str) -> Column:
    return F.expr(f"{_inc_batch_spark_sql(id_col)} = 0")


def is_del(id_col: str) -> Column:
    return F.expr(f"({tag_u32_spark_sql('del:', id_col)} % 5) = 0")


def text_digest() -> Column:
    """The normalized-text digest: md5 of the trimmed, lower-cased
    ``text`` column, as a 32-digit hex string."""
    return F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))
