"""UDF / UDAF / UDTF capability surface (SURVEY.md §2.11) + multimodal
column plumbing.

These exist to prove the extension points, NOT for hot paths: a
row-at-a-time Python UDF pays a per-row Python↔JVM crossing; the
sanctioned escape hatch is the Arrow-batched pandas_udf / mapInPandas
(~10-100× faster). Every graded relational operator in this engine
avoids both. All queries here are rows-only (DuckDB can't run our
Python).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from kafka_flink_exactlyonce_example_spark.functions.similarity import l2_norm
from kafka_flink_exactlyonce_example_spark.registry import query
from kafka_flink_exactlyonce_example_spark.sources import table


@query("q_udf_smoke")  # rows-only
def q_udf_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three user-function flavors on one DataFrame, cross-checked
    against the native expression (udf_vs_native_maxdiff should be ~0):

    - row UDF (the slow path, demo only),
    - vectorized pandas_udf over the embedding array (Arrow batches),
    - native higher-order function (the recommended path).
    """

    @F.udf("double")
    def py_tax(price: float) -> float:  # row-at-a-time: demo only
        return price * 1.05

    @pandas_udf(DoubleType())
    def pd_norm(emb: pd.Series) -> pd.Series:  # Arrow-vectorized
        import numpy as np

        return emb.map(lambda a: float(np.sqrt(np.dot(a, a))))

    emb = table(spark, sf_dir, "embeddings").limit(50)
    return emb.select(
        "vec_id",
        F.round(pd_norm("embedding"), 6).alias("norm_pandas"),
        F.round(l2_norm("embedding"), 6).alias("norm_native"),
        F.round(py_tax(F.lit(100.0)), 6).alias("udf_const"),
    ).withColumn(
        "udf_vs_native_maxdiff",
        F.round(F.abs(F.col("norm_pandas") - F.col("norm_native")), 6),
    )


@query("q_udtf_smoke")  # rows-only
def q_udtf_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PySpark 4 user-defined table function: expand a document into
    (word, length) rows — the UDTF form of the reference's flatMap."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="word: string, word_len: int")
    class Tokenize:
        def eval(self, text: str):
            for w in (text or "").split(" "):
                if w:
                    yield w, len(w)

    first_doc = (
        table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]["text"]
    )
    return Tokenize(lit(first_doc)).groupBy("word_len").agg(
        F.count(F.lit(1)).alias("n_words")
    )


@query("q_multimodal_meta")  # rows-only
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: treat payloads as opaque binary +
    typed metadata, feature-extract via Arrow-batched mapInPandas.

    The testdata has no real image/audio bytes, so the binary column is
    synthesized from text and the "decode" is a deterministic stub
    (see ``_fake_decode``) — the Spark-side contract (schema, batch
    iteration, partition parallelism) is the real, tested part. A real
    pipeline drops in PIL/ffmpeg inside the same iterator.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )

    out_schema = "doc_id long, mime string, n_bytes long, feat_mean double"

    def _fake_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            # Deterministic stand-in for a decoded feature (e.g. mean
            # pixel): mean byte value of the payload. Real decoders
            # (image resize, audio frames) are NOT available in this
            # container — see module docstring.
            feat = pdf["payload"].map(
                lambda b: float(sum(b)) / len(b) if len(b) else 0.0
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "n_bytes": n_bytes,
                    "feat_mean": feat.round(6),
                }
            )

    return d.mapInPandas(_fake_decode, schema=out_schema)
