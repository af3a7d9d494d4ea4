"""Column helpers shared by the analytics query modules.

Each is the one definition of an idiom several modules use; the
expressions are exactly those the oracle-checked queries were written
against, so changing one moves every consumer's hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_llm_spark.io import load_table


def alpha_words(col: Column) -> Column:
    """Lowercased alpha word array — the shared tokenization of the
    text queries."""
    return F.filter(F.split(F.lower(col), "[^a-z]+"), lambda w: w != F.lit(""))


def qdims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, dim, qv): embeddings quantized to e3 integers —
    the exact-arithmetic idiom of q_kmeans_step/q_embed_pq (FLOAT →
    DOUBLE cast first, floor, no rounding)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1000).cast("long").alias("qv"),
    )


def ts_micros(col: str) -> Column:
    """Microsecond epoch of an NTZ timestamp column (UTC session ⇒
    value-preserving cast, the documented unix_micros gotcha)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


def md5_40(col) -> Column:
    """The house cross-engine 40-bit hash: Spark
    conv(substring(md5(x),1,10),16,10) ≡ DuckDB
    CAST('0x'||substr(md5(x),1,10) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 10), 16, 10).cast("long")
