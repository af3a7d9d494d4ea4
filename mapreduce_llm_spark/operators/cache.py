"""Content-addressed LLM result cache with a left-join probe.

The reference memoizes per-chunk results positionally —
``<base>/resultN.txt`` keyed by chunk index only (reference
internal/cli/mapreduce.go:76-87, 156-191) — which silently serves stale
results when the prompt, model, or file content changes (its own test
depends on that staleness, mapreduce_test.go:175-232). This engine
deliberately diverges: the key is
``sha256(chunk_text) × sha256(prompt) × model``, so any change misses
the cache instead of corrupting output. Documented divergence per
SURVEY §7 phase 2.

Storage is a parquet table (a directory of append-only part files) —
at cluster scale that's a shared object-store prefix every executor can
read. Two tasks that answer the same chunk text both append it, so the
table may hold a key more than once; ``read_cache`` keeps one row per
key. The resume path is one broadcast left join (``probe_cache``): a
null ``result`` marks a miss, and only misses reach the client,
mirroring the reference's "second run makes zero API calls" semantics
content-addressedly.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CACHE_SCHEMA = "cache_key string, result string"


def cache_key_col(chunk_text_col: str, prompt: str, model: str):
    """Column expression: sha256(chunk_text) x sha256(prompt) x model,
    computed JVM-side (no Python round-trip)."""
    prompt_hash = hashlib.sha256(prompt.encode()).hexdigest()[:16]
    return F.concat_ws(
        ":",
        F.sha2(F.col(chunk_text_col), 256),
        F.lit(prompt_hash),
        F.lit(model),
    )


def read_cache(spark: SparkSession, cache_dir: str) -> DataFrame:
    """Load the cache table, one row per ``cache_key`` (the least
    result, so a re-read picks the same one); empty when absent."""
    if os.path.isdir(cache_dir) and any(
        f.endswith(".parquet") for f in os.listdir(cache_dir)
    ):
        return (
            spark.read.parquet(cache_dir)
            .groupBy("cache_key")
            .agg(F.min("result").alias("result"))
        )
    return spark.createDataFrame([], CACHE_SCHEMA)


def append_cache(results: DataFrame, cache_dir: str) -> None:
    """Append freshly computed (cache_key, result) rows."""
    results.select("cache_key", "result").write.mode("append").parquet(cache_dir)


def clean_cache(cache_dir: str) -> None:
    """Drop the cache (reference CleanCache,
    internal/cli/mapreduce.go:265-281); no-op when absent."""
    import shutil

    shutil.rmtree(cache_dir, ignore_errors=True)


def probe_cache(keyed_chunks: DataFrame, cache: DataFrame) -> DataFrame:
    """Attach each chunk's cached ``result`` by ``cache_key``; null marks
    a miss. One left join, and the cache side is tiny relative to the
    corpus, so it is broadcast."""
    return keyed_chunks.join(F.broadcast(cache), "cache_key", "left")


def split_cached(
    keyed_chunks: DataFrame, cache: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Partition chunks into (hits-with-result, misses) by cache_key,
    both read off one ``probe_cache``."""
    probed = probe_cache(keyed_chunks, cache)
    hit = F.col("result").isNotNull()
    return probed.filter(hit), probed.filter(~hit).drop("result")
