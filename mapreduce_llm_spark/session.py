"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting here is chosen to
also be the right default on a large cluster: AQE handles runtime
re-planning (partition coalescing, skew-join splitting), Arrow speeds
the pandas-UDF path, and the session timezone is pinned to UTC so
timestamp semantics match the DuckDB oracle and are deterministic
across cluster timezones.

Python tasks (the chunker, ``llm_map``, every pandas UDF) run in worker
processes that Spark forks from a daemon. The session names the
package's own daemon, :mod:`mapreduce_llm_spark.worker_daemon`: stock
``pyspark.daemon`` plus a stat guard on ``zipimporter`` cache
invalidation, which on Python < 3.12 re-read ``pyspark.zip`` and the
Spark core jar on every task (0.15-0.23 s of fixed cost per task on a
4-core host). The executors must import that module, so the package's
parent directory goes first on their ``PYTHONPATH``
(``spark.executorEnv.PYTHONPATH``, merged with the driver's own
``PYTHONPATH``); without it a driver started outside the repository
with no ``PYTHONPATH`` would fail every Python task.

Spark compiles generated Java for every stage and expression and keeps
the compiled classes in one LRU cache per JVM. The session sizes that
cache (``CODEGEN_CACHE_ENTRIES``) so a warm query reuses its classes
instead of recompiling them; :func:`codegen_compiles` reads how many
classes the JVM has compiled so far.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes Spark keeps compiled per JVM
# (spark.sql.codegen.cache.maxEntries, default 100). A warm pass of
# perfbench's analytic mix uses 121 classes and one of bench.py's
# 122-query map 2,114, so at 100 every warm pass evicted and recompiled
# all of them (6.5 ms each on average). 4096 is about twice the largest
# working set measured, at ~8 KB of metaspace per class (~32 MB per JVM
# when full).
CODEGEN_CACHE_ENTRIES = 4096


def _worker_pythonpath() -> str:
    """The package's parent directory, then the driver's ``PYTHONPATH``
    entries, each once."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = [root, *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return os.pathsep.join(dict.fromkeys(e for e in entries if e))


def get_spark(
    app_name: str = "mapreduce_llm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you'd size it to ~2-3× total executor cores; AQE coalesces
    small post-shuffle partitions either way, so erring high is safe.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/mapreduce_llm_spark/warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "mapreduce_llm_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # ad-hoc conf overrides for A/B experiments and cluster tuning,
    # e.g. SPARK_GRAFT_CONF="spark.sql.join.preferSortMergeJoin=false;k=v"
    # — applied last so they win over the defaults above
    extra = os.environ.get("SPARK_GRAFT_CONF", "")
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if extra:
        # advisor round 14: getOrCreate returns any pre-existing
        # session and silently ignores builder configs — an A/B in a
        # warm process would measure defaults while believing the
        # override applied. Verify each override took; warn loudly
        # when it did not (static confs cannot be set post-creation).
        import sys as _sys

        for kv in filter(None, (s.strip() for s in extra.split(";"))):
            k, _, v = kv.partition("=")
            # the value in effect, defaults included; an unknown key
            # that was never set raises
            try:
                actual = spark.conf.get(k)
            except Exception:
                actual = None
            # Spark spells values its own way ("true" for TRUE), so
            # compare case- and whitespace-insensitively
            if (actual or "").strip().lower() != v.strip().lower():
                print(
                    f"WARNING: SPARK_GRAFT_CONF override {k}={v} NOT "
                    f"active (session pre-existed; actual={actual})",
                    file=_sys.stderr,
                )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled in the session's JVM so far (Spark's
    ``CodegenMetrics`` compilation count). A compile is a miss of the
    generated-code cache, so a warm query should add none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
