"""get_spark's SPARK_GRAFT_CONF override check, the Python-worker
daemon it starts the executors' workers from, and the generated-code
cache it sizes."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from mapreduce_llm_spark import registry
from mapreduce_llm_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles, get_spark
from perfbench.run import ANALYTIC
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STATIC_KEY = "spark.sql.streaming.ui.enabled"


def test_conf_override_already_in_effect_prints_no_warning(spark, monkeypatch, capsys):
    """A running session keeps its static SQL confs and reads them back
    in Spark's spelling ("true"). An override whose value is already in
    effect, written in another case, is not a missed override."""
    assert spark.conf.get(STATIC_KEY) == "true"
    monkeypatch.setenv("SPARK_GRAFT_CONF", f"{STATIC_KEY}=TRUE")
    get_spark(app_name="mapreduce_llm_spark-tests")
    assert "WARNING" not in capsys.readouterr().err


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="Python >= 3.12 defers the re-read itself")
def test_python_workers_do_not_reread_unchanged_archives(spark):
    """A worker's per-task cache invalidation keeps the parsed
    directories of ``pyspark.zip`` and the Spark jar instead of
    re-reading them."""

    def zip_caches_kept(_):
        # defined here so it pickles by value: workers cannot import
        # the test modules
        import importlib
        import sys
        import zipimport

        importers = [
            v for v in list(sys.path_importer_cache.values())
            if isinstance(v, zipimport.zipimporter)
        ]
        before = [z._files for z in importers]
        importlib.invalidate_caches()
        yield len(importers), all(f is z._files for f, z in zip(before, importers))

    [(n_importers, kept)] = spark.sparkContext.parallelize([0], 1).mapPartitions(zip_caches_kept).collect()
    assert n_importers > 0
    assert kept


def run_driver(tmp_path, body: str) -> str:
    """Run ``body`` as a fresh driver script started in ``tmp_path``, on
    one core, with neither ``PYTHONPATH`` nor ``SPARK_GRAFT_CONF`` set;
    return its stdout."""
    script = tmp_path / "driver.py"
    script.write_text(f"import sys\nsys.path.insert(0, {REPO!r})\n" + textwrap.dedent(body))
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_CONF")}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def test_driver_outside_the_repo_runs_python_tasks(tmp_path):
    """A driver started outside the repository with no PYTHONPATH still
    runs Python tasks: the executors import the daemon module and the
    package from the PYTHONPATH the session hands them."""
    out = run_driver(
        tmp_path,
        """
        from pyspark.sql import functions as F
        from mapreduce_llm_spark.functions.tokens import count_tokens_str
        from mapreduce_llm_spark.session import get_spark

        spark = get_spark(app_name="outside-driver")
        tokens = F.udf(count_tokens_str, "long")
        rows = spark.createDataFrame([("abcde fg",)], "t string").select(tokens("t")).collect()
        print("RESULT", rows[0][0])
        spark.stop()
        """,
    )
    assert "RESULT 3" in out


def test_a_warm_query_mix_compiles_no_generated_code(spark):
    """The session's generated-code cache holds the working set of
    perfbench's analytic mix: running the mix a second time reuses every
    compiled class. At Spark's default cap (100 classes) the second run
    recompiled 87-90."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    registry.load_all()

    def run_mix():
        spark.catalog.clearCache()
        for name in ANALYTIC:
            registry.QUERIES[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()

    run_mix()
    before = codegen_compiles(spark)
    run_mix()
    assert codegen_compiles(spark) - before == 0


def test_clean_cache_before_any_session_keeps_the_engine_defaults(tmp_path):
    """Dropping an absent cache before any session exists starts no bare
    SparkContext: the session built next still has the engine's
    defaults (its worker daemon and its core count)."""
    out = run_driver(
        tmp_path,
        f"""
        from mapreduce_llm_spark.operators.cache import clean_cache
        from mapreduce_llm_spark.session import get_spark

        clean_cache({str(tmp_path / "absent")!r})
        spark = get_spark(app_name="clean-cache-first")
        print("DAEMON", spark.sparkContext.getConf().get("spark.python.daemon.module"))
        print("MASTER", spark.sparkContext.master)
        spark.stop()
        """,
    )
    assert "DAEMON mapreduce_llm_spark.worker_daemon" in out
    assert "MASTER local[1]" in out
