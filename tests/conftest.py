from __future__ import annotations

import os
import uuid

import pytest

from mapreduce_llm_spark.session import get_spark

# Overridable so the oracle gate can be swept at other scale factors
# (the driver regenerates testdata each round — row counts, tie
# patterns, and encodings drift; a query that is only correct at
# sf0.01's exact data is a latent red cell):
#   SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.001 pytest tests/test_oracle_queries.py
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="mapreduce_llm_spark-tests")
    yield spark


def last_executed_plan(spark) -> str:
    """``physicalPlanDescription`` of the newest SQL execution in the
    session's status store (recorded with ``spark.ui.enabled=false``
    too). Lets a test inspect the plan an operator actually ran — an
    eager ``localCheckpoint`` job's description includes the whole
    persisted subplan, Python UDF nodes included. The listener bus is
    drained first so the store has seen that execution's events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    # the store's view iterates in executionId order
    return executions.last().physicalPlanDescription()


def jobs_during(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs (its own job group, read
    back from the status tracker)."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
