"""Property tests for the distributed-ranking primitives, with DuckDB
as the semantics oracle for ntile."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


def _spark_ntile_bucket(rank: int, total: int, n: int) -> int:
    """Pure-python mirror of operators/ranking.py:ntile_from_rank."""
    q, r = divmod(total, n)
    if q == 0:
        return rank
    big = (q + 1) * r
    if rank <= big:
        return (rank - 1) // (q + 1) + 1
    return r + (rank - big - 1) // q + 1


@settings(max_examples=200, deadline=None)
@given(total=st.integers(1, 500), n=st.integers(1, 20))
def test_ntile_formula_matches_sql_semantics(total, n):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT i, ntile({n}) OVER (ORDER BY i) FROM generate_series(1, {total}) t(i)"
    ).fetchall()
    for rank, bucket in rows:
        assert _spark_ntile_bucket(rank, total, n) == bucket, (rank, total, n)


def test_global_prefix_sum_matches_single_window(spark):
    """global_prefix_sum must equal the naive sum() OVER (ORDER BY ...)
    on data small enough to run the single-partition form."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.operators.ranking import global_prefix_sum

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "value"
    )
    got = (
        global_prefix_sum(e, [F.col("event_id")], "value", alias="ps")
        .select("event_id", "ps")
        .collect()
    )
    naive_w = (
        Window.partitionBy(F.pmod(F.col("event_id"), F.lit(1)))
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = e.select(
        "event_id", F.sum("value").over(naive_w).alias("ps")
    ).collect()
    g = {r.event_id: r.ps for r in got}
    wv = {r.event_id: r.ps for r in want}
    assert g.keys() == wv.keys()
    assert all(abs(g[k] - wv[k]) < 1e-6 for k in g)


def test_partitioned_row_number_matches_keyed_window(spark):
    """partitioned_row_number must equal the plain keyed window
    row_number() on data small enough to run the naive form — per key,
    ascending from 1 with the same total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.operators.ranking import partitioned_row_number

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "event_id", "value"
    )
    got = partitioned_row_number(
        e, ["event_type"], [F.col("value").desc(), F.col("event_id")], alias="rn"
    ).collect()
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    want = e.select(
        "event_type", "event_id", F.row_number().over(w).alias("rn")
    ).collect()
    g = {(r.event_type, r.event_id): r.rn for r in got}
    wv = {(r.event_type, r.event_id): r.rn for r in want}
    assert g == wv


def test_partitioned_row_number_has_no_unpartitioned_window(spark):
    """The construction's whole point: no window in the plan may be
    key-partitioned on nothing, and the data-bearing windows must be
    per (physical partition, key) — assert no 'Window' node sorts
    without a partition spec and the offsets join is a broadcast."""
    from pyspark.sql import functions as F

    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.operators.ranking import partitioned_row_number

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "event_id", "value"
    )
    df = partitioned_row_number(
        e, ["event_type"], [F.col("value").desc(), F.col("event_id")], alias="rn"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__mrs_pid" in plan and "BroadcastHashJoin" in plan

def test_global_row_number_mono_path_matches_naive_and_removes_window(spark):
    """Round-14 optimization pin: with the materialization barrier in
    place, the local rank is monotonically_increasing_id arithmetic
    over the checkpointed range-sorted blocks — the plan must contain
    NO row_number window (the previous form's full hash-repartition +
    second sort), and the ranks must equal the naive single-partition
    window bit-for-bit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.operators.ranking import global_row_number

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "value"
    )
    order = [F.col("value").desc(), F.col("event_id")]
    got = global_row_number(e, order, alias="rn")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" in plan
    assert "row_number()" not in plan, "mono path must not plan a window"
    assert "ExistingRDD" in plan

    naive_w = Window.partitionBy(F.pmod(F.col("event_id"), F.lit(1))).orderBy(
        *order
    )
    want = {
        r.event_id: r.rn
        for r in e.select(
            "event_id", F.row_number().over(naive_w).alias("rn")
        ).collect()
    }
    assert {r.event_id: r.rn for r in got.select("event_id", "rn").collect()} == want


def test_mono_consecutiveness_guard_fires_on_drift(spark, monkeypatch):
    """The mono-id local rank is only sound while
    monotonically_increasing_id is CONSECUTIVE within a partition
    (Spark documents monotonic+unique, "but not consecutive"). The
    operators carry a runtime guard on the broadcast offsets row
    (max − min + 1 == count per group) so a Spark upgrade that changes
    the id layout fails LOUDLY instead of producing silently wrong
    ranks across ~15 consumers. Simulate the drift by doubling the id
    (still monotonic + unique, no longer consecutive) and require the
    raise_error to surface; then confirm the unpatched path still
    matches the naive window bit-for-bit (guard pass path)."""
    from pyspark.sql import functions as F
    from pyspark.sql import utils as _u  # noqa: F401  (exception import side)

    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.operators import ranking

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id"
    )

    real_mono = F.monotonically_increasing_id

    def drifted_mono():
        return real_mono() * 2

    monkeypatch.setattr(ranking.F, "monotonically_increasing_id", drifted_mono)
    with pytest.raises(Exception, match="not consecutive"):
        ranking.global_row_number(
            e, [F.col("event_id")], alias="rn"
        ).write.mode("overwrite").format("noop").save()
    with pytest.raises(Exception, match="not consecutive"):
        ranking.partitioned_row_number(
            e, ["user_id"], [F.col("event_id")], alias="rn"
        ).write.mode("overwrite").format("noop").save()
    monkeypatch.undo()

    # guard pass path: unpatched operator still bit-exact vs the naive
    # single-partition window on small data
    from pyspark.sql import Window

    got = {
        r.event_id: r.rn
        for r in ranking.global_row_number(
            e, [F.col("event_id")], alias="rn"
        ).collect()
    }
    want = {
        r.event_id: r.rn
        for r in e.select(
            "event_id",
            F.row_number()
            .over(
                Window.partitionBy(
                    F.pmod(F.col("event_id"), F.lit(1))
                ).orderBy("event_id")
            )
            .alias("rn"),
        ).collect()
    }
    assert got == want
