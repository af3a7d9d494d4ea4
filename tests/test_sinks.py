"""Sink layout tests — each writer's scale claim verified on the plan.

Partitioned write → partition pruning visible in the scan; bucketed
write → join without Exchange; range-sorted write → roundtrip equality
plus per-file ordering.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.sinks import (
    read_bucketed_table,
    write_bucketed_table,
    write_partitioned_parquet,
    write_range_sorted_parquet,
)
from tests.conftest import SMOKE_SF_DIR


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    out = str(tmp_path / "li_part")
    write_partitioned_parquet(li, out, ["l_returnflag"])

    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = physical_plan(back)
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters" in scan and "l_returnflag" in scan.split("PartitionFilters")[1]
    expected = li.filter(F.col("l_returnflag") == "R").count()
    assert back.count() == expected


def test_partitioned_overwrite_is_dynamic(spark, tmp_path):
    """Overwriting with a one-partition frame must leave other
    partitions intact (incremental-load idempotence)."""
    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    out = str(tmp_path / "li_dyn")
    write_partitioned_parquet(li, out, ["l_returnflag"])
    total = spark.read.parquet(out).count()

    only_r = li.filter(F.col("l_returnflag") == "R")
    write_partitioned_parquet(only_r, out, ["l_returnflag"])
    assert spark.read.parquet(out).count() == total


def test_cobucketed_join_has_no_shuffle(spark):
    o = load_table(spark, SMOKE_SF_DIR, "orders")
    li = load_table(spark, SMOKE_SF_DIR, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed_table(o, "t_orders_b", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    write_bucketed_table(li, "t_lineitem_b", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    try:
        threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_bucketed_table(spark, "t_orders_b").join(
                read_bucketed_table(spark, "t_lineitem_b"), "o_orderkey"
            )
            plan = physical_plan(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan, plan
            assert joined.count() == load_table(spark, SMOKE_SF_DIR, "lineitem").count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_range_sorted_write_roundtrips_and_sorts(spark, tmp_path):
    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    out = str(tmp_path / "li_sorted")
    write_range_sorted_parquet(li, out, ["l_shipdate"], n_files=4)

    back = spark.read.parquet(out)
    assert back.count() == li.count()
    # each physical file is internally ordered on the sort column
    files = back.select(
        F.input_file_name().alias("f"), "l_shipdate"
    )
    win = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    disorder = (
        files.withColumn("prev", F.lag("l_shipdate").over(win))
        .filter(F.col("prev") > F.col("l_shipdate"))
        .count()
    )
    assert disorder == 0
    # and the files cover disjoint ranges (global range partitioning)
    ranges = files.groupBy("f").agg(
        F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi")
    ).orderBy("lo").collect()
    for a, b in zip(ranges, ranges[1:]):
        assert a["hi"] <= b["lo"]


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction must merge a fragmented directory into the computed
    file count without losing or duplicating rows, and leave no temp
    dirs behind (the atomic-swap contract)."""
    import os

    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    li.repartition(64).write.parquet(path)  # 64 tiny files
    before_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before_files) == 64
    n_rows = li.count()

    n_files = compact_parquet(spark, path, target_file_mb=512)
    after_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(after_files) == n_files < len(before_files)
    assert spark.read.parquet(path).count() == n_rows
    assert not os.path.exists(path + "._compacting")
    assert not os.path.exists(path + "._pre_compact")


def test_compact_parquet_sort_within_restores_skipping_layout(spark, tmp_path):
    """With sort_within_by, each output file holds a contiguous sorted
    run (row-group min/max skipping works again after compaction)."""
    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.sinks import compact_parquet

    path = str(tmp_path / "frag2")
    li = load_table(spark, SMOKE_SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    li.repartition(16).write.parquet(path)
    compact_parquet(spark, path, target_file_mb=512, sort_within_by=["l_orderkey"])
    import pyarrow.parquet as pq
    import os

    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        col = pq.read_table(os.path.join(path, f), columns=["l_orderkey"])
        vals = col["l_orderkey"].to_pylist()
        assert vals == sorted(vals), f"{f} not sorted within file"


def test_compact_parquet_accepts_a_file_uri(spark, tmp_path):
    """A ``file://`` path is sized, swapped and cleaned up through the
    Hadoop FileSystem: only the *.parquet bytes count towards the file
    count, and no temp dir is left behind."""
    import math
    import os

    from mapreduce_llm_spark.sinks import compact_parquet

    local = tmp_path / "frag"
    # random doubles do not compress: ~2.4 MB of parquet over 16 files
    spark.range(300_000).select(F.rand(7).alias("x")).repartition(16).write.parquet(
        str(local)
    )
    parquet_bytes = sum(
        os.path.getsize(local / f) for f in os.listdir(local) if f.endswith(".parquet")
    )

    n_files = compact_parquet(spark, local.as_uri(), target_file_mb=1)
    assert n_files == math.ceil(parquet_bytes / 2**20) > 1
    assert len([f for f in os.listdir(local) if f.endswith(".parquet")]) == n_files
    assert spark.read.parquet(str(local)).count() == 300_000
    assert os.listdir(tmp_path) == ["frag"]


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC write → read must roundtrip values, prune columns, and push
    filters to the scan (same scan-efficiency contract as parquet)."""
    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.sinks import read_orc, write_orc

    li = load_table(spark, SMOKE_SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    out = str(tmp_path / "li_orc")
    write_orc(li, out)
    back = read_orc(spark, out)
    assert back.count() == li.count()
    assert sorted(back.columns) == sorted(li.columns)
    q = back.filter(F.col("l_quantity") > 45).select("l_orderkey")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = q._jdf.queryExecution().explainString(jmode)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters: [")[1].split("]")[0]
    spark_sum = q.count()
    duck_sum = li.filter(F.col("l_quantity") > 45).count()
    assert spark_sum == duck_sum


def test_zorder_bounds_both_columns(spark, tmp_path):
    """Z-ordered files must have bounded min/max ranges on BOTH cluster
    columns (enabling row-group pruning for either predicate), whereas
    a single-column sort leaves the second column near-full-range in
    every file. Measured from the actual parquet footers."""
    import os

    import pyarrow.parquet as pq

    from mapreduce_llm_spark.sinks import write_zordered_parquet

    li = load_table(spark, SMOKE_SF_DIR, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    glob_a = li.agg(F.min("l_partkey"), F.max("l_partkey")).collect()[0]
    glob_b = li.agg(F.min("l_suppkey"), F.max("l_suppkey")).collect()[0]
    span_a = glob_a[1] - glob_a[0]
    span_b = glob_b[1] - glob_b[0]

    def avg_file_coverage(path, col):
        fracs = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            ci = names.index(col)
            stats = [md.row_group(i).column(ci).statistics for i in range(md.num_row_groups)]
            lo = min(s.min for s in stats)
            hi = max(s.max for s in stats)
            span = span_a if col == "l_partkey" else span_b
            fracs.append((hi - lo) / span)
        return sum(fracs) / len(fracs)

    zpath = str(tmp_path / "zorder")
    write_zordered_parquet(li, zpath, "l_partkey", "l_suppkey", n_files=16)
    spath = str(tmp_path / "single")
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    z_a = avg_file_coverage(zpath, "l_partkey")
    z_b = avg_file_coverage(zpath, "l_suppkey")
    s_b = avg_file_coverage(spath, "l_suppkey")
    # single-column sort: second column unclustered (near-full range)
    assert s_b > 0.8, s_b
    # z-order: BOTH columns bounded well below full range per file
    assert z_a < 0.5, z_a
    assert z_b < 0.5, z_b
