"""Table sinks designed for 100 TB layouts.

The reference's only sink is a single concatenated text file
(`internal/cli/mapreduce.go:139-146` — mirrored by
``operators.pipeline.write_text_sink``). A general engine needs layouts
that make the NEXT query cheap; each writer here exists for one
specific downstream saving:

- **partitioned parquet** → partition pruning: a date/flag filter skips
  whole directories before any I/O.
- **bucketed table** → shuffle-free joins/aggregations: two tables
  bucketed on the same key join without an Exchange, which at 100 TB is
  usually the single largest cost in the plan.
- **range-sorted parquet** → row-group skipping: parquet min/max stats
  prune within files for range predicates on the sort column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduce_llm_spark.io import hadoop_path


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style directory partitioning.

    Partition columns must be low-cardinality (date, region, flag — not
    a key): each distinct combination is a directory, and small-file
    explosion is the classic failure mode. With the session's dynamic
    partitionOverwriteMode, ``overwrite`` replaces only the partitions
    present in ``df`` — idempotent incremental loads.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sort-within-bucket) table.

    Joins/aggregations between tables co-bucketed on the same key and
    bucket count run with zero shuffle — the scan itself satisfies the
    distribution requirement. Bucketing requires the catalog (metastore
    keeps the bucket spec), hence ``saveAsTable`` not ``parquet(path)``.
    Pick ``n_buckets`` so one bucket ≈ 100-200 MB at target scale.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_range_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Globally range-partition then sort within files on ``sort_cols``.

    Every parquet row group then covers a narrow ``sort_cols`` range,
    so min/max statistics answer range predicates without decoding —
    the poor man's clustered index. Use for the one column the workload
    filters on most (``l_shipdate``, ``events.ts``).
    """
    parts = df.repartitionByRange(*sort_cols) if n_files is None else df.repartitionByRange(
        n_files, *sort_cols
    )
    parts.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def read_bucketed_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — preserves the bucket spec for shuffle elision."""
    return spark.table(table)


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_mb: int = 512,
    sort_within_by: list[str] | None = None,
) -> int:
    """Compact a fragmented parquet directory to ~``target_file_mb``
    files; returns the new file count.

    The small-files problem is the classic long-running-pipeline decay
    mode: streaming/incremental writers leave thousands of KB-sized
    files, and at 100 TB the NameNode/listing and per-file open costs
    dominate scans. Sizing uses the CURRENT on-disk bytes (already
    compressed), so the output files land near the target without
    guessing a compression ratio. ``sort_within_by`` re-sorts rows
    within each output file to restore row-group min/max skipping
    (see write_range_sorted_parquet).

    Writes to a sibling temp dir then swaps by rename, so a reader
    never sees a half-compacted directory. Sizing, renames and the
    delete go through the Hadoop ``FileSystem``, so ``path`` may be a
    local path or any URI Spark writes to.
    """
    import math

    sc = spark.sparkContext
    fs, src = hadoop_path(sc, path)
    files = fs.listFiles(src, True)
    total_bytes = 0
    while files.hasNext():
        status = files.next()
        if status.getPath().getName().endswith(".parquet"):
            total_bytes += status.getLen()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    writer = df.repartition(n_files)
    if sort_within_by:
        writer = writer.sortWithinPartitions(*sort_within_by)
    tmp = path.rstrip("/") + "._compacting"
    writer.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "._pre_compact"
    Path = sc._jvm.org.apache.hadoop.fs.Path
    for a, b in ((path, old), (tmp, path)):
        if not fs.rename(Path(a), Path(b)):
            raise OSError(f"could not rename {a} to {b}")
    fs.delete(Path(old), True)
    return n_files


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (Spark's built-in second columnar format). Same
    pushdown/pruning properties as parquet (min/max stripe stats,
    predicate pushdown, column projection); useful when a downstream
    consumer is Hive/Trino-standardized on ORC. Prefer parquet
    elsewhere in this engine — it is the testdata's native format."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source. Schema comes from the ORC footer (self-describing,
    no inference scan — unlike CSV/JSON, an explicit schema is not
    required for a single-pass read)."""
    return spark.read.orc(path)


def write_zordered_parquet(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 16
) -> None:
    """Z-order clustering: range-partition + sort by the Morton
    interleaving of TWO columns, so parquet min/max stats prune row
    groups for predicates on EITHER column — the layout
    `write_range_sorted_parquet` gives one column, generalized to two.
    A plain sort clusters its first column perfectly and leaves the
    second spread over the full value range in every file; z-order
    trades a little of the first column's locality for bounded ranges
    on both (pinned by `test_zorder_bounds_both_columns`).

    Column bounds come from one tiny min/max aggregate (4 scalars to
    the driver — same pattern as the histogram/clip operators). The
    write itself is an ordinary range-partitioned distributed write at
    any scale."""
    from pyspark.sql import functions as F

    from mapreduce_llm_spark.operators.zorder import scale_to_bits, z_value

    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).collect()[0]
    z = z_value(
        scale_to_bits(F.col(col_a), F.lit(lo_a), F.lit(hi_a), bits=20),
        scale_to_bits(F.col(col_b), F.lit(lo_b), F.lit(hi_b), bits=20),
        bits=20,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
