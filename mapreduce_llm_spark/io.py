"""Table loading for the driver's synthetic parquet corpus.

All ten tables (TESTDATA.md / FIXTURES.md) are read with explicit
pushdown-friendly parquet scans. At 100 TB these would be
partitioned/bucketed table paths; the loader keeps a single seam so a
cluster deployment only changes this module (e.g. to catalog tables,
which carry their schema in the metastore), not the operators.

Schema memo: inferring a parquet schema launches a Spark job that reads
file footers, and a query loads each of its tables on every call. So
``load_table`` infers a table's schema once per (qualified path, size,
modification time), read from the Hadoop ``FileSystem`` status (any URI
Spark can read), and passes it to ``spark.read.schema(...)``, which
launches no job. A rewritten file changes the key and is inferred
afresh; for a directory table the key is the directory's own status,
whose modification time moves when files are added, removed or renamed
into it. Only the schema is memoized: every call returns a fresh
relation (two loads of one table self-join with distinct attribute
ids), and every call re-sets the reader conf and re-runs the timestamp
normalization and the drift check below.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# qualified path → (size, modification time, inferred schema); one entry
# per path, replaced when the file changes
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def hadoop_path(sc: SparkContext, path: str):
    """(FileSystem, Path) of ``path`` — a local path or any URI Spark
    reads and writes (``file://``, ``hdfs://``, an object store), so
    driver-side checks see the same files Spark's readers and writers
    do."""
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    version of the file (see the module docstring)."""
    fs, hpath = hadoop_path(spark.sparkContext, path)
    status = fs.getFileStatus(hpath)
    key = fs.makeQualified(hpath).toString()
    version = (status.getLen(), status.getModificationTime())
    memo = _SCHEMAS.get(key)
    if memo is None or memo[:2] != version:
        memo = (*version, spark.read.parquet(path).schema)
        _SCHEMAS[key] = memo
    return spark.read.schema(memo[2]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Timestamp columns arrive in whichever encoding the data generator
    # used for that corpus snapshot — it has already changed once
    # between snapshots (TIMESTAMP(NANOS) → TIMESTAMP_NTZ(µs)), so the
    # loader normalizes defensively rather than assuming one layout:
    #  - TIMESTAMP(NANOS): Spark's parquet reader only accepts it as a
    #    ns long via the legacy flag; convert with integer division
    #    (ns values ~1.7e18 overflow double's exact range, so a float
    #    `/ 1000` would corrupt timestamps; `div` truncation matches
    #    DuckDB's ns→µs cast) and timestamp_micros → session-TZ type.
    #  - TIMESTAMP_NTZ: events.ts is cast to the session-TZ type
    #    (session pinned to UTC, value-preserving) for one stable type
    #    across snapshots. orders/lineitem NTZ columns are left as-is:
    #    their date-band filters push down to the parquet scan, and a
    #    cast above the scan would block that pushdown.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, LongType, TimestampNTZType

    ts_cols = {
        "events": ("ts",),
        "orders": ("o_orderdate",),
        "lineitem": ("l_shipdate",),
    }.get(name, ())
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col in ts_cols:
        t = df.schema[col].dataType
        if isinstance(t, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif isinstance(t, DateType):
            # a DATE-typed snapshot would break F.window()/unix_micros
            # consumers; midnight-UTC timestamps are value-identical
            # for every query in the surface
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif name == "events" and isinstance(t, TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    # The nanosAsLong flag above is a silent-corruption hazard: a NEW
    # ns-encoded timestamp column (one the ts_cols map doesn't know
    # about yet) would come back as a raw int64 of nanoseconds and flow
    # into date arithmetic as a huge integer. Fail loudly instead:
    # any remaining LongType column with a timestamp-shaped name means
    # the corpus drifted again and the map needs a new entry.
    suspicious = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, LongType)
        and f.name not in ts_cols
        and (
            f.name == "ts"
            or f.name.endswith(("_ts", "_at", "date", "time"))
        )
    ]
    if suspicious:
        raise TypeError(
            f"table {name!r}: column(s) {suspicious} are LongType but "
            "named like timestamps — likely a TIMESTAMP(NANOS) column "
            "surfaced by spark.sql.legacy.parquet.nanosAsLong that "
            "load_table's ts_cols map doesn't cover. Add them to "
            "ts_cols so they are normalized, not silently numeric."
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text scan (the reference's only source, reference
    internal/cli/mapreduce.go:33-38, distributed): → (line_id, line).

    The explicit ``line_id`` order key matters: the reference's
    semantics make line order significant end-to-end, and Spark
    DataFrames are unordered — so the order is carried as data.
    Numbering uses the distributed two-phase ranking
    (operators/ranking.py) over (partition id, in-partition position)
    — zipWithIndex semantics without an unpartitioned window, so a
    100 GB file never funnels through one task."""
    from pyspark.sql import functions as F

    from mapreduce_llm_spark.operators.ranking import global_row_number

    df = spark.read.text(path)
    # file order = (partition id, position in partition)
    positioned = df.select(
        F.spark_partition_id().alias("_part"),
        F.monotonically_increasing_id().alias("_pos"),
        F.col("value").alias("line"),
    )
    numbered = global_row_number(
        positioned, [F.col("_part").asc(), F.col("_pos").asc()], alias="line_id"
    )
    return numbered.select((F.col("line_id") - 1).alias("line_id"), "line")


def read_text_document(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file read → single-row (doc_id, text) frame, the shape the
    chunk→map→reduce pipeline consumes (reference reads the whole file
    into one string, internal/cli/mapreduce.go:33-38)."""
    from pyspark.sql import functions as F

    df = spark.read.text(path, wholetext=True)
    return df.select(F.lit(0).cast("long").alias("doc_id"), F.col("value").alias("text"))


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV source with a MANDATORY explicit schema.

    Schema inference reads the data twice and guesses types per file —
    at 100 TB that is a full extra scan and a correctness hazard
    (a column of ints with one stray string silently widens). Explicit
    DDL schemas make the scan single-pass and the types stable."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_json_lines(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-lines source with a mandatory explicit schema (same
    inference rationale as read_csv; FAILFAST surfaces corrupt records
    instead of silently nulling them)."""
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def read_json_lines_permissive(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """JSON-lines source that QUARANTINES corrupt records instead of
    failing the job (the ingest-time twin of read_json_lines's
    FAILFAST): malformed lines land with their raw text in
    ``_corrupt_record`` and NULL data columns, so a 100 TB backfill
    with a handful of bad lines completes and the bad lines are
    queryable for triage (`WHERE _corrupt_record IS NOT NULL`) rather
    than silently dropped or fatally poisonous. Pick FAILFAST for
    pipelines where a corrupt record means the upstream contract broke;
    pick this for third-party data you don't control."""
    full_schema = schema + ", _corrupt_record STRING"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_binary_files(
    spark: SparkSession, path: str, *, glob: str | None = None
) -> DataFrame:
    """Binary-file source: one row per file with (path,
    modificationTime, length, content) — the ingest half of the
    multimodal pipeline (raw image/audio files on disk → binary rows
    that operators/multimodal.py's codec UDFs decode).

    ``glob`` narrows the listing (e.g. ``*.png``) BEFORE any file is
    opened — directory-listing-level pruning, the binary analogue of
    partition pruning. Scale notes: each file is exactly one row (a
    file never splits across partitions, so one 10 GB blob serializes
    through one task — shard oversized media upstream), and the
    listing parallelizes across the driver's listing threads while the
    reads parallelize across executors."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
