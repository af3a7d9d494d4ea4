"""Z-order (Morton-curve) clustering for file-level data skipping.

The third leg of the storage-layout story (after directory-level
partition pruning — queries/analytics_r5c.q_partition_prune — and
shuffle-free bucketed joins — q_bucket_join): interleaving the bits of
two (or more) columns produces a single sort key whose contiguous
ranges are small RECTANGLES in the original attribute space. Files
written in z-key order therefore have tight min/max footprints on
EVERY interleaved dimension, so a reader consulting per-file min/max
statistics (parquet footers, Delta/Iceberg manifests) skips most files
for selective predicates on ANY of those dimensions — where a linear
sort gives tight footprints on the leading column only.

Everything here is JVM-side column arithmetic (shifts, masks, adds —
whole-stage codegen), no UDFs: the z-value of a row is a pure
expression and the skipping model (which files a range predicate must
touch) is an ordinary aggregation over the z-bucketed data. The
PHYSICAL write path is sinks.write_zordered_parquet (this module's
``scale_to_bits`` + ``z_value`` as the key; repartitionByRange +
sortWithinPartitions + parquet); this module also holds the
measurable-skipping side: explicit grid scaling with
stable-under-append fixed bounds and per-file footprints (the
files-touched count over them is an aggregation in
queries/analytics_r5c.q_zorder_skipping). At 100 TB the same expressions drive
the layout job; the only local-mode simplification is modelling
"file" as a fixed-width z-range bucket instead of a physical parquet
file (deterministic, and exactly the footprint the writer would
produce).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scale_to_bits(col: Column, lo: Column | int, hi: Column | int, bits: int) -> Column:
    """Affine-map ``col`` from [lo, hi] onto the integer grid
    [0, 2**bits - 1] (long arithmetic, clamped at both ends so values
    at/inbounds of the range survive float rounding). Column bounds may
    be broadcast scalars from a stats pass or fixed domain constants —
    fixed constants keep the z-value STABLE under appends, which is
    what an incremental clustering job wants."""
    lo_c = F.lit(lo) if isinstance(lo, int) else lo
    hi_c = F.lit(hi) if isinstance(hi, int) else hi
    top = F.lit((1 << bits) - 1)
    scaled = F.floor(
        (col.cast("double") - lo_c) / (hi_c - lo_c + F.lit(1e-300)) * (top + 1)
    ).cast("long")
    return F.greatest(F.lit(0), F.least(top, scaled))


def _spread_bits(col: Column) -> Column:
    """Interleave-ready bit spread (Morton): place each of the low 21
    bits of ``col`` at even positions of a 64-bit long, via the
    classic magic-mask shifts — five JVM-codegen bitwise ops, no UDF."""
    x = col.cast("long")
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def z_value(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton interleave of two ``bits``-wide non-negative longs:
    bit i of x lands at position 2i, bit i of y at 2i+1, via the
    magic-mask bit spread above (five codegen'd bitwise ops per
    operand, no UDF, no per-bit terms); 2·bits ≤ 42 stays comfortably
    inside a signed long. The physical write path,
    sinks.write_zordered_parquet, sorts by this same expression over
    ``scale_to_bits(..., bits=20)`` keys; this expression form also
    feeds the skipping model below and the staged DuckDB oracle twin."""
    if not 1 <= bits <= 21:
        raise ValueError(f"bits must be in [1, 21], got {bits}")
    mask = F.lit((1 << bits) - 1)
    return _spread_bits(x.bitwiseAND(mask)).bitwiseOR(
        F.shiftleft(_spread_bits(y.bitwiseAND(mask)), 1)
    )


def file_footprints(
    df: DataFrame, x: Column, y: Column, file_col: Column
) -> DataFrame:
    """Per-file min/max statistics for the two clustered dimensions —
    the model of what a parquet footer / table-format manifest stores.
    ``file_col`` identifies the file a row belongs to (input_file_name()
    for physical data, a z-range bucket for the deterministic model).
    One aggregation: #files output rows."""
    return (
        df.select(
            file_col.alias("file_id"), x.alias("_x"), y.alias("_y")
        )
        .groupBy("file_id")
        .agg(
            F.min("_x").alias("x_min"),
            F.max("_x").alias("x_max"),
            F.min("_y").alias("y_min"),
            F.max("_y").alias("y_max"),
            F.count("*").alias("n_rows"),
        )
    )
