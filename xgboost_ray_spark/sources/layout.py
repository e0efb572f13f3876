"""Multi-dimensional clustered (z-order) table layout.

Sorting a table by one column gives parquet min/max row-group skipping on
that column only; queries filtering the second dimension still scan
everything. Interleaving the bits of several columns' rank codes (Morton /
z-order — the technique behind Delta Lake's OPTIMIZE ZORDER BY and
ClickHouse/Databricks data clustering) gives every interleaved dimension
*partial* locality: each output file covers ~(1/files)^(1/n_cols) of each
dimension's range, so a selective filter on ANY clustered column skips most
row groups at planning/footer time.

Everything here is JVM expressions + one range shuffle:

  1. one stats pass computes per-column min/max (broadcast, single row);
  2. each column scales to a B-bit integer code (narrow expression);
  3. the z-value interleaves the code bits (shift/and/or expression tree —
     no UDF, stays in whole-stage codegen);
  4. ``repartitionByRange`` on the z-value + ``sortWithinPartitions``
     clusters the table; the write drops the helper column.

At 100 TB this is the table-maintenance job that makes the difference
between "every query scans the fact table" and "point-ish queries read a
few row groups" — the write costs one shuffle, amortized over every later
scan. Reference analogue: none (xgboost_ray has no storage layout layer);
this is part of the Spark-native lakehouse surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 8  # bits per dimension; 2 cols x 8 bits = 16-bit z-values


def _scaled_code(col: str, mn: Column, mx: Column) -> Column:
    """Affine-scale a numeric column into [0, 2^Z_BITS) as a bigint.
    Constant columns map to 0 (divide-by-zero guard)."""
    top = (1 << Z_BITS) - 1
    spread = mx.cast("double") - mn.cast("double")
    scaled = F.floor(
        (F.col(col).cast("double") - mn.cast("double")) / spread * top
    ).cast("bigint")
    return (
        F.when(spread == 0.0, F.lit(0))
        .otherwise(F.least(F.greatest(scaled, F.lit(0)), F.lit(top)))
        .cast("bigint")
    )


def zorder_value(codes: Sequence[Column], bits: int = Z_BITS) -> Column:
    """Interleave the low ``bits`` bits of each code column into one
    Morton value: bit b of code i lands at position b*n_cols + i.

    ``bits * len(codes)`` must fit in the 63 value bits of a signed
    bigint: position 63 would flip the sign (rows with that bit set
    range-partition BEFORE the smallest z-values), and positions >= 64
    wrap (JVM shifts are mod 64), aliasing two dimensions' bits onto the
    same positions — both silently destroy the clustering the caller
    paid a full shuffle for, so refuse loudly."""
    n = len(codes)
    if bits * n > 63:
        raise ValueError(
            f"zorder_value: {bits} bits x {n} columns = {bits * n} "
            "interleaved bits exceeds the 63 available in a signed "
            "bigint; lower bits (resolution beyond ~16 bits/dim gains "
            "nothing for file-level clustering)"
        )
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, code in enumerate(codes):
            bit = F.shiftright(code, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * n + i)
    return z


def zorder_cluster(df: DataFrame, cols: Sequence[str], num_files: int) -> DataFrame:
    """Return ``df`` range-clustered by the z-order of ``cols``, ready to
    write with ``num_files`` output tasks. One stats pass (broadcast single
    row) + one range shuffle; no Python in the row path."""
    stats = df.agg(
        *[F.min(c).alias(f"_mn_{c}") for c in cols],
        *[F.max(c).alias(f"_mx_{c}") for c in cols],
    )
    with_stats = df.join(F.broadcast(stats))
    codes = [_scaled_code(c, F.col(f"_mn_{c}"), F.col(f"_mx_{c}")) for c in cols]
    z = zorder_value(codes)
    return (
        with_stats.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols])
    )


def write_zordered(
    df: DataFrame, path: str, cols: Sequence[str], num_files: int
) -> None:
    """Write ``df`` as a z-order-clustered parquet table at a fresh
    ``path``; an existing path fails the write (error-if-exists mode)
    instead of being replaced."""
    zorder_cluster(df, cols, num_files).write.parquet(path)
