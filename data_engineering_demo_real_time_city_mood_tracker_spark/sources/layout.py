"""Data layout for scan pruning: Z-order (Morton) clustering.

Parquet scans skip row groups / files whose column min-max stats
exclude the filter — but stats only help if the data is CLUSTERED on
the filtered column. Sorting on one column destroys clustering on
every other; Z-ordering interleaves the bits of several columns'
bucket ranks so each output file covers a small hyper-rectangle of the
key space and min-max pruning works for filters on ANY of the z-ed
columns. The standard lake-layout technique for multi-dimensional
point/range lookups at 100 TB.

Everything is Column expressions: bucket ranks come from
``width_bucket`` over approx-quantile boundaries (equi-depth, robust
to skew), bit interleaving is shift/or arithmetic, and the write is
``repartitionByRange(zkey)`` + ``sortWithinPartitions(zkey)`` — one
range shuffle, files emerge clustered.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket_rank(col: str, boundaries: list[float]) -> Column:
    """0..len(boundaries) equi-depth rank of ``col`` given interior
    quantile boundaries: an array fold counting boundaries below the
    value — one codegen'd expression, no UDF. Nulls rank 0 (cluster
    together, prunable)."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    v = F.col(col).cast("double")
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(v > b, F.lit(1)).otherwise(F.lit(0)),
    )


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Morton key over ``cols``: each column is rank-bucketed to
    ``bits`` bits via approx quantiles of ``df`` (one tiny agg job),
    then bit-interleaved. 2 cols × 8 bits = 16-bit key — plenty: files
    ≫ 2^16 would raise bits."""
    if bits * len(cols) > 62:
        raise ValueError(
            f"z-key needs {bits * len(cols)} bits; max 62 (long) — lower bits"
        )
    n = (1 << bits) - 1
    quantiles = df.stat.approxQuantile(
        cols, [i / (n + 1) for i in range(1, n + 1)], 0.001
    )
    # ranks are LONG: shiftleft on the default int rank overflows at
    # bit 31 (sign flip) and wraps mod 32 — silently breaking the
    # hyper-rectangle property for bits*len(cols) > 31
    ranks = [
        _bucket_rank(c, qs).cast("long") for c, qs in zip(cols, quantiles)
    ]
    # interleave: output bit (b*len + i) takes bit b of rank i
    parts = []
    for b in range(bits):
        for i, r in enumerate(ranks):
            src_bit = F.shiftright(r, b).bitwiseAND(F.lit(1))
            parts.append(
                F.shiftleft(src_bit, b * len(ranks) + i)
            )
    return reduce(lambda a, x: a.bitwiseOR(x), parts).alias("zkey")


def zorder_write(
    df: DataFrame, path: str, cols: list[str], n_files: int, bits: int = 8
) -> None:
    """Write ``df`` z-ordered on ``cols`` into ``n_files`` parquet
    files: range-partition on the Morton key (each file owns a
    contiguous z-range = small hyper-rectangle), sort within
    partitions so row groups are clustered too."""
    zk = zorder_key(df, cols, bits)
    (
        df.withColumn("_zkey", zk)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_minmax(path: str, col: str) -> list[tuple[float, float]]:
    """Per-file (min, max) of ``col`` from parquet footers — the same
    stats a scan's pruning consults. Test/diagnostic helper."""
    import pyarrow.parquet as pq

    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.maintenance import data_files

    out = []
    for f in sorted(data_files(path)):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        if mins:
            out.append((min(mins), max(maxs)))
    return out
