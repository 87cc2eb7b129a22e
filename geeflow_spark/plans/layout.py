"""Spatial table layout: cell-clustered writes for pruned scans.

At 100 TB the dominant cost of every spatial query is the scan; the
layout fixes that before any operator runs:

  - `write_cell_clustered`: partitions the table by a COARSE cell
    (directory-level -> Catalyst partition pruning skips whole
    directories for any cell-range predicate) and range-sorts rows by
    the FINE cell within files (parquet row-group min/max stats prune
    within files; neighboring documents land in the same pages -
    the Z-order-style locality a cell id's bit layout gives for free,
    since S2 ids are Hilbert-ordered and hex ids are axial-packed).
  - `read_cells`: reads back with a cell-prefix predicate pushed to
    both pruning layers.

This is the parquet expression of the Iceberg partition-transform
story (sources/iceberg.py): with the runtime present the same coarse
cell becomes the partition transform column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geeflow_spark.operators.spatial_join import INDEXES, with_cell


def coarse_cell_col(fine_cell: F.Column, level: int, coarse_level: int,
                    index: str = "s2") -> F.Column:
    """Parent cell id of a fine cell id, as a pure JVM expression.

    s2: (id & -lsb) | lsb with lsb = 1 << 2*(30-coarse); hex: repack
    res bits is not closed-form JVM (aperture-7 parents re-encode), so
    hex uses a numpy UDF via INDEXES[index].parent at write time."""
    if index == "s2":
        lsb = 1 << (2 * (30 - coarse_level))
        return fine_cell.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType
    mod = INDEXES[index]

    def _parent(c):
        return pd.Series(np.asarray(
            mod.parent(c.to_numpy(np.int64), coarse_level))
            .astype(np.int64))

    # real annotation objects: `from __future__ import annotations`
    # stringifies inline hints and pyspark's inference rejects them.
    _parent.__annotations__ = {"c": pd.Series, "return": pd.Series}
    return pandas_udf(LongType())(_parent)(fine_cell)


def write_cell_clustered(df: DataFrame, path: str, *, level: int = 12,
                         coarse_level: int = 4,
                         lat_col: str = "lat", lon_col: str = "lon",
                         index: str = "s2",
                         mode: str = "overwrite") -> None:
    """Writes `df` partitioned by coarse cell, sorted by fine cell.

    repartition by the coarse cell (one shuffle - the one-time layout
    cost) + sortWithinPartitions(fine cell) so every output file holds
    one coarse cell's rows in fine-cell order."""
    out = with_cell(df, level, lat_col, lon_col, out_col="cell",
                    index=index)
    out = out.withColumn(
        "cell_p", coarse_cell_col(F.col("cell"), level, coarse_level,
                                  index))
    # sort by (cell_p, cell): the partitioned writer REQUIRES ordering
    # by the partition column and would re-sort by cell_p alone (and
    # destroy the fine order) if we only sorted by cell.
    (out.repartition(F.col("cell_p"))
        .sortWithinPartitions("cell_p", "cell")
        .write.mode(mode).partitionBy("cell_p").parquet(path))


# Pruned subsets smaller than this skip the "auto" rebalance: below it
# the hottest possible straggler is sub-second, while the shuffle +
# 4x-cores task waves cost ~2s of fixed overhead (measured at sf0.1).
# At/above it (multi-GB pruned covers - the 100M-doc SF1 case) the
# straggler dominates and the round-robin pays for itself.
AUTO_REBALANCE_MIN_BYTES = 256 << 20


def read_cells(spark: SparkSession, path: str, cells_p: list[int],
               rebalance: int | str | None = None) -> DataFrame:
    """Scan restricted to the given coarse cells: the predicate is a
    partition filter (directory pruning), and any further fine-cell
    predicate the caller adds prunes row groups via the sorted layout.

    `rebalance`: round-robin repartition the pruned subset to this many
    partitions before handing it downstream. The clustered layout
    concentrates WORK, not just bytes: downstream per-row cost
    (candidate fan-out, PIP) is highest exactly in the hot-city cells
    the layout packs together, and Spark schedules splits by bytes -
    measured at 100M docs, the hottest split carried ~10s of kernel CPU
    while the median task had 0.25s, capping the stage at ~4x
    parallelism on 32 cores. The shuffle is proportional to the PRUNED
    subset (what partition pruning already bought), which is the right
    trade whenever the downstream operator is compute-heavy; leave None
    for scan-dominated consumers (plain filters/aggregations), where
    the straggler is small and the shuffle is pure overhead.

    `rebalance="auto"` chooses from the pruned scan's own shape so
    kernel consumers can't silently hit the documented straggler: when
    the pruned subset is big enough for stragglers to matter (>=
    AUTO_REBALANCE_MIN_BYTES by the optimizer's file statistics) but
    yields fewer than 2x defaultParallelism input splits (too few for
    byte-packed hot files to even out), it round-robins to 4x cores
    (~4 task waves - enough granularity that one hot split can't cap
    the stage). Below the byte floor the shuffle + extra task waves
    are pure overhead (measured ~2x slowdown on a 5000-row table);
    with ample splits the scan partitioning already suffices. Both
    statistics are driver-side (file listing) - no job is run.
    """
    out = spark.read.parquet(path).filter(F.col("cell_p").isin(cells_p))
    if rebalance == "auto":
        rebalance = None
        size = int(out._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
        if size >= AUTO_REBALANCE_MIN_BYTES:
            cores = spark.sparkContext.defaultParallelism
            if out.rdd.getNumPartitions() < 2 * cores:
                rebalance = 4 * cores
    if rebalance:
        out = out.repartition(rebalance)
    return out


def join_points_regions_pruned(spark: SparkSession, path: str, regions,
                               *, level: int = 12, coarse_level: int = 4,
                               index: str = "s2",
                               rebalance: int | str | None = "auto",
                               **join_kw) -> DataFrame:
    """Spatial join that only SCANS the partitions the regions touch.

    The region bboxes cover to COARSE cells (driver-side numpy - the
    region side is the small side by contract); those cells become a
    partition filter on the clustered table, so a city-sized ROI query
    against a planet-sized table reads a handful of directories instead
    of 100 TB. Downstream is the ordinary cell-keyed join + exact PIP
    refine on the (already fine-cell-encoded) surviving rows - a
    kernel consumer, so the pruned subset defaults to the "auto"
    rebalance gate (see read_cells; pass rebalance=None to keep the
    raw scan partitioning).

    Requires `path` written by write_cell_clustered with the same
    (level, coarse_level, index). The stored fine `cell` column is
    REUSED as the join key (the layout's precompute) - rows are never
    re-encoded at read time.
    """
    import numpy as np

    from geeflow_spark.operators import spatial_join as sj

    coarse = np.unique(sj.region_covers_pdf(regions, coarse_level,
                                            index=index)["cell"])
    pts = read_cells(spark, path, coarse.tolist(),
                     rebalance=rebalance).drop("cell_p")
    return sj.join_points_regions(pts, regions, level=level, index=index,
                                  precomputed_cell="cell", **join_kw)
