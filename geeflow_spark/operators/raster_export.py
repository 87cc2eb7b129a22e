"""Raster-export mosaic stage: grouped plot tensors -> split-tile rasters.

Spark form of the reference's per-split mosaic (export_rasters.py:309-388
`process_one_split` + the per-zone GroupByKey :494-498): after
`tiles.assign_tiles` produces (utm_zone, xs, ys) keyed plot rows, a
groupBy(zone, xs, ys).applyInArrow mosaics each split's plots into one
raster and emits (zone, xs, ys, geotransform, raster, mask). The split's
plots reach the kernel as an Arrow table and its raster leaves as list
arrays over the kernel's buffers: no pandas object is built per split.

Tile exchange: the plot rows are hash-repartitioned on (utm_zone, xs, ys)
into min(#splits, max(1, defaultParallelism // 2)) partitions before the
groupBy, which reuses that exchange. An implicit groupBy exchange carries
little data (tensors of a few floats per plot), so AQE would coalesce it
into one partition and mosaic every split in one task; a
REPARTITION_BY_NUM exchange is not coalesced, so the splits spread over
the cores. One task per two cores, because an Arrow-UDF task keeps two
processes busy: its JVM task thread (shuffle read, sort, Arrow both
ways, parquet write) and its Python worker. On `raster_mosaic` (4 cores,
32 splits) two tasks mosaicked as fast as four with about a quarter less
CPU per job (3.4 vs 4.4 CPU-s), which leaves the cores headroom for the
JVM.

Kernel (`mosaic_split`): one array pass per split, no loop over plots.
Plot keys get group codes in sorted key order (np.lexsort), and
duplicate keys are averaged with np.add.at from each key's first row.
Every (plot, row, col) gets its flat pixel index row*width+col, in
plot-major order, masked to the raster. Weighted modes scatter-add with
np.bincount (per channel, plus one for the weights); np.bincount adds in
input order, so each pixel sums its plots in key order, bit for bit as a
per-plot loop would. `none` keeps the last plot per pixel and `any` the
first (np.unique on the reversed / forward pixel indices). The tensors
are read as one flat array and cut into pred_h*pred_w*pred_c values per
plot, so a null or odd-sized tensor raises instead of shifting the plots
after it.

`write_rasters` writes the rows in one job described as
`geeflow.operators.raster_export.write` and observes the rasters written
per zone on it (`cli rasters` prints them).

The mosaic function itself (`export_utils.get_numpy_data`) is ABSENT from
the open-source reference - behavior re-derived from its call site
(export_rasters.py:318-368):
  - duplicate plot keys (xp, yp, dx, dy) are grouped into lists
    (:318-322) -> contributions of duplicates are averaged;
  - raster covers the split slice [x_splits[xs], x_splits[xs+1]) x
    [y_splits[ys], y_splits[ys+1]) at cell_size, geotransform
    (x_lo, cell, 0, y_lo, 0, +cell) (:333-342) - y axis UP;
  - plot placement math identical to the assignment overlap test
    (:264-277): x_start = xp + dx*cell - plot_size//2,
    y_end = yp - dy*cell + plot_size//2;
  - border_mode in {none, uniform_avg, l2_dist_avg, l1_border_dist_avg,
    any} (:70-73) aggregates overlapping pixels: `none` = the last plot
    in sorted key order wins, `any` = the first plot in that order wins,
    `uniform_avg` = unweighted mean, `l2_dist_avg` = mean weighted by
    1/(1+distance from plot center), `l1_border_dist_avg` = mean
    weighted by (1 + L1 distance to the plot border);
  - post-ops (:78-85): normalize across last dim, clip, discretization
    (round(x * factor)), optional argmax channel (+ shift);
  - fully-masked rasters are dropped (:368).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (ArrayType, DoubleType, FloatType,
                               IntegerType, StringType, StructField,
                               StructType)

from geeflow_spark.operators.tiles import get_split_boundaries
from geeflow_spark.session import job_description

WRITE_JOB_DESCRIPTION = "geeflow.operators.raster_export.write"
BORDER_MODES = ("none", "uniform_avg", "l2_dist_avg",
                "l1_border_dist_avg", "any")
_SPLIT_KEYS = ("utm_zone", "xs", "ys")
_PLOT_KEYS = ("utm_x", "utm_y", "dx", "dy")

_OUT_SCHEMA = StructType([
    StructField("utm_zone", StringType()),
    StructField("xs", IntegerType()),
    StructField("ys", IntegerType()),
    StructField("geotransform", ArrayType(DoubleType())),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("raster", ArrayType(FloatType())),
    StructField("mask", ArrayType(IntegerType())),
])


def _plot_weights(h: int, w: int, mode: str) -> np.ndarray:
    if mode == "uniform_avg":
        return np.ones((h, w))
    yy, xx = np.mgrid[0:h, 0:w]
    if mode == "l2_dist_avg":
        cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
        d = np.sqrt((yy - cy) ** 2 + (xx - cx) ** 2)
        return 1.0 / (1.0 + d)
    if mode == "l1_border_dist_avg":
        d = np.minimum(np.minimum(yy, h - 1 - yy),
                       np.minimum(xx, w - 1 - xx))
        return 1.0 + d
    return np.ones((h, w))


def _group_codes(keys: list) -> np.ndarray:
    """Per row, the rank of its key tuple among the distinct ones in
    sorted order (pandas `groupby(sort=True).ngroup()`)."""
    order = np.lexsort(keys[::-1])
    new = np.zeros(len(order), dtype=bool)
    for k in keys:
        ks = k[order]
        new[1:] |= ks[1:] != ks[:-1]
    codes = np.empty(len(order), dtype=np.int64)
    codes[order] = np.cumsum(new)
    return codes


def mosaic_split(plots: pa.Table, *, x_lo: float, x_hi: float,
                 y_lo: float, y_hi: float, cell_size: float,
                 plot_size_m: float, pred_h: int, pred_w: int, pred_c: int,
                 border_mode: str = "uniform_avg", normalize: bool = False,
                 clip_min: float | None = None,
                 clip_max: float | None = None,
                 discretization_factor: int | None = None,
                 add_argmax: bool = False, shift_argmax: int = 0,
                 name: str = "split"):
    """One split's plots (an Arrow table of _PLOT_KEYS + `tensor`, a list
    of pred_h*pred_w*pred_c values per row) -> (raster (H,W,C), mask
    (H,W)). Pure numpy; `name` labels the split in errors."""
    height = int(round((y_hi - y_lo) / cell_size))
    width = int(round((x_hi - x_lo) / cell_size))
    # Guard against accidental multi-GB rasters: the caller controls
    # num_splits exactly so each split raster fits in executor memory
    # (the reference's num_splits flag exists for the same reason,
    # export_rasters.py:91-94 "performance optimization and to avoid
    # OOMs").
    if height * width > 64_000_000:
        raise ValueError(
            f"{name}: raster {height}x{width} too large; increase "
            f"num_splits or cell_size")
    # The flat values are cut into equal tensors, so one null or odd-sized
    # tensor would shift every later plot's pixels.
    size = pred_h * pred_w * pred_c
    tensors = plots.column("tensor").combine_chunks()
    if (tensors.null_count
            or (tensors.value_lengths().to_numpy() != size).any()):
        raise ValueError(f"{name}: every tensor must hold {pred_h}x"
                         f"{pred_w}x{pred_c} = {size} values")
    n_px = height * width
    acc = np.zeros((n_px, pred_c))
    wacc = np.zeros(n_px)
    half = plot_size_m // 2

    # Duplicate plot keys averaged first (export_rasters.py:318-322),
    # in sorted key order. Each key's sum starts at its first row and
    # adds the others in row order, as np.mean over the group does
    # (np.add.reduceat would sum in another order).
    keys = [plots.column(k).to_numpy() for k in _PLOT_KEYS]
    codes = _group_codes(keys)
    _, first = np.unique(codes, return_index=True)
    vals = tensors.flatten().to_numpy(zero_copy_only=False)
    vals = vals.astype(np.float64).reshape(-1, pred_h, pred_w, pred_c)
    t = vals[first]
    rest = np.ones(len(codes), dtype=bool)
    rest[first] = False
    np.add.at(t, codes[rest], vals[rest])
    t /= np.bincount(codes)[:, None, None, None]
    xp, yp, dx, dy = (k[first] for k in keys)
    x_start = xp + dx * cell_size - half
    y_end = yp - dy * cell_size + half
    y_start = y_end - pred_h * cell_size
    # Raster row 0 at y_lo (y axis UP, geotransform +cell :335-342);
    # tensor row 0 is the TOP of the plot (y_end side).
    col0 = np.round((x_start - x_lo) / cell_size).astype(np.int64)
    row0 = np.round((y_start - y_lo) / cell_size).astype(np.int64)
    rr = row0[:, None, None] + np.arange(pred_h - 1, -1, -1)[:, None]
    cc = col0[:, None, None] + np.arange(pred_w)
    rr, cc = np.broadcast_arrays(rr, cc)
    # Every (plot, row, col) in plot-major order, so each pixel sees
    # its plots in key order.
    inside = ((rr >= 0) & (rr < height) & (cc >= 0) & (cc < width))
    pix = (rr * width + cc)[inside]
    if border_mode in ("none", "any"):
        src = t[inside]
        # `none`: the last plot covering a pixel wins; `any`: the first.
        if border_mode == "none":
            px, last = np.unique(pix[::-1], return_index=True)
            take = len(pix) - 1 - last
        else:
            px, take = np.unique(pix, return_index=True)
        acc[px] = src[take]
        wacc[px] = 1.0
    else:
        w = np.broadcast_to(_plot_weights(pred_h, pred_w, border_mode),
                            rr.shape)
        wts = w[inside]
        src = t[inside] * wts[:, None]
        for ch in range(pred_c):
            acc[:, ch] = np.bincount(pix, weights=src[:, ch],
                                     minlength=n_px)
        wacc = np.bincount(pix, weights=wts, minlength=n_px)
    acc = acc.reshape(height, width, pred_c)
    wacc = wacc.reshape(height, width)

    mask = wacc > 0
    out = np.zeros_like(acc)
    if border_mode in ("none", "any"):
        out[mask] = acc[mask]
    else:
        out[mask] = acc[mask] / wacc[mask][:, None]

    if normalize:
        s = out.sum(axis=-1, keepdims=True)
        np.divide(out, s, out=out, where=s != 0)
    if clip_min is not None or clip_max is not None:
        out = np.clip(out, clip_min, clip_max)
    if discretization_factor:
        out = np.round(out * discretization_factor)
    if add_argmax:
        am = out.argmax(axis=-1)[..., None].astype(np.float64) + shift_argmax
        out = np.concatenate([out, am], axis=-1)
    return out, mask


def mosaic_assigned_tiles(assigned: DataFrame, *, zone_bboxes: dict,
                          cell_size: float = 10.0,
                          plot_size_m: float = 960.0, num_splits: int = 4,
                          pred_h: int = 4, pred_w: int = 4, pred_c: int = 2,
                          border_mode: str = "uniform_avg",
                          **post_ops) -> DataFrame:
    """assigned(utm_zone, xs, ys, utm_x, utm_y, dx, dy, tensor) ->
    one raster row per (utm_zone, xs, ys); empty (fully-masked) splits
    dropped (export_rasters.py:368)."""
    if border_mode not in BORDER_MODES:
        raise ValueError(f"unknown border_mode {border_mode}")
    bounds = {z: get_split_boundaries(*bb, plot_size_m, num_splits)
              for z, bb in zone_bboxes.items()}

    schema = to_arrow_schema(_OUT_SCHEMA)

    def _list(values, field):
        """One list cell over `values`, no copy."""
        return pa.ListArray.from_arrays(
            pa.array([0, len(values)], pa.int32()), pa.array(values),
            type=schema.field(field).type)

    def _one(key, table):
        zone, xs, ys = (k.as_py() for k in key)
        xsb, ysb = bounds[zone]
        x_lo, x_hi = xsb[xs], xsb[xs + 1]
        y_lo, y_hi = ysb[ys], ysb[ys + 1]
        out, mask = mosaic_split(
            table, x_lo=x_lo, x_hi=x_hi, y_lo=y_lo, y_hi=y_hi,
            cell_size=cell_size, plot_size_m=plot_size_m, pred_h=pred_h,
            pred_w=pred_w, pred_c=pred_c, border_mode=border_mode,
            name=f"split {zone!r} xs={xs} ys={ys}", **post_ops)
        if not mask.any():
            return schema.empty_table()
        gt = [float(x_lo), cell_size, 0.0, float(y_lo), 0.0, cell_size]
        return pa.Table.from_arrays([
            pa.array([zone], pa.string()),
            pa.array([xs], pa.int32()), pa.array([ys], pa.int32()),
            _list(np.array(gt), "geotransform"),
            *(pa.array([n], pa.int32()) for n in out.shape),
            _list(out.astype(np.float32).ravel(), "raster"),
            _list(mask.astype(np.int32).ravel(), "mask"),
        ], schema=schema)

    # One hash partition per split, capped at one per two cores (see the
    # module docstring): the plots shuffle is small, and AQE would
    # coalesce an implicit groupBy exchange into one task. groupBy reuses
    # this exchange.
    n_tiles = len(zone_bboxes) * num_splits ** 2
    cores = assigned.sparkSession.sparkContext.defaultParallelism
    n_parts = min(n_tiles, max(1, cores // 2))
    return (assigned.select(*_SPLIT_KEYS, *_PLOT_KEYS, "tensor")
            .repartition(n_parts, *_SPLIT_KEYS)
            .groupBy(*_SPLIT_KEYS)
            .applyInArrow(_one, _OUT_SCHEMA))


def write_rasters(rasters: DataFrame, out: str, zones: list) -> dict:
    """Writes `mosaic_assigned_tiles` rows to parquet at `out` in one
    Spark job, described as WRITE_JOB_DESCRIPTION; returns the rasters
    written per zone, observed on that job."""
    obs = Observation()
    counts = [F.count(F.when(F.col("utm_zone") == z, 1)).alias(f"n_{i}")
              for i, z in enumerate(zones)]
    with job_description(rasters.sparkSession, WRITE_JOB_DESCRIPTION):
        rasters.observe(obs, *counts).write.mode("overwrite").parquet(out)
    got = obs.get
    return {z: got[f"n_{i}"] for i, z in enumerate(zones)}
