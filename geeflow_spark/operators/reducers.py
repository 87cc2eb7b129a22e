"""Temporal reducers over time-stamped raster scenes.

Spark-native forms of the reference's ImageCollection reducers
(/root/reference/geeflow/ee_algo.py:246-331 `get_ic_reduce_fn`):
mosaic / qualityMosaic / mean / median / max / min / mode / first, plus
the date-range sampler (ee_algo.py:394-428 `ic_sample_date_ranges`) with
its exact midpoint timestamp formula `int(start.ts + end.ts) // 2 * 1000`
(ee_algo.py:421).

Input model: scenes(cell long, ts long(ms), B<i> array<float>,
mask array<tinyint>) - one row per (footprint cell, timestep), pixel
patches as flat arrays (FIXTURES.md §4). Per-pixel reductions are
expressed with Spark higher-order array functions (zip_with / transform /
aggregate) so everything stays JVM-side; only `median`/`mode` drop into a
grouped pandas UDF (exact per-pixel order statistics).

Ordering contract: "mosaic" = newest-on-top first-non-masked composite; we
pin the total order ts DESC, scene_id DESC (EE stacks later images on top,
ee_algo.py:253-254 + W5 note in SURVEY §2.5).
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_UTC = _dt.timezone.utc


def _month_add(d: _dt.datetime, months: int, days: int) -> _dt.datetime:
    """Calendar-exact month/day addition (relativedelta semantics for the
    positive month/day increments the reference uses, times.py:79-99)."""
    m = d.month - 1 + months
    y = d.year + m // 12
    m = m % 12 + 1
    # clamp day to month end (relativedelta behavior)
    last = [31, 29 if y % 4 == 0 and (y % 100 != 0 or y % 400 == 0) else 28,
            31, 30, 31, 30, 31, 31, 30, 31, 30, 31][m - 1]
    d2 = d.replace(year=y, month=m, day=min(d.day, last))
    return d2 + _dt.timedelta(days=days)


def date_ranges(start: str, n: int, months: int = 0, months_skip: int = 0,
                days: int = 0) -> list[tuple[str, int, int]]:
    """times.get_date_ranges semantics (times.py:93-99): n range starts at
    `months+months_skip` cadence, each spanning (months, days)."""
    assert months or months_skip or days
    d0 = _dt.datetime.strptime(start, "%Y-%m-%d").replace(tzinfo=_UTC)
    out = []
    for i in range(n):
        di = _month_add(d0, i * (months + months_skip), i * days)
        out.append((di.strftime("%Y-%m-%d"), months, days))
    return out


def range_bounds_ms(date_range: tuple[str, int, int]) -> tuple[int, int, int]:
    """(start_ms, end_ms, mid_ts_ms) for one (start, months, days) range.

    mid uses the reference's exact integer formula
    `int(start.timestamp() + end.timestamp()) // 2 * 1000`
    (ee_algo.py:417-421) - calendar-month arithmetic, not fixed duration.
    """
    start_s, months, days = date_range
    start = _dt.datetime.strptime(start_s, "%Y-%m-%d").replace(tzinfo=_UTC)
    end = _month_add(start, months, days)
    ts = int(start.timestamp() + end.timestamp()) // 2 * 1000
    return int(start.timestamp() * 1000), int(end.timestamp() * 1000), ts


def _masked(b, m):
    """NULL out masked pixels so aggregation ignores them."""
    return F.zip_with(b, m, lambda x, mm: F.when(mm > 0, x))


def reduce_scenes(scenes: DataFrame, band_cols: list[str],
                  reducer: str = "mosaic",
                  key_cols: list[str] = ("cell",),
                  mask_col: str = "mask",
                  max_scenes: int | None = None,
                  quality_band: str | None = None) -> DataFrame:
    """GroupBy key_cols, reduce each band array per pixel across scenes.

    Returns one row per key with `B<i>` reduced arrays and `valid` count
    array. Scenes in a group must share patch shape.

    `reducer="qualityMosaic"` (ee_algo.py:255-256 / EE qualityMosaic):
    per-pixel argmax composite - every band takes its value from the
    scene whose `quality_band` pixel is maximal among unmasked scenes.
    Tie order pinned to (quality, ts, scene_id) ascending-max, i.e.
    the LATER scene wins ties - consistent with EE's later-on-top
    mosaic stacking and deterministic across shuffles.
    """
    key_cols = list(key_cols)

    if reducer == "qualityMosaic":
        if quality_band is None or quality_band not in band_cols:
            raise ValueError(
                "qualityMosaic needs quality_band in band_cols, got "
                f"{quality_band!r} vs {band_cols}")
        # Explode to pixel rows; per (key, px) one max_by aggregation
        # with NULL ordering for masked pixels (max_by skips them).
        # Partial (map-side) aggregation applies - no full-group buffer.
        order_fields = [F.col(f"z.{quality_band}")]
        if "ts" in scenes.columns:
            order_fields.append(F.col("ts"))
        if "scene_id" in scenes.columns:
            order_fields.append(F.col("scene_id"))
        exploded = scenes.select(
            *key_cols,
            *[c for c in ("ts", "scene_id") if c in scenes.columns],
            F.posexplode(
                F.arrays_zip(*[F.col(b) for b in band_cols],
                             F.col(mask_col))).alias("px", "z"))
        ord_col = F.when(F.col(f"z.{mask_col}") > 0,
                         F.struct(*order_fields))
        aggs = [F.max_by(F.col(f"z.{b}"), ord_col).cast("float").alias(b)
                for b in band_cols]
        aggs.append(F.count(F.when(F.col(f"z.{mask_col}") > 0, 1))
                    .alias("valid"))
        per_px = exploded.groupBy(*key_cols, "px").agg(*aggs)
        s = F.sort_array(F.collect_list(F.struct(
            F.col("px"), *[F.col(b) for b in band_cols], F.col("valid"))))
        out = per_px.groupBy(*key_cols).agg(s.alias("_s"))
        sel = [F.col("_s")[b].alias(b) for b in band_cols] + \
              [F.col("_s")["valid"].alias("valid")]
        return out.select(*key_cols, *sel)

    if reducer in ("mosaic", "first"):
        # Order-safe: collect (order-key, bands, mask) structs, sort_array
        # (explicit total order - collect_list alone is NOT order-stable
        # across shuffles), then fold first-non-null per pixel.
        # Memory contract: the whole group is buffered in one aggregation
        # state (T x P floats). `max_scenes` bounds that buffer by
        # pre-ranking scenes in the SAME fold order and keeping the top K
        # - identical output whenever any pixel is non-null within the
        # first K scenes (at K=64 a pixel null in 64 consecutive scenes
        # is mask-degenerate; semantics deviation is only the fill of
        # such pixels).
        if max_scenes is not None:
            # EXACT same total order as _ordered_first_nonnull's fold
            # ((ts*sign, crc32(scene_id)*sign) ascending), so the kept
            # prefix is the fold's first K scenes.
            sign = -1 if reducer == "mosaic" else 1
            tie = (F.crc32(F.col("scene_id").cast("binary")) * sign
                   if "scene_id" in scenes.columns else F.lit(0))
            w = Window.partitionBy(*key_cols).orderBy(
                (F.col("ts") * sign).asc(), tie.asc())
            scenes = scenes.withColumn("_rn", F.row_number().over(w)) \
                .filter(F.col("_rn") <= max_scenes).drop("_rn")
        return _ordered_first_nonnull(scenes, band_cols, key_cols, mask_col,
                                      newest_first=(reducer == "mosaic"))

    agg_map = {"mean": "avg", "max": "max", "min": "min"}
    if reducer in agg_map:
        fn = agg_map[reducer]
        exploded = scenes.select(
            *key_cols,
            F.posexplode(
                F.arrays_zip(*[F.col(b) for b in band_cols],
                             F.col(mask_col))).alias("px", "z"))
        cols = [F.when(F.col(f"z.{mask_col}") > 0, F.col(f"z.{b}"))
                 .alias(b) for b in band_cols]
        exploded = exploded.select(*key_cols, "px", *cols)
        aggs = [getattr(F, fn)(F.col(b)).cast("float").alias(b)
                for b in band_cols]
        aggs.append(F.count(band_cols[0]).alias("valid"))
        per_px = exploded.groupBy(*key_cols, "px").agg(*aggs)
        # reassemble arrays in pixel order
        s = F.sort_array(F.collect_list(F.struct(
            F.col("px"), *[F.col(b) for b in band_cols], F.col("valid"))))
        out = per_px.groupBy(*key_cols).agg(s.alias("_s"))
        sel = [F.col("_s")[b].alias(b) for b in band_cols] + \
              [F.col("_s")["valid"].alias("valid")]
        return out.select(*key_cols, *sel)

    if reducer in ("median", "mode"):
        return _grouped_pandas_reduce(scenes, band_cols, key_cols, mask_col,
                                      reducer)
    raise ValueError(f"Unrecognized reducer name `{reducer}`")


def _ordered_first_nonnull(scenes: DataFrame, band_cols, key_cols, mask_col,
                           newest_first: bool) -> DataFrame:
    sign = -1 if newest_first else 1
    # Total order: ts (desc for mosaic), ties broken by crc32(scene_id) -
    # deterministic across shuffles and retries.
    tie = (F.crc32(F.col("scene_id").cast("binary")) * sign
           if "scene_id" in scenes.columns else F.lit(0))
    struct = F.struct((F.col("ts") * sign).alias("_o"), tie.alias("_o2"),
                      *[F.col(b) for b in band_cols], F.col(mask_col))
    g = scenes.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(struct)).alias("_imgs"))
    # fold: per pixel take first scene with mask>0
    sel = []
    for b in band_cols:
        first_valid = F.aggregate(
            F.col("_imgs"),
            F.expr("CAST(NULL AS ARRAY<FLOAT>)"),
            lambda acc, img: F.when(acc.isNull(), _masked(img[b], img[mask_col]))
            .otherwise(F.zip_with(acc, _masked(img[b], img[mask_col]),
                                  lambda a, x: F.coalesce(a, x))))
        sel.append(first_valid.alias(b))
    valid = F.aggregate(
        F.col("_imgs"), F.expr("CAST(NULL AS ARRAY<INT>)"),
        lambda acc, img: F.when(acc.isNull(),
                                F.transform(img[mask_col],
                                            lambda m: (m > 0).cast("int")))
        .otherwise(F.zip_with(acc, img[mask_col],
                              lambda a, m: a + (m > 0).cast("int"))))
    return g.select(*key_cols, *sel, valid.alias("valid"))


def _grouped_pandas_reduce(scenes: DataFrame, band_cols, key_cols, mask_col,
                           reducer: str) -> DataFrame:
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   StructField, StructType)
    key_fields = [scenes.schema[k] for k in key_cols]
    schema = StructType(
        key_fields +
        [StructField(b, ArrayType(FloatType())) for b in band_cols] +
        [StructField("valid", ArrayType(IntegerType()))])

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        masks = np.stack(pdf[mask_col].to_numpy())  # (T, P)
        row = {k: [pdf[k].iloc[0]] for k in key_cols}
        valid = (masks > 0)
        for b in band_cols:
            arr = np.stack(pdf[b].to_numpy()).astype(np.float64)  # (T, P)
            marr = np.where(valid, arr, np.nan)
            with np.errstate(all="ignore"):
                if reducer == "median":
                    vals = np.nanmedian(marr, axis=0)
                else:  # mode: smallest most-frequent valid value
                    vals = np.zeros(arr.shape[1])
                    for p in range(arr.shape[1]):
                        col = marr[:, p]
                        col = col[~np.isnan(col)]
                        if len(col):
                            vs, cnts = np.unique(col, return_counts=True)
                            vals[p] = vs[np.argmax(cnts)]
                        else:
                            vals[p] = np.nan
            row[b] = [np.nan_to_num(vals).astype(np.float32).tolist()]
        row["valid"] = [valid.sum(axis=0).astype(np.int32).tolist()]
        return pd.DataFrame(row)

    return scenes.groupBy(*key_cols).applyInPandas(_reduce, schema)


def sample_date_ranges(scenes: DataFrame, band_cols: list[str],
                       ranges: list[tuple[str, int, int]],
                       reducer: str = "mosaic",
                       key_cols: list[str] = ("cell",),
                       limit: int | None = None,
                       quality_band: str | None = None) -> DataFrame:
    """ic_sample_date_ranges: per range, filter [start, end) and reduce;
    output one row per (key, range) with the midpoint `timestamps` column
    (ee_algo.py:394-428)."""
    outs = []
    for dr in ranges:
        start_ms, end_ms, mid = range_bounds_ms(dr)
        sub = scenes.filter((F.col("ts") >= start_ms) &
                            (F.col("ts") < end_ms))
        if limit:
            w = Window.partitionBy(*key_cols).orderBy(F.col("ts").desc())
            sub = sub.withColumn("_rn", F.row_number().over(w)) \
                     .filter(F.col("_rn") <= limit).drop("_rn")
        red = reduce_scenes(sub, band_cols, reducer, key_cols,
                            quality_band=quality_band)
        outs.append(red.withColumn("timestamps", F.lit(mid)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
