"""Raster <-> vector tile assignment: plots -> UTM-zone split tiles.

Spark-native re-expression of the reference's export_rasters pipeline
(/root/reference/geeflow/export_rasters.py:221-289 `read_and_split_data`),
the path BASELINE.json requires to match row-for-row:

  - predictions join cells_metadata on `id` (export_rasters.py:207)
  - per-zone split boundaries x_splits/y_splits (num_splits+1 monotone UTM
    coords; the reference's `export_utils.get_info` is absent from the
    open-source release - re-derived here, see `get_split_boundaries`)
  - home split: first boundary strictly greater than the coord, minus one
    (export_rasters.py:255-256)
  - plot extent:   x in [utm_x + dx*cell - plot_size//2, start + W*cell)
                   y in [y_end - H*cell, utm_y - dy*cell + plot_size//2)
    (export_rasters.py:264-277; note the floor-div `plot_size_m // 2` and
    the inverted y axis)
  - a plot is assigned to every overlapping split in the 3x3 neighborhood
    of its home split, clamped to [0, num_splits)
    (export_rasters.py:261-282), and must get >= 1 assignment (:287)

The plan is built from SQL text - one `where` and a few `selectExpr`,
with the boundaries as exact double literals - so it costs a handful of
py4j calls rather than one per column builder. The home split is one
array filter per row, the candidates two explodes of (h-1, h, h+1) with
plain range and overlap predicates: whole-stage-codegen friendly, no
Python in the row path. The grouping key for downstream mosaicking is
(utm_zone, xs, ys), exactly the reference's GroupByKey key
(export_rasters.py:494).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame


def get_split_boundaries(utm_x_min: float, utm_y_min: float,
                         utm_x_max: float, utm_y_max: float,
                         plot_size_m: float,
                         num_splits: int) -> tuple[list[float], list[float]]:
    """Monotone split boundary arrays (len num_splits+1) for a zone bbox.

    Re-derivation of the missing `export_utils.get_info`: the constraints
    recoverable from its call sites (export_rasters.py:239-256, 287) are
      (a) len == num_splits + 1, strictly increasing;
      (b) for every plot anchor inside the zone, some boundary is strictly
          greater than the coordinate (home-split lookup never raises);
      (c) every plot overlaps >= 1 split interval (the :287 assert), even
          with the +-1-cell dy/dx jitter and plot_size//2 extension.
    We take uniform interior boundaries over the bbox and pad the two outer
    boundaries by plot_size_m so border plots always land inside.
    """
    def axis(lo: float, hi: float) -> list[float]:
        b = np.linspace(lo, hi, num_splits + 1)
        b[0] = lo - plot_size_m
        b[-1] = hi + plot_size_m
        return [float(v) for v in b]

    return axis(utm_x_min, utm_x_max), axis(utm_y_min, utm_y_max)


def _ident(name: str) -> str:
    """`name` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _str(value: str) -> str:
    """`value` as a single-quoted SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _double(value: float) -> str:
    """`value` as an exact SQL double literal (repr round-trips)."""
    return f"{float(value)!r}D"


def _doubles(values) -> str:
    return "array(" + ", ".join(map(_double, values)) + ")"


def assign_tiles(plots: DataFrame, *, zone_bboxes: dict,
                 cell_size: float = 10.0, plot_size_m: float = 960.0,
                 num_splits: int = 4, pred_h: int = 4,
                 pred_w: int = 4) -> DataFrame:
    """plots(id, utm_x, utm_y, dx, dy, utm_zone, ...) -> one row per
    (plot, assigned split tile), columns + (xs int, ys int).

    `zone_bboxes`: {utm_zone: (x_min, y_min, x_max, y_max)} - the zone
    worklist, small, embedded as literals (the reference reads it on the
    master, export_rasters.py:97-101).
    """
    x_map, y_map = [], []
    for zone, (x0, y0, x1, y1) in zone_bboxes.items():
        xsb, ysb = get_split_boundaries(x0, y0, x1, y1, plot_size_m,
                                        num_splits)
        x_map += [_str(zone), _doubles(xsb)]
        y_map += [_str(zone), _doubles(ysb)]

    # Per-zone boundaries come from literal maps keyed by zone, with the
    # inner-join semantics of the zone worklist (unlisted or null zones
    # dropped). A joined table of the worklist would be built from Python
    # rows: one more Spark job per query, run in Python workers.
    def bounds(kv):
        return (f"CAST(map({', '.join(kv)}) AS map<string,array<double>>)"
                "[`utm_zone`]")

    cols = ["`utm_zone`"] + [_ident(c) for c in plots.columns
                             if c != "utm_zone"]
    zones = ", ".join(map(_str, zone_bboxes))
    df = plots.where(f"`utm_zone` IN ({zones})" if zones else "false") \
        .selectExpr(*cols, f"{bounds(x_map)} AS x_splits",
                    f"{bounds(y_map)} AS y_splits")

    # Home split: (first index with boundary > coord) - 1
    # (export_rasters.py:255-256), once per row. With uniform interior
    # boundaries this is closed-form; the array filter stays faithful to
    # ANY boundary layout.
    df = df.selectExpr(
        *cols, "x_splits", "y_splits",
        "size(filter(x_splits, b -> b <= `utm_x`)) - 1 AS _x_home",
        "size(filter(y_splits, b -> b <= `utm_y`)) - 1 AS _y_home")

    # Plot extent; `plot_size_m // 2` keeps the reference's floor-div.
    cell, half = _double(cell_size), _double(plot_size_m // 2)
    x_start = f"((`utm_x` + (`dx` * {cell})) - {half})"
    x_stop = f"({x_start} + {_double(pred_w * cell_size)})"
    y_end = f"((`utm_y` - (`dy` * {cell})) + {half})"
    y_start = f"({y_end} - {_double(pred_h * cell_size)})"

    # 3x3 candidate splits around home, clamped (export_rasters.py:261-262),
    # then the interval overlap, half-open exactly as the reference's slice
    # test (export_rasters.py:268-282): skip iff stop <= lo or start >= hi.
    df = df.selectExpr(
        *cols, "x_splits", "y_splits", "_y_home",
        "explode(array(_x_home - 1, _x_home, _x_home + 1)) AS xs") \
        .where(f"xs >= 0 AND xs < {int(num_splits)}") \
        .selectExpr(
            *cols, "x_splits", "y_splits", "xs",
            "explode(array(_y_home - 1, _y_home, _y_home + 1)) AS ys") \
        .where(f"ys >= 0 AND ys < {int(num_splits)} AND NOT ("
               f"{x_stop} <= element_at(x_splits, xs + 1) OR "
               f"{x_start} >= element_at(x_splits, xs + 2) OR "
               f"{y_end} <= element_at(y_splits, ys + 1) OR "
               f"{y_start} >= element_at(y_splits, ys + 2))")
    return df.selectExpr(*cols, "xs", "ys")
