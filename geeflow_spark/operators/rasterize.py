"""fc_to_image: rasterize polygon features onto per-example UTM pixel grids.

Spark-native re-expression of the reference's vector->raster join
(/root/reference/geeflow/ee_algo.py:140-186): for each pixel of an ROI's
HxW UTM grid, reduce the properties of the features covering that pixel
with one of {first, firstNonNull, mode, max} (ee_algo.py:232-243), after
an optional class_name -> int remap with drop-missing semantics
(ee_algo.py:176-183) and the GEEFLOW_INTERNAL_EXISTS == 1 flag channel
(ee_algo.py:35, 173-174).

Shape: one input row per example ROI; output adds a flattened HxW int/float
band plus a mask band. Executed as an Arrow-batched pandas UDF: the pixel
grid is a numpy meshgrid, containment is the vectorized ray-casting kernel,
and the per-pixel reduction is a numpy argmin/argmax - the entire example
is one batch element, features are broadcast in the closure (small side,
per BASELINE.json north_star).

Determinism: "first" = lowest region_id (feature insertion order), pinned
explicitly because the reference's server-side ordering is undocumented.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType, IntegerType, StructField, StructType

from geeflow_spark.functions import geometry

FEATURE_EXISTS_INTEGER_KEY = "GEEFLOW_INTERNAL_EXISTS"

_OUT_SCHEMA = StructType([
    StructField("values", ArrayType(FloatType())),
    StructField("mask", ArrayType(IntegerType())),
])


def _pixel_centers(x_min: float, y_min: float, cell: float, width: int,
                   height: int) -> tuple[np.ndarray, np.ndarray]:
    """Pixel-center coordinates of the HxW grid, row-major with row 0 at the
    TOP (y axis points down, matching the reference's CRS affine
    coords.py:111-120)."""
    xs = x_min + (np.arange(width) + 0.5) * cell
    ys = y_min + cell * height - (np.arange(height) + 0.5) * cell
    gx, gy = np.meshgrid(xs, ys)  # (H, W)
    return gx.ravel(), gy.ravel()


def _reduce_pixels(px: np.ndarray, py: np.ndarray, rings: list,
                   values: np.ndarray, reducer: str
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Per-pixel reduction of the `values` of the rings covering each
    pixel center -> (float values, 0 where no ring covers; bool mask).
    `rings`/`values` are in `first` order; there may be none."""
    if not rings:
        return np.zeros(len(px)), np.zeros(len(px), dtype=bool)
    contain = geometry.points_in_polygon_batch(px, py, rings)
    any_hit = contain.any(axis=1)
    if reducer in ("first", "firstNonNull"):
        # Lowest order wins; argmax returns first True.
        vals = values[np.argmax(contain, axis=1)]
    elif reducer == "max":
        vals = np.where(contain, values[None, :], -np.inf).max(axis=1)
    else:  # mode: most frequent covering value; ties -> smaller
        vals = np.zeros(len(px))
        for p in np.nonzero(any_hit)[0]:
            vs, cnts = np.unique(values[contain[p]], return_counts=True)
            vals[p] = vs[np.argmax(cnts)]
    return np.where(any_hit, vals, 0.0), any_hit


def rasterize_fc(rois: DataFrame, regions: pd.DataFrame, prop: str,
                 *, reducer: str = "max",
                 class_names: list[str] | None = None,
                 drop_missing_classes: bool = True,
                 missing_class_value: int = -1,
                 ring_col: str = "ring", order_col: str = "region_id",
                 out_col: str = "raster") -> DataFrame:
    """rois(x_min, y_min, cell_size, width, height, ...) -> + raster struct.

    `prop` may be FEATURE_EXISTS_INTEGER_KEY for the 0/1 existence channel.
    Geometry space of rois and regions must agree (both UTM or both
    lon/lat planar).
    """
    if reducer not in ("first", "firstNonNull", "mode", "max"):
        raise ValueError(f"Reducer `{reducer}` not supported yet.")

    regs = regions.sort_values(order_col).reset_index(drop=True)
    if prop == FEATURE_EXISTS_INTEGER_KEY:
        values = np.ones(len(regs), dtype=np.float64)
    elif class_names is not None:
        dic = {c: i for i, c in enumerate(class_names)}
        raw = regs[prop]
        if drop_missing_classes:
            keep = raw.isin(class_names).to_numpy()
            regs = regs[keep].reset_index(drop=True)
            raw = regs[prop]
        values = np.array([dic.get(v, missing_class_value) for v in raw],
                          dtype=np.float64)
    else:
        values = regs[prop].to_numpy(np.float64)
    rings = [np.asarray(r, dtype=np.float64) for r in regs[ring_col]]

    @pandas_udf(_OUT_SCHEMA)
    def _raster(x_min: pd.Series, y_min: pd.Series, cell: pd.Series,
                width: pd.Series, height: pd.Series) -> pd.DataFrame:
        out_v, out_m = [], []
        for i in range(len(x_min)):
            w, h = int(width.iloc[i]), int(height.iloc[i])
            px, py = _pixel_centers(float(x_min.iloc[i]),
                                    float(y_min.iloc[i]),
                                    float(cell.iloc[i]), w, h)
            vals, any_hit = _reduce_pixels(px, py, rings, values, reducer)
            out_v.append(vals.astype(np.float32).tolist())
            out_m.append(any_hit.astype(np.int32).tolist())
        return pd.DataFrame({"values": out_v, "mask": out_m})

    return rois.withColumn(
        out_col, _raster(F.col("x_min"), F.col("y_min"), F.col("cell_size"),
                         F.col("width"), F.col("height")))


def _region_values_col(regions_df: DataFrame, prop: str,
                       class_names: list[str] | None,
                       drop_missing_classes: bool,
                       missing_class_value: int) -> DataFrame:
    """Adds `_value` (double) per feature - same mapping rules as the
    broadcast path (exists flag / class remap + drop / raw property)."""
    if prop == FEATURE_EXISTS_INTEGER_KEY:
        return regions_df.withColumn("_value", F.lit(1.0))
    if class_names is not None:
        pairs = [x for c, i in ((c, i) for i, c in enumerate(class_names))
                 for x in (F.lit(c), F.lit(i))]
        mapped = F.element_at(F.create_map(*pairs), F.col(prop))
        out = regions_df.withColumn(
            "_value", F.coalesce(mapped.cast("double"),
                                 F.lit(float(missing_class_value))))
        if drop_missing_classes:
            out = out.filter(mapped.isNotNull())
        return out
    return regions_df.withColumn("_value", F.col(prop).cast("double"))


def rasterize_fc_distributed(rois: DataFrame, regions_df: DataFrame,
                             prop: str, *, grid: float,
                             reducer: str = "max",
                             class_names: list[str] | None = None,
                             drop_missing_classes: bool = True,
                             missing_class_value: int = -1,
                             ring_col: str = "ring",
                             order_col: str = "region_id",
                             out_col: str = "raster",
                             roi_id_col: str = "index") -> DataFrame:
    """fc_to_image for LARGE feature collections - no driver collect.

    Scale topology: both sides key to a planar `grid`-sized cell cover of
    their bboxes (ROI bbox cells expand JVM-side via sequence+explode;
    feature bbox cells via one mapInPandas), equi-join on the cell key
    (Catalyst picks SMJ/BHJ; AQE splits hot cells), dedupe (roi, region)
    pairs, then ONE applyInPandas per ROI rasterizes against only its
    candidate features. Identical output to `rasterize_fc` whenever
    `grid` covers are supersets (they are by construction); ROIs with no
    candidate features still emit an all-masked raster via left join.

    Pick `grid` ~ the typical ROI extent: smaller -> fewer candidate
    pairs, more cover cells per big feature.
    """
    if reducer not in ("first", "firstNonNull", "mode", "max"):
        raise ValueError(f"Reducer `{reducer}` not supported yet.")
    regs = _region_values_col(regions_df, prop, class_names,
                              drop_missing_classes, missing_class_value) \
        .select(F.col(order_col).alias("_ord"),
                F.col(ring_col).alias("_ring"), "_value")

    g = float(grid)

    def _cover_regions(it):
        for pdf in it:
            rows = {"_ord": [], "_ring": [], "_value": [], "_cell": []}
            for i in range(len(pdf)):
                ring = np.asarray(pdf["_ring"].iloc[i], dtype=np.float64)
                x0, y0, x1, y1 = geometry.polygon_bbox(ring)
                for cx in range(int(np.floor(x0 / g)),
                                int(np.floor(x1 / g)) + 1):
                    for cy in range(int(np.floor(y0 / g)),
                                    int(np.floor(y1 / g)) + 1):
                        rows["_ord"].append(pdf["_ord"].iloc[i])
                        rows["_ring"].append(pdf["_ring"].iloc[i])
                        rows["_value"].append(pdf["_value"].iloc[i])
                        rows["_cell"].append((cx << 32) ^ (cy & 0xFFFFFFFF))
            yield pd.DataFrame(rows)

    from pyspark.sql.types import DoubleType, LongType
    cover_schema = StructType([
        StructField("_ord", regs.schema["_ord"].dataType),
        StructField("_ring", regs.schema["_ring"].dataType),
        StructField("_value", DoubleType()),
        StructField("_cell", LongType()),
    ])
    reg_cov = regs.mapInPandas(_cover_regions, cover_schema)

    # ROI bbox cells, all JVM-side (bbox = grid-quantized extent).
    cx0 = F.floor(F.col("x_min") / g).cast("long")
    cx1 = F.floor((F.col("x_min")
                   + F.col("cell_size") * F.col("width")) / g).cast("long")
    cy0 = F.floor(F.col("y_min") / g).cast("long")
    cy1 = F.floor((F.col("y_min")
                   + F.col("cell_size") * F.col("height")) / g).cast("long")
    cell_key = F.expr("shiftleft(_cx, 32)").bitwiseXOR(
        F.expr("_cy & 4294967295"))
    roi_cells = (rois
                 .withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
                 .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
                 .withColumn("_cell", cell_key)
                 .drop("_cx", "_cy"))

    cand = (roi_cells.join(reg_cov, "_cell", "left").drop("_cell")
            .dropDuplicates([roi_id_col, "_ord"]))

    roi_fields = list(rois.schema.fields)
    out_schema = StructType(roi_fields + [StructField(out_col, _OUT_SCHEMA)])
    roi_cols = [f.name for f in roi_fields]

    def _raster_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = pdf[pdf["_ord"].notna()].sort_values("_ord")
        rings = [np.asarray(r, dtype=np.float64) for r in sub["_ring"]]
        values = sub["_value"].to_numpy(np.float64)
        r0 = pdf.iloc[0]
        w, h = int(r0["width"]), int(r0["height"])
        px, py = _pixel_centers(float(r0["x_min"]), float(r0["y_min"]),
                                float(r0["cell_size"]), w, h)
        vals, any_hit = _reduce_pixels(px, py, rings, values, reducer)
        out = {c: [r0[c]] for c in roi_cols}
        out[out_col] = [{"values": vals.astype(np.float32).tolist(),
                         "mask": any_hit.astype(np.int32).tolist()}]
        return pd.DataFrame(out)

    return cand.groupBy(roi_id_col).applyInPandas(_raster_group, out_schema)
