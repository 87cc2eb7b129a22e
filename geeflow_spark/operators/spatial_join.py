"""Cell-keyed spatial joins: points x polygon regions.

The Spark-native replacement for the reference's Earth-Engine-delegated
`filterBounds` spatial join (/root/reference/geeflow/ee_algo.py:56-58 for
image collections, :132 for feature collections) and the first-match
property lookup `fc_get` (ee_algo.py:129-137).

Strategy (BASELINE.json north_star):
  1. Encode the big point side to S2 cells at a chosen level via an
     Arrow-batched pandas UDF (JVM->Arrow->numpy, never per-row Python).
  2. Cover each polygon's bbox with cells at the same level (driver-side
     numpy for small sets; distributed mapInPandas for large sets).
  3. Equi-join on the cell key - broadcast hash join when the polygon
     side is small (no shuffle of the point side at all), sort-merge join
     on the cell key otherwise (AQE splits skewed cell partitions).
  4. Exact refine: vectorized ray-casting PIP inside a pandas UDF.

At 100 TB the broadcast path streams the document table through a single
stage: scan -> encode -> BHJ -> PIP filter, with zero shuffles until the
caller aggregates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, LongType

from geeflow_spark.functions import geometry, s2
from geeflow_spark.functions import hex as hexmod

# Index twins (north rule: S2 AND H3-style hex, selectable everywhere).
class _IndexMap(dict):
    def __missing__(self, k):
        raise KeyError(f"Unknown cell index `{k}`; have {sorted(self)}")


INDEXES = _IndexMap({"s2": s2, "hex": hexmod})


def s2_cell_udf(level: int, index: str = "s2"):
    """Returns a pandas UDF (lat, lon) -> cell id (as signed long) for
    the chosen index twin ("s2" | "hex")."""
    mod = INDEXES[index]

    @pandas_udf(LongType())
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        ids = mod.latlon_to_cell_id(lat.to_numpy(np.float64),
                                    lon.to_numpy(np.float64), level)
        return pd.Series(np.asarray(ids).astype(np.int64))

    return _enc


def with_cell(df: DataFrame, level: int, lat_col: str = "lat",
              lon_col: str = "lon", out_col: str = "cell",
              index: str = "s2") -> DataFrame:
    """Adds the cell-id column at `level` for the chosen index."""
    return df.withColumn(out_col, s2_cell_udf(level, index)(
        F.col(lat_col), F.col(lon_col)))


def region_rings(regions: pd.DataFrame, ring_col: str = "ring",
                 id_col: str = "region_id") -> dict:
    """{region id: flat float64 ring} of a small pandas region table."""
    return dict(zip(regions[id_col].to_numpy(np.int64).tolist(),
                    (np.asarray(r, dtype=np.float64)
                     for r in regions[ring_col])))


def region_covers_pdf(regions: pd.DataFrame, level: int,
                      ring_col: str = "ring",
                      id_col: str = "region_id",
                      index: str = "s2",
                      buffer_deg: float = 0.0) -> pd.DataFrame:
    """(cell, region_id) cover pairs for a small pandas region table.

    Cover = guaranteed superset of cells intersecting each polygon's bbox
    (see s2.cover_bbox), grown by `buffer_deg` when the join targets the
    buffered polygon; exact (buffered) PIP refines later. All regions'
    covers come from one `cover_bboxes` call (one S2 encode), in region
    order with each region's cells ascending.
    """
    grow = max(buffer_deg, 0.0)
    boxes = []
    for ring in regions[ring_col]:
        x0, y0, x1, y1 = geometry.polygon_bbox(
            np.asarray(ring, dtype=np.float64))
        boxes.append((y0 - grow, y1 + grow, x0 - grow, x1 + grow))
    cells, owner = INDEXES[index].cover_bboxes(boxes, level)
    return pd.DataFrame({
        "cell": cells.astype(np.int64),
        id_col: regions[id_col].to_numpy(np.int64)[owner],
    })


def pip_filter_udf(regions: pd.DataFrame, ring_col: str = "ring",
                   id_col: str = "region_id", buffer_deg: float = 0.0):
    """Pandas UDF (lat, lon, region_id) -> bool exact containment.

    With `buffer_deg` != 0 the test is Minkowski membership in the TRUE
    buffered (or eroded, negative) polygon - distance-to-boundary form,
    exact for non-convex rings (geometry.points_in_buffered_polygon;
    EE geometry.buffer analog, ee_data.py:1187-1196).

    The region table rides inside the closure (it is small / broadcast by
    task serialization); the test vectorizes per distinct region in the
    Arrow batch.
    """
    rings = region_rings(regions, ring_col, id_col)

    @pandas_udf(BooleanType())
    def _pip(lat: pd.Series, lon: pd.Series, rid: pd.Series) -> pd.Series:
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        rid_np = rid.to_numpy(np.int64)
        out = np.zeros(len(px), dtype=bool)
        for r in np.unique(rid_np):
            m = rid_np == r
            ring = rings.get(int(r))
            if ring is None:
                continue
            if buffer_deg:
                out[m] = geometry.points_in_buffered_polygon(
                    px[m], py[m], ring, buffer_deg)
            else:
                out[m] = geometry.points_in_polygon(px[m], py[m], ring)
        return pd.Series(out)

    return _pip


def join_points_regions(points: DataFrame, regions: pd.DataFrame,
                        level: int = 8, lat_col: str = "lat",
                        lon_col: str = "lon",
                        region_cols: tuple = ("region_id",),
                        how: str = "inner",
                        index: str = "s2",
                        buffer_deg: float = 0.0,
                        precomputed_cell: str | None = None) -> DataFrame:
    """Spatial inner/left join: point rows x containing regions.

    Broadcast path: candidate cells of all regions are broadcast; the
    point side never shuffles. Every matching (point, region) pair is
    returned (multiplicity preserved - `fc_get`-style first-match is a
    separate reducer, see `first_match`).

    `precomputed_cell`: name of an existing level-`level` cell column
    to use instead of re-encoding - the cell-clustered layout
    (plans/layout.py) stores the fine cell at write time precisely so
    reads don't pay the encode again (at 10^12 rows the read-time
    re-encode would dwarf the join).
    """
    spark = points.sparkSession
    covers = region_covers_pdf(regions, level, index=index,
                               buffer_deg=buffer_deg)
    covers_df = spark.createDataFrame(covers)
    keep = [c for c in regions.columns if c in region_cols and c != "region_id"]
    if keep:
        props = spark.createDataFrame(regions[["region_id"] + keep])
        covers_df = covers_df.join(F.broadcast(props), "region_id")

    if precomputed_cell is not None:
        pts = points.withColumnRenamed(precomputed_cell, "cell") \
            if precomputed_cell != "cell" else points
    else:
        pts = with_cell(points, level, lat_col, lon_col, index=index)
    cand = pts.join(F.broadcast(covers_df), "cell", "inner")
    refined = cand.filter(
        pip_filter_udf(regions, buffer_deg=buffer_deg)(
            F.col(lat_col), F.col(lon_col), F.col("region_id")))
    if how == "inner":
        return refined.drop("cell")
    if how == "left":
        matched = refined.drop("cell")
        return points.join(matched.select(*points.columns, "region_id",
                                          *keep),
                           on=points.columns, how="left")
    raise ValueError(f"unsupported how={how}")


def first_match(joined: DataFrame, key_cols: list[str],
                order_col: str = "region_id",
                payload_cols: list[str] | None = None) -> DataFrame:
    """fc_get semantics: keep the FIRST matching region per point.

    The reference leaves multiplicity explicitly unresolved and takes
    element [0] of the server's response (ee_algo.py:134-137); we pin the
    deterministic total order = ascending `order_col` (feature insertion
    order). Implemented as min(struct(order, payload)) so partial (map-
    side) aggregation handles it without a pre-sort.
    """
    payload_cols = payload_cols or []
    agg = F.min(F.struct(F.col(order_col), *[F.col(c) for c in payload_cols])
                ).alias("_first")
    out = joined.groupBy(*key_cols).agg(agg)
    sel = [F.col(f"_first.{order_col}").alias(order_col)] + [
        F.col(f"_first.{c}").alias(c) for c in payload_cols]
    return out.select(*key_cols, *sel)


def join_points_regions_smj(points: DataFrame, regions_df: DataFrame,
                            level: int = 8, lat_col: str = "lat",
                            lon_col: str = "lon",
                            ring_col: str = "ring",
                            index: str = "s2") -> DataFrame:
    """Sort-merge-join path for LARGE polygon sides.

    Both sides are keyed by cell: points encode, regions explode their
    covers via mapInPandas (distributed - no driver bottleneck). Catalyst
    plans an SMJ on the cell key; AQE splits skewed cell partitions.
    The polygon ring travels with the join row, so the exact PIP refine
    runs without any rebroadcast.
    """
    from pyspark.sql.types import StructField, StructType

    reg_schema = StructType(
        [f for f in regions_df.schema.fields] +
        [StructField("cell", LongType())])

    def _explode_covers(it):
        for pdf in it:
            out_rows = {c: [] for c in pdf.columns}
            out_cells = []
            for i in range(len(pdf)):
                ring = np.asarray(pdf[ring_col].iloc[i], dtype=np.float64)
                x0, y0, x1, y1 = geometry.polygon_bbox(ring)
                ids = INDEXES[index].cover_bbox(y0, y1, x0, x1, level).astype(np.int64)
                for c in pdf.columns:
                    out_rows[c].extend([pdf[c].iloc[i]] * len(ids))
                out_cells.extend(ids.tolist())
            out = pd.DataFrame(out_rows)
            out["cell"] = pd.Series(out_cells, dtype="int64")
            yield out

    covers = regions_df.mapInPandas(_explode_covers, reg_schema)
    pts = with_cell(points, level, lat_col, lon_col, index=index)
    cand = pts.join(covers, "cell", "inner")

    @pandas_udf(BooleanType())
    def _pip_ring(lat: pd.Series, lon: pd.Series, ring: pd.Series) -> pd.Series:
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        out = np.zeros(len(px), dtype=bool)
        # Vectorize per distinct ring within the Arrow batch (after a
        # cell-keyed SMJ, batches are dominated by few rings).
        keys = ring.map(lambda r: np.asarray(r, dtype=np.float64).tobytes())
        for key, idx in keys.groupby(keys).groups.items():
            pos = keys.index.get_indexer(idx)
            r = np.frombuffer(key, dtype=np.float64)
            out[pos] = geometry.points_in_polygon(px[pos], py[pos], r)
        return pd.Series(out)

    return cand.filter(_pip_ring(F.col(lat_col), F.col(lon_col),
                                 F.col(ring_col))).drop("cell")
