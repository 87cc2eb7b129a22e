"""S2-cell-keyed spatial joins: points x polygon regions.

The Spark-native replacement for the reference's Earth-Engine-delegated
`filterBounds` spatial join (/root/reference/geeflow/ee_algo.py:56-58 for
image collections, :132 for feature collections) and the first-match
property lookup `fc_get` (ee_algo.py:129-137).

`RegionMatcher` is the one answer to "which regions contain this point":
a point fans out to the regions whose bbox cover holds its cell, then
`pip_refine` keeps the pairs inside the (optionally buffered) ring.
`join_points_regions` runs it in one `mapInArrow` over the point side
(the small region side travels in the task closure; the points never
shuffle), and so does the `plans.generate` kernel. Large region tables
take `join_points_regions_smj`: covers per Arrow batch, a cell-keyed
join Catalyst plans, then `pip_refine` with the ring from the row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import (BooleanType, LongType, StructField,
                               StructType)

from geeflow_spark.functions import geometry, s2


def with_cell(df: DataFrame, level: int, lat_col: str = "lat",
              lon_col: str = "lon", out_col: str = "cell") -> DataFrame:
    """Adds the S2 cell-id column (signed long) at `level`, encoded in an
    Arrow-batched pandas UDF."""

    @pandas_udf(LongType())
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        ids = s2.latlon_to_cell_id(lat.to_numpy(np.float64),
                                   lon.to_numpy(np.float64), level)
        return pd.Series(np.asarray(ids).astype(np.int64))

    return df.withColumn(out_col, _enc(F.col(lat_col), F.col(lon_col)))


def arrow_np(rb, ix: int, dtype) -> np.ndarray:
    """Column `ix` of an Arrow record batch as a numpy `dtype` array."""
    return rb.column(ix).to_numpy(zero_copy_only=False) \
        .astype(dtype, copy=False)


def region_covers_pdf(regions: pd.DataFrame, level: int,
                      id_col: str = "region_id",
                      buffer_deg: float = 0.0) -> pd.DataFrame:
    """(cell, region_id) S2 cover pairs for a small pandas region table.

    Cover = guaranteed superset of cells intersecting each polygon's bbox,
    grown by `buffer_deg` when the join targets the buffered polygon;
    exact (buffered) PIP refines later. All regions' covers come from one
    `s2.cover_bboxes` call (one S2 encode), in region order with each
    region's cells ascending.
    """
    grow = max(buffer_deg, 0.0)
    boxes = []
    for ring in regions["ring"]:
        x0, y0, x1, y1 = geometry.polygon_bbox(
            np.asarray(ring, dtype=np.float64))
        boxes.append((y0 - grow, y1 + grow, x0 - grow, x1 + grow))
    cells, owner = s2.cover_bboxes(boxes, level)
    return pd.DataFrame({
        "cell": cells.astype(np.int64),
        id_col: regions[id_col].to_numpy(np.int64)[owner],
    })


def pip_refine(lon: np.ndarray, lat: np.ndarray, rid: np.ndarray,
               rings: dict, buffer_deg: float = 0.0) -> np.ndarray:
    """Exact containment of candidate (point, region) pairs -> bool mask.

    One vectorized PIP call per distinct region in `rid`. With
    `buffer_deg` != 0 the test is Minkowski membership in the TRUE
    buffered (or eroded, negative) polygon - distance-to-boundary form,
    exact for non-convex rings (geometry.points_in_buffered_polygon;
    EE geometry.buffer analog, ee_data.py:1187-1196).
    """
    inside = np.zeros(len(rid), dtype=bool)
    for r in np.unique(rid):
        m = rid == r
        inside[m] = geometry.points_in_buffered_polygon(
            lon[m], lat[m], rings[int(r)], buffer_deg)
    return inside


class RegionMatcher:
    """Which regions of a small pandas region table contain each point.
    Built once from the table, shipped in a task closure: the rings and
    the covers as sorted unique cells `uc`, each owning the segment
    `ustart`/`ucnt` of candidate region ids in `cov_rids`."""

    def __init__(self, regions: pd.DataFrame, level: int,
                 buffer_deg: float = 0.0):
        cov = region_covers_pdf(regions, level,
                                buffer_deg=buffer_deg).sort_values("cell")
        self.cov_rids = cov["region_id"].to_numpy(np.int64)
        self.uc, self.ustart, self.ucnt = np.unique(
            cov["cell"].to_numpy(np.int64), return_index=True,
            return_counts=True)
        self.rings = {int(r): np.asarray(ring, dtype=np.float64)
                      for r, ring in zip(regions["region_id"],
                                         regions["ring"])}
        self.buffer_deg = buffer_deg

    def __call__(self, cells: np.ndarray, lat: np.ndarray,
                 lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """int64 cells (at the matcher's level) and coordinates of n
        points -> (point_ix, region_id) of every containing pair,
        point-major."""
        uc = self.uc
        if len(uc) == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        # candidate pairs: each point x its cell's cover segment
        pos = np.minimum(np.searchsorted(uc, cells), len(uc) - 1)
        cnt = np.where(uc[pos] == cells, self.ucnt[pos], 0).astype(np.int64)
        total = int(cnt.sum())
        point_ix = np.repeat(np.arange(len(cells)), cnt)
        within = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        rid = self.cov_rids[np.repeat(self.ustart[pos], cnt) + within]
        inside = pip_refine(lon[point_ix], lat[point_ix], rid, self.rings,
                            self.buffer_deg)
        return point_ix[inside], rid[inside]


def region_props(regions: pd.DataFrame, cols: list,
                 schema: pa.Schema | None = None
                 ) -> tuple[np.ndarray, pa.RecordBatch]:
    """(ascending region ids, Arrow batch of the `cols` properties in
    that order): `props.take(np.searchsorted(ids, rid))` gathers the
    properties of `RegionMatcher`'s region ids."""
    reg = regions.iloc[np.argsort(regions["region_id"].to_numpy(np.int64),
                                  kind="stable")]
    return (reg["region_id"].to_numpy(np.int64),
            pa.RecordBatch.from_pandas(reg[cols], schema=schema,
                                       preserve_index=False))


def join_points_regions(points: DataFrame, regions: pd.DataFrame,
                        level: int = 8,
                        region_cols: tuple = ("region_id",),
                        buffer_deg: float = 0.0) -> DataFrame:
    """Spatial inner join: point rows (`lat`, `lon`) x containing regions.

    One `mapInArrow` over the point side: cell encode, `RegionMatcher`,
    gather of the `region_cols` properties. Output: the point columns
    except the cell key, then `region_id`, then the properties. Every
    matching (point, region) pair is returned (multiplicity preserved -
    `fc_get`-style first-match is a separate reducer, see `first_match`).
    """
    match = RegionMatcher(regions, level, buffer_deg=buffer_deg)
    keep = [c for c in regions.columns if c in region_cols and c != "region_id"]
    ids, props = region_props(regions, keep)

    cols = points.columns
    lat_ix, lon_ix = cols.index("lat"), cols.index("lon")
    out_ix = [i for i, c in enumerate(cols) if c != "cell"]
    out_schema = StructType(
        [points.schema.fields[i] for i in out_ix]
        + [StructField("region_id", LongType())]
        + [StructField(f.name, from_arrow_type(f.type))
           for f in props.schema])

    def _join(batches):
        for rb in batches:
            la = arrow_np(rb, lat_ix, np.float64)
            lo = arrow_np(rb, lon_ix, np.float64)
            cells = s2.latlon_to_cell_id(la, lo, level).astype(np.int64)
            pix, rid = match(cells, la, lo)
            if len(pix) == 0:
                continue
            base = rb.take(pa.array(pix))
            reg = props.take(pa.array(np.searchsorted(ids, rid)))
            yield pa.RecordBatch.from_arrays(
                [base.column(i) for i in out_ix] + [pa.array(rid)]
                + reg.columns, names=out_schema.names)

    return points.mapInArrow(_join, out_schema)


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
                            level: int = 8) -> DataFrame:
    """Join path for LARGE region tables (`region_id`, `ring`, ...),
    which are never collected; the points carry `lat` and `lon`.

    Both sides are keyed by cell: points encode, regions get their covers
    from `region_covers_pdf` per Arrow batch. Catalyst plans the join
    (SMJ when both sides are large; AQE splits skewed cells). The ring
    travels with the joined row into `pip_refine`: no rebroadcast.
    """
    ring_ix = regions_df.columns.index("ring")
    cov_schema = StructType(regions_df.schema.fields
                            + [StructField("cell", LongType())])

    def _covers(batches):
        for rb in batches:
            cov = region_covers_pdf(
                pd.DataFrame({"row": np.arange(rb.num_rows),
                              "ring": rb.column(ring_ix).to_pandas()}),
                level, id_col="row")
            yield pa.RecordBatch.from_arrays(
                rb.take(pa.array(cov["row"].to_numpy())).columns
                + [pa.array(cov["cell"].to_numpy())],
                names=cov_schema.names)

    @pandas_udf(BooleanType())
    def _pip(lat: pd.Series, lon: pd.Series, rid: pd.Series,
             ring: pd.Series) -> pd.Series:
        rid = rid.to_numpy(np.int64)
        rings = {int(r): np.asarray(ring.iloc[i], dtype=np.float64)
                 for r, i in zip(*np.unique(rid, return_index=True))}
        return pd.Series(pip_refine(lon.to_numpy(np.float64),
                                    lat.to_numpy(np.float64), rid, rings))

    covers = regions_df.mapInArrow(_covers, cov_schema)
    cand = with_cell(points, level).join(covers, "cell")
    return cand.filter(_pip("lat", "lon", "region_id", "ring")).drop("cell")
