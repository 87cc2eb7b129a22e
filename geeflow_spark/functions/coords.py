"""UTM grid mapping: world coords -> projected pixel grids, pure numpy.

Re-implements the *semantics* of the reference's grid/ROI model
(/root/reference/geeflow/coords.py:42-215 `UtmGridMapping`,
:31-39 lat/lon ROI) on top of our own
pure-numpy UTM module. All fields vectorize: `utm_x_min`/`utm_y_min`
(and width/height) may be numpy arrays, matching the reference's
vectorized test (coords_test.py:76-84).

Key pinned behaviors (reference file:line):
  - origin snapping: round(x/cell)*cell, or floor with use_floor
    (coords.py:75-78)
  - from_latlon_center: origin = easting - cell*width/2 (coords.py:90-99)
  - EPSG: "EPSG:32{6|7}{zone:02d}", hemisphere letter >= "N" is north,
    case-insensitive (coords.py:105-109, coords_test.py:98-106)
  - crs affine: (cell, 0, x_min, 0, -cell, y_min + cell*height) - y down
    (coords.py:111-120)
  - bbox_latlon via strict=False inverse UTM (coords.py:146-160)
  - centroid_latlon antimeridian wrap: x1 += 360*(x1<x0); unwrap after
    midpoint (coords.py:130-135)
  - rescale keeps outer extent, int() truncation of new W/H, re-snap via
    round (coords.py:180-189)
"""

from __future__ import annotations

import dataclasses
from collections.abc import Sequence

import numpy as np

from geeflow_spark.functions import utm as utm_lib

DEG_AT_EQUATOR_IN_M = 111_111.111


def get_lat_lon_roi_bounds(lat, lon, width_m=None, width_deg=None):
    """Lat/lon rectangle (west, south, east, north) around a center point.

    Semantics of reference coords.py:34-39 (ee.Geometry.Rectangle replaced
    by the plain bounds tuple).
    """
    width_deg = width_deg or width_m / DEG_AT_EQUATOR_IN_M
    delta = width_deg / 2
    return (lon - delta, lat - delta, lon + delta, lat + delta)


@dataclasses.dataclass
class UtmGridMapping:
    """UTM grid: zone + cell size + W x H cells + snapped origin."""

    utm_zone: str
    cell_size: float
    width: int | np.ndarray
    height: int | np.ndarray
    utm_x_min: float | np.ndarray = 0.0
    utm_y_min: float | np.ndarray = 0.0
    use_floor: bool = False

    def __post_init__(self):
        fn = np.floor if self.use_floor else np.round
        self.utm_x_min = fn(np.asarray(self.utm_x_min) / self.cell_size) * self.cell_size
        self.utm_y_min = fn(np.asarray(self.utm_y_min) / self.cell_size) * self.cell_size
        if np.ndim(self.utm_x_min) == 0:
            self.utm_x_min = float(self.utm_x_min)
            self.utm_y_min = float(self.utm_y_min)

    @classmethod
    def from_bbox(cls, utm_zone: str, cell_size: float, bbox: Sequence[float],
                  check_not_latlon: bool = True) -> "UtmGridMapping":
        if check_not_latlon:  # Weak guard that bbox is not lat/lon (coords.py:83-84).
            assert max(np.abs(bbox)) > 180.0
        x0, y0, x1, y1 = bbox  # (west, south, east, north)
        width = int((x1 - x0) / cell_size)
        height = int((y1 - y0) / cell_size)
        return cls(utm_zone, cell_size, width, height, x0, y0)

    @classmethod
    def from_latlon_center(cls, lat: float, lon: float, cell_size: float,
                           width: int, height: int | None = None,
                           use_floor: bool = False) -> "UtmGridMapping":
        height = width if height is None else height
        easting, northing, zone_number, zone_letter = utm_lib.from_latlon(lat, lon)
        utm_zone = f"{zone_number}{zone_letter}"
        x0 = easting - cell_size * width / 2.0
        y0 = northing - cell_size * height / 2.0
        return cls(utm_zone, cell_size, width, height, x0, y0, use_floor)

    @property
    def grid_cell_size(self) -> float:
        return self.cell_size

    @property
    def epsg(self) -> str:
        northern_hemisphere = self.utm_zone[-1].upper() >= "N"
        longitude_band = int(self.utm_zone[:-1])
        return f"EPSG:32{6 if northern_hemisphere else 7}{longitude_band:02}"

    @property
    def crs(self):
        return (
            self.cell_size,
            0.0,
            self.utm_x_min,
            0.0,
            -self.cell_size,
            self.utm_y_min + self.cell_size * self.height,
        )

    @property
    def centroid(self):
        return (
            self.utm_x_min + (self.width * self.cell_size) / 2.0,
            self.utm_y_min + (self.height * self.cell_size) / 2.0,
        )

    @property
    def centroid_latlon(self):
        y0, x0, y1, x1 = self.bbox_latlon
        x1 = x1 + 360 * (np.asarray(x1) < np.asarray(x0))
        x_mid = (x0 + x1) / 2.0
        x_mid = x_mid - 360 * (np.asarray(x_mid) > 180)
        return ((y1 + y0) / 2.0, x_mid)

    @property
    def bbox(self):
        return (
            self.utm_x_min,
            self.utm_y_min,
            self.utm_x_min + (self.width * self.cell_size),
            self.utm_y_min + (self.height * self.cell_size),
        )

    @property
    def bbox_latlon(self):
        south, west = utm_lib.to_latlon(
            self.utm_x_min, self.utm_y_min,
            int(self.utm_zone[:-1]), self.utm_zone[-1], strict=False)
        north, east = utm_lib.to_latlon(
            self.utm_x_min + self.width * self.cell_size,
            self.utm_y_min + self.height * self.cell_size,
            int(self.utm_zone[:-1]), self.utm_zone[-1], strict=False)
        return south, west, north, east

    @property
    def corners_latlon(self) -> np.ndarray:
        zone_number = int(self.utm_zone[:-1])
        zone_letter = self.utm_zone[-1]
        x_max = self.utm_x_min + self.width * self.cell_size
        y_max = self.utm_y_min + self.height * self.cell_size
        bl = utm_lib.to_latlon(self.utm_x_min, self.utm_y_min,
                               zone_number, zone_letter, strict=False)
        br = utm_lib.to_latlon(x_max, self.utm_y_min,
                               zone_number, zone_letter, strict=False)
        tr = utm_lib.to_latlon(x_max, y_max,
                               zone_number, zone_letter, strict=False)
        tl = utm_lib.to_latlon(self.utm_x_min, y_max,
                               zone_number, zone_letter, strict=False)
        return np.array([bl, br, tr, tl])

    def rescale(self, cell_size: float) -> "UtmGridMapping":
        return UtmGridMapping(
            self.utm_zone,
            cell_size,
            int(self.width * self.cell_size / cell_size),
            int(self.height * self.cell_size / cell_size),
            utm_x_min=round(self.utm_x_min / cell_size) * cell_size,
            utm_y_min=round(self.utm_y_min / cell_size) * cell_size)
