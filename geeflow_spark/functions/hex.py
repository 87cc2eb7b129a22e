"""Hexagonal hierarchical cell index (H3-style), pure numpy.

The north rule mandates an H3 sibling index next to S2 (BASELINE.json;
SURVEY §1.3/Appendix B). No `h3` library exists in this environment to
be binary-compatible with, so this module implements the H3 *algorithmic
role* honestly from first principles:

  - pointy-top hexagonal grid in the (lon, lat) degree plane, axial
    coordinates (q, r) via the standard hex-pixel transform;
  - aperture-7-style resolutions: cell size shrinks by sqrt(7) per
    resolution (H3's aperture);
  - bbox covering.

IDs are NOT Uber-H3 binary compatible (documented limitation); every
engine contract (spatial join, cell counts) is index-agnostic and
certified by the exact PIP refine, so the index only has to be a
consistent space partitioner - which this is.

Non-wrapping at the antimeridian: cells at lon +/-180 do not join
across; the PIP refine keeps join results exact regardless.

Determinism contract: `latlon_to_cell_id` uses floor(x+0.5) rounding
(half-up, NOT numpy banker's rounding) and the literal constants below,
so the encode is reproducible bit-for-bit in ANSI SQL - the DuckDB
oracle for the hex battery query recomputes it independently.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 15
# Literal constants shared with the SQL oracle (do not recompute).
SQRT3 = 1.7320508075688772
SQRT3_3 = 0.5773502691896258   # sqrt(3)/3
APERTURE = 2.6457513110645907  # sqrt(7)
S0 = 8.0                       # res-0 circumradius in degrees
OFF = 1 << 27                  # axial offset for non-negative packing


def size_for_res(res: int) -> float:
    """Hex circumradius in degrees at `res` (aperture-7 shrink)."""
    return S0 / APERTURE ** res


def _cube_round(qf: np.ndarray, rf: np.ndarray
                ) -> tuple[np.ndarray, np.ndarray]:
    """Nearest-hex rounding in cube coords, half-up tie policy."""
    x, z = qf, rf
    y = -x - z
    rx = np.floor(x + 0.5)
    ry = np.floor(y + 0.5)
    rz = np.floor(z + 0.5)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_y = ~fix_x & (dy > dz)
    fix_z = ~fix_x & ~fix_y
    rx = np.where(fix_x, -ry - rz, rx)
    ry = np.where(fix_y, -rx - rz, ry)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def latlon_to_axial(lat_deg, lon_deg, res: int
                    ) -> tuple[np.ndarray, np.ndarray]:
    lat = np.asarray(lat_deg, dtype=np.float64)
    lon = np.asarray(lon_deg, dtype=np.float64)
    s = size_for_res(res)
    qf = (SQRT3_3 * lon - lat / 3.0) / s
    rf = (2.0 / 3.0 * lat) / s
    return _cube_round(qf, rf)


def pack(q: np.ndarray, r: np.ndarray, res: int) -> np.ndarray:
    """(q, r, res) -> int64: [4-bit res @56][28-bit q+OFF][28-bit r+OFF].

    28 bits per axial coordinate covers |q| <= ~4.6e7, beyond the res-15
    extreme (~4.5e7); res at bit 56 keeps ids positive for res <= 15."""
    return ((np.int64(res) << np.int64(56))
            | ((q + OFF).astype(np.int64) << np.int64(28))
            | (r + OFF).astype(np.int64))


def unpack(cell_id) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell_id, dtype=np.int64)
    res = c >> np.int64(56)
    q = ((c >> np.int64(28)) & np.int64((1 << 28) - 1)) - OFF
    r = (c & np.int64((1 << 28) - 1)) - OFF
    return q, r, res


def latlon_to_cell_id(lat_deg, lon_deg, res: int) -> np.ndarray:
    q, r = latlon_to_axial(lat_deg, lon_deg, res)
    return pack(q, r, res)


def cell_center(cell_id) -> tuple[np.ndarray, np.ndarray]:
    """(lat_deg, lon_deg) of the cell center."""
    q, r, res = unpack(cell_id)
    s = S0 / APERTURE ** res.astype(np.float64)
    lon = s * (SQRT3 * q + SQRT3 / 2.0 * r)
    lat = s * 1.5 * r
    return lat, lon


def cover_bbox(lat_min, lat_max, lon_min, lon_max, res: int) -> np.ndarray:
    """Superset of cells intersecting the bbox (cell center within the
    bbox expanded by one circumradius covers every intersecting cell)."""
    s = size_for_res(res)
    corners_lat = np.array([lat_min, lat_min, lat_max, lat_max])
    corners_lon = np.array([lon_min, lon_max, lon_min, lon_max])
    qc, rc = latlon_to_axial(corners_lat, corners_lon, res)
    pad = 2
    qs = np.arange(qc.min() - pad, qc.max() + pad + 1)
    rs = np.arange(rc.min() - pad, rc.max() + pad + 1)
    qq, rr = np.meshgrid(qs, rs, indexing="ij")
    qq, rr = qq.ravel(), rr.ravel()
    cells = pack(qq, rr, res)
    lat, lon = cell_center(cells)
    keep = ((lat >= lat_min - 1.5 * s) & (lat <= lat_max + 1.5 * s) &
            (lon >= lon_min - 1.5 * s) & (lon <= lon_max + 1.5 * s))
    return cells[keep]


def cover_bboxes(boxes, res: int):
    """`cover_bbox` of every (lat_min, lat_max, lon_min, lon_max) row of
    `boxes`: (cells, box index), grouped by box in row order."""
    covers = [cover_bbox(*box, res) for box in boxes]
    owner = np.repeat(np.arange(len(covers)), [len(c) for c in covers])
    cells = np.concatenate(covers) if covers else np.array([], np.int64)
    return cells, owner
