"""Vectorized S2 cell-id encoding in pure numpy.

Implements the public S2 geometry cell-id scheme (s2geometry.io: cube faces
-> quadratic (u,v)->(s,t) transform -> 30-level Hilbert quadtree, 64-bit ids
with 3 face bits + 60 position bits + trailing 1) without any third-party
library, batch-vectorized for Arrow/pandas UDFs.

Used for:
  - the reference's geographic split hashing, `latlon_to_s2(lat, lon, level)`
    (call site /root/reference/geeflow/export_beam_tfds.py:99-109; the
    function itself is absent from the open-source release, so semantics are
    the standard S2 leaf->parent cell id),
  - cell-keyed spatial joins (cover both sides, equi-join, exact refine).

All public functions accept/return numpy arrays (uint64 for cell ids).
"""

from __future__ import annotations

import numpy as np

LOOKUP_BITS = 4
SWAP_MASK = 1
INVERT_MASK = 2
MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1

# Hilbert curve traversal tables (public S2 constants).
_POS_TO_IJ = np.array([
    [0, 1, 3, 2],  # canonical order
    [0, 2, 3, 1],  # axes swapped
    [3, 2, 0, 1],  # bits inverted
    [3, 1, 0, 2],  # swapped & inverted
], dtype=np.uint64)
_POS_TO_ORIENTATION = np.array(
    [SWAP_MASK, 0, 0, INVERT_MASK + SWAP_MASK], dtype=np.uint64)

_lookup_pos = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)
# The decode table; the decoder that reads it is tests/test_s2.py's.
_lookup_ij = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)


def _init_lookup_cell(level, i, j, orig_orientation, pos, orientation):
    if level == LOOKUP_BITS:
        ij = (i << LOOKUP_BITS) + j
        _lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
        _lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orientation]
    for index in range(4):
        _init_lookup_cell(level, i + (int(r[index]) >> 1),
                          j + (int(r[index]) & 1), orig_orientation,
                          pos + index,
                          orientation ^ int(_POS_TO_ORIENTATION[index]))


for _o in range(4):
    _init_lookup_cell(0, 0, 0, _o, 0, _o)

# S2 metric constants (radians on the unit sphere, divide by 2^level).
MIN_WIDTH_DERIV = 2 * np.sqrt(2.0) / 3.0          # kMinWidth
MAX_DIAG_DERIV = 2.438654594434021                # kMaxDiag


def min_width_rad(level: int) -> float:
    return MIN_WIDTH_DERIV / (1 << level)


def max_diag_rad(level: int) -> float:
    return MAX_DIAG_DERIV / (1 << level)


def latlon_to_xyz(lat_deg, lon_deg):
    """(lat, lon) degrees -> unit-sphere xyz, vectorized."""
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cosphi = np.cos(phi)
    return np.stack([cosphi * np.cos(theta), cosphi * np.sin(theta),
                     np.sin(phi)], axis=-1)


def xyz_to_face_uv(xyz):
    """xyz -> (face, u, v), vectorized. Standard S2 cube projection: u and
    v are one division each, by the face's major coordinate."""
    x, y, z = xyz[..., 0], xyz[..., 1], xyz[..., 2]
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay,
                    np.where(ax >= az, 0, 2),
                    np.where(ay >= az, 1, 2))
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face).astype(np.int64)
    # u, v per face (standard S2 axes).
    u = np.choose(face, [y, -x, -x, z, z, -y]) / major
    v = np.choose(face, [z, z, -y, y, -x, -x]) / major
    return face, u, v


def uv_to_st(u):
    """Quadratic projection u -> s in [0,1] (S2_QUADRATIC_PROJECTION)."""
    u = np.asarray(u, dtype=np.float64)
    pos = u >= 0
    return np.where(pos, 0.5 * np.sqrt(1 + 3 * np.where(pos, u, 0)),
                    1 - 0.5 * np.sqrt(1 - 3 * np.where(pos, 0, u)))


def st_to_ij(s):
    return np.clip((np.asarray(s) * (1 << MAX_LEVEL)).astype(np.int64),
                   0, (1 << MAX_LEVEL) - 1).astype(np.uint64)


def face_ij_to_cell_id(face, i, j):
    """(face, i, j) leaf coords -> leaf cell id, vectorized Hilbert encode."""
    face = np.asarray(face).astype(np.uint64)
    i = np.asarray(i).astype(np.uint64)
    j = np.asarray(j).astype(np.uint64)
    n = face << np.uint64(POS_BITS - 1)
    bits = face & np.uint64(SWAP_MASK)
    mask = np.uint64((1 << LOOKUP_BITS) - 1)
    pos = np.zeros_like(i)
    for k in range(7, -1, -1):
        shift = np.uint64(k * LOOKUP_BITS)
        bits += ((i >> shift) & mask) << np.uint64(LOOKUP_BITS + 2)
        bits += ((j >> shift) & mask) << np.uint64(2)
        bits = _lookup_pos[bits]
        pos |= (bits >> np.uint64(2)) << np.uint64(k * 2 * LOOKUP_BITS)
        bits &= np.uint64(SWAP_MASK | INVERT_MASK)
    return (n + pos) * np.uint64(2) + np.uint64(1)


def latlon_to_cell_id(lat_deg, lon_deg, level: int = MAX_LEVEL):
    """(lat, lon) -> S2 cell id at `level`, vectorized + cache-blocked.

    This is the `coords.latlon_to_s2` semantics used by the reference's
    geographic split (export_beam_tfds.py:101-102).

    Blocking: the encode is ~30 full-array passes (xyz, face/uv, st/ij,
    Hilbert lookup rounds); chunking keeps every pass L2-resident so
    concurrent workers do not fight for DRAM (same rationale - and
    measured effect - as geometry.points_in_polygon).
    """
    lat = np.asarray(lat_deg, dtype=np.float64)
    lon = np.asarray(lon_deg, dtype=np.float64)
    if lat.ndim == 0 or len(lat) <= 16384:
        return xyz_to_cell_id(latlon_to_xyz(lat, lon), level)
    out = np.empty(len(lat), dtype=np.uint64)
    for i0 in range(0, len(lat), 16384):
        sl = slice(i0, min(i0 + 16384, len(lat)))
        out[sl] = xyz_to_cell_id(latlon_to_xyz(lat[sl], lon[sl]), level)
    return out


def xyz_to_cell_id(xyz, level: int = MAX_LEVEL):
    face, u, v = xyz_to_face_uv(xyz)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    leaf = face_ij_to_cell_id(face, i, j)
    if level >= MAX_LEVEL:
        return leaf
    return parent(leaf, level)


def lsb_for_level(level: int) -> np.uint64:
    return np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))


def parent(cell_id, level: int):
    """Parent cell id at `level` (standard lsb trick), vectorized."""
    cell_id = np.asarray(cell_id).astype(np.uint64)
    new_lsb = lsb_for_level(level)
    # (id & -new_lsb) | new_lsb, with unsigned two's complement.
    neg = (~new_lsb) + np.uint64(1)
    return (cell_id & neg) | new_lsb


def _bbox_samples(lat_min, lat_max, lon_min, lon_max, level: int):
    """Flat (lat, lon) sample grid of one box's cover: the rect padded by
    half the max cell diagonal, sampled at half the min cell width, so
    every cell whose interior intersects the rect contributes at least
    one sample (its inscribed disc of radius min_width/2 has center
    within the padded rect)."""
    pad = np.degrees(max_diag_rad(level)) / 2 * 1.01
    # Sample step: half the min width, shrunk by cos(lat) for longitude.
    step_lat = np.degrees(min_width_rad(level)) / 2
    max_abs_lat = min(89.9, max(abs(lat_min), abs(lat_max)) + pad)
    step_lon = step_lat / max(np.cos(np.radians(max_abs_lat)), 1e-3)
    lats = np.arange(lat_min - pad, lat_max + pad + step_lat, step_lat)
    lons = np.arange(lon_min - pad, lon_max + pad + step_lon, step_lon)
    lats = np.clip(lats, -89.999, 89.999)
    glat, glon = np.meshgrid(lats, lons, indexing="ij")
    return glat.ravel(), glon.ravel()


def cover_bboxes(boxes, level: int):
    """Cell ids at `level` intersecting each (lat_min, lat_max, lon_min,
    lon_max) row of `boxes`, from ONE encode over the concatenated sample
    grids (`_bbox_samples`). Returns (cells, box index): grouped by box in
    row order, each box's cells ascending and unique.

    Guaranteed superset via dense sampling. Overcover is harmless - the
    exact geometry test refines after the cell-key join. Intended for
    small regions (polygons / ROIs); cost is O((extent/cell_width)^2)
    per box."""
    grids = [_bbox_samples(*box, level) for box in boxes]
    if not grids:
        return np.array([], np.uint64), np.array([], np.int64)
    sizes = [len(g[0]) for g in grids]
    ids = latlon_to_cell_id(np.concatenate([g[0] for g in grids]),
                            np.concatenate([g[1] for g in grids]), level)
    covers = [np.unique(part)
              for part in np.split(ids, np.cumsum(sizes)[:-1])]
    owner = np.repeat(np.arange(len(covers)), [len(c) for c in covers])
    return np.concatenate(covers), owner


def split_bucket(cell_ids) -> np.ndarray:
    """md5(str(cell_id)) % 10 bucket, vectorized over an array.

    Exact semantics of the reference's geographic split
    (export_beam_tfds.py:103): md5 of the *decimal string* of the python
    int cell id, full 128-bit digest value mod 10. Signed ids are read
    as their uint64 bit pattern. The digest runs once per distinct id.
    """
    import hashlib
    cell_ids = np.atleast_1d(np.asarray(cell_ids).astype(np.uint64))
    uniq, inverse = np.unique(cell_ids, return_inverse=True)
    out = np.array([int.from_bytes(hashlib.md5(str(int(c)).encode("utf-8"))
                                   .digest(), "big") % 10 for c in uniq],
                   dtype=np.int64)
    return out[inverse]
