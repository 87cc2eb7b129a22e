"""Vectorized S2 cell-id encoding/decoding in pure numpy.

Implements the public S2 geometry cell-id scheme (s2geometry.io: cube faces
-> quadratic (u,v)->(s,t) transform -> 30-level Hilbert quadtree, 64-bit ids
with 3 face bits + 60 position bits + trailing 1) without any third-party
library, batch-vectorized for Arrow/pandas UDFs.

Used for:
  - the reference's geographic split hashing, `latlon_to_s2(lat, lon, level)`
    (call site /root/reference/geeflow/export_beam_tfds.py:99-109; the
    function itself is absent from the open-source release, so semantics are
    the standard S2 leaf->parent cell id),
  - cell-keyed spatial joins (cover both sides, equi-join, exact refine),
  - cell-ring-expansion kNN (BASELINE.json north_rule).

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
EARTH_RADIUS_M = 6371010.0


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


def face_uv_to_xyz(face, u, v):
    """(face, u, v) -> xyz (not normalized), vectorized."""
    face = np.asarray(face)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    ones = np.ones_like(u)
    x = np.select([face == 0, face == 1, face == 2,
                   face == 3, face == 4, face == 5],
                  [ones, -u, -u, -ones, v, v])
    y = np.select([face == 0, face == 1, face == 2,
                   face == 3, face == 4, face == 5],
                  [u, ones, -v, -v, -ones, u])
    z = np.select([face == 0, face == 1, face == 2,
                   face == 3, face == 4, face == 5],
                  [v, v, ones, -u, -u, -ones])
    return np.stack([x, y, z], axis=-1)


def uv_to_st(u):
    """Quadratic projection u -> s in [0,1] (S2_QUADRATIC_PROJECTION)."""
    u = np.asarray(u, dtype=np.float64)
    pos = u >= 0
    return np.where(pos, 0.5 * np.sqrt(1 + 3 * np.where(pos, u, 0)),
                    1 - 0.5 * np.sqrt(1 - 3 * np.where(pos, 0, u)))


def st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5, (1.0 / 3.0) * (4 * s * s - 1),
                    (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s)))


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


def cell_id_to_face_ij(cell_id):
    """Leaf-aligned decode: cell id -> (face, i, j, orientation-free)."""
    cell_id = np.asarray(cell_id).astype(np.uint64)
    face = (cell_id >> np.uint64(POS_BITS)).astype(np.int64)
    pos = (cell_id & np.uint64((1 << POS_BITS) - 1)) >> np.uint64(1)
    bits = (face & SWAP_MASK).astype(np.uint64)
    i = np.zeros_like(cell_id)
    j = np.zeros_like(cell_id)
    nbits_mask = np.uint64((1 << (2 * LOOKUP_BITS)) - 1)
    for k in range(7, -1, -1):
        bits += ((pos.astype(np.uint64) >> np.uint64(k * 2 * LOOKUP_BITS))
                 & nbits_mask) << np.uint64(2)
        bits = _lookup_ij[bits]
        i |= (bits >> np.uint64(LOOKUP_BITS + 2)) << np.uint64(k * LOOKUP_BITS)
        j |= ((bits >> np.uint64(2)) & np.uint64((1 << LOOKUP_BITS) - 1)) \
            << np.uint64(k * LOOKUP_BITS)
        bits &= np.uint64(SWAP_MASK | INVERT_MASK)
    return face, i.astype(np.int64), j.astype(np.int64)


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


def level_of(cell_id):
    """Level of cell ids, vectorized (position of lowest set bit)."""
    cell_id = np.asarray(cell_id).astype(np.uint64)
    lsb = cell_id & ((~cell_id) + np.uint64(1))
    # log2(lsb) is exact for powers of two below 2^53... use bit counting.
    shift = np.zeros(cell_id.shape, dtype=np.int64)
    v = lsb.copy()
    for b in (32, 16, 8, 4, 2, 1):
        big = v >= (np.uint64(1) << np.uint64(b))
        shift += np.where(big, b, 0)
        v = np.where(big, v >> np.uint64(b), v)
    return MAX_LEVEL - shift // 2


def cell_center_st(cell_id):
    """(face, s, t) of the cell center, vectorized."""
    cell_id = np.asarray(cell_id).astype(np.uint64)
    face, i, j = cell_id_to_face_ij(cell_id)
    lsb = cell_id & ((~cell_id) + np.uint64(1))
    # Center correction: leaf decode gives the leaf containing the Hilbert
    # curve entry; the true center in ij units is (i & -size) + size/2 where
    # size = lsb in ij units = sqrt(lsb>>1)... derive from level instead.
    lvl = level_of(cell_id)
    size = (np.int64(1) << (MAX_LEVEL - lvl).astype(np.int64))
    i_c = (i & ~(size - 1)) + size // 2
    j_c = (j & ~(size - 1)) + size // 2
    s = (i_c.astype(np.float64)) / (1 << MAX_LEVEL)
    t = (j_c.astype(np.float64)) / (1 << MAX_LEVEL)
    return face, s, t


def neighbors_ring(cell_id, level: int, ring: int):
    """All cells at `level` with Chebyshev ij-distance <= ring (the full
    (2r+1)^2 block), vectorized over an array of cell ids.

    Cross-face neighbors are produced by projecting the offset cell-center
    (s,t) (possibly outside [0,1]) through (u,v)->xyz and re-encoding - the
    same geometric idea as S2's FromFaceIJWrap. Duplicates possible near
    cube corners; callers should dedupe.

    Returns array of shape (n, (2*ring+1)**2).
    """
    cell_id = np.atleast_1d(np.asarray(cell_id)).astype(np.uint64)
    face, s, t = cell_center_st(cell_id)
    step = 1.0 / (1 << level)
    offsets = np.arange(-ring, ring + 1, dtype=np.float64) * step
    # (n, k) grids of offset centers in st space.
    s_off = s[:, None, None] + offsets[None, :, None]
    t_off = t[:, None, None] + offsets[None, None, :]
    s_off, t_off = np.broadcast_arrays(s_off, t_off)
    face_b = np.broadcast_to(face[:, None, None], s_off.shape)
    u = st_to_uv(s_off)
    v = st_to_uv(t_off)
    xyz = face_uv_to_xyz(face_b, u, v)
    xyz = xyz / np.linalg.norm(xyz, axis=-1, keepdims=True)
    ids = xyz_to_cell_id(xyz, level)
    return ids.reshape(cell_id.shape[0], -1)


def _bbox_samples(lat_min, lat_max, lon_min, lon_max, level: int):
    """Flat (lat, lon) sample grid of `cover_bbox`: the rect padded by
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


def cover_bbox(lat_min, lat_max, lon_min, lon_max, level: int):
    """Cell ids at `level` intersecting the lat/lon rectangle (1-D array).

    Guaranteed superset via dense sampling (`_bbox_samples`). Overcover
    is harmless - the exact geometry test refines after the cell-key
    join. Intended for small regions (polygons / ROIs); cost is
    O((extent/cell_width)^2).
    """
    glat, glon = _bbox_samples(lat_min, lat_max, lon_min, lon_max, level)
    return np.unique(latlon_to_cell_id(glat, glon, level))


def cover_bboxes(boxes, level: int):
    """`cover_bbox` of every (lat_min, lat_max, lon_min, lon_max) row of
    `boxes` from ONE encode over the concatenated sample grids. Returns
    (cells, box index): grouped by box in row order, each box's cells
    ascending and unique - the concatenation of the per-box covers."""
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
    out = np.array([int(hashlib.md5(str(int(c)).encode("utf-8"))
                        .hexdigest(), 16) % 10 for c in uniq],
                   dtype=np.int64)
    return out[inverse]


def ring_bound_m(cell_id, level: int, ring: int,
                 radius_m: float = 6371010.0):
    """Per-cell lower bound (meters) to anything outside the (2r+1)^2
    ring block - constant for S2 (cells have a global min width);
    mirrors hex.ring_bound_m's interface for index-agnostic kNN."""
    import numpy as np
    n = len(np.asarray(cell_id))
    return np.full(n, max(ring - 1, 0) * min_width_rad(level) * radius_m)
