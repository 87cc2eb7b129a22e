"""S2 cell-id implementation invariants + the reference's split-hash
semantics (export_beam_tfds.py:99-109). Pure numpy."""

import hashlib
import warnings

import numpy as np

from geeflow_spark.functions import s2

rng = np.random.default_rng(7)
LAT = rng.uniform(-85, 85, 5000)
LON = rng.uniform(-180, 180, 5000)


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


def st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5, (1.0 / 3.0) * (4 * s * s - 1),
                    (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s)))


def cell_id_to_face_ij(cell_id):
    """Leaf-aligned decode: cell id -> (face, i, j, orientation-free)."""
    cell_id = np.asarray(cell_id).astype(np.uint64)
    face = (cell_id >> np.uint64(s2.POS_BITS)).astype(np.int64)
    pos = (cell_id & np.uint64((1 << s2.POS_BITS) - 1)) >> np.uint64(1)
    bits = (face & s2.SWAP_MASK).astype(np.uint64)
    i = np.zeros_like(cell_id)
    j = np.zeros_like(cell_id)
    nbits_mask = np.uint64((1 << (2 * s2.LOOKUP_BITS)) - 1)
    for k in range(7, -1, -1):
        bits += ((pos.astype(np.uint64)
                  >> np.uint64(k * 2 * s2.LOOKUP_BITS))
                 & nbits_mask) << np.uint64(2)
        bits = s2._lookup_ij[bits]
        i |= ((bits >> np.uint64(s2.LOOKUP_BITS + 2))
              << np.uint64(k * s2.LOOKUP_BITS))
        j |= ((bits >> np.uint64(2))
              & np.uint64((1 << s2.LOOKUP_BITS) - 1)) \
            << np.uint64(k * s2.LOOKUP_BITS)
        bits &= np.uint64(s2.SWAP_MASK | s2.INVERT_MASK)
    return face, i.astype(np.int64), j.astype(np.int64)


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
    return s2.MAX_LEVEL - shift // 2


def cell_center_st(cell_id):
    """(face, s, t) of the cell center, vectorized."""
    cell_id = np.asarray(cell_id).astype(np.uint64)
    face, i, j = cell_id_to_face_ij(cell_id)
    # The leaf decode gives the leaf the Hilbert curve enters the cell
    # at; the center in ij units is (i & -size) + size/2.
    lvl = level_of(cell_id)
    size = (np.int64(1) << (s2.MAX_LEVEL - lvl).astype(np.int64))
    i_c = (i & ~(size - 1)) + size // 2
    j_c = (j & ~(size - 1)) + size // 2
    s = (i_c.astype(np.float64)) / (1 << s2.MAX_LEVEL)
    t = (j_c.astype(np.float64)) / (1 << s2.MAX_LEVEL)
    return face, s, t


def xyz_to_latlon(xyz):
    x, y, z = xyz[..., 0], xyz[..., 1], xyz[..., 2]
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def cell_id_to_center_latlon(cell_id):
    """Cell id -> (lat, lon) of the cell center, vectorized: the decoder
    the encode roundtrips are checked against."""
    face, s, t = cell_center_st(cell_id)
    xyz = face_uv_to_xyz(face, st_to_uv(s), st_to_uv(t))
    xyz = xyz / np.linalg.norm(xyz, axis=-1, keepdims=True)
    return xyz_to_latlon(xyz)


def test_leaf_roundtrip():
    leaf = s2.latlon_to_cell_id(LAT, LON, 30)
    la, lo = cell_id_to_center_latlon(leaf)
    assert np.abs(la - LAT).max() < 1e-6
    assert np.abs((lo - LON + 180) % 360 - 180).max() < 1e-5


def test_parent_consistency():
    leaf = s2.latlon_to_cell_id(LAT, LON, 30)
    for level in (3, 9, 17, 25):
        direct = s2.latlon_to_cell_id(LAT, LON, level)
        assert np.all(direct == s2.parent(leaf, level))
        assert np.all(level_of(direct) == level)


def test_center_recode_stable():
    for level in (5, 9, 14):
        c = s2.latlon_to_cell_id(LAT, LON, level)
        la, lo = cell_id_to_center_latlon(c)
        assert np.all(s2.latlon_to_cell_id(la, lo, level) == c)


def test_parent_hierarchy_nested():
    c9 = s2.latlon_to_cell_id(LAT, LON, 9)
    c5 = s2.latlon_to_cell_id(LAT, LON, 5)
    assert np.all(s2.parent(c9, 5) == c5)


def test_cover_bbox_superset():
    box = (47.0, 47.5, 8.0, 8.8)
    cov, _ = s2.cover_bboxes([box], 9)
    plat = rng.uniform(box[0], box[1], 3000)
    plon = rng.uniform(box[2], box[3], 3000)
    pc = s2.latlon_to_cell_id(plat, plon, 9)
    assert np.all(np.isin(pc, cov))


def test_split_bucket_md5_semantics():
    cells = s2.latlon_to_cell_id(LAT[:200], LON[:200], 9)
    buckets = s2.split_bucket(cells)
    for c, b in zip(cells, buckets):
        expect = int(hashlib.md5(str(int(c)).encode("utf-8")).hexdigest(),
                     16) % 10
        assert b == expect


def test_antimeridian_and_poles_encode():
    lat = np.array([0.0, 0.0, 89.99, -89.99])
    lon = np.array([179.999, -179.999, 10.0, 10.0])
    ids = s2.latlon_to_cell_id(lat, lon, 12)
    assert np.all(level_of(ids) == 12)
    la, lo = cell_id_to_center_latlon(ids)
    assert np.abs(la - lat).max() < 0.1


def test_axis_and_pole_points_encode_without_warnings():
    # Points on the cube axes have two zero coordinates; the face
    # projection divides only by the nonzero major one.
    lat = np.array([0.0, 0.0, 0.0, 0.0, 90.0, -90.0])
    lon = np.array([0.0, 90.0, 180.0, -90.0, 0.0, 0.0])
    axes = np.vstack([np.eye(3), -np.eye(3)])
    with warnings.catch_warnings(), np.errstate(all="raise"):
        warnings.simplefilter("error")
        ids = s2.latlon_to_cell_id(lat, lon)
        coarse = s2.latlon_to_cell_id(lat, lon, 5)
        face, u, v = s2.xyz_to_face_uv(axes)
        axis_ids = s2.xyz_to_cell_id(axes)
    assert (face == np.arange(6)).all()
    assert (u == 0).all() and (v == 0).all()
    assert (s2.parent(ids, 5) == coarse).all()
    assert ((axis_ids >> np.uint64(s2.POS_BITS)) == np.arange(6)).all()
    la, lo = cell_id_to_center_latlon(ids)
    assert np.abs(la - lat).max() < 1e-6
