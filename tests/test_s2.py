"""S2 cell-id implementation invariants + the reference's split-hash
semantics (export_beam_tfds.py:99-109). Pure numpy."""

import hashlib
import warnings

import numpy as np

from geeflow_spark.functions import s2

rng = np.random.default_rng(7)
LAT = rng.uniform(-85, 85, 5000)
LON = rng.uniform(-180, 180, 5000)


def xyz_to_latlon(xyz):
    x, y, z = xyz[..., 0], xyz[..., 1], xyz[..., 2]
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def cell_id_to_center_latlon(cell_id):
    """Cell id -> (lat, lon) of the cell center, vectorized: the decoder
    the encode roundtrips are checked against."""
    face, s, t = s2.cell_center_st(cell_id)
    xyz = s2.face_uv_to_xyz(face, s2.st_to_uv(s), s2.st_to_uv(t))
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
        assert np.all(s2.level_of(direct) == level)


def test_center_recode_stable():
    for level in (5, 9, 14):
        c = s2.latlon_to_cell_id(LAT, LON, level)
        la, lo = cell_id_to_center_latlon(c)
        assert np.all(s2.latlon_to_cell_id(la, lo, level) == c)


def test_parent_hierarchy_nested():
    c9 = s2.latlon_to_cell_id(LAT, LON, 9)
    c5 = s2.latlon_to_cell_id(LAT, LON, 5)
    assert np.all(s2.parent(c9, 5) == c5)


def test_neighbors_ring_block():
    c = s2.latlon_to_cell_id(np.array([47.37]), np.array([8.54]), 9)
    ring1 = np.unique(s2.neighbors_ring(c, 9, 1))
    assert c[0] in ring1 and len(ring1) == 9  # interior cell: full 3x3
    ring2 = np.unique(s2.neighbors_ring(c, 9, 2))
    assert set(ring1).issubset(set(ring2)) and len(ring2) == 25


def test_neighbors_cross_face():
    # lon=45 is a cube-face boundary; the ring must cross it seamlessly.
    c = s2.latlon_to_cell_id(np.array([0.001]), np.array([44.9999]), 10)
    ring = np.unique(s2.neighbors_ring(c, 10, 2))
    assert len(ring) >= 20
    la, lo = cell_id_to_center_latlon(ring)
    assert (lo > 45).any() and (lo < 45).any()


def test_cover_bbox_superset():
    box = (47.0, 47.5, 8.0, 8.8)
    cov = s2.cover_bbox(*box, 9)
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
    assert np.all(s2.level_of(ids) == 12)
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
