"""Ports of the reference's exact-value coordinate tests
(/root/reference/geeflow/coords_test.py) against our pure-numpy modules.
No Spark needed."""

import numpy as np
import pytest

from geeflow_spark.functions import coords, utm


def test_utm_grid_mapping_crs():
    g = coords.UtmGridMapping("10N", 0.5, 10, 10, 1000.5, 2000.0)
    assert g.crs == (0.5, 0.0, 1000.5, 0.0, -0.5, 2005.0)


def test_rescale():
    g = coords.UtmGridMapping("10N", 10, 640, 480, 1000, 2000)
    r = g.rescale(5)
    assert r.cell_size == 5.0
    assert r.width == g.width * 2 and r.height == g.height * 2


def test_from_bbox():
    bbox = (222723.818, 130298.284, 227929.316, 139839.571)
    g = coords.UtmGridMapping.from_bbox("18N", 10.0, bbox)
    assert (g.utm_zone, g.width, g.height) == ("18N", 520, 954)
    assert g.utm_x_min == 222720.0 and g.utm_y_min == 130300.0


def test_from_latlon_center():
    g = coords.UtmGridMapping.from_latlon_center(1.17, -77.4916575059,
                                                 10.0, 1000)
    assert g.utm_zone == "18N"
    assert g.width == 1000 and g.height == 1000
    assert g.utm_x_min == 217710.0
    assert g.utm_y_min == 124440.0


@pytest.mark.parametrize("lat,lon", [(1, -179.99), (1, 179.99)])
def test_longitudal_wrapping(lat, lon):
    roi = coords.UtmGridMapping.from_latlon_center(lat, lon, 5000, 1, 1)
    new_lat, new_lon = roi.centroid_latlon
    np.testing.assert_allclose((new_lat, new_lon), (lat, lon), 1e-2, 1e-2)


def test_vectorization():
    lat, lon = -4, 45
    roi = coords.UtmGridMapping.from_latlon_center(lat, lon, 1, 1, 1)
    new_lat, new_lon = coords.UtmGridMapping(
        roi.utm_zone, 1, 1, 1,
        np.array([roi.utm_x_min]), np.array([roi.utm_y_min])).centroid_latlon
    np.testing.assert_allclose((new_lat, new_lon), ([lat], [lon]), 1e-5, 1e-5)


def test_from_bbox_fails_for_latlon():
    with pytest.raises(AssertionError):
        coords.UtmGridMapping.from_bbox("18N", 10.0,
                                        (-77.49, 1.177, -77.12, 1.26))


def test_bbox_latlon():
    bbox = (222723.818, 130298.284, 227929.316, 139839.571)
    g = coords.UtmGridMapping.from_bbox("18N", 10.0, bbox)
    expected = (1.177741637956, -77.491578, 1.264015162621, -77.444959)
    np.testing.assert_allclose(g.bbox_latlon, expected)


@pytest.mark.parametrize("zone,epsg", [
    ("18N", "EPSG:32618"), ("10C", "EPSG:32710"),
    ("49S", "EPSG:32649"), ("9m", "EPSG:32709")])
def test_epsg(zone, epsg):
    assert coords.UtmGridMapping(zone, 1, 10, 10, 0, 0).epsg == epsg


@pytest.mark.parametrize("lat,lon,res,expected_gt,expected_epsg", [
    (40.7128, -74.0060, 1.0,
     (583459.372324085, 1.0, 0, 4507850.998243321, 0, -1.0), "EPSG:32618"),
    (51.5074, -0.1278, 10.0,
     (698816.2343119299, 10.0, 0, 5710663.758080996, 0, -10.0),
     "EPSG:32630"),
    (35.6895, 139.6917, 10.0,
     (381122.23003942776, 10.0, 0, 3950798.9078813544, 0, -10.0),
     "EPSG:32654"),
])
def test_geotransform_info(lat, lon, res, expected_gt, expected_epsg):
    # The reference's geotransforms of a 1000 m image centred on each
    # point, computed with pyproj: the centre is (gt[0] + 500, gt[3] - 500).
    # Our own TM series agrees to < 1e-3 m (sub-millimeter), asserted
    # with that tolerance.
    e, n, zone, _ = utm.from_latlon(lat, lon)
    np.testing.assert_allclose((e, n), (expected_gt[0] + 500,
                                        expected_gt[3] - 500),
                               rtol=0, atol=1e-3)
    assert expected_gt[1] == res
    assert expected_epsg == f"EPSG:32{6 if lat >= 0 else 7}{zone:02d}"


def test_utm_roundtrip_vectorized():
    rng = np.random.default_rng(0)
    lat = rng.uniform(-79, 83, 500)
    lon = rng.uniform(-180, 180, 500)
    e, n, zn, zl = utm.from_latlon(lat, lon)
    la, lo = utm.to_latlon(e, n, zn, northern=lat >= 0, strict=False)
    np.testing.assert_allclose(la, lat, atol=1e-7)
    np.testing.assert_allclose((lo - lon + 180) % 360 - 180, 0, atol=1e-7)
