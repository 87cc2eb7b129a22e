"""Vectorized UTM <-> WGS-84 conversion in pure numpy.

Implements the standard Transverse Mercator series expansion
(Snyder, "Map Projections: A Working Manual", USGS 1987, eqs. 8-9..8-25;
the same public formulas used by the `utm` PyPI package that the
reference wraps in geeflow/utm_lib.py:21-30). No third-party geo libs.

Semantics matched to the reference's expectations:
  - WGS-84 ellipsoid, central scale factor 0.9996, 500 km false easting,
    10,000 km false northing in the southern hemisphere.
  - Zone-number exceptions: 32V widening (Norway) and Svalbard
    (zones 31X/33X/35X/37X) - same rules as
    /root/reference/geeflow/ee_export_utils.py:67-104.
  - Zone letters from the standard C..X latitude bands.
  - `strict=False` inverse conversion tolerates out-of-zone coordinates
    (needed by UtmGridMapping.bbox_latlon, reference coords.py:146-160).

Everything accepts scalars or numpy arrays (the reference explicitly
tests vectorized inputs, coords_test.py:76-84).
"""

from __future__ import annotations

import numpy as np

# WGS-84.
R = 6378137.0
E = 0.00669438  # First eccentricity squared.
E2 = E * E
E3 = E2 * E
E_P2 = E / (1 - E)

SQRT_E = np.sqrt(1 - E)
_E = (1 - SQRT_E) / (1 + SQRT_E)
_E2 = _E * _E
_E3 = _E2 * _E
_E4 = _E3 * _E
_E5 = _E4 * _E

M1 = 1 - E / 4 - 3 * E2 / 64 - 5 * E3 / 256
M2 = 3 * E / 8 + 3 * E2 / 32 + 45 * E3 / 1024
M3 = 15 * E2 / 256 + 45 * E3 / 1024
M4 = 35 * E3 / 3072

P2 = 3.0 / 2 * _E - 27.0 / 32 * _E3 + 269.0 / 512 * _E5
P3 = 21.0 / 16 * _E2 - 55.0 / 32 * _E4
P4 = 151.0 / 96 * _E3 - 417.0 / 128 * _E5
P5 = 1097.0 / 512 * _E4

K0 = 0.9996

ZONE_LETTERS = "CDEFGHJKLMNPQRSTUVWXX"
# "<zone number><letter>" of every zone code that `tile_origin` returns.
ZONE_STRINGS = tuple(f"{z}{letter}" for z in range(1, 61)
                     for letter in ZONE_LETTERS + "Z")


def _mod_angle(value):
    """Wraps an angle in radians to [-pi, pi)."""
    return np.mod(value + np.pi, 2 * np.pi) - np.pi


def latlon_to_zone_number(lat, lon):
    """UTM zone number with the 32V and Svalbard exceptions (vectorized)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    zone = (np.floor((lon + 180.0) / 6.0) + 1).astype(np.int64)
    zone = np.clip(zone, 1, 60)
    # Norway: 56<=lat<64 and 3<=lon<12 -> zone 32.
    zone = np.where((lat >= 56) & (lat < 64) & (lon >= 3) & (lon < 12), 32, zone)
    # Svalbard: 72<=lat<=84.
    sval = (lat >= 72) & (lat <= 84)
    zone = np.where(sval & (lon >= 0) & (lon < 9), 31, zone)
    zone = np.where(sval & (lon >= 9) & (lon < 21), 33, zone)
    zone = np.where(sval & (lon >= 21) & (lon < 33), 35, zone)
    zone = np.where(sval & (lon >= 33) & (lon < 42), 37, zone)
    return zone


def latitude_to_zone_letter(lat):
    """Standard C..X latitude band letter (vectorized, returns object array)."""
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    idx = np.clip(((lat + 80) / 8).astype(np.int64), 0, len(ZONE_LETTERS) - 1)
    letters = np.array(list(ZONE_LETTERS))
    out = letters[idx]
    out = np.where((lat >= -80) & (lat <= 84), out, "Z")
    return out


def zone_number_to_central_longitude(zone_number):
    return (np.asarray(zone_number, dtype=np.float64) - 1) * 6 - 180 + 3


def from_latlon(latitude, longitude, force_zone_number=None,
                force_zone_letter=None):
    """(lat, lon) -> (easting, northing, zone_number, zone_letter).

    Snyder 1987 eqs. 8-9..8-15. Matches the `utm` package that the
    reference's coords_test.py golden values were produced with.
    """
    lat = np.asarray(latitude, dtype=np.float64)
    lon = np.asarray(longitude, dtype=np.float64)
    scalar = lat.ndim == 0 and lon.ndim == 0
    # Cache-block big batches: the Snyder series is ~20 full-array
    # passes; L2-resident chunks keep concurrent workers off DRAM
    # (same measured effect as geometry.points_in_polygon).
    if not scalar and lat.ndim == 1 and len(lat) > 16384 \
            and force_zone_number is None and force_zone_letter is None:
        e = np.empty(len(lat)); n = np.empty(len(lat))
        zn = np.empty(len(lat), dtype=np.int64)
        zl = np.empty(len(lat), dtype="<U1")
        for i0 in range(0, len(lat), 16384):
            sl = slice(i0, min(i0 + 16384, len(lat)))
            e[sl], n[sl], zn[sl], zl[sl] = from_latlon(lat[sl], lon[sl])
        return e, n, zn, zl

    lat_rad = np.radians(lat)
    lat_sin = np.sin(lat_rad)
    lat_cos = np.cos(lat_rad)
    lat_tan = lat_sin / lat_cos
    lat_tan2 = lat_tan * lat_tan
    lat_tan4 = lat_tan2 * lat_tan2

    if force_zone_number is None:
        zone_number = latlon_to_zone_number(lat, lon)
    else:
        zone_number = np.asarray(force_zone_number, dtype=np.int64)
    if force_zone_letter is None:
        zone_letter = latitude_to_zone_letter(lat)
    else:
        zone_letter = np.atleast_1d(np.asarray(force_zone_letter, dtype=object))

    lon_rad = np.radians(lon)
    central_lon_rad = np.radians(zone_number_to_central_longitude(zone_number))

    n = R / np.sqrt(1 - E * lat_sin**2)
    c = E_P2 * lat_cos**2

    a = lat_cos * _mod_angle(lon_rad - central_lon_rad)
    a2 = a * a
    a3 = a2 * a
    a4 = a3 * a
    a5 = a4 * a
    a6 = a5 * a

    m = R * (M1 * lat_rad
             - M2 * np.sin(2 * lat_rad)
             + M3 * np.sin(4 * lat_rad)
             - M4 * np.sin(6 * lat_rad))

    easting = K0 * n * (a
                        + a3 / 6 * (1 - lat_tan2 + c)
                        + a5 / 120 * (5 - 18 * lat_tan2 + lat_tan4
                                      + 72 * c - 58 * E_P2)) + 500000.0
    northing = K0 * (m + n * lat_tan * (
        a2 / 2
        + a4 / 24 * (5 - lat_tan2 + 9 * c + 4 * c**2)
        + a6 / 720 * (61 - 58 * lat_tan2 + lat_tan4
                      + 600 * c - 330 * E_P2)))
    northing = np.where(lat < 0, northing + 10000000.0, northing)

    if scalar:
        return (float(easting), float(northing), int(zone_number),
                str(zone_letter.item() if zone_letter.ndim else zone_letter))
    return easting, northing, zone_number, zone_letter


def tile_origin(lat, lon, cell_size: float, width: int):
    """(lat, lon) arrays -> (zone_code, x0, y0): the snapped origin of the
    width x width tile of `cell_size` m centred on each point
    (UtmGridMapping.from_latlon_center, reference coords.py:90-99,
    75-78), and the point's UTM zone as an index into ZONE_STRINGS."""
    lat = np.asarray(lat, dtype=np.float64)
    e, n, zone_number, _ = from_latlon(lat, lon)
    half = cell_size * width / 2.0
    x0 = np.round((e - half) / cell_size) * cell_size
    y0 = np.round((n - half) / cell_size) * cell_size
    # the latitude band of latitude_to_zone_letter, "Z" outside -80..84
    last = len(ZONE_LETTERS) - 1
    band = np.where((lat >= -80) & (lat <= 84),
                    np.clip(((lat + 80.0) / 8.0).astype(np.int64), 0, last),
                    last + 1)
    return (zone_number - 1) * (last + 2) + band, x0, y0


def to_latlon(easting, northing, zone_number, zone_letter=None,
              northern=None, strict=True):
    """(easting, northing, zone) -> (lat, lon). Snyder 1987 eqs. 8-17..8-25.

    strict=False allows out-of-range eastings (out-of-zone corners), as the
    reference relies on (coords.py:152-159).
    """
    if zone_letter is None and northern is None:
        raise ValueError("either zone_letter or northern needs to be set")
    if zone_letter is not None:
        zone_letter = str(zone_letter).upper()
        northern = zone_letter >= "N"

    x = np.asarray(easting, dtype=np.float64) - 500000.0
    y = np.asarray(northing, dtype=np.float64).copy()
    scalar = x.ndim == 0 and y.ndim == 0

    if strict:
        if np.any((x < -400000) | (x > 400000)):
            raise ValueError(
                "easting out of range (must be between 100,000 m and "
                "900,000 m); use strict=False to override")
    northern = np.asarray(northern, dtype=bool)
    y = np.where(northern, y, y - 10000000.0)

    m = y / K0
    mu = m / (R * M1)

    p_rad = (mu
             + P2 * np.sin(2 * mu)
             + P3 * np.sin(4 * mu)
             + P4 * np.sin(6 * mu)
             + P5 * np.sin(8 * mu))

    p_sin = np.sin(p_rad)
    p_sin2 = p_sin * p_sin
    p_cos = np.cos(p_rad)
    p_tan = p_sin / p_cos
    p_tan2 = p_tan * p_tan
    p_tan4 = p_tan2 * p_tan2

    ep_sin = 1 - E * p_sin2
    ep_sin_sqrt = np.sqrt(ep_sin)

    n = R / ep_sin_sqrt
    r = (1 - E) / ep_sin

    c = E_P2 * p_cos**2
    c2 = c * c

    d = x / (n * K0)
    d2 = d * d
    d3 = d2 * d
    d4 = d3 * d
    d5 = d4 * d
    d6 = d5 * d

    latitude = (p_rad - (p_tan / r) *
                (d2 / 2
                 - d4 / 24 * (5 + 3 * p_tan2 + 10 * c - 4 * c2 - 9 * E_P2)
                 + d6 / 720 * (61 + 90 * p_tan2 + 298 * c + 45 * p_tan4
                               - 252 * E_P2 - 3 * c2)))
    longitude = _mod_angle(
        (d
         - d3 / 6 * (1 + 2 * p_tan2 + c)
         + d5 / 120 * (5 - 2 * c + 28 * p_tan2 - 3 * c2 + 8 * E_P2
                       + 24 * p_tan4)) / p_cos
        + np.radians(zone_number_to_central_longitude(zone_number)))

    lat_deg = np.degrees(latitude)
    lon_deg = np.degrees(longitude)
    if scalar:
        return float(lat_deg), float(lon_deg)
    return lat_deg, lon_deg
