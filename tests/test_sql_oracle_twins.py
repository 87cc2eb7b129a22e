"""The SQL-recomputability contracts behind the driver oracles.

Each engine kernel that a battery query relies on has a pure-SQL twin
(DuckDB) in `__spark_entry__.py` that must match bit-for-bit: the S2
cell encode (cell_sql_query) and the UTM tile origin
(tile_origin_sql_query). These tests sweep adversarial inputs well
beyond the gate data.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from __spark_entry__ import cell_sql_query, tile_origin_sql_query
from geeflow_spark.functions import s2, utm


@pytest.mark.parametrize("level", [3, 5, 8, 12])
def test_s2_cell_sql_matches_numpy(level):
    rng = np.random.default_rng(level)
    lat = rng.uniform(-89.99, 89.99, 50_000)
    lon = rng.uniform(-180.0, 180.0, 50_000)
    # adversarial extras: near faces' diagonals / equator / meridians
    extra_lat = np.array([0.0, 45.0, -45.0, 89.9, -89.9, 35.26438968])
    extra_lon = np.array([0.0, 45.0, 135.0, -135.0, 90.0, 180.0 - 1e-9])
    lat = np.concatenate([lat, extra_lat])
    lon = np.concatenate([lon, extra_lon])
    pdf = pd.DataFrame({"doc_id": np.arange(len(lat)),
                        "lat": lat, "lon": lon})
    con = duckdb.connect()
    con.register("pts", pdf)
    q = cell_sql_query("pts", "lat", "lon", level)
    got = con.execute(q + " ORDER BY doc_id").df()["cell"] \
        .to_numpy(np.int64)
    exp = s2.latlon_to_cell_id(lat, lon, level).astype(np.int64)
    assert (got == exp).all()


def test_utm_tile_sql_matches_numpy():
    rng = np.random.default_rng(9)
    lat = rng.uniform(-79.9, 83.9, 100_000)
    lon = rng.uniform(-180.0, 180.0, 100_000)
    # Norway + Svalbard exception bands, zone edges
    lat = np.concatenate([lat, [56.0, 63.9, 72.0, 84.0, 80.0, -79.99]])
    lon = np.concatenate([lon, [3.0, 11.9, 9.0, 33.0, 41.9, 0.0]])
    pdf = pd.DataFrame({"doc_id": np.arange(len(lat)),
                        "lat": lat, "lon": lon})
    con = duckdb.connect()
    con.register("pts", pdf)
    q = tile_origin_sql_query("pts", "lat", "lon", 10.0, 96)
    got = con.execute(q + " ORDER BY doc_id").df()
    code, x0, y0 = utm.tile_origin(lat, lon, 10.0, 96)
    zone = np.array(utm.ZONE_STRINGS)[code]
    assert (got["utm_zone"].to_numpy() == zone).all()
    assert (got["tile_x"].to_numpy() == x0).all()
    assert (got["tile_y"].to_numpy() == y0).all()
