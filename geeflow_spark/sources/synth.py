"""Deterministic synthetic geospatial fixtures, generated IN Spark.

The sandbox testdata (/root/testdata) is a TPC-H-ish star schema with no
geometry, so the geospatial tables (FIXTURES.md) are synthesized here:
seeded, wall-clock-free, and generated distributedly via spark.range so
the same recipe scales from 10^3 rows (unit tests) to bench sizes without
a driver-side bottleneck.

Determinism recipe: all randomness derives from `splitmix64(doc id + salt)`
implemented in Spark column arithmetic (JVM-side, no Python in the hot
path): shifts and xors on longs, the wrapping multiplies in exact decimal
arithmetic mod 2^64, so no step overflows under ANSI. The same splitmix64
is re-implemented in numpy (`splitmix64_np`) so pandas oracles can
recompute identical values row-for-row.

Tables:
  docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>,
       lat double, lon double)
      - interleaved text+media spans per BASELINE.json input_hint;
        offset strictly increasing per doc (span-sequence invariant).
      - 30% of docs drawn from 5 "city" clusters -> hot S2 cell prefixes
        (coastal/urban skew; exercises salting).
  regions_pdf(region_id long, ring array<double>, class_name string,
          gridcode int)  - small pandas polygon set, always broadcastable.
  scenes(scene_id, ts, cell long, B1..B4 array<float>, mask array<byte>,
         cloud_pct) - time-stamped raster patches for temporal reducers.
  cells_metadata(id, utm_x, utm_y, utm_zone) + predictions(id, dy, dx,
         tensor, h, w, c) - tile-assignment inputs (export_rasters path).
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Five deliberate hot spots (lat, lon): dense urban/coastal clusters.
CITY_CLUSTERS = [
    (40.71, -74.00),   # New York
    (51.51, -0.13),    # London
    (35.69, 139.69),   # Tokyo
    (-33.87, 151.21),  # Sydney
    (1.29, 103.85),    # Singapore
]
CLUSTER_STD_DEG = 0.35
WORDS = ("spark tile region join cell index query scan filter merge "
         "window batch row data map reduce shuffle key value grid").split()


# splitmix64 constants as signed longs: the golden gamma 0x9E3779B97F4A7C15
# and the multipliers 0xBF58476D1CE4E5B9, 0x94D049BB133111EB.
_GAMMA = -7046029254386353131
_M1 = -4658895280553007687
_M2 = -7723592293110705685
_ID_MUL = 2862933555777941757


def _mul64(z, k: int, add: int = 0):
    """`z * k + add` mod 2^64 as a signed long, for a long column `z`.

    Long arithmetic would overflow, which raises under ANSI. The product
    is exact in decimal instead: two longs multiply to less than 2^126,
    which fits decimal(38,0). `pmod` then wraps it like Java long
    arithmetic does.
    """
    x = z.cast("decimal(20,0)") * F.lit(Decimal(k))
    if add:
        x = x + F.lit(Decimal(add))
    half = F.lit(Decimal(1 << 63))
    return (F.pmod(x + half, F.lit(Decimal(1 << 64))) - half).cast("long")


def _splitmix64_steps(salt: int) -> list:
    """The steps of `_uniform`, each a function of the previous step's
    column: splitmix64(col * _ID_MUL + salt), then its top 53 bits as a
    double in [0,1), like `uniform_np`."""
    return [
        lambda z: _mul64(z, _ID_MUL, salt + _GAMMA),
        # z ^= z >>> 30; z *= M1; z ^= z >>> 27; z *= M2; z ^= z >>> 31
        lambda z: _mul64(z.bitwiseXOR(F.shiftrightunsigned(z, 30)), _M1),
        lambda z: _mul64(z.bitwiseXOR(F.shiftrightunsigned(z, 27)), _M2),
        lambda z: (F.shiftrightunsigned(
            z.bitwiseXOR(F.shiftrightunsigned(z, 31)), 11).cast("double")
            / F.lit(float(1 << 53))),
    ]


def _uniform(col, salt: int):
    """Uniform double in [0,1) from a long column + salt (deterministic)."""
    for step in _splitmix64_steps(salt):
        col = step(col)
    return col


def _uniform_array(ids, salt: int):
    """`_uniform` of each element of an array<long> column.

    One `transform` per step, so a lambda variable holds each step's
    value. Spark does not share common subexpressions inside a lambda: a
    single lambda over `_uniform` would evaluate the first multiply 8
    times per element (each xorshift reads its input twice), about 4x
    slower.
    """
    for step in _splitmix64_steps(salt):
        ids = F.transform(ids, step)
    return ids


def splitmix64_np(x: np.ndarray) -> np.ndarray:
    """Same splitmix64 finalizer in numpy (for pandas oracles)."""
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return z


def uniform_np(ids: np.ndarray, salt: int) -> np.ndarray:
    mixed = splitmix64_np(ids.astype(np.uint64)
                          * np.uint64(2862933555777941757)
                          + np.uint64(salt % (1 << 64)))
    return (mixed >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def doc_latlon_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Numpy mirror of the docs() lat/lon derivation (oracle side)."""
    u_pick = uniform_np(ids, 1)
    u_lat = uniform_np(ids, 2)
    u_lon = uniform_np(ids, 3)
    n_lat = uniform_np(ids, 4)
    n_lon = uniform_np(ids, 5)
    cluster_i = (uniform_np(ids, 6) * len(CITY_CLUSTERS)).astype(np.int64)
    clat = np.array([c[0] for c in CITY_CLUSTERS])[cluster_i]
    clon = np.array([c[1] for c in CITY_CLUSTERS])[cluster_i]
    # triangular-ish cluster spread from two uniforms (cheap, deterministic)
    dlat = (n_lat - 0.5) * 2 * CLUSTER_STD_DEG
    dlon = (n_lon - 0.5) * 2 * CLUSTER_STD_DEG
    lat = np.where(u_pick < 0.3, clat + dlat, -60.0 + u_lat * 132.0)
    lon = np.where(u_pick < 0.3, clon + dlon, -180.0 + u_lon * 360.0)
    return lat, lon


def docs(spark: SparkSession, n: int, n_partitions: int | None = None
         ) -> DataFrame:
    """Interleaved text+media document table with point geometry."""
    df = spark.range(0, n, 1, n_partitions or spark.sparkContext.defaultParallelism)
    idc = F.col("id")
    u_pick = _uniform(idc, 1)
    u_lat = _uniform(idc, 2)
    u_lon = _uniform(idc, 3)
    n_lat = _uniform(idc, 4)
    n_lon = _uniform(idc, 5)
    cluster_i = F.floor(_uniform(idc, 6) * len(CITY_CLUSTERS)).cast("int")
    clat = F.element_at(
        F.array(*[F.lit(float(c[0])) for c in CITY_CLUSTERS]), cluster_i + 1)
    clon = F.element_at(
        F.array(*[F.lit(float(c[1])) for c in CITY_CLUSTERS]), cluster_i + 1)
    lat = F.when(u_pick < 0.3,
                 clat + (n_lat - 0.5) * 2 * CLUSTER_STD_DEG) \
           .otherwise(F.lit(-60.0) + u_lat * 132.0)
    lon = F.when(u_pick < 0.3,
                 clon + (n_lon - 0.5) * 2 * CLUSTER_STD_DEG) \
           .otherwise(F.lit(-180.0) + u_lon * 360.0)

    # spans: 2 + (id % 4) spans; even index -> text span, odd -> media ref.
    n_spans = (idc % 4 + 2).cast("int")
    word_arr = F.array(*[F.lit(w) for w in WORDS])
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            F.when(i % 2 == 0, F.lit("text")).otherwise(F.lit("media"))
             .alias("kind"),
            F.when(i % 2 == 0,
                   F.concat_ws(" ",
                               F.element_at(word_arr,
                                            ((idc + i) % len(WORDS) + 1)
                                            .cast("int")),
                               F.element_at(word_arr,
                                            ((idc * 7 + i * 3) % len(WORDS)
                                             + 1).cast("int"))))
             .otherwise(F.lit(None).cast("string")).alias("text"),
            F.when(i % 2 == 1,
                   F.concat(F.lit("media/"), F.format_string("%012d", idc),
                            F.lit("/"), i.cast("string")))
             .otherwise(F.lit(None).cast("string")).alias("media_ref"),
            (i * 64 + (idc % 17)).cast("int").alias("offset"),
        ))
    return df.select(
        F.format_string("doc%010d", idc).alias("doc_id"),
        spans.alias("spans"),
        lat.alias("lat"),
        lon.alias("lon"),
    )


def regions_pdf(n: int = 40, seed: int = 7, radius_scale: float = 1.0,
                verts: tuple[int, int] = (3, 9)):
    """Region polygons as a pandas DataFrame (small; broadcast side).

    Mix of convex polygons (rotated k-gons) around cluster hot spots and
    uniform locations; overlapping pairs included so first/mode/max
    reducers disagree (reference ee_algo.py:232-243 semantics matter).
    """
    import pandas as pd
    rng = np.random.default_rng(seed)
    rows = []
    for rid in range(n):
        if rid % 3 == 0:  # around a hot cluster -> overlaps & skew
            base = CITY_CLUSTERS[rid % len(CITY_CLUSTERS)]
            c_lat = base[0] + rng.uniform(-0.3, 0.3)
            c_lon = base[1] + rng.uniform(-0.3, 0.3)
            radius = rng.uniform(0.2, 0.8)
        else:
            c_lat = rng.uniform(-55, 68)
            c_lon = rng.uniform(-175, 175)
            radius = rng.uniform(0.5, 3.0)
        radius *= radius_scale
        k = int(rng.integers(*verts))
        ang0 = rng.uniform(0, 2 * np.pi)
        angles = ang0 + np.linspace(0, 2 * np.pi, k, endpoint=False)
        # Jagged radii for high-vertex polygons (realistic boundaries).
        rr = radius * (1.0 + (rng.uniform(-0.3, 0.3, k) if k > 12 else 0))
        ring = np.empty(2 * k)
        ring[0::2] = c_lon + rr * np.cos(angles)
        ring[1::2] = c_lat + rr * 0.7 * np.sin(angles)
        rows.append({
            "region_id": rid,
            "ring": ring.tolist(),
            "class_name": f"class_{rid % 5}",
            "gridcode": int(rid * 10 + rid % 3),
        })
    return pd.DataFrame(rows)


def scenes(spark: SparkSession, n_cells: int = 50, n_times: int = 24,
           hw: int = 8) -> DataFrame:
    """Time-stamped raster patches, one row per (cell, timestep)."""
    df = spark.range(0, n_cells * n_times, 1, 8)
    idc = F.col("id")
    cell_i = (idc % n_cells).cast("long")
    t_i = F.floor(idc / n_cells).cast("int")
    # Timestamps spread over 2018-2024 (epoch millis), ~monthly cadence.
    ts = (F.lit(1514764800000) +
          t_i.cast("long") * F.lit(91 * 24 * 3600 * 1000 // 3) +
          (cell_i * 37 % 1000) * F.lit(3600 * 1000))
    npx = hw * hw
    pixels = F.sequence(idc * npx, idc * npx + (npx - 1))
    band = lambda salt: F.transform(  # noqa: E731
        _uniform_array(pixels, salt), lambda u: (u * 100.0).cast("float"))
    mask = F.transform(_uniform_array(pixels, 99),
                       lambda u: (u > 0.2).cast("tinyint"))
    return df.select(
        F.format_string("scene%08d", idc).alias("scene_id"),
        ts.alias("ts"),
        cell_i.alias("cell"),
        band(21).alias("B1"), band(22).alias("B2"),
        band(23).alias("B3"), band(24).alias("B4"),
        mask.alias("mask"),
        (_uniform(idc, 31) * 100).alias("cloud_pct"),
        F.lit(hw).alias("h"), F.lit(hw).alias("w"),
    )


def cells_metadata(spark: SparkSession, n: int = 500) -> DataFrame:
    """Plot anchors in UTM meters across two zones (FIXTURES.md §5)."""
    df = spark.range(0, n, 1, 4)
    idc = F.col("id")
    utm_x = F.lit(200000.0) + F.floor(_uniform(idc, 41) * 100000) * F.lit(9.6)
    utm_y = F.lit(1000000.0) + F.floor(_uniform(idc, 42) * 100000) * F.lit(9.6)
    zone = F.when(idc % 2 == 0, "32T").otherwise("18N")
    return df.select(idc.alias("id"), utm_x.alias("utm_x"),
                     utm_y.alias("utm_y"), zone.alias("utm_zone"))


def predictions(spark: SparkSession, n: int = 500, h: int = 4, w: int = 4,
                c: int = 2) -> DataFrame:
    df = spark.range(0, n, 1, 4)
    idc = F.col("id")
    npx = h * w * c
    tensor = _uniform_array(F.sequence(idc * npx, idc * npx + (npx - 1)),
                            51).cast("array<float>")
    return df.select(
        idc.alias("id"),
        (idc % 3 - 1).cast("int").alias("dy"),
        (F.floor(idc / 3) % 3 - 1).cast("int").alias("dx"),
        tensor.alias("tensor"),
        F.lit(h).alias("h"), F.lit(w).alias("w"), F.lit(c).alias("c"),
    )
