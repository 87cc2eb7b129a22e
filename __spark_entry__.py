"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  - flagship: interleaved docs + derived geometry -> S2-cell
                broadcast PIP join vs region polygons -> UTM tile origin ->
                geographic split; spans preserved (BASELINE.json).
queries()     - 10-query battery over the geo kernels (geo_*), the
                catalog sources (src_s2_*) and stats (stats_*); each has
                a DuckDB oracle in oracle_sql() (same column names/types).
oracle_sql()  - independent closed-form recomputations (interval logic,
                half-plane PIP, baked split boundaries, CRT md5%10), NOT
                ports of the Spark plans - genuine cross-checks.

Determinism notes: float outputs are rounded in BOTH engines; ranks use
explicit id tiebreaks; integer outputs cast to BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from geeflow_spark.functions import s2 as _s2
from geeflow_spark.functions import utm as _utm
from geeflow_spark.operators import spatial_join, stats, tiles
from geeflow_spark.plans import generate
from geeflow_spark.sources import catalog, derived, synth
from geeflow_spark.sources.registry import TableSource

# ---------------------------------------------------------------------------
# Fixed geo fixtures shared by Spark queries and SQL oracles.
# ---------------------------------------------------------------------------

# Axis-aligned rectangles (region_id, x0, y0, x1, y1) in lon/lat.
RECTS = [
    (0, -80.0, 20.0, -30.0, 60.0),
    (1, -10.0, -40.0, 60.0, 30.0),
    (2, 100.0, -20.0, 170.0, 50.0),
]

# Convex polygons (ccw): triangle + pentagon, as (region_id, ring).
TRI = (10, [-120.0, -50.0, -60.0, -45.0, -90.0, 10.0])
PENT = (11, [20.0, 35.0, 60.0, 40.0, 75.0, 60.0, 45.0, 71.0, 15.0, 55.0])

# Tile-assignment fixture: one synthetic zone bbox (UTM meters).
ZONE_BBOX = {"32T": (200000.0, 1000000.0, 1160000.0, 1960000.0)}
NUM_SPLITS = 4
PLOT_SIZE = 960.0
CELL_SIZE = 10.0
PRED_HW = 4


def _rect_regions_pdf() -> pd.DataFrame:
    rows = []
    for rid, x0, y0, x1, y1 in RECTS:
        rows.append({"region_id": rid,
                     "ring": [x0, y0, x1, y0, x1, y1, x0, y1]})
    return pd.DataFrame(rows)


def _convex_regions_pdf() -> pd.DataFrame:
    return pd.DataFrame([{"region_id": TRI[0], "ring": TRI[1]},
                         {"region_id": PENT[0], "ring": PENT[1]}])


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derived.with_geo(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    sf_dir = "/root/testdata/sf0.001"
    docs = derived.with_spans(_docs(spark, sf_dir))
    # Larger regions: the sf0.001 table has only 500 docs spread over the
    # whole globe, so unit-test-sized polygons would rarely match.
    regions = synth.regions_pdf(40, radius_scale=4.0)
    ex = generate.generate_examples(
        docs.select("doc_id", "spans", "lat", "lon"), regions, cell_level=7)
    return ex.select("doc_id", "spans", "lat", "lon", "region_id",
                     "gridcode", "utm_zone", "tile_x", "tile_y", "split")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_geo_pip_rectangles(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = spatial_join.join_points_regions(
        docs.select("doc_id", "lat", "lon"), _rect_regions_pdf(), level=6)
    # No orderBy: the gate compares order-insensitively and a global
    # sort is a range Exchange the 100 TB plan must not pay.
    return out.select("doc_id", F.col("region_id").cast("long")
                      .alias("region_id"))


def _q_geo_pip_convex(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = spatial_join.join_points_regions(
        docs.select("doc_id", "lat", "lon"), _convex_regions_pdf(), level=6)
    return out.select("doc_id", F.col("region_id").cast("long")
                      .alias("region_id"))


def _q_geo_tile_assign(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("doc_id").alias("id"), "utm_x", "utm_y",
        (F.col("doc_id") % 3 - 1).cast("int").alias("dy"),
        (F.floor(F.col("doc_id") / 3) % 3 - 1).cast("int").alias("dx"),
        F.lit("32T").alias("utm_zone"))
    out = tiles.assign_tiles(docs, zone_bboxes=ZONE_BBOX,
                             cell_size=CELL_SIZE, plot_size_m=PLOT_SIZE,
                             num_splits=NUM_SPLITS, pred_h=PRED_HW,
                             pred_w=PRED_HW)
    return out.select("doc_id", F.col("xs").cast("long").alias("xs"),
                      F.col("ys").cast("long").alias("ys"))


@pandas_udf(LongType())
def _split_bucket(ids: pd.Series) -> pd.Series:
    return pd.Series(_s2.split_bucket(ids.to_numpy()))


def _q_geo_split_bucket(spark, sf_dir):
    # The generate kernel's split hash (s2.split_bucket), the reference's
    # semantics (export_beam_tfds.py:103): full 128-bit md5 of the decimal
    # string, mod 10. doc_id is a non-negative long, so its uint64 view
    # has the same decimal string. The oracle recomputes it via CRT digit
    # decomposition - independent formulation.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = docs.select(_split_bucket(F.col("doc_id")).alias("bucket"))
    return out.groupBy("bucket").agg(F.count("*").alias("n")) \
        .select(F.col("bucket").cast("long").alias("bucket"), "n")


@pandas_udf(StructType([StructField("utm_zone", StringType()),
                         StructField("tile_x", DoubleType()),
                         StructField("tile_y", DoubleType())]))
def _tile_origin(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
    code, x0, y0 = _utm.tile_origin(lat.to_numpy(np.float64),
                                    lon.to_numpy(np.float64), 10.0, 96)
    return pd.DataFrame({"utm_zone": np.array(_utm.ZONE_STRINGS)[code],
                         "tile_x": x0, "tile_y": y0})


def _q_geo_tile_origin(spark, sf_dir):
    # UTM tile origins from the generate kernel's own tile code
    # (utm.tile_origin). ORACLED: tile_origin_sql_query recomputes the
    # full Snyder series + zone/letter rules + tile snap in DuckDB
    # (bit-exact on 1.3M validation points).
    docs = _docs(spark, sf_dir)
    tiled = docs.select("doc_id", _tile_origin(F.col("lat"), F.col("lon"))
                        .alias("t"))
    return tiled.select("doc_id", "t.utm_zone", "t.tile_x", "t.tile_y")


def _q_geo_cell_counts(spark, sf_dir):
    # Per-cell counts at level 5. ORACLED: cell_sql_query replays the
    # exact S2 encode (face/st/Hilbert) in pure SQL.
    docs = _docs(spark, sf_dir).select("doc_id", "lat", "lon")
    # no sort: gate is order-free.
    return spatial_join.with_cell(docs, level=5).groupBy("cell").count()


# The registry-driven ORACLE queries (src_s2_*) read a sentinel2_sr-shaped
# table derived from the sandbox `events` table with congruential
# arithmetic that both Spark and DuckDB compute exactly.
DEMO_CLOUD_SQL = ("(((event_id * 2654435761) % 4294967296)"
                  " / 4294967296.0 * 110.0)")
DEMO_B4_SQL = "(100.0 + ((event_id * 7919) % 10000) / 10.0)"
DEMO_B8_SQL = "(200.0 + ((event_id * 104729) % 10000) / 10.0)"
DEMO_QA60_SQL = "((event_id * 40503 + 12345) % 4096)"


def demo_s2_source(sf_dir: str) -> TableSource:
    """`sentinel2_sr`-shaped TableSource derived from {sf_dir}/events:
    scene_id=event_id, cell=user_id%50, cloud % / B4 / B8 / QA60 by the
    DEMO_*_SQL arithmetic."""

    def load(spark: SparkSession) -> DataFrame:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        eid = F.col("event_id")
        return ev.select(
            eid.alias("scene_id"),
            (F.col("user_id") % 50).alias("cell"),
            F.col("ts"),
            (((eid * 2654435761) % 4294967296) / F.lit(4294967296.0)
             * 110.0).alias("CLOUDY_PIXEL_PERCENTAGE"),
            (F.lit(100.0) + ((eid * 7919) % 10000) / 10.0).alias("B4"),
            (F.lit(200.0) + ((eid * 104729) % 10000) / 10.0).alias("B8"),
            ((eid * 40503 + 12345) % 4096).alias("QA60"))

    return TableSource(
        name="sentinel2_sr_demo", path=None,
        bands=["B4", "B8", "QA60"], vis_bands=["B4"],
        filters=[("<=CLOUDY_PIXEL_PERCENTAGE", 100)], loader=load)


def _q_src_s2_cloudfree_mosaic(spark, sf_dir):
    # Registry-driven: named TableSource -> standing corruption filter
    # (<=100%) -> cloud-% helper (<30) -> QA60 bitmask -> most-recent
    # clear scene per cell -> NDVI. Mirrors the reference's
    # filter_by_cloud_percentage + im_cloud_mask + mosaic flow
    # (ee_data.py:209-230) through the catalog mechanism.
    src = demo_s2_source(sf_dir)
    df = catalog.cloud_filtered(src, spark, 30.0)
    # QA60 bits 10 (opaque clouds) and 11 (cirrus) both clear.
    df = df.filter((F.col("QA60").bitwiseAND(1 << 10) == 0)
                   & (F.col("QA60").bitwiseAND(1 << 11) == 0))
    w = Window.partitionBy("cell").orderBy(F.col("ts").desc(),
                                           F.col("scene_id").desc())
    return (df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cell", "scene_id",
                    F.round((F.col("B8") - F.col("B4"))
                            / (F.col("B8") + F.col("B4")), 6)
                    .alias("ndvi")))


def _q_src_s2_quality_mosaic(spark, sf_dir):
    # qualityMosaic(band) reducer (ee_algo.py:255-256) through the real
    # engine path: catalog source -> standing + cloud filters -> per-cell
    # per-pixel argmax composite by an NDVI quality band. Ordering runs
    # in full double precision (ties pinned to ts, scene_id - later
    # wins); outputs are re-rounded to the exact 0.1 grid the synth
    # bands live on, so the float32 patch contract cannot smear them.
    from geeflow_spark.operators import reducers
    src = demo_s2_source(sf_dir)
    df = catalog.cloud_filtered(src, spark, 30.0)
    df = df.select(
        "cell", "ts", "scene_id",
        F.array(F.col("B4")).alias("b4"),
        F.array(F.col("B8")).alias("b8"),
        F.array((F.col("B8") - F.col("B4"))
                / (F.col("B8") + F.col("B4"))).alias("ndvi"),
        F.array(F.lit(1).cast("tinyint")).alias("mask"))
    red = reducers.reduce_scenes(df, ["b4", "b8", "ndvi"], "qualityMosaic",
                                 key_cols=["cell"], quality_band="ndvi")
    return red.select(
        F.col("cell").cast("long").alias("cell"),
        F.round(F.col("b4")[0].cast("double"), 1).alias("b4"),
        F.round(F.col("b8")[0].cast("double"), 1).alias("b8"),
        F.col("valid")[0].cast("long").alias("nvalid"))


def _q_stats_moments(spark, sf_dir):
    # Unmasked moments from the aggregation `cli stats` runs
    # (stats.counter_agg).
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    moments, _ = stats.counter_agg(ev, "value", ["event_type"])
    return moments.select("event_type",
                          F.round("sum", 4).alias("sum"),
                          F.round("sum2", 4).alias("sum2"), "n",
                          F.round("min", 6).alias("min"),
                          F.round("max", 6).alias("max"))


def _q_stats_hist_bins(spark, sf_dir):
    # CounterAccumulator integer bins from stats.counter_agg: truncation
    # toward zero (stats_util.py:212-214 astype(int)).
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    _, bins = stats.counter_agg(ev, "value", ["event_type"])
    return bins.select("event_type", "bin", F.col("count").alias("cnt"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "geo_pip_rectangles": _q_geo_pip_rectangles,
        "geo_pip_convex": _q_geo_pip_convex,
        "geo_tile_assign": _q_geo_tile_assign,
        "geo_split_bucket": _q_geo_split_bucket,
        "geo_tile_origin": _q_geo_tile_origin,
        "geo_cell_counts": _q_geo_cell_counts,
        "src_s2_cloudfree_mosaic": _q_src_s2_cloudfree_mosaic,
        "src_s2_quality_mosaic": _q_src_s2_quality_mosaic,
        "stats_moments": _q_stats_moments,
        "stats_hist_bins": _q_stats_hist_bins,
    }


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

_LAT = derived.LAT_SQL
_LON = derived.LON_SQL
_UX = derived.UTM_X_SQL
_UY = derived.UTM_Y_SQL


def _rect_oracle() -> str:
    parts = []
    for rid, x0, y0, x1, y1 in RECTS:
        parts.append(f"""
          SELECT doc_id, CAST({rid} AS BIGINT) AS region_id
          FROM (SELECT doc_id, {_LAT} AS lat, {_LON} AS lon FROM documents)
          WHERE lon >= {x0} AND lon <= {x1} AND lat >= {y0} AND lat <= {y1}
        """)
    # NOTE boundary semantics: the kernel's half-open edge rule differs
    # from closed intervals only ON the boundary - unreachable for the
    # congruential lat/lon values (never exactly integral).
    return " UNION ALL ".join(parts)


def _halfplane(ring: list[float], rid: int) -> str:
    k = len(ring) // 2
    conds = []
    for i in range(k):
        # parenthesize constants: a bare "--5.0" is a SQL comment
        x0, y0 = f"({ring[2 * i]})", f"({ring[2 * i + 1]})"
        x1 = f"({ring[(2 * i + 2) % (2 * k)]})"
        y1 = f"({ring[(2 * i + 3) % (2 * k)]})"
        conds.append(f"(({x1}-{x0})*(lat-{y0}) - ({y1}-{y0})*(lon-{x0})) > 0")
    return f"""
      SELECT doc_id, CAST({rid} AS BIGINT) AS region_id
      FROM (SELECT doc_id, {_LAT} AS lat, {_LON} AS lon FROM documents)
      WHERE {' AND '.join(conds)}
    """


def _tile_oracle() -> str:
    x0, y0, x1, y1 = ZONE_BBOX["32T"]
    xsb, ysb = tiles.get_split_boundaries(x0, y0, x1, y1, PLOT_SIZE,
                                          NUM_SPLITS)
    half = PLOT_SIZE // 2
    ext = PRED_HW * CELL_SIZE
    xs_cases_lo = "CASE xs " + " ".join(
        f"WHEN {i} THEN {xsb[i]}" for i in range(NUM_SPLITS)) + " END"
    xs_cases_hi = "CASE xs " + " ".join(
        f"WHEN {i} THEN {xsb[i + 1]}" for i in range(NUM_SPLITS)) + " END"
    ys_cases_lo = "CASE ys " + " ".join(
        f"WHEN {i} THEN {ysb[i]}" for i in range(NUM_SPLITS)) + " END"
    ys_cases_hi = "CASE ys " + " ".join(
        f"WHEN {i} THEN {ysb[i + 1]}" for i in range(NUM_SPLITS)) + " END"
    return f"""
      WITH plots AS (
        SELECT doc_id, {_UX} AS utm_x, {_UY} AS utm_y,
               CAST(doc_id % 3 - 1 AS INT) AS dy,
               CAST((doc_id // 3) % 3 - 1 AS INT) AS dx
        FROM documents
      ), cand AS (
        SELECT p.*, g1.range AS xs, g2.range AS ys
        FROM plots p, range(0, {NUM_SPLITS}) g1, range(0, {NUM_SPLITS}) g2
      )
      SELECT doc_id, CAST(xs AS BIGINT) AS xs, CAST(ys AS BIGINT) AS ys
      FROM cand
      WHERE NOT (utm_x + dx*{CELL_SIZE} - {half} + {ext} <= ({xs_cases_lo})
              OR utm_x + dx*{CELL_SIZE} - {half} >= ({xs_cases_hi}))
        AND NOT (utm_y - dy*{CELL_SIZE} + {half} <= ({ys_cases_lo})
              OR utm_y - dy*{CELL_SIZE} + {half} - {ext} >= ({ys_cases_hi}))
    """


def _split_bucket_oracle() -> str:
    # int(md5_hex, 16) % 10 via CRT: mod 2 from the last hex digit, mod 5
    # from the hex-digit sum (16 === 1 mod 5).
    # bucket = (6*(digsum%5) + 5*(lastdigit%2)) % 10.
    def hexval(expr: str) -> str:
        return (f"(CASE WHEN {expr} BETWEEN '0' AND '9' "
                f"THEN CAST({expr} AS INT) "
                f"ELSE 10 + ascii({expr}) - ascii('a') END)")

    digsum = " + ".join(hexval(f"substr(hx, {i}, 1)") for i in range(1, 33))
    return f"""
      WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
      digs AS (SELECT ({digsum}) AS digsum,
                      {hexval("substr(hx, 32, 1)")} AS lastd
               FROM h)
      SELECT CAST((6 * (digsum % 5) + 5 * (lastd % 2)) % 10 AS BIGINT)
               AS bucket,
             COUNT(*) AS n
      FROM digs GROUP BY 1
    """


def cell_sql_query(src: str, lat_sql: str, lon_sql: str, level: int,
                   keep: str = "doc_id") -> str:
    """ANSI-SQL (DuckDB) recomputation of `s2.latlon_to_cell_id` at `level`.

    Returns a full SELECT producing (`keep` columns, cell BIGINT) from
    `src`, where `cell` is bit-for-bit the signed-int64 reinterpretation
    of the S2 cell id `functions.s2` computes. Determinism contract:
    identical op sequence — unit-sphere xyz, cube-face selection,
    quadratic (u,v)->(s,t), trunc to 30-bit ij, then `level` explicit
    Hilbert rounds driven by s2's _POS_TO_IJ/_POS_TO_ORIENTATION tables
    (inverted to IJ->POS CASE expressions). Floor-boundary flips from
    <=1-ulp libm sin/cos differences would need s*2^level within ~1e-14
    of an integer — validated 0 mismatches on 1.2M points at levels
    5/6/8.

    Levels <= 15 keep the generated SQL small (one CTE pair per round).
    """
    assert 1 <= level <= 15
    ij_to_pos = [[0] * 4 for _ in range(4)]
    for o in range(4):
        for pos in range(4):
            ij_to_pos[o][int(_s2._POS_TO_IJ[o][pos])] = pos

    def pos_case(o_expr: str, ij_expr: str) -> str:
        whens = " ".join(
            f"WHEN {o_expr} = {o} AND {ij_expr} = {ij} "
            f"THEN {ij_to_pos[o][ij]}"
            for o in range(4) for ij in range(4))
        return f"CASE {whens} END"

    def orient_case(pos_expr: str) -> str:
        whens = " ".join(
            f"WHEN {pos_expr} = {p} THEN {int(_s2._POS_TO_ORIENTATION[p])}"
            for p in range(4))
        return f"CASE {whens} END"

    rounds = []
    for k in range(level):
        shift = _s2.MAX_LEVEL - 1 - k
        prev_o = f"o{k}"
        pc = pos_case(prev_o, f"ij{k}")
        rounds.append(f"""
  r{k} AS (
    SELECT *, ((i >> {shift}) & 1) * 2 + ((j >> {shift}) & 1) AS ij{k}
    FROM {'base' if k == 0 else f'r{k - 1}x'}
  ),
  r{k}x AS (
    SELECT *, {pc} AS pos{k},
      xor({prev_o}, {orient_case(pc)}) AS o{k + 1}
    FROM r{k}
  )""")
    pos_expr = " + ".join(
        f"CAST(pos{k} AS HUGEINT) * {1 << (2 * (level - 1 - k))}"
        for k in range(level))
    lsb_shift = 2 * (_s2.MAX_LEVEL - level)
    max_ij = (1 << _s2.MAX_LEVEL) - 1
    return f"""
WITH pt AS (
  SELECT {keep}, {lat_sql} AS lat, {lon_sql} AS lon FROM {src}
),
xyz AS (
  SELECT *, cos(radians(lat)) * cos(radians(lon)) AS x,
            cos(radians(lat)) * sin(radians(lon)) AS y,
            sin(radians(lat)) AS z
  FROM pt
),
fuv AS (
  SELECT *,
    CASE WHEN abs(x) >= abs(y)
         THEN (CASE WHEN abs(x) >= abs(z) THEN 0 ELSE 2 END)
         ELSE (CASE WHEN abs(y) >= abs(z) THEN 1 ELSE 2 END)
    END AS f0
  FROM xyz
),
fuv2 AS (
  SELECT *,
    CASE WHEN (CASE f0 WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
         THEN f0 + 3 ELSE f0 END AS face
  FROM fuv
),
uv AS (
  SELECT *,
    CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
              WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
    CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
              WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
  FROM fuv2
),
st AS (
  SELECT *,
    CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3*u)
         ELSE 1 - 0.5 * sqrt(1 - 3*u) END AS s,
    CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3*v)
         ELSE 1 - 0.5 * sqrt(1 - 3*v) END AS t
  FROM uv
),
base AS (
  SELECT *,
    LEAST(GREATEST(CAST(trunc(s * {1 << _s2.MAX_LEVEL}.0) AS BIGINT), 0),
          {max_ij}) AS i,
    LEAST(GREATEST(CAST(trunc(t * {1 << _s2.MAX_LEVEL}.0) AS BIGINT), 0),
          {max_ij}) AS j,
    (face & 1) AS o0
  FROM st
),{','.join(rounds)}
SELECT {keep},
  CAST(CASE WHEN cu >= 9223372036854775808
            THEN cu - 18446744073709551616 ELSE cu END AS BIGINT) AS cell
FROM (
  SELECT {keep},
    CAST(face AS HUGEINT) * {1 << (2 * _s2.MAX_LEVEL + 1)}
    + ({pos_expr}) * {1 << (lsb_shift + 1)}
    + {1 << lsb_shift} AS cu
  FROM r{level - 1}x
)
"""


def tile_origin_sql_query(src: str, lat_sql: str, lon_sql: str,
                          cell_size: float, width: int,
                          keep: str = "doc_id") -> str:
    """ANSI-SQL (DuckDB) recomputation of `utm.tile_origin`: the
    `from_latlon` series plus the snapped tile origin.

    Returns a full SELECT producing (`keep` cols, utm_zone VARCHAR,
    tile_x DOUBLE, tile_y DOUBLE) from `src`. Determinism contract:
    the exact Snyder eq. 8-9..8-15 op sequence with `functions.utm`'s
    literal constants (repr full precision); round() agrees with
    numpy's banker's rounding except at exact .5 ties, which are
    measure-zero for transcendental eastings (validated 0 mismatches
    on 1.3M points incl. the Norway/Svalbard exception bands).
    """
    e, ep2 = repr(_utm.E), repr(_utm.E_P2)
    m1, m2, m3, m4 = (repr(_utm.M1), repr(_utm.M2), repr(_utm.M3),
                      repr(_utm.M4))
    r, k0 = repr(_utm.R), repr(_utm.K0)
    half = repr(cell_size * width / 2.0)
    cs = repr(cell_size)
    zl = _utm.ZONE_LETTERS
    return f"""
WITH pt AS (
  SELECT {keep}, {lat_sql} AS lat, {lon_sql} AS lon FROM {src}
),
zn AS (
  SELECT *,
    CASE
      WHEN lat >= 72 AND lat <= 84 AND lon >= 0 AND lon < 9 THEN 31
      WHEN lat >= 72 AND lat <= 84 AND lon >= 9 AND lon < 21 THEN 33
      WHEN lat >= 72 AND lat <= 84 AND lon >= 21 AND lon < 33 THEN 35
      WHEN lat >= 72 AND lat <= 84 AND lon >= 33 AND lon < 42 THEN 37
      WHEN lat >= 56 AND lat < 64 AND lon >= 3 AND lon < 12 THEN 32
      ELSE LEAST(GREATEST(CAST(floor((lon + 180.0) / 6.0) AS BIGINT) + 1,
                          1), 60)
    END AS zone_number,
    CASE WHEN lat >= -80 AND lat <= 84
         THEN substr('{zl}',
              CAST(LEAST(GREATEST(trunc((lat + 80.0) / 8.0), 0),
                         {len(zl) - 1}) AS INT) + 1, 1)
         ELSE 'Z' END AS zone_letter
  FROM pt
),
tr AS (
  SELECT *,
    radians(lat) AS lat_rad,
    sin(radians(lat)) AS lat_sin,
    cos(radians(lat)) AS lat_cos,
    sin(radians(lat)) / cos(radians(lat)) AS lat_tan
  FROM zn
),
tr2 AS (
  SELECT *,
    lat_tan * lat_tan AS lat_tan2,
    (lat_tan * lat_tan) * (lat_tan * lat_tan) AS lat_tan4,
    {r} / sqrt(1 - {e} * lat_sin * lat_sin) AS n,
    {ep2} * lat_cos * lat_cos AS c,
    lat_cos * (mod(radians(lon) - radians((zone_number - 1) * 6 - 180 + 3)
                   + pi(), 2 * pi()) - pi()) AS a,
    {r} * ({m1} * lat_rad - {m2} * sin(2 * lat_rad)
           + {m3} * sin(4 * lat_rad) - {m4} * sin(6 * lat_rad)) AS m
  FROM tr
),
en AS (
  SELECT *,
    {k0} * n * (a
      + (a*a*a) / 6 * (1 - lat_tan2 + c)
      + (a*a*a*a*a) / 120 * (5 - 18 * lat_tan2 + lat_tan4
                             + 72 * c - 58 * {ep2})) + 500000.0 AS easting,
    {k0} * (m + n * lat_tan * (
      (a*a) / 2
      + (a*a*a*a) / 24 * (5 - lat_tan2 + 9 * c + 4 * c * c)
      + (a*a*a*a*a*a) / 720 * (61 - 58 * lat_tan2 + lat_tan4
                               + 600 * c - 330 * {ep2})))
    + CASE WHEN lat < 0 THEN 10000000.0 ELSE 0.0 END AS northing
  FROM tr2
)
SELECT {keep},
  CAST(zone_number AS VARCHAR) || zone_letter AS utm_zone,
  round((easting - {half}) / {cs}) * {cs} AS tile_x,
  round((northing - {half}) / {cs}) * {cs} AS tile_y
FROM en
"""


def oracle_sql() -> dict[str, str]:
    sqls = {
        "geo_pip_rectangles": _rect_oracle(),
        "geo_pip_convex": (_halfplane(TRI[1], TRI[0]) + " UNION ALL "
                           + _halfplane(PENT[1], PENT[0])),
        "geo_tile_assign": _tile_oracle(),
        "geo_split_bucket": _split_bucket_oracle(),
        # Bit-exact SQL recomputation of the level-5 S2 encode (cube
        # face + quadratic st + 5 explicit Hilbert rounds); validated
        # 0 mismatches on 1.2M points vs the numpy kernel.
        "geo_cell_counts": f"""
          SELECT cell, COUNT(*) AS count
          FROM ({cell_sql_query("documents", _LAT, _LON, 5)})
          GROUP BY cell
        """,
        # Full Snyder-series UTM forward transform + tile snap in SQL.
        "geo_tile_origin": tile_origin_sql_query(
            "documents", _LAT, _LON, 10.0, 96),
        "src_s2_cloudfree_mosaic": f"""
          WITH s2 AS (
            SELECT event_id AS scene_id, user_id % 50 AS cell, ts,
                   {DEMO_CLOUD_SQL} AS cpp,
                   {DEMO_B4_SQL} AS B4,
                   {DEMO_B8_SQL} AS B8,
                   {DEMO_QA60_SQL} AS QA60
            FROM events),
          f AS (
            SELECT * FROM s2
            WHERE cpp <= 100 AND cpp < 30
              AND (CAST(QA60 AS BIGINT) & 1024) = 0
              AND (CAST(QA60 AS BIGINT) & 2048) = 0),
          r AS (
            SELECT cell, scene_id, B4, B8,
                   row_number() OVER (PARTITION BY cell
                                      ORDER BY ts DESC, scene_id DESC)
                     AS rn
            FROM f)
          SELECT cell, scene_id, ROUND((B8 - B4) / (B8 + B4), 6) AS ndvi
          FROM r WHERE rn = 1
        """,
        "src_s2_quality_mosaic": f"""
          WITH s2 AS (
            SELECT event_id AS scene_id, user_id % 50 AS cell, ts,
                   {DEMO_CLOUD_SQL} AS cpp,
                   {DEMO_B4_SQL} AS B4,
                   {DEMO_B8_SQL} AS B8
            FROM events),
          f AS (SELECT * FROM s2 WHERE cpp <= 100 AND cpp < 30),
          r AS (
            SELECT cell, B4, B8,
                   COUNT(*) OVER (PARTITION BY cell) AS nvalid,
                   row_number() OVER (
                     PARTITION BY cell
                     ORDER BY (B8 - B4) / (B8 + B4) DESC,
                              ts DESC, scene_id DESC) AS rn
            FROM f)
          SELECT CAST(cell AS BIGINT) AS cell,
                 ROUND(B4, 1) AS b4, ROUND(B8, 1) AS b8,
                 CAST(nvalid AS BIGINT) AS nvalid
          FROM r WHERE rn = 1
        """,
        "stats_moments": """
          SELECT event_type,
                 ROUND(SUM(value), 4) AS sum,
                 ROUND(SUM(value * value), 4) AS sum2,
                 COUNT(value) AS n,
                 ROUND(MIN(value), 6) AS min,
                 ROUND(MAX(value), 6) AS max
          FROM events GROUP BY event_type
        """,
        "stats_hist_bins": """
          SELECT event_type, CAST(trunc(value) AS BIGINT) AS bin,
                 COUNT(*) AS cnt
          FROM events GROUP BY event_type, bin
        """,
    }
    return sqls
