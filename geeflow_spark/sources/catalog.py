"""Named source catalog: the Spark-native analog of the reference's EE
asset catalog (/root/reference/geeflow/ee_data.py).

Every entry mirrors one reference dataset class - same name, band list,
vis bands, and standing metadata filters - but resolves onto a TABLE
(parquet/Iceberg path or a deterministic synth loader) instead of an EE
asset id. One scene (or footprint / reanalysis step) = one row; pixel
payloads live in array columns when a workflow needs them (synth.scenes
shape); metadata filters run as Catalyst predicates and push down to the
scan.

Reference anchors per entry are cited inline. The standing filters are
semantic ports:
  - Sentinel1: instrumentMode + transmitterReceiverPolarisation
    (+ orbit variants)              ee_data.py:92-137
  - Sentinel2: CLOUDY_PIXEL_PERCENTAGE <= 100 corruption guard, cloud-%
    helper, QA60/CDI/CS+ masks      ee_data.py:183-264
  - Landsat7/8/9: CLOUD_COVER >= 0 AND < pct helper, QA_PIXEL mask
                                    ee_data.py:267-368
  - GEDI L2A/L2B/L4A: quality_flag == 1 AND degrade_flag == 0
                                    ee_data.py:693-777
  - DynamicWorld                    ee_data.py:953-991
  - NASADEM / FABDEM / CopDem       ee_data.py:611-690
  - Era5 monthly/daily              ee_data.py:1279-1303
  - Alos / NAIP / Nicfi / ModisTerraVeg / WorldCover: band lists per
    their classes.

Synth backing: `ensure_materialized` writes a deterministic scene table
per entry (splitmix64 column arithmetic, JVM-side) under
$GEEFLOW_CATALOG_DIR (default /tmp/geeflow_catalog), including rows that
the standing filters MUST remove (EW scenes, >100% cloud, negative
CLOUD_COVER, bad quality flags) so tests exercise the filters for real.
"""

from __future__ import annotations

import dataclasses
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geeflow_spark.sources.registry import (DEFAULT_REGISTRY, Registry,
                                            TableSource)
from geeflow_spark.sources.synth import _uniform

GEDI_QUALITY = {"l2a": ("quality_flag", "degrade_flag"),
                "l2b": ("l2b_quality_flag", "degrade_flag"),
                "l4a": ("l4_quality_flag", "degrade_flag")}


@dataclasses.dataclass
class CatalogSpec:
    """Declarative mirror of one ee_data.py dataset class."""
    name: str
    asset: str                      # the public EE asset it mirrors
    bands: Sequence[str]
    vis_bands: Sequence[str] = ()
    filters: Sequence = ()          # standing filters (DSL or Column)
    kind: str = "ic"
    cloud_key: str | None = None    # metadata key for cloud-% helper
    meta_cols: Sequence[str] = ()   # extra metadata columns to synth
    ref: str = ""                   # file:line anchor in the reference


def _pol_eq(*pols: str):
    """Lazy (callable) predicate: Columns can't be built before a JVM
    exists, and the catalog is declared at import time."""
    return lambda: (F.col("transmitterReceiverPolarisation")
                    == F.array(*[F.lit(p) for p in pols]))


_LANDSAT_BANDS = ["B1", "B2", "B3", "B4", "B5", "B6", "B7", "B8", "B9",
                  "B10", "B11", "QA_PIXEL", "QA_RADSAT", "SAA", "SZA",
                  "VAA", "VZA"]
_L7_BANDS = ["SR_B1", "SR_B2", "SR_B3", "SR_B4", "SR_B5", "SR_B7",
             "SR_ATMOS_OPACITY", "SR_CLOUD_QA", "ST_B6", "ST_ATRAN",
             "ST_CDIST", "ST_DRAD", "ST_EMIS", "ST_EMSD", "ST_QA",
             "ST_TRAD", "ST_URAD", "QA_PIXEL", "QA_RADSAT"]
_S2_BANDS = ["B1", "B2", "B3", "B4", "B5", "B6", "B7", "B8", "B8A", "B9",
             "B10", "B11", "B12", "QA10", "QA20", "QA60"]
_DW_BANDS = ["water", "trees", "grass", "flooded_vegetation", "crops",
             "shrub_and_scrub", "built", "bare", "snow_and_ice", "label"]
_ERA5_BANDS = ["total_precipitation_sum", "total_precipitation_min",
               "total_precipitation_max", "temperature_2m",
               "temperature_2m_min", "temperature_2m_max",
               "dewpoint_temperature_2m", "dewpoint_temperature_2m_min",
               "dewpoint_temperature_2m_max", "surface_pressure",
               "surface_pressure_min", "surface_pressure_max"]
_GEDI_L2A = (["digital_elevation_model", "landsat_treecover",
              "landsat_water_persistence", "modis_treecover",
              "modis_nonvegetated", "urban_proportion"]
             + [f"rh{p}" for p in (25, 50, 75, 95, 98, 100)])
_GEDI_L2B = ["pai", "cover", "fhd_normal"]
_DEM_BANDS = ["elevation", "slope", "aspect"]

SPECS: list[CatalogSpec] = [
    CatalogSpec("sentinel1", "COPERNICUS/S1_GRD",
                ["VV", "VH", "angle"], ["VV", "VH", "VV"],
                [("instrumentMode", "IW"), _pol_eq("VV", "VH")],
                meta_cols=["instrumentMode",
                           "transmitterReceiverPolarisation",
                           "orbitProperties_pass"],
                ref="ee_data.py:92-137"),
    CatalogSpec("sentinel1_asc", "COPERNICUS/S1_GRD",
                ["VV", "VH", "angle"], ["VV", "VH", "VV"],
                [("instrumentMode", "IW"), _pol_eq("VV", "VH"),
                 ("orbitProperties_pass", "ASCENDING")],
                meta_cols=["instrumentMode",
                           "transmitterReceiverPolarisation",
                           "orbitProperties_pass"],
                ref="ee_data.py:118-124"),
    CatalogSpec("sentinel1_desc", "COPERNICUS/S1_GRD",
                ["VV", "VH", "angle"], ["VV", "VH", "VV"],
                [("instrumentMode", "IW"), _pol_eq("VV", "VH"),
                 ("orbitProperties_pass", "DESCENDING")],
                meta_cols=["instrumentMode",
                           "transmitterReceiverPolarisation",
                           "orbitProperties_pass"],
                ref="ee_data.py:118-126"),
    CatalogSpec("sentinel2_sr", "COPERNICUS/S2_SR_HARMONIZED",
                _S2_BANDS, ["B4", "B3", "B2"],
                [("<=CLOUDY_PIXEL_PERCENTAGE", 100)],  # corruption guard
                cloud_key="CLOUDY_PIXEL_PERCENTAGE",
                meta_cols=["CLOUDY_PIXEL_PERCENTAGE"],
                ref="ee_data.py:183-215"),
    CatalogSpec("sentinel2_toa", "COPERNICUS/S2_HARMONIZED",
                _S2_BANDS, ["B4", "B3", "B2"],
                [("<=CLOUDY_PIXEL_PERCENTAGE", 100)],
                cloud_key="CLOUDY_PIXEL_PERCENTAGE",
                meta_cols=["CLOUDY_PIXEL_PERCENTAGE"],
                ref="ee_data.py:192-197"),
    CatalogSpec("landsat7", "LANDSAT/LE07/C02/T1_L2",
                _L7_BANDS, ["SR_B3", "SR_B2", "SR_B1"],
                cloud_key="CLOUD_COVER", meta_cols=["CLOUD_COVER"],
                ref="ee_data.py:267-307"),
    CatalogSpec("landsat8", "LANDSAT/LC08/C02/T1",
                _LANDSAT_BANDS, ["B4", "B3", "B2"],
                cloud_key="CLOUD_COVER", meta_cols=["CLOUD_COVER"],
                ref="ee_data.py:310-338"),
    CatalogSpec("landsat9", "LANDSAT/LC09/C02/T1",
                _LANDSAT_BANDS, ["B4", "B3", "B2"],
                cloud_key="CLOUD_COVER", meta_cols=["CLOUD_COVER"],
                ref="ee_data.py:341-369"),
    CatalogSpec("naip", "USDA/NAIP/DOQQ",
                ["B", "G", "R", "N"], ["R", "G", "B"],
                ref="ee_data.py:372-383"),
    CatalogSpec("nicfi", "projects/planet-nicfi/assets/basemaps/americas",
                ["R", "G", "B", "N"], ["R", "G", "B"],
                ref="ee_data.py:385-406"),
    CatalogSpec("alos", "JAXA/ALOS/PALSAR/YEARLY/SAR",
                ["HH", "HV", "angle", "date", "qa"], ["HH", "HV", "HH"],
                ref="ee_data.py:140-181"),
    CatalogSpec("modis_terra_veg", "MODIS/061/MOD13Q1",
                ["NDVI", "EVI", "DetailedQA", "SummaryQA"], ["NDVI"],
                ref="ee_data.py:408-437"),
    CatalogSpec("dynamic_world", "GOOGLE/DYNAMICWORLD/V1",
                _DW_BANDS, ["label"],
                ref="ee_data.py:953-991"),
    CatalogSpec("worldcover", "ESA/WorldCover/v200", ["Map"], ["Map"],
                kind="im", ref="ee_data.py:536-550"),
    CatalogSpec("nasa_dem", "NASA/NASADEM_HGT/001", _DEM_BANDS,
                kind="im", ref="ee_data.py:611-632"),
    CatalogSpec("fabdem", "projects/sat-io/open-datasets/FABDEM",
                _DEM_BANDS, kind="im", ref="ee_data.py:635-660"),
    CatalogSpec("cop_dem", "COPERNICUS/DEM/GLO30", _DEM_BANDS,
                kind="im", ref="ee_data.py:662-690"),
    CatalogSpec("gedi_l2a", "LARSE/GEDI/GEDI02_A_002_MONTHLY",
                _GEDI_L2A,
                filters=[("quality_flag", 1), ("degrade_flag", 0)],
                meta_cols=["quality_flag", "degrade_flag"],
                ref="ee_data.py:693-721"),
    CatalogSpec("gedi_l2b", "LARSE/GEDI/GEDI02_B_002_MONTHLY",
                _GEDI_L2B,
                filters=[("l2b_quality_flag", 1), ("degrade_flag", 0)],
                meta_cols=["l2b_quality_flag", "degrade_flag"],
                ref="ee_data.py:723-752"),
    CatalogSpec("gedi_l4a", "LARSE/GEDI/GEDI04_A_002_MONTHLY",
                ["agbd", "elev_lowestmode"],
                filters=[("l4_quality_flag", 1), ("degrade_flag", 0)],
                meta_cols=["l4_quality_flag", "degrade_flag"],
                ref="ee_data.py:755-777"),
    CatalogSpec("era5_monthly", "ECMWF/ERA5_LAND/MONTHLY_AGGR",
                _ERA5_BANDS, ref="ee_data.py:1279-1303"),
    CatalogSpec("era5_daily", "ECMWF/ERA5_LAND/DAILY_AGGR",
                _ERA5_BANDS, ref="ee_data.py:1297-1303"),
]

_SPEC_BY_NAME = {s.name: s for s in SPECS}


def catalog_dir() -> str:
    return os.environ.get("GEEFLOW_CATALOG_DIR", "/tmp/geeflow_catalog")


def _synth_loader(spec: CatalogSpec, n: int = 2000):
    """Returns a loader materializing a deterministic scene table.

    Includes rows the standing filters must REMOVE (EW mode, HH-only
    polarisation, cloud % in (100, 110], CLOUD_COVER == -1, bad quality
    flags) - the catalog tests assert the filters strip them."""

    def load(spark: SparkSession) -> DataFrame:
        path = os.path.join(catalog_dir(), spec.name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            df = spark.range(0, n, 1, 8)
            idc = F.col("id")
            cols = [F.format_string(f"{spec.name}_%08d", idc)
                    .alias("scene_id"),
                    (F.lit(1514764800000)
                     + (idc * 86400000 * 3)).alias("ts"),
                    (idc % 97).alias("cell"),
                    (_uniform(idc, 101) * 140 - 70).alias("lat"),
                    (_uniform(idc, 102) * 360 - 180).alias("lon")]
            for bi, b in enumerate(spec.bands):
                cols.append((_uniform(idc, 200 + bi) * 1000)
                            .alias(b) if b not in ("QA_PIXEL", "QA_RADSAT",
                                                   "QA60", "QA10", "QA20")
                            else (F.floor(_uniform(idc, 200 + bi) * 4096)
                                  .cast("long")).alias(b))
            for m in spec.meta_cols:
                if m == "instrumentMode":
                    cols.append(F.when(idc % 10 == 0, "EW")
                                .otherwise("IW").alias(m))
                elif m == "transmitterReceiverPolarisation":
                    cols.append(F.when(idc % 7 == 0,
                                       F.array(F.lit("HH")))
                                .otherwise(F.array(F.lit("VV"),
                                                   F.lit("VH"))).alias(m))
                elif m == "orbitProperties_pass":
                    cols.append(F.when(idc % 2 == 0, "ASCENDING")
                                .otherwise("DESCENDING").alias(m))
                elif m == "CLOUDY_PIXEL_PERCENTAGE":
                    # ~3% corrupted scenes report >100%.
                    cols.append(F.when(idc % 31 == 0,
                                       100.0 + _uniform(idc, 301) * 10)
                                .otherwise(_uniform(idc, 301) * 100)
                                .alias(m))
                elif m == "CLOUD_COVER":
                    # Invalid scenes report -1 (reference guards >= 0).
                    cols.append(F.when(idc % 29 == 0, F.lit(-1.0))
                                .otherwise(_uniform(idc, 302) * 100)
                                .alias(m))
                elif m.endswith("quality_flag"):
                    cols.append((_uniform(idc, 303) > 0.2).cast("int")
                                .alias(m))
                elif m == "degrade_flag":
                    cols.append((_uniform(idc, 304) < 0.1).cast("int")
                                .alias(m))
            df.select(*cols).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return load


def build_registry(reg: Registry | None = None, n: int = 2000) -> Registry:
    """Registers every catalog entry onto `reg` (DEFAULT_REGISTRY)."""
    reg = reg if reg is not None else DEFAULT_REGISTRY
    for spec in SPECS:
        reg.register(TableSource(
            name=spec.name, path=None, bands=list(spec.bands),
            vis_bands=list(spec.vis_bands), filters=list(spec.filters),
            kind=spec.kind, loader=_synth_loader(spec, n)))
    return reg


def cloud_filtered(src: TableSource, spark: SparkSession,
                   percentage: float) -> DataFrame:
    """filter_by_cloud_percentage analog (ee_data.py:209-211, :290-295).

    Sentinel-2: CLOUDY_PIXEL_PERCENTAGE < pct. Landsat: additionally
    guards CLOUD_COVER >= 0 (invalid scenes report -1)."""
    spec = _SPEC_BY_NAME.get(src.name)
    key = (spec and spec.cloud_key) or "CLOUDY_PIXEL_PERCENTAGE"
    df = src.load(spark)
    if key == "CLOUD_COVER":
        df = df.filter(F.col(key) >= 0)
    return df.filter(F.col(key) < percentage)


# Populate the default registry at import (the reference catalog is
# likewise module-level, ee_data.py top level).
build_registry()
