"""Named source catalog: registry resolution + standing filters.

Mirrors the reference's dataset classes (ee_data.py); each test
exercises the filters/masks a real user of that source relies on.
"""

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import demo_s2_source
from geeflow_spark.sources import catalog
from geeflow_spark.sources.registry import DEFAULT_REGISTRY


def test_all_entries_registered():
    names = DEFAULT_REGISTRY.names()
    for spec in catalog.SPECS:
        assert spec.name in names
    assert len(catalog.SPECS) >= 20
    # Flagship datasets present by their reference names.
    for must in ("sentinel1", "sentinel2_sr", "landsat8", "gedi_l2a",
                 "dynamic_world", "cop_dem", "era5_monthly"):
        assert must in names


def test_sentinel1_standing_filters(spark):
    src = DEFAULT_REGISTRY.get("sentinel1")
    df = src.load(spark)
    pdf = df.select("instrumentMode", "transmitterReceiverPolarisation") \
        .distinct().toPandas()
    # EW scenes and HH-only scenes exist in the table but are filtered.
    assert set(pdf["instrumentMode"]) == {"IW"}
    assert all(list(p) == ["VV", "VH"]
               for p in pdf["transmitterReceiverPolarisation"])
    # Orbit variants partition the IW+VV/VH subset.
    asc = DEFAULT_REGISTRY.get("sentinel1_asc").load(spark)
    desc = DEFAULT_REGISTRY.get("sentinel1_desc").load(spark)
    assert asc.count() + desc.count() == df.count()
    assert asc.select("orbitProperties_pass").distinct().collect()[0][0] \
        == "ASCENDING"


def test_sentinel2_cloud_filters(spark):
    src = DEFAULT_REGISTRY.get("sentinel2_sr")
    raw = src.loader(spark)
    loaded = src.load(spark)
    # Standing corruption guard strips >100% scenes (ee_data.py:205-208).
    assert raw.filter(F.col("CLOUDY_PIXEL_PERCENTAGE") > 100).count() > 0
    assert loaded.filter(F.col("CLOUDY_PIXEL_PERCENTAGE") > 100).count() == 0
    # filter_by_cloud_percentage analog (ee_data.py:209-211).
    low = catalog.cloud_filtered(src, spark, 30.0)
    assert low.agg(F.max("CLOUDY_PIXEL_PERCENTAGE")).collect()[0][0] < 30
    assert 0 < low.count() < loaded.count()


def test_landsat_cloud_cover_guard(spark):
    src = DEFAULT_REGISTRY.get("landsat8")
    raw = src.loader(spark)
    assert raw.filter(F.col("CLOUD_COVER") < 0).count() > 0  # invalid rows
    low = catalog.cloud_filtered(src, spark, 50.0)
    mn, mx = low.agg(F.min("CLOUD_COVER"), F.max("CLOUD_COVER")).collect()[0]
    assert mn >= 0 and mx < 50  # >=0 guard AND < pct (ee_data.py:290-295)
    # QA mask column works on the synth QA bands: clear when none of the
    # five low QA_PIXEL bits is set and the pixel is not saturated.
    m = src.load(spark).select(
        (~((F.col("QA_PIXEL").bitwiseAND(0b11111) != 0)
           | (F.col("QA_RADSAT") != 0))).cast("tinyint").alias("ok"))
    assert set(m.distinct().toPandas()["ok"]) <= {0, 1}


def test_gedi_quality_masks(spark):
    for name, (qf, dg) in [("gedi_l2a", ("quality_flag", "degrade_flag")),
                           ("gedi_l2b", ("l2b_quality_flag",
                                         "degrade_flag")),
                           ("gedi_l4a", ("l4_quality_flag",
                                         "degrade_flag"))]:
        src = DEFAULT_REGISTRY.get(name)
        raw = src.loader(spark)
        loaded = src.load(spark)
        assert raw.filter((F.col(qf) != 1) | (F.col(dg) != 0)).count() > 0
        assert loaded.filter((F.col(qf) != 1) | (F.col(dg) != 0)).count() == 0
        assert loaded.count() > 0


def test_band_selection_and_validation(spark):
    src = DEFAULT_REGISTRY.get("sentinel2_sr")
    df = src.load(spark)
    sel = src.select_bands(df, ["B4", "B3", "B2"])
    assert sel.columns[-3:] == ["B4", "B3", "B2"]
    with pytest.raises(ValueError, match="not in source"):
        src.select_bands(df, ["B4", "NOPE"])


def test_demo_s2_source_through_registry(spark):
    src = demo_s2_source("/root/testdata/sf0.001")
    df = src.load(spark)
    assert df.filter(F.col("CLOUDY_PIXEL_PERCENTAGE") > 100).count() == 0
    assert set(src.bands) <= set(df.columns)
