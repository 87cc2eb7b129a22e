"""post_process_map hook (export_beam_tfds.py:240-249)."""

import pytest
from pyspark.sql import functions as F

from geeflow_spark.plans import config as cfg_mod


def _dem_config():
    c = cfg_mod.DotDict()
    c.sources = cfg_mod.DotDict()
    elev = cfg_mod.get_source_config("nasa_dem", "im")
    elev.select = ["elevation"]
    c.sources.elevation = elev
    return c


def test_post_process_map_named_kernel(spark, monkeypatch):
    def clip_kernel(out):
        return {k: v.withColumn(
            "elevation/elevation",
            F.greatest(F.col("`elevation/elevation`"), F.lit(500.0)))
            if "elevation/elevation" in v.columns else v
            for k, v in out.items()}

    monkeypatch.setitem(cfg_mod.POST_PROCESS_KERNELS, "clip500", clip_kernel)
    c = _dem_config()
    c.post_process_map = "clip500"
    out = cfg_mod.run_pipeline(spark, c)
    vals = out["elevation"].select("`elevation/elevation`").toPandas()
    assert (vals["elevation/elevation"] >= 500.0).all()
    # plain callable dispatch (the reference's callable branch)
    c2 = _dem_config()
    c2.post_process_map = clip_kernel
    out2 = cfg_mod.run_pipeline(spark, c2)
    assert (out2["elevation"].select("`elevation/elevation`").toPandas()
            ["elevation/elevation"] >= 500.0).all()


def test_post_process_map_unknown_name(spark):
    c = _dem_config()
    c.post_process_map = "nope_not_registered"
    with pytest.raises(ValueError, match="Unknown post_process_map"):
        cfg_mod.run_pipeline(spark, c)
    c.post_process_map = 42
    with pytest.raises(ValueError, match="Unsupported post_process_map"):
        cfg_mod.run_pipeline(spark, c)
