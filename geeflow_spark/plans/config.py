"""Config -> plan front-end: declare a reference-shaped pipeline as a
ConfigDict-style tree and resolve it onto the Spark operators.

Semantic port of the reference's dispatcher half:
  - `get_source_config`: source-config skeleton (utils.py:244-254).
  - `ALGO_MAP` + `get_algo`: module -> default algo resolution
    (pipelines.py:41-56, :265-275).
  - `resolve_source`: module/out/out_kw/select/cast/filter_date handling
    (pipelines.py:182-212) against the named TableSource registry.
  - `run_pipeline`: per-source algo dispatch (pipelines.py:299-424) -
    ic_sample | ic_sample_date_ranges | ic_sample_reduced | sample_roi |
    fc_get | fc_to_image - onto reducers/spatial_join/rasterize, with
    the reference's `{name}/{band}` + `{name}_mask/{band}` output naming
    (pipelines.py:427-441 _add_mask_and_rename).

Spark-first reinterpretation: an EE "request per ROI" becomes a
DataFrame keyed by `cell` (the ROI key); scalar scene tables (one value
per scene) are lifted to 1-pixel patches, mirroring the reference's
`scalar=True` centroid sampling (pipelines.py:315-316).
"""

from __future__ import annotations

import datetime as _dt
from typing import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geeflow_spark.functions import times
from geeflow_spark.operators import rasterize, reducers, spatial_join
from geeflow_spark.session import job_description
from geeflow_spark.sources import catalog
from geeflow_spark.sources.registry import (DEFAULT_REGISTRY, Registry,
                                            TableSource)


class DotDict(dict):
    """Dot-access dict (stand-in for ml_collections.ConfigDict)."""

    def __getattr__(self, k):
        try:
            return self[k]
        except KeyError as e:
            raise AttributeError(k) from e

    def __setattr__(self, k, v):
        self[k] = v


def get_source_config(module: str, out: str | None = None) -> DotDict:
    """Source-config skeleton (utils.py:244-254)."""
    return DotDict(module=module, out=out, kw={}, out_kw={}, select=None,
                   select_final=None, sampling_kw={}, scale=None)


# Module -> default algo (pipelines.py:41-56), keyed by OUR catalog names
# plus the reference class names they mirror.
_IC_SAMPLE_DATE_RANGES = [
    "landsat7", "landsat8", "landsat9", "sentinel1", "sentinel1_asc",
    "sentinel1_desc", "sentinel2_sr", "sentinel2_toa", "alos",
    "modis_terra_veg", "dynamic_world", "era5_monthly", "era5_daily",
    "Landsat7", "Landsat8", "Sentinel1", "Sentinel2", "Alos",
    "ModisTerraVeg", "DynamicWorld"]
_IC_SAMPLE = ["nicfi", "naip", "Nicfi", "NAIP"]
_SAMPLE_ROI = ["nasa_dem", "worldcover", "cop_dem", "fabdem", "NasaDem",
               "WorldCover", "CopDem", "FABDEM", "CustomImage"]
_FC_GET = ["Countries"]

ALGO_MAP: dict[str, str] = {k: "ic_sample_date_ranges"
                            for k in _IC_SAMPLE_DATE_RANGES}
ALGO_MAP |= {k: "ic_sample" for k in _IC_SAMPLE}
ALGO_MAP |= {k: "sample_roi" for k in _SAMPLE_ROI}
ALGO_MAP |= {k: "fc_get" for k in _FC_GET}
ALGO_MAP["CCDC"] = "get_ccdc"

SUPPORTED_ALGOS = ("ic_sample", "ic_sample_date_ranges",
                   "ic_sample_reduced", "sample_roi", "fc_get",
                   "fc_to_image", "get_ccdc")


# Named post-process kernels (the config-injected hook of
# export_beam_tfds.py:240-249 / ee_export_utils.py:420-434: a callable
# applied to the feature data after transforms, before serialization).
# Spark analog: the "feature data" is the per-source DataFrame dict, so
# a kernel is Callable[[dict[str, DataFrame]], dict[str, DataFrame]] -
# typically wrapping mapInPandas over one or more sources. Configs name
# kernels by string (picklable / config-file friendly), the key a
# kernel is stored under here, or pass a callable directly, mirroring
# the reference's str-vs-callable dispatch.
POST_PROCESS_KERNELS: dict[str, Callable] = {}


def resolve_post_process(pp) -> Callable:
    if isinstance(pp, str):
        if pp not in POST_PROCESS_KERNELS:
            raise ValueError(
                f"Unknown post_process_map kernel `{pp}`; registered: "
                f"{sorted(POST_PROCESS_KERNELS)}")
        return POST_PROCESS_KERNELS[pp]
    if callable(pp):
        return pp
    raise ValueError(f"Unsupported post_process_map: {pp}")


def get_algo(cfg: dict, source_name: str = "?") -> str:
    """cfg.algo or the module default (pipelines.py:265-275)."""
    algo = cfg.get("algo") or ALGO_MAP.get(cfg["module"])
    if not algo:
        raise ValueError(f"No valid algo for {source_name}")
    if algo not in SUPPORTED_ALGOS:
        raise ValueError(f"Unsupported algo: {algo}")
    return algo


def resolve_source(spark: SparkSession, cfg: dict,
                   registry: Registry = DEFAULT_REGISTRY
                   ) -> tuple[TableSource, DataFrame]:
    """module/out/select/cast/filter_date resolution (pipelines.py:182-212).

    `out` may be a loader-modifier helper name (the reference passes
    e.g. "filter_by_cloud_percentage" with out_kw, demo.py:36-37).
    """
    module = cfg["module"]
    src = module if isinstance(module, TableSource) else registry.get(module)
    out = cfg.get("out")
    if out == "filter_by_cloud_percentage":
        df = catalog.cloud_filtered(src, spark, **cfg.get("out_kw", {}))
    else:
        df = src.load(spark)
    if cfg.get("select"):
        df = src.select_bands(df, cfg["select"])  # validates names
    if cfg.get("cast"):
        band, dtype = cfg["cast"]
        df = df.withColumn(band, F.col(band).cast(dtype))
    if cfg.get("filter_date", True) and "ts" in df.columns:
        if cfg.get("date_ranges"):
            start, end = times.outer_dates(cfg["date_ranges"])
        else:
            start, end = cfg.get("start_date"), cfg.get("end_date")
        if start:
            df = df.filter(F.col("ts") >= _to_ms(start))
            if end:
                df = df.filter(F.col("ts") < _to_ms(end))
    return src, df


def _to_ms(date_str: str) -> int:
    d = _dt.datetime.strptime(date_str, "%Y-%m-%d") \
        .replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp() * 1000)


def _lift_scalar_patches(df: DataFrame, bands: list[str]) -> DataFrame:
    """Scalar scene table -> 1-pixel patches + all-valid mask (the
    reference's scalar/centroid sampling, pipelines.py:315-316)."""
    schema = dict(df.dtypes)
    for b in bands:
        if not schema[b].startswith("array"):
            df = df.withColumn(b, F.array(F.col(b).cast("float")))
    if "mask" not in df.columns:
        npx = F.size(F.col(bands[0]))
        df = df.withColumn(
            "mask", F.transform(F.sequence(F.lit(1), npx),
                                lambda _: F.lit(1).cast("tinyint")))
    return df


def _rename_outputs(df: DataFrame, name: str, bands: list[str]) -> DataFrame:
    """{name}/{band} (+ {name}_mask) naming (pipelines.py:427-441)."""
    if "valid" in df.columns:
        df = df.withColumnRenamed("valid", f"{name}_mask")
    keep = [c for c in df.columns if c not in bands]
    return df.select(*[F.col(c) for c in keep],
                     *[F.col(b).alias(f"{name}/{b}") for b in bands])


# FCs at or below this row count take the collect+broadcast path; above
# it the distributed (SMJ / grid-cover) paths run. The crossover was not
# measured; 0 forces the large path.
FC_BROADCAST_THRESHOLD = 100_000


def _fc_is_small(df: DataFrame) -> bool:
    # limit+1 head probe, NOT count(): a 10^9-row FC answers this from
    # its first partitions.
    limit = FC_BROADCAST_THRESHOLD
    if limit <= 0:
        return False
    with job_description(df.sparkSession, "geeflow.plans.config.fc_probe"):
        return len(df.select(F.lit(1)).head(limit + 1)) <= limit


def _fc_to_pandas(df: DataFrame):
    """The small FC on the driver, for the broadcast paths."""
    with job_description(df.sparkSession, "geeflow.plans.config.fc_collect"):
        return df.toPandas()


def run_pipeline(spark: SparkSession, config: dict,
                 registry: Registry = DEFAULT_REGISTRY,
                 labels: DataFrame | None = None) -> dict[str, DataFrame]:
    """Resolves config.sources onto per-source DataFrames keyed by cell.

    The per-source dispatch mirrors pipelines.py:299-424; outputs carry
    the reference's band naming so the assemble stage can stack them.
    """
    out: dict[str, DataFrame] = {}
    for name, cfg in config["sources"].items():
        algo = get_algo(cfg, name)
        src, df = resolve_source(spark, cfg, registry)
        bands = list(cfg.get("select") or src.bands)
        kw = dict(cfg.get("sampling_kw", {}))
        reduce_fn = kw.get("reduce_fn", "mosaic")
        key_cols = list(cfg.get("key_cols", ("cell",)))

        if algo in ("ic_sample", "ic_sample_date_ranges",
                    "ic_sample_reduced"):
            df = _lift_scalar_patches(df, bands)
            if mask_fn := kw.get("cloud_mask_fn"):
                # cloud_mask_fn: Column-producing callable df->Column
                # (0/1 per scene) - scenes failing it are masked out.
                df = df.filter(mask_fn(df) == 1)
        if algo == "ic_sample":
            # k most-recent scenes as separate timesteps
            # (ee_algo.ic_sample returns a list of images); deterministic
            # tiebreak on scene_id.
            limit = cfg.get("limit", kw.get("limit")) or 1
            order = [F.col("ts").desc()]
            if "scene_id" in df.columns:
                order.append(F.col("scene_id").desc())
            w = Window.partitionBy(*key_cols).orderBy(*order)
            red = (df.withColumn("t", F.row_number().over(w) - 1)
                   .filter(F.col("t") < limit))
            out[name] = _rename_outputs(red, name, bands)
        elif algo == "ic_sample_date_ranges":
            ranges = cfg.get("date_ranges")
            if fn := cfg.get("date_ranges_fn"):
                if ranges:
                    raise ValueError(
                        "Both date_ranges and date_ranges_fn are set.")
                ranges = fn()
            red = reducers.sample_date_ranges(
                df, bands, ranges, reducer=reduce_fn, key_cols=key_cols,
                limit=cfg.get("limit", kw.get("limit")),
                quality_band=kw.get("quality_band"))
            out[name] = _rename_outputs(red, name, bands)
        elif algo == "ic_sample_reduced":
            red = reducers.reduce_scenes(df, bands, reduce_fn, key_cols,
                                         quality_band=kw.get("quality_band"))
            out[name] = _rename_outputs(red, name, bands)
        elif algo == "sample_roi":
            out[name] = _rename_outputs(df, name, bands)
        elif algo == "fc_get":
            # First matching feature's properties per labels point
            # (pipelines.py:398-400 + ee_algo fc_get). FC-size dispatch:
            # small FCs collect + broadcast (reference-shaped country
            # tables); large FCs MUST NOT reach the driver - they take
            # the cell-keyed sort-merge join with distributed covers.
            # The size probe is one driver-side count per source (same
            # budget class as the CCDC emptiness probe).
            if labels is None:
                raise ValueError(f"fc_get source `{name}` needs labels")
            props = list(cfg["select"])
            idc = cfg.get("id_col", "index")
            if _fc_is_small(df):
                joined = spatial_join.join_points_regions(
                    labels, _fc_to_pandas(df),
                    region_cols=("region_id", *props))
            else:
                joined = spatial_join.join_points_regions_smj(
                    labels, df.select("region_id", *props, "ring")) \
                    .drop("ring")
            out[name] = spatial_join.first_match(
                joined, key_cols=[idc], payload_cols=props)
        elif algo == "fc_to_image":
            # Rasterize feature property onto label ROIs
            # (pipelines.py:401-403 + ee_algo fc_to_image). Same FC-size
            # dispatch: the large path joins grid-cell covers and
            # rasterizes each ROI against only its candidate features.
            if labels is None:
                raise ValueError(f"fc_to_image source `{name}` needs rois")
            prop = cfg["select"]
            prop = prop[0] if isinstance(prop, (list, tuple)) else prop
            if _fc_is_small(df):
                out[name] = rasterize.rasterize_fc(
                    labels, _fc_to_pandas(df), prop,
                    reducer=kw.get("reduce_fn", "first"))
            else:
                grid = cfg.get("fc_grid")
                if grid is None:
                    # one tiny action: max ROI extent -> each ROI covers
                    # <= 4 grid cells, features explode proportionally.
                    with job_description(
                            spark, "geeflow.plans.config.roi_extent"):
                        g = labels.agg(F.max(F.greatest(
                            F.col("cell_size") * F.col("width"),
                            F.col("cell_size") * F.col("height"))
                        ).alias("g")).collect()[0]["g"]
                    # empty labels -> NULL max; any grid yields the same
                    # (empty) output, so fall back to a unit grid.
                    grid = float(g) if g is not None else 1.0
                out[name] = rasterize.rasterize_fc_distributed(
                    labels, df, prop, grid=grid,
                    reducer=kw.get("reduce_fn", "first"),
                    roi_id_col=cfg.get("id_col", "index"))
        elif algo == "get_ccdc":
            # year_selection consistency guard (pipelines.py:343-347),
            # then the annual-selection kernel per pixel row.
            fmt = dict(cfg.get("format_config", {}))
            if ("year_selection" in fmt
                    and len(fmt["year_selection"])
                    != fmt["to"] - fmt["from"] + 1):
                raise ValueError("`year_selection` mask should include all "
                                 "years between `from` and `to`.")
            out[name] = _ccdc_annual(df, name, fmt, kw)
        else:  # pragma: no cover - guarded by get_algo
            raise ValueError(f"Unsupported algo: {algo}")
    if pp := config.get("post_process_map"):
        out = resolve_post_process(pp)(out)
    return out


def _ccdc_annual(df: DataFrame, name: str, fmt: dict, kw: dict) -> DataFrame:
    """get_ccdc dispatch: per-pixel ragged (tStart, tEnd, coefs) rows ->
    flattened annual-selection tensor + mask via the ccdc kernels."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (ArrayType, FloatType, StructField,
                                   StructType)

    from geeflow_spark.functions import ccdc as ccdc_mod

    num_segments = int(kw.get("num_segments", 10))
    year_from, year_to = fmt.get("from"), fmt.get("to")
    selection = fmt.get("selection", "longest")

    # NOTE: annotations are set as real objects below -
    # `from __future__ import annotations` stringifies inline hints and
    # pyspark's pandas-UDF signature inference can't resolve them.
    def _kernel(ts, te, co):
        res = ccdc_mod.ccdc_examples(
            [np.asarray(x, dtype=np.float32) for x in ts],
            [np.asarray(x, dtype=np.float32) for x in te],
            [np.asarray(x, dtype=np.float32) for x in co],
            num_segments, year_from, year_to, selection)
        return pd.DataFrame({
            "tensor": [np.asarray(t, dtype=np.float32).ravel() for t, _ in res],
            "mask": [np.asarray(m, dtype=np.float32).ravel() for _, m in res],
        })

    _kernel.__annotations__ = {"ts": pd.Series, "te": pd.Series,
                               "co": pd.Series, "return": pd.DataFrame}
    _kernel = pandas_udf(StructType([
        StructField("tensor", ArrayType(FloatType())),
        StructField("mask", ArrayType(FloatType()))]))(_kernel)

    got = df.withColumn("_c", _kernel(F.col("tStart"), F.col("tEnd"),
                                      F.col("coefs")))
    return (got.select(*[c for c in df.columns
                         if c not in ("tStart", "tEnd", "coefs")],
                       F.col("_c.tensor").alias(f"{name}/ccdc"),
                       F.col("_c.mask").alias(f"{name}_mask/ccdc")))
