"""The benchmark's workloads: seeded inputs, one timed job, output checks.

Each workload follows one of geeflow's batch paths end to end:

  generate_write  `cli generate`: docs x regions -> generate_examples ->
                  checkpoint.run_partitioned (3 split partitions + manifests)
  raster_mosaic   `cli rasters`: predictions x cell metadata -> assign_tiles
                  -> mosaic_assigned_tiles -> parquet
  labels_sources  export + stats: label ROIs -> config.run_pipeline with an
                  ic_sample_date_ranges, an fc_get and an fc_to_image source
                  -> per_band_counter_stats on the reduced band

`prepare` builds the inputs from the seed and the reference results the
checks compare against; it is never timed. `run` is the timed job. `check`
returns a list of problems (empty when the output is right). With a tracer,
`run` wraps each call into a geeflow_spark layer in a span.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from geeflow_spark.operators import (raster_export, spatial_join, stats,
                                     tiles)
from geeflow_spark.plans import checkpoint, generate
from geeflow_spark.plans import config as cfg_mod
from geeflow_spark.sources import synth
from geeflow_spark.sources.registry import Registry, TableSource

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SEED = 0
COLD_FRACTION = 20  # the cold-start run reads 1 row in 20


def _span(tracer, name):
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name)


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _checksum(df, cols, *extra):
    """Order-free exact checksum: sum of per-row xxhash64 as a decimal.
    Returns (rows, checksum, *values of the `extra` aggregates)."""
    row = df.agg(F.count("*"),
                 F.sum(F.xxhash64(*cols).cast("decimal(20,0)")),
                 *extra).collect()[0]
    return (int(row[0]), str(row[1] or 0), *row[2:])


def _slice(df, key):
    """A small slice spread over every input partition, so a cold start
    brings up one Python worker per core, as a full run does."""
    return df.filter(F.pmod(F.xxhash64(key), F.lit(COLD_FRACTION)) == 0)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


def _median_s(tracer, spans) -> float:
    return float(np.median([tracer.duration(s) for s in spans]))


def _golden(name: str) -> dict | None:
    with open(os.path.join(HERE, "goldens.json")) as f:
        return json.load(f).get(name)


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, scale: float = 1.0):
        self.seed = seed
        self.scale = scale
        self.work = os.path.join(work, self.name)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.ref: dict = {}

    def _n(self, n: int) -> int:
        return max(int(n * self.scale), 64)

    def reset(self) -> None:
        """Removes what a previous run wrote (untimed)."""

    def cold_start(self, spark) -> None:
        """The first run in a new session, on a small slice of the input
        into a noop sink: builds the plan on the driver and brings up the
        Python workers with the kernels' imports."""
        raise NotImplementedError

    def output_bytes(self) -> int:
        return 0

    def input_paths(self) -> list[str]:
        raise NotImplementedError

    def finish(self, spark) -> list[str]:
        """Checks deferred until after the timed runs; one problem per
        failed run."""
        return []

    def check_golden(self, got: dict) -> list[str]:
        g = _golden(self.name)
        if self.seed != DEFAULT_SEED or self.scale != 1.0 or g is None:
            return []
        bad = []
        for k, v in g.items():
            if isinstance(v, float):
                if not _close(float(got.get(k, "nan")), v, 1e-7):
                    bad.append(f"golden {k}: {got.get(k)} != {v}")
            elif got.get(k) != v:
                bad.append(f"golden {k}: {got.get(k)} != {v}")
        return bad


class GenerateWrite(Workload):
    """`cli generate`: the only workload through plans.checkpoint."""

    name = "generate_write"
    N_DOCS = 10_000
    N_REGIONS = 40
    PARTS = ["train", "val", "test"]

    def prepare(self, spark):
        self.input_rows = self._n(self.N_DOCS)
        self.docs_path = os.path.join(self.work, "docs")
        synth.docs(spark, self.input_rows, 4).write.parquet(self.docs_path)
        self.regions = synth.regions_pdf(self.N_REGIONS, seed=self.seed,
                                         radius_scale=2.0)
        self.out = os.path.join(self.work, "out")
        self.cols = generate.generate_examples(
            spark.read.parquet(self.docs_path), self.regions).columns
        self.pending = []

    def input_paths(self):
        return [self.docs_path]

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def cold_start(self, spark):
        docs = _slice(spark.read.parquet(self.docs_path), "doc_id")
        generate.generate_examples(docs, self.regions).write \
            .format("noop").mode("overwrite").save()

    def run(self, spark, tracer=None):
        docs = spark.read.parquet(self.docs_path)
        with _span(tracer, "plans.generate.generate_examples"):
            ex = generate.generate_examples(docs, self.regions)
        with _span(tracer, "plans.checkpoint.run_partitioned"):
            recs = checkpoint.run_partitioned(
                ex, self.out, "split", self.PARTS, id_col="doc_id",
                input_fingerprint=self.docs_path)
        return {"partitions": len(recs),
                "manifest_rows": sum(r["rows"] for r in recs)}

    def output_bytes(self):
        return _dir_bytes(self.out)

    def check(self, spark, got, full=True):
        """Checks what needs no reference now; what does (row counts and
        checksums against the aggregate-only run) waits for `finish`."""
        if got["partitions"] != len(self.PARTS):
            return [f"wrote {got['partitions']} partitions"]
        written = None
        if full:
            parts = [spark.read.parquet(os.path.join(self.out, f"split={p}"))
                     for p in self.PARTS]
            union = parts[0]
            for p in parts[1:]:
                union = union.unionByName(p)
            # Span offsets must stay strictly increasing (sequence kept).
            unordered = F.expr(
                "size(array_distinct(spans.offset)) != size(spans) OR "
                "array_sort(spans.offset) != spans.offset")
            n, h, bad_rows = _checksum(union, self.cols,
                                       F.sum(unordered.cast("int")))
            if bad_rows:
                return [f"{bad_rows} rows lost their span order"]
            written = {"rows": n, "checksum": h}
        self.pending.append((got["manifest_rows"], written))
        return []

    def finish(self, spark):
        """Runs the same plan aggregate-only (warm, untimed) and compares
        every checked run with it; returns the problems, one per run."""
        ex = generate.generate_examples(spark.read.parquet(self.docs_path),
                                        self.regions)
        n, h = _checksum(ex, self.cols)
        self.ref = {"rows": n, "checksum": h}
        bad = []
        for manifest_rows, written in self.pending:
            if manifest_rows != n:
                bad.append(f"manifest rows {manifest_rows} != "
                           f"aggregate-only {n}")
            elif written is not None and written != self.ref:
                bad.append(f"written {written} != aggregate-only {self.ref}")
        self.pending = []
        return bad + self.check_golden(self.ref)

    def trace_extra(self, spark, tracer):
        """Traced probes run while the session is up: the kernel alone
        (same plan into a noop sink), the driver-side cover build it
        starts from, and the PIP refine's useful-to-attempted ratio."""
        docs = spark.read.parquet(self.docs_path)
        for i in range(3):
            with tracer.span("plans.generate.kernel", rep=i):
                generate.generate_examples(docs, self.regions).write \
                    .format("noop").mode("overwrite").save()
            with tracer.span("operators.spatial_join.region_covers",
                             rep=i):
                covers = spatial_join.region_covers_pdf(self.regions, 8)
        # Kept pairs over the cover candidates the kernel tests (same
        # cover lookup, on the driver, over the collected coordinates).
        from geeflow_spark.functions import s2
        pdf = docs.select("lat", "lon").toPandas()
        cells = s2.parent(s2.latlon_to_cell_id(pdf["lat"].to_numpy(),
                                               pdf["lon"].to_numpy()), 8)
        per_cell = covers.groupby("cell").size()
        cand = int(per_cell.reindex(cells.astype(np.int64)).fillna(0).sum())
        return {
            "plans.generate.kernel_s": _median_s(
                tracer, tracer.find("plans.generate.kernel")),
            "operators.spatial_join.region_covers_s": _median_s(
                tracer, tracer.find("operators.spatial_join.region_covers")),
            "plans.generate.pip_hit_ratio": self.ref["rows"] / max(cand, 1),
            "plans.checkpoint.output_bytes": self.output_bytes(),
        }

    def layer_metrics(self, tracer, runs):
        """Span metrics of the traced runs `runs` (task metrics attached)."""
        cp = [tracer.find("plans.checkpoint.run_partitioned", r)[0]
              for r in runs]
        return {
            "plans.generate.plan_build_s": _median_s(tracer, [
                tracer.find("plans.generate.generate_examples", r)[0]
                for r in runs]),
            "plans.checkpoint.write_s": _median_s(tracer, cp),
            "plans.checkpoint.spark_jobs": cp[-1]["total"]["jobs"],
            "plans.checkpoint.kernel_passes": cp[-1]["total"]["input_stages"],
        }


class RasterMosaic(Workload):
    """`cli rasters`: tile assignment + mosaic + parquet write."""

    name = "raster_mosaic"
    N_PLOTS = 8_192
    NUM_SPLITS = 4
    CELL_SIZE = 1920.0
    SPAN_M = 99_999 * 9.6  # extent of synth.cells_metadata anchors

    def prepare(self, spark):
        n = self.input_rows = self._n(self.N_PLOTS)
        rng = _rng(self.seed, 1)
        # The seed re-pairs predictions with plot anchors: id -> a*id+b mod n
        # with a coprime to n, so every seed is a permutation.
        a = int(rng.integers(1, n))
        while math.gcd(a, n) != 1:
            a += 1
        b = int(rng.integers(0, n))
        cells = synth.cells_metadata(spark, n)
        preds = synth.predictions(spark, n, 4, 4, 2).withColumn(
            "id", (F.col("id") * a + b) % n)
        self.plots_path = os.path.join(self.work, "plots")
        (cells.join(preds, "id").repartition(4)
         .write.parquet(self.plots_path))
        x0, y0 = 200_000.0, 1_000_000.0
        bb = (x0, y0, x0 + self.SPAN_M, y0 + self.SPAN_M)
        self.zone_bboxes = {"32T": bb, "18N": bb}
        self.out = os.path.join(self.work, "out")
        # Thousands of plots per zone: every split of every zone gets some.
        self.ref = {"rasters": len(self.zone_bboxes) * self.NUM_SPLITS ** 2}

    def _assign(self, plots):
        return tiles.assign_tiles(plots, zone_bboxes=self.zone_bboxes,
                                  num_splits=self.NUM_SPLITS,
                                  cell_size=self.CELL_SIZE)

    def input_paths(self):
        return [self.plots_path]

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def cold_start(self, spark):
        plots = _slice(spark.read.parquet(self.plots_path), "id")
        raster_export.mosaic_assigned_tiles(
            self._assign(plots), zone_bboxes=self.zone_bboxes,
            cell_size=self.CELL_SIZE, num_splits=self.NUM_SPLITS,
            pred_c=2).write.format("noop").mode("overwrite").save()

    def run(self, spark, tracer=None):
        plots = spark.read.parquet(self.plots_path)
        with _span(tracer, "operators.tiles.assign_tiles"):
            assigned = self._assign(plots)
        with _span(tracer, "operators.raster_export.mosaic_assigned_tiles"):
            rasters = raster_export.mosaic_assigned_tiles(
                assigned, zone_bboxes=self.zone_bboxes,
                cell_size=self.CELL_SIZE, num_splits=self.NUM_SPLITS,
                pred_c=2, border_mode="uniform_avg")
            rasters.write.mode("overwrite").parquet(self.out)
        return {}

    def output_bytes(self):
        return _dir_bytes(self.out)

    def check(self, spark, got, full=True):
        if not full:
            files = os.listdir(self.out)
            if any(f.endswith(".parquet") for f in files):
                return []
            return ["no raster files written"]
        r = spark.read.parquet(self.out).agg(
            F.count("*").alias("rasters"),
            F.sum(F.aggregate("mask", F.lit(0).cast("long"),
                              lambda acc, x: acc + x)).alias("mask_sum"),
            F.sum(F.aggregate("raster", F.lit(0.0).cast("double"),
                              lambda acc, x: acc + x)).alias("value_sum"),
            F.sum(F.when(F.size("raster") != F.col("height") * F.col("width")
                         * F.col("channels"), 1).otherwise(0)).alias("bad"),
        ).collect()[0].asDict()
        res = {"rasters": int(r["rasters"]), "mask_sum": int(r["mask_sum"]),
               "value_sum": float(r["value_sum"])}
        bad = []
        if res["rasters"] != self.ref["rasters"]:
            bad.append(f"{res['rasters']} rasters, expected "
                       f"{self.ref['rasters']}")
        if r["bad"]:
            bad.append(f"{r['bad']} rasters with a wrong shape")
        # Every run of one input must agree with the first.
        first = self.ref.setdefault("first", res)
        if (res["mask_sum"] != first["mask_sum"]
                or not _close(res["value_sum"], first["value_sum"])):
            bad.append(f"{res} disagrees with the first run {first}")
        if res["mask_sum"] <= 0:
            bad.append("all rasters are empty")
        return bad + self.check_golden(res)

    def trace_extra(self, spark, tracer):
        # assign_tiles only builds a plan inside the run; time its rows
        # into a noop sink to see the column-op cost itself.
        plots = spark.read.parquet(self.plots_path)
        for i in range(3):
            with tracer.span("operators.tiles.assign_tiles.noop", rep=i):
                self._assign(plots).write.format("noop") \
                    .mode("overwrite").save()
        return {
            "operators.tiles.assign_tiles_s": _median_s(
                tracer, tracer.find("operators.tiles.assign_tiles.noop")),
            "operators.tiles.fanout": (self._assign(plots).count()
                                       / self.input_rows),
            "operators.raster_export.output_bytes": self.output_bytes(),
        }

    def layer_metrics(self, tracer, runs):
        mo = [tracer.find("operators.raster_export.mosaic_assigned_tiles",
                          r)[0] for r in runs]
        return {
            "operators.raster_export.mosaic_s": _median_s(tracer, mo),
            "operators.raster_export.shuffle_bytes":
                mo[-1]["total"]["shuffle_write_bytes"],
        }


class LabelsSources(Workload):
    """Label ROIs through plans.config with three sources, then stats."""

    name = "labels_sources"
    N_ROIS = 2_000
    N_CELLS = 400
    N_TIMES = 24
    HW = 16
    N_REGIONS = 40
    ROI_PX = 32
    ROI_DEG = 0.01

    def prepare(self, spark):
        import pandas as pd
        n_rois, n_cells = self._n(self.N_ROIS), self._n(self.N_CELLS)
        self.input_rows = n_rois + n_cells * self.N_TIMES
        self.regions = synth.regions_pdf(self.N_REGIONS, seed=self.seed,
                                         radius_scale=2.0)
        # ROIs near the regions: a seeded region pick and offset.
        rng = _rng(self.seed, 2)
        pick = rng.integers(0, len(self.regions), n_rois)
        rings = [np.asarray(r) for r in self.regions["ring"]]
        lon = np.empty(n_rois)
        lat = np.empty(n_rois)
        for i, r in enumerate(pick):
            xs, ys = rings[r][0::2], rings[r][1::2]
            lon[i] = rng.uniform(xs.min() - 0.2, xs.max() + 0.2)
            lat[i] = rng.uniform(ys.min() - 0.2, ys.max() + 0.2)
        half = self.ROI_PX * self.ROI_DEG / 2
        rois = pd.DataFrame({
            "index": np.arange(n_rois, dtype=np.int32),
            "lat": lat, "lon": lon,
            "x_min": lon - half, "y_min": lat - half,
            "cell_size": self.ROI_DEG,
            "width": np.int32(self.ROI_PX), "height": np.int32(self.ROI_PX),
            "cell": (np.arange(n_rois) % n_cells).astype(np.int64),
        })
        self.rois_path = os.path.join(self.work, "rois")
        spark.createDataFrame(rois).repartition(4).write.parquet(
            self.rois_path)
        self.regions_path = os.path.join(self.work, "regions")
        spark.createDataFrame(self.regions).coalesce(1).write.parquet(
            self.regions_path)
        self.scenes_path = os.path.join(self.work, "scenes")
        synth.scenes(spark, n_cells, self.N_TIMES, self.HW).write.parquet(
            self.scenes_path)

        reg = Registry()
        scenes_path, regions_path = self.scenes_path, self.regions_path
        reg.register(TableSource(
            "bench_scenes", None, bands=["B1", "B2", "B3", "B4"],
            loader=lambda s: s.read.parquet(scenes_path)))
        reg.register(TableSource(
            "bench_regions", None, bands=["class_name", "gridcode"],
            kind="fc", loader=lambda s: s.read.parquet(regions_path)))
        self.registry = reg
        c = cfg_mod.DotDict(sources=cfg_mod.DotDict())
        s2 = cfg_mod.get_source_config("bench_scenes")
        s2.algo = "ic_sample_date_ranges"
        s2.select = ["B1", "B2", "B3", "B4"]
        s2.sampling_kw = {"reduce_fn": "mean"}
        from geeflow_spark.operators import reducers
        s2.date_ranges = reducers.date_ranges("2018-01-01", 4, months=6)
        c.sources.s2 = s2
        fg = cfg_mod.get_source_config("bench_regions")
        fg.algo = "fc_get"
        fg.select = ["gridcode"]
        c.sources.country = fg
        fi = cfg_mod.get_source_config("bench_regions")
        fi.algo = "fc_to_image"
        fi.select = ["gridcode"]
        fi.sampling_kw = {"reduce_fn": "first"}
        c.sources.landcover = fi
        self.config = c

        # Reference stats on a materialized copy of the reduced band.
        out = cfg_mod.run_pipeline(spark, c, self.registry,
                                   labels=spark.read.parquet(self.rois_path))
        self.s2_path = os.path.join(self.work, "s2_materialized")
        out["s2"].write.parquet(self.s2_path)
        self.ref = {"stats": self._stats(spark.read.parquet(self.s2_path))}

    def input_paths(self):
        return [self.rois_path, self.scenes_path]

    def cold_start(self, spark):
        rois = _slice(spark.read.parquet(self.rois_path), "index")
        out = cfg_mod.run_pipeline(spark, self.config, self.registry,
                                   labels=rois)
        out["landcover"].write.format("noop").mode("overwrite").save()

    @staticmethod
    def _stats(df):
        return stats.per_band_counter_stats(df, "s2/B1", 1,
                                            mask_col="s2_mask")

    def run(self, spark, tracer=None):
        rois = spark.read.parquet(self.rois_path)
        with _span(tracer, "plans.config.run_pipeline"):
            out = cfg_mod.run_pipeline(spark, self.config, self.registry,
                                       labels=rois)
        with _span(tracer, "operators.reducers.sample_date_ranges"):
            s2 = out["s2"].agg(
                F.count("*").alias("n"),
                F.sum(F.aggregate("s2_mask", F.lit(0).cast("long"),
                                  lambda acc, x: acc + x)).alias("valid"),
            ).collect()[0]
        with _span(tracer, "operators.spatial_join.join_points_regions"):
            country = out["country"].count()
        with _span(tracer, "operators.rasterize.rasterize_fc"):
            lc = out["landcover"].agg(
                F.count("*").alias("n"),
                F.sum(F.aggregate("raster.mask", F.lit(0).cast("long"),
                                  lambda acc, x: acc + x)).alias("mask"),
            ).collect()[0]
        with _span(tracer, "operators.stats.per_band_counter_stats"):
            st = self._stats(out["s2"])
        return {"s2_rows": int(s2["n"]), "s2_valid": int(s2["valid"]),
                "country_rows": int(country), "landcover_rows": int(lc["n"]),
                "landcover_mask_sum": int(lc["mask"]), "stats": st}

    def check(self, spark, got, full=True):
        bad = []
        if not _same_stats(got["stats"], self.ref["stats"]):
            bad.append("in-pipeline stats differ from materialized stats")
        if got["landcover_rows"] != self.input_rows - self._n(
                self.N_CELLS) * self.N_TIMES:
            bad.append(f"fc_to_image lost ROIs: {got['landcover_rows']}")
        if not (0 < got["country_rows"] <= got["landcover_rows"]):
            bad.append(f"fc_get rows {got['country_rows']} out of range")
        counts = {k: v for k, v in got.items() if k != "stats"}
        first = self.ref.setdefault("first", counts)
        if counts != first:
            bad.append(f"{counts} disagrees with the first run {first}")
        gold = dict(counts, stats_n=got["stats"][0]["n"] if got["stats"]
                    else 0)
        return bad + self.check_golden(gold)

    def trace_extra(self, spark, tracer):
        mat = spark.read.parquet(self.s2_path)
        for i in range(3):
            with tracer.span("operators.stats.materialized", rep=i):
                self._stats(mat)
        self.materialized_s = _median_s(
            tracer, tracer.find("operators.stats.materialized"))
        return {"operators.stats.materialized_s": self.materialized_s}

    def layer_metrics(self, tracer, runs):
        def dur(name):
            return _median_s(tracer, [tracer.find(name, r)[0] for r in runs])

        out = {
            "plans.config.run_pipeline_plan_s":
                dur("plans.config.run_pipeline"),
            "operators.reducers.sample_date_ranges_s":
                dur("operators.reducers.sample_date_ranges"),
            "operators.spatial_join.join_points_regions_s":
                dur("operators.spatial_join.join_points_regions"),
            "operators.rasterize.rasterize_fc_s":
                dur("operators.rasterize.rasterize_fc"),
            "operators.stats.per_band_counter_stats_s":
                dur("operators.stats.per_band_counter_stats"),
        }
        # In-pipeline stats re-run the reduction; on a materialized input
        # they do not. The ratio shows what the recompute costs.
        out["operators.stats.recompute_ratio"] = (
            out["operators.stats.per_band_counter_stats_s"]
            / self.materialized_s)
        return out


def _same_stats(a, b) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same_stats(a[k], b[k])
                                            for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same_stats(x, y)
                                        for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return _close(float(a), float(b))
    return a == b


WORKLOADS = {w.name: w for w in (GenerateWrite, RasterMosaic, LabelsSources)}
