"""Tests: example assembly rules, labels pipeline, raster-export mosaic."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from geeflow_spark.operators import raster_export, tiles
from geeflow_spark.plans import assemble, labels

import helpers


# --- assemble (ee_export_utils.py exact rules) -----------------------------

def test_stack_channels_and_timesteps():
    px = {"s2#0/B1": np.ones((2, 2)), "s2#0/B2": np.zeros((2, 2)),
          "s2#1/B1": np.full((2, 2), 2.0), "s2#1/B2": np.full((2, 2), 3.0),
          "dem/alt": np.full((2, 2), 7.0)}
    stacked = assemble.stack_channels(px)
    assert stacked["s2#0"].shape == (2, 2, 2)
    out = assemble.stack_timesteps(stacked)
    assert out["s2"].shape == (2, 2, 2, 2)  # (T, H, W, C)
    assert out["dem"].shape == (2, 2, 1)
    # timestep order by numeric index, not arrival order
    assert out["s2"][0, 0, 0, 0] == 1.0 and out["s2"][1, 0, 0, 0] == 2.0


def test_stack_timesteps_numeric_sort():
    px = {f"s#{i}": np.full((1, 1, 1), float(i)) for i in [10, 2, 0, 11]}
    out = assemble.stack_timesteps(px)
    assert out["s"][:, 0, 0, 0].tolist() == [0.0, 2.0, 10.0, 11.0]


def test_pad_missing_source():
    px = assemble.pad_missing_source({}, ["s1"], {"s1"})
    assert px["s1"].size == 0 and px["s1_mask"].size == 0
    assert px["s1_timestamps"].size == 0


def test_center_crop():
    # s+1 -> s around center, exact index math (:367-371)
    d = np.arange(5 * 5).reshape(1, 5, 5, 1)
    out = assemble.center_crop(d, 4)
    assert out.shape == (1, 4, 4, 1)
    assert out[0, 0, 0, 0] == d[0, 5 // 2 - 2, 5 // 2 - 2, 0]
    assert assemble.center_crop(np.zeros((2, 4, 4, 1)), 4).shape == \
        (2, 4, 4, 1)
    with pytest.raises(AssertionError):
        assemble.center_crop(np.zeros((1, 7, 7, 1)), 4)


def test_grid_cells_for_width():
    assert assemble.grid_cells_for_width(960, 10) == 96
    assert assemble.grid_cells_for_width(960, 10.0) == 96
    with pytest.raises(AssertionError):
        assemble.grid_cells_for_width(955, 10)  # not divisible (utm)
    assert assemble.grid_cells_for_width(955, 10, use_utm=False) == 96


def test_coerce_dtype_rules():
    # masks -> uint8 (:382-383)
    assert assemble.coerce_dtype("x_mask", [1, 0]).dtype == np.uint8
    assert assemble.coerce_dtype("hr", [1, 0]).dtype == np.uint8
    # timestamps -> int64 (:384-385)
    assert assemble.coerce_dtype("s_timestamps", [1000]).dtype == np.int64
    # ints and float64 -> float32 (:388-399)
    assert assemble.coerce_dtype("a", [1, 2]).dtype == np.float32
    assert assemble.coerce_dtype("a", np.array([1.0, 2.0])).dtype == \
        np.float32
    # float32 input stays float32
    assert assemble.coerce_dtype(
        "a", np.array([1.0], dtype=np.float32)).dtype == np.float32
    # exception list
    assert assemble.coerce_dtype("a", [1, 2],
                                 ignore_for_float_conversion=("a",)
                                 ).dtype == np.int64
    # explicit source dtype
    assert assemble.coerce_dtype("a", [1], source_dtype=np.int16).dtype \
        == np.int16
    # empty arrays convert (:389 "even if array is empty")
    assert assemble.coerce_dtype("a", []).dtype == np.float32
    # scalars kept as python scalars (:400-404)
    assert assemble.coerce_dtype("a", 5) == 5


def test_filter_example():
    f = {"hansen": np.zeros((2, 2, 2)), "seq": np.array([])}
    assert not assemble.filter_example(f, filter_empty_forest_loss=True)
    f["hansen"][0, 0, 1] = 1
    assert assemble.filter_example(f, filter_empty_forest_loss=True)
    assert not assemble.filter_example(f, filter_empty_sequences="seq")
    f["seq"] = np.array([1])
    assert assemble.filter_example(f, filter_empty_sequences=["seq"])


def test_tfds_key():
    assert assemble.tfds_key({"id": 3, "split": "t"}) == "3"
    assert assemble.tfds_key({"a": 1, "b": "x"}, ("a", "b")) == "1-x"


# --- labels pipeline --------------------------------------------------------

def test_pipeline_labels(spark, tmp_path):
    pdf = pd.DataFrame({"index": [0, 1, 2], "lat": [47.1, 47.2, 51.0],
                        "lon": [8.5, 8.6, -0.1],
                        "label_name": ["apple", "prune", "apple"],
                        "label": [1, 0, 1], "split": ["train", "val",
                                                      "test"]})
    csv = str(tmp_path / "labels.csv")
    pdf.to_csv(csv, index=False)
    df = labels.read_labels(spark, csv)
    out = labels.pipeline_labels(df, ["lat", "lon", "label"]).toPandas()
    assert list(out.columns) == ["lat", "lon", "label", "id"]
    assert sorted(out["id"]) == [0, 1, 2]
    with pytest.raises(ValueError):
        labels.pipeline_labels(df, ["nope"])
    assert labels.pipeline_labels(df, num_max_samples=2).count() == 2


def test_item_to_roi_variants():
    # utm_x/utm_y variant (pipelines.py:147-151)
    roi = labels.item_to_roi(
        {"utm_x": 500480.0, "utm_y": 1000480.0, "utm_zone": "32T"},
        img_width_m=960, max_cell_size_m=10)
    assert roi.utm_x_min == 500000.0 and roi.width == 96
    # min/max variant with the equality assert (:140-146)
    roi2 = labels.item_to_roi(
        {"utm_x_min": 500000.0, "utm_x_max": 500960.0,
         "utm_y_min": 1000000.0, "utm_y_max": 1000960.0,
         "utm_zone": "32T"}, img_width_m=960, max_cell_size_m=10)
    assert roi2.utm_x_min == 500000.0
    with pytest.raises(AssertionError):
        labels.item_to_roi(
            {"utm_x_min": 0.0, "utm_x_max": 500.0, "utm_y_min": 0.0,
             "utm_y_max": 960.0, "utm_zone": "32T"},
            img_width_m=960, max_cell_size_m=10)
    # lat/lon fallback
    roi3 = labels.item_to_roi({"lat": 1.17, "lon": -77.4916575059},
                              img_width_m=10000, max_cell_size_m=10)
    assert roi3.utm_zone == "18N"
    # non-utm: lat/lon rectangle (coords.py:34-39 semantics)
    w, s, e, n = labels.item_to_roi({"lat": 10.0, "lon": 20.0},
                                    img_width_m=111111.111,
                                    max_cell_size_m=10, use_utm=False)
    assert pytest.approx(n - s, rel=1e-6) == 1.0


def test_with_roi_columns_matches_scalar(spark):
    lab = helpers.labels(spark, 50)
    out = labels.with_roi_columns(lab, img_width_m=960,
                                  max_cell_size_m=10).toPandas()
    for _, r in out.head(5).iterrows():
        roi = labels.item_to_roi({"lat": r["lat"], "lon": r["lon"]},
                                 img_width_m=960, max_cell_size_m=10)
        assert roi.utm_zone == r["utm_zone"]
        assert roi.utm_x_min == r["roi_x_min"]
        assert roi.utm_y_min == r["roi_y_min"]


# --- raster export mosaic ----------------------------------------------------

def _assigned(spark, n=120):
    # Small zone (19.2 km x 19.2 km -> 480x480 px per split at 4 splits)
    # so per-split rasters stay tiny in tests.
    zb = {"32T": (200000., 1000000., 219200., 1019200.)}
    rng = np.random.default_rng(11)
    rows = []
    for i in range(n):
        rows.append({
            "id": i,
            "utm_x": float(200000 + rng.integers(0, 2000) * 9.6),
            "utm_y": float(1000000 + rng.integers(0, 2000) * 9.6),
            "dx": int(rng.integers(-1, 2)), "dy": int(rng.integers(-1, 2)),
            "utm_zone": "32T",
            "tensor": rng.uniform(0, 1, 32).astype(np.float32).tolist(),
        })
    plots = spark.createDataFrame(pd.DataFrame(rows))
    return tiles.assign_tiles(plots, zone_bboxes=zb, num_splits=4), zb


def test_mosaic_rasters(spark):
    assigned, zb = _assigned(spark)
    out = raster_export.mosaic_assigned_tiles(
        assigned, zone_bboxes=zb, num_splits=4, pred_c=2,
        border_mode="uniform_avg").toPandas()
    assert len(out) > 0
    r0 = out.iloc[0]
    assert len(r0["raster"]) == r0["height"] * r0["width"] * r0["channels"]
    assert len(r0["mask"]) == r0["height"] * r0["width"]
    # geotransform y-up per export_rasters.py:335-342
    assert r0["geotransform"][5] == 10.0
    # every assigned plot's pixels landed somewhere: total mask > 0
    assert sum(sum(m) for m in out["mask"]) > 0


def test_mosaic_border_modes_agree_on_disjoint(spark):
    """With no overlaps, all border modes give identical rasters."""
    pdf = pd.DataFrame([
        {"utm_zone": "32T", "xs": 0, "ys": 0, "utm_x": 201000.0,
         "utm_y": 1001000.0, "dx": 0, "dy": 0,
         "tensor": list(np.arange(32, dtype=np.float32))},
        {"utm_zone": "32T", "xs": 0, "ys": 0, "utm_x": 203000.0,
         "utm_y": 1001000.0, "dx": 0, "dy": 0,
         "tensor": list(np.arange(32, 64).astype(np.float32))},
    ])
    zb = {"32T": (200000., 1000000., 219200., 1019200.)}
    df = None
    results = {}
    for mode in raster_export.BORDER_MODES:
        out = raster_export.mosaic_assigned_tiles(
            spark.createDataFrame(pdf), zone_bboxes=zb, num_splits=4,
            pred_c=2, border_mode=mode).toPandas()
        results[mode] = np.array(out.iloc[0]["raster"])
    base = results["none"]
    for mode, r in results.items():
        np.testing.assert_allclose(r, base, err_msg=mode)


def _arrow_plots(pdf):
    """A pandas plots frame as the Arrow table `mosaic_split` takes."""
    cols = {k: pdf[k].to_numpy() for k in ("utm_x", "utm_y", "dx", "dy")}
    return pa.table({**cols, "tensor": pa.array(list(pdf["tensor"]),
                                                pa.list_(pa.float64()))})


def test_mosaic_overlap_average():
    """Two identical-footprint plots with values 0 and 2 -> uniform_avg 1."""
    pdf = pd.DataFrame([
        {"utm_x": 300000.0, "utm_y": 1100000.0, "dx": 0, "dy": 0,
         "tensor": [0.0] * 32},
        {"utm_x": 300000.0, "utm_y": 1100000.0, "dx": 1, "dy": 0,
         "tensor": [2.0] * 32},
    ])
    out, mask = raster_export.mosaic_split(
        _arrow_plots(pdf), x_lo=290000, x_hi=310000, y_lo=1090000,
        y_hi=1110000, cell_size=10.0, plot_size_m=960.0, pred_h=4,
        pred_w=4, pred_c=2, border_mode="uniform_avg")
    vals = out[mask]
    # overlap columns average to 1.0; non-overlap keep 0 or 2
    assert set(np.unique(vals)) <= {0.0, 1.0, 2.0}
    assert (vals == 1.0).any()


def test_mosaic_post_ops():
    pdf = pd.DataFrame([
        {"utm_x": 300000.0, "utm_y": 1100000.0, "dx": 0, "dy": 0,
         "tensor": ([1.0, 3.0] * 16)},
    ])
    out, mask = raster_export.mosaic_split(
        _arrow_plots(pdf), x_lo=290000, x_hi=310000, y_lo=1090000,
        y_hi=1110000, cell_size=10.0, plot_size_m=960.0, pred_h=4,
        pred_w=4, pred_c=2, border_mode="none", normalize=True,
        add_argmax=True, shift_argmax=1)
    assert out.shape[-1] == 3  # 2 channels + argmax
    v = out[mask]
    np.testing.assert_allclose(v[:, 0] + v[:, 1], 1.0)  # normalized
    assert set(np.unique(v[:, 2])) == {2.0}  # argmax 1 + shift 1


def _mosaic_split_loop(plots, *, x_lo, x_hi, y_lo, y_hi, cell_size,
                       plot_size_m, pred_h, pred_w, pred_c,
                       border_mode="uniform_avg", normalize=False,
                       clip_min=None, clip_max=None,
                       discretization_factor=None, add_argmax=False,
                       shift_argmax=0):
    """Oracle for `raster_export.mosaic_split`: the per-plot, per-row
    loop it replaced, in the same plot-major summation order."""
    height = int(round((y_hi - y_lo) / cell_size))
    width = int(round((x_hi - x_lo) / cell_size))
    acc = np.zeros((height, width, pred_c))
    wacc = np.zeros((height, width))
    filled = np.zeros((height, width), dtype=bool)
    weights = raster_export._plot_weights(pred_h, pred_w, border_mode)
    half = plot_size_m // 2
    grouped = plots.groupby(["utm_x", "utm_y", "dx", "dy"], sort=True)
    for (xp, yp, dx, dy), grp in grouped:
        t = np.mean([np.asarray(v, dtype=np.float64).reshape(
            pred_h, pred_w, pred_c) for v in grp["tensor"]], axis=0)
        x_start = xp + dx * cell_size - half
        y_end = yp - dy * cell_size + half
        y_start = y_end - pred_h * cell_size
        col0 = int(round((x_start - x_lo) / cell_size))
        row0 = int(round((y_start - y_lo) / cell_size))
        for r in range(pred_h):
            rr = row0 + (pred_h - 1 - r)
            if rr < 0 or rr >= height:
                continue
            c0, c1 = max(0, col0), min(width, col0 + pred_w)
            if c0 >= c1:
                continue
            tc0, tc1 = c0 - col0, c1 - col0
            if border_mode == "none":
                acc[rr, c0:c1] = t[r, tc0:tc1]
                wacc[rr, c0:c1] = 1.0
            elif border_mode == "any":
                new = ~filled[rr, c0:c1]
                acc[rr, c0:c1][new] = t[r, tc0:tc1][new]
                wacc[rr, c0:c1][new] = 1.0
            else:
                wrow = weights[r, tc0:tc1]
                acc[rr, c0:c1] += t[r, tc0:tc1] * wrow[:, None]
                wacc[rr, c0:c1] += wrow
            filled[rr, c0:c1] = True

    mask = wacc > 0
    out = np.zeros_like(acc)
    if border_mode in ("none", "any"):
        out[mask] = acc[mask]
    else:
        out[mask] = acc[mask] / wacc[mask][:, None]
    if normalize:
        s = out.sum(axis=-1, keepdims=True)
        np.divide(out, s, out=out, where=s != 0)
    if clip_min is not None or clip_max is not None:
        out = np.clip(out, clip_min, clip_max)
    if discretization_factor:
        out = np.round(out * discretization_factor)
    if add_argmax:
        am = out.argmax(axis=-1)[..., None].astype(np.float64) + shift_argmax
        out = np.concatenate([out, am], axis=-1)
    return out, mask


def _random_split_plots(rng, n, *, x_lo, y_lo, width, height, cell,
                        plot_size_m, pred_h, pred_w, pred_c):
    # Anchors reach a plot's extent past every edge, so some plots land
    # partly or fully outside the split; a fifth of the rows repeat the
    # key of one of the first few rows with their own tensor, so some
    # keys average three or more tensors.
    pad = plot_size_m + max(pred_h, pred_w) * cell
    xs = x_lo - pad + rng.uniform(0, width * cell + 2 * pad, n)
    ys = y_lo - pad + rng.uniform(0, height * cell + 2 * pad, n)
    # Snap to a 1/4-cell grid: placements hit exact rounding ties and
    # overlapping plots share pixels.
    xs = np.round(xs / (cell / 4)) * (cell / 4)
    ys = np.round(ys / (cell / 4)) * (cell / 4)
    pdf = pd.DataFrame({"utm_x": xs, "utm_y": ys,
                        "dx": rng.integers(-1, 2, n),
                        "dy": rng.integers(-1, 2, n)})
    if n > 1:
        dup = rng.random(n) < 0.2
        src = rng.integers(0, max(1, n // 10), n)
        pdf.loc[dup, ["utm_x", "utm_y", "dx", "dy"]] = \
            pdf.loc[src[dup], ["utm_x", "utm_y", "dx", "dy"]].to_numpy()
    # float64 values, so sums in another order round differently
    pdf["tensor"] = list(rng.uniform(-1, 1, (n, pred_h * pred_w * pred_c)))
    return pdf


@pytest.mark.parametrize("border_mode", raster_export.BORDER_MODES)
@pytest.mark.parametrize("post_ops", [
    {},
    {"normalize": True, "clip_min": 0.05, "clip_max": 0.9,
     "discretization_factor": 7, "add_argmax": True, "shift_argmax": 1},
])
def test_mosaic_split_matches_loop_oracle(border_mode, post_ops):
    """The array kernel equals the per-plot loop bit for bit."""
    rng = np.random.default_rng(
        7 + raster_export.BORDER_MODES.index(border_mode))
    cases = [(10.0, 960.0, (4, 4, 2)), (7.5, 960.0, (3, 5, 2)),
             (240.0, 960.0, (5, 5, 3)), (1920.0, 960.0, (1, 1, 1)),
             (10.0, 30.0, (2, 6, 1))]
    for cell, plot_size_m, (h, w, c) in cases:
        for n in (0, 1, 5, 40):
            width, height = rng.integers(3, 40, 2)
            x_lo, y_lo = 300_000.0, 1_100_000.0
            pdf = _random_split_plots(
                rng, n, x_lo=x_lo, y_lo=y_lo, width=width, height=height,
                cell=cell, plot_size_m=plot_size_m, pred_h=h, pred_w=w,
                pred_c=c)
            kw = dict(x_lo=x_lo, x_hi=x_lo + width * cell, y_lo=y_lo,
                      y_hi=y_lo + height * cell, cell_size=cell,
                      plot_size_m=plot_size_m, pred_h=h, pred_w=w,
                      pred_c=c, border_mode=border_mode, **post_ops)
            got, got_mask = raster_export.mosaic_split(
                _arrow_plots(pdf), **kw)
            exp, exp_mask = _mosaic_split_loop(pdf, **kw)
            where = f"cell={cell} shape={(h, w, c)} n={n}"
            assert np.array_equal(got_mask, exp_mask), where
            assert np.array_equal(got, exp), where
            assert got.dtype == exp.dtype and got.tobytes() == exp.tobytes()


def test_mosaic_split_rejects_misaligned_tensors():
    """A null or odd-sized tensor raises, naming the split, instead of
    shifting the plots after it: each input holds 2 x 32 values in all."""
    keys = {"utm_x": [300000.0] * 2, "utm_y": [1100000.0] * 2,
            "dx": [0, 1], "dy": [0, 0]}
    name = "split '32T' xs=1 ys=2"
    for tensors in ([[0.0] * 31, [1.0] * 33], [None, [1.0] * 64]):
        table = pa.table({**keys, "tensor": pa.array(
            tensors, pa.list_(pa.float64()))})
        with pytest.raises(ValueError, match=name):
            raster_export.mosaic_split(
                table, x_lo=290000, x_hi=310000, y_lo=1090000,
                y_hi=1110000, cell_size=10.0, plot_size_m=960.0, pred_h=4,
                pred_w=4, pred_c=2, name=name)


def test_mosaic_groups_spanning_record_batches(spark):
    """Splits whose plots reach the worker in several 7-row Arrow batches
    mosaic bit for bit as in one batch. Every plot key comes twice, with
    its own tensor, so the duplicate averaging spans batches too."""
    assigned, zb = _assigned(spark)
    twice = assigned.unionByName(
        assigned.withColumn("tensor", F.reverse("tensor")))

    def rasters():
        rows = raster_export.mosaic_assigned_tiles(
            twice, zone_bboxes=zb, num_splits=4, pred_c=2).collect()
        return sorted((r["utm_zone"], r["xs"], r["ys"], r["geotransform"],
                       np.array(r["raster"], np.float32).tobytes(),
                       r["mask"]) for r in rows)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = rasters()
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        small = rasters()
    finally:
        spark.conf.set(key, before)
    sizes = twice.groupBy("utm_zone", "xs", "ys").count()
    assert sizes.agg(F.max("count")).first()[0] > 7
    assert len(default) > 4 and small == default


def test_mosaic_one_task_per_split(spark):
    """The grouping exchange is an explicit hash repartition on the split
    key with one partition per split, capped at one per two cores."""
    import re
    import warnings

    assigned, zb = _assigned(spark, n=200)
    zb = {"32T": zb["32T"], "18N": zb["32T"]}
    assigned = assigned.withColumn(
        "utm_zone", F.when(F.col("id") % 2 == 0, "32T").otherwise("18N"))
    with warnings.catch_warnings():
        # no "Cannot infer the eval type from type hints" per call
        warnings.simplefilter("error", UserWarning)
        out = raster_export.mosaic_assigned_tiles(
            assigned, zone_bboxes=zb, num_splits=4, pred_c=2)
    rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    below = final.split("FlatMapGroupsInArrow", 1)[1]
    exchanges = [ln for ln in below.splitlines()
                 if "Exchange " in ln and "BroadcastExchange" not in ln]
    n_parts = min(2 * 4 ** 2,
                  max(1, spark.sparkContext.defaultParallelism // 2))
    assert len(exchanges) == 1, final
    assert re.search(r"Exchange hashpartitioning\(utm_zone#\d+, xs#\d+, "
                     rf"ys#\d+, {n_parts}\)", exchanges[0]), exchanges[0]
    splits = {tuple(r) for r in
              assigned.select("utm_zone", "xs", "ys").distinct().collect()}
    keys = [(r["utm_zone"], r["xs"], r["ys"]) for r in rows]
    assert len(splits) > 4 and sorted(keys) == sorted(splits)
