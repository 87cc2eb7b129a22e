"""Temporal reducers vs numpy oracles + the reference's exact date math
(midpoint formula ee_algo.py:416-421, get_date_ranges times.py:93-99)."""

import datetime as dt

import numpy as np

from geeflow_spark.operators import reducers
from geeflow_spark.sources import synth


def _scenes_pdf(spark, **kw):
    df = synth.scenes(spark, **kw)
    return df, df.toPandas()


def _stack(pdf, col):
    return np.stack(pdf[col].to_numpy()).astype(np.float64)


def test_mean_matches_numpy(spark):
    df, pdf = _scenes_pdf(spark, n_cells=6, n_times=5, hw=4)
    got = {r["cell"]: np.array(r["B1"])
           for r in reducers.reduce_scenes(df, ["B1"], "mean").collect()}
    for cell, grp in pdf.groupby("cell"):
        arr = _stack(grp, "B1")
        mask = _stack(grp, "mask") > 0
        exp = np.nanmean(np.where(mask, arr, np.nan), axis=0)
        np.testing.assert_allclose(got[cell], exp, rtol=1e-6)


def test_median_matches_numpy(spark):
    df, pdf = _scenes_pdf(spark, n_cells=6, n_times=5, hw=4)
    got = {r["cell"]: np.array(r["B1"])
           for r in reducers.reduce_scenes(df, ["B1"], "median").collect()}
    for cell, grp in pdf.groupby("cell"):
        arr = _stack(grp, "B1")
        mask = _stack(grp, "mask") > 0
        exp = np.nanmedian(np.where(mask, arr, np.nan), axis=0)
        np.testing.assert_allclose(got[cell], np.nan_to_num(exp), rtol=1e-6)


def test_mosaic_newest_on_top(spark):
    df, pdf = _scenes_pdf(spark, n_cells=4, n_times=5, hw=3)
    got = {r["cell"]: np.array(r["B1"])
           for r in reducers.reduce_scenes(df, ["B1"], "mosaic").collect()}
    for cell, grp in pdf.groupby("cell"):
        grp = grp.sort_values("ts", ascending=False)
        arr = _stack(grp, "B1")
        mask = _stack(grp, "mask") > 0
        exp = np.zeros(arr.shape[1])
        for p in range(arr.shape[1]):
            valid = np.nonzero(mask[:, p])[0]
            exp[p] = arr[valid[0], p] if len(valid) else np.nan
        np.testing.assert_allclose(got[cell],
                                   np.where(np.isnan(exp), None, exp)
                                   .astype(np.float64),
                                   rtol=1e-6)


def test_date_ranges_reference_semantics():
    # times.get_date_ranges("2018-01-01", 2, 12) -> annual starts
    assert reducers.date_ranges("2018-01-01", 2, months=12) == \
        [("2018-01-01", 12, 0), ("2019-01-01", 12, 0)]
    # months_skip spreads starts but keeps span
    assert reducers.date_ranges("2020-03-01", 3, months=1, months_skip=2) \
        == [("2020-03-01", 1, 0), ("2020-06-01", 1, 0), ("2020-09-01", 1, 0)]
    # day increments
    assert reducers.date_ranges("2020-01-30", 2, days=3) == \
        [("2020-01-30", 0, 3), ("2020-02-02", 0, 3)]
    # month-end clamping (relativedelta behavior)
    assert reducers.date_ranges("2020-01-31", 2, months=1)[1][0] == \
        "2020-02-29"


def test_midpoint_timestamp_formula():
    # ee_algo.py:417-421: int(start.ts + end.ts) // 2 * 1000
    start = dt.datetime(2018, 1, 1, tzinfo=dt.timezone.utc)
    end = dt.datetime(2019, 1, 1, tzinfo=dt.timezone.utc)
    expect = int(start.timestamp() + end.timestamp()) // 2 * 1000
    _, _, mid = reducers.range_bounds_ms(("2018-01-01", 12, 0))
    assert mid == expect


def test_sample_date_ranges_filters_and_stamps(spark):
    df, pdf = _scenes_pdf(spark, n_cells=4, n_times=12, hw=3)
    ranges = reducers.date_ranges("2018-01-01", 2, months=12)
    out = reducers.sample_date_ranges(df, ["B1"], ranges, "mean").toPandas()
    mids = {reducers.range_bounds_ms(r)[2] for r in ranges}
    assert set(out["timestamps"]) <= mids
    # per (cell, range) at most one row
    assert out.groupby(["cell", "timestamps"]).size().max() == 1


def test_quality_mosaic_matches_numpy_argmax(spark):
    # EE qualityMosaic(band): per-pixel argmax composite by the quality
    # band; ties pinned to (quality, ts, scene_id) max - later wins.
    df, pdf = _scenes_pdf(spark, n_cells=5, n_times=6, hw=4)
    got = {r["cell"]: r
           for r in reducers.reduce_scenes(
               df, ["B1", "B2"], "qualityMosaic",
               quality_band="B2").collect()}
    for cell, grp in pdf.groupby("cell"):
        grp = grp.sort_values(["ts", "scene_id"]).reset_index(drop=True)
        q = _stack(grp, "B2")
        b1 = _stack(grp, "B1")
        mask = _stack(grp, "mask") > 0
        exp_b1 = np.full(q.shape[1], np.nan)
        exp_b2 = np.full(q.shape[1], np.nan)
        nvalid = mask.sum(axis=0)
        for p in range(q.shape[1]):
            valid = np.nonzero(mask[:, p])[0]
            if not len(valid):
                continue
            # later scene wins ties: take LAST argmax in (ts, id) order
            qs = q[valid, p]
            best = valid[np.nonzero(qs == qs.max())[0][-1]]
            exp_b1[p] = b1[best, p]
            exp_b2[p] = q[best, p]
        g1 = np.array([np.nan if v is None else v for v in got[cell]["B1"]],
                      dtype=np.float64)
        g2 = np.array([np.nan if v is None else v for v in got[cell]["B2"]],
                      dtype=np.float64)
        np.testing.assert_allclose(g1, exp_b1, rtol=1e-6)
        np.testing.assert_allclose(g2, exp_b2, rtol=1e-6)
        np.testing.assert_array_equal(np.array(got[cell]["valid"]), nvalid)


def test_quality_mosaic_requires_quality_band(spark):
    df, _ = _scenes_pdf(spark, n_cells=2, n_times=2, hw=2)
    import pytest as _pt
    with _pt.raises(ValueError, match="quality_band"):
        reducers.reduce_scenes(df, ["B1"], "qualityMosaic")
