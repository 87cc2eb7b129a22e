"""Tests: filter DSL compiler, CCDC kernels (exact values from
ccdc_utils_test.py), times port (times_test.py)."""

import datetime

import numpy as np
import pandas as pd
import pytest

from geeflow_spark.functions import ccdc, times
from geeflow_spark.sources import registry


# --- filter DSL (ee_data.py:1163-1186 grammar) ---------------------------

def test_filter_dsl(spark):
    pdf = pd.DataFrame({
        "a": [1, 2, 3, 4], "s": ["foo", "bar", "foobar", "baz"],
    })
    df = spark.createDataFrame(pdf)

    def vals(*filters):
        return sorted(r["a"] for r in
                      registry.apply_filters(df, filters).collect())

    assert vals(("a", 2)) == [2]
    assert vals(("!a", 2)) == [1, 3, 4]
    assert vals(("<a", 3)) == [1, 2]
    assert vals(("<=a", 3)) == [1, 2, 3]
    assert vals((">a", 3)) == [4]
    assert vals((">=a", 3)) == [3, 4]
    assert vals(("~s", "foo")) == [1, 3]
    assert vals(("!~s", "foo")) == [2, 4]
    assert vals(("a", [1, 4])) == [1, 4]
    assert vals(("!a", [1, 4])) == [2, 3]
    assert vals(("a", [1, 4]), ("~s", "foo")) == [1]


def test_registry_band_validation(spark):
    src = registry.TableSource("docs", "/root/testdata/sf0.001/"
                               "documents.parquet", bands=("text", "lang"))
    df = src.load(spark)
    with pytest.raises(ValueError):
        src.select_bands(df, ["text", "nope"])
    out = src.select_bands(df, ["lang"])
    assert "lang" in out.columns and "text" not in out.columns


# --- CCDC (ccdc_utils_test.py exact cases) --------------------------------

def _mk(tstart, tend, mag):
    h = w = 1
    t = len(tstart)
    bands = {
        "tStart": np.array(tstart).reshape(h, w, t),
        "tEnd": np.array(tend).reshape(h, w, t),
        "BLUE_mag": np.array(mag).reshape(h, w, t),
    }
    return ccdc.stack_bands(bands, ["tStart", "tEnd", "BLUE_mag"])


@pytest.mark.parametrize("selection,expected", [("longest", 1),
                                                ("middle", 0)])
def test_ccdc_selection_methods(selection, expected):
    # ccdc_utils_test.py:96-116
    tstart = [1999.8, 2000.51, 2000.95]
    tend = [2000.2, 2000.91, 2021.9]
    mag = [1, 2, 3]
    cc = _mk(tstart, tend, mag)
    out, mask = ccdc.select_annual(cc, ["tStart", "tEnd", "BLUE_mag"],
                                   2000, 2000, selection)
    assert out.shape == (1, 1, 1, 3)
    assert out[0, 0, 0, 0] == np.float32(tstart[expected])
    assert out[0, 0, 0, 1] == np.float32(tend[expected])
    assert out[0, 0, 0, 2] == np.float32(mag[expected])
    assert mask[0, 0, 0]


def test_ccdc_shapes():
    # raw (ccdc_utils_test.py:82-94): (T, H, W, C)
    cc = _mk([2000, 2001], [2000.5, 2002], [1, 2])
    assert cc.shape == (2, 1, 1, 3)
    # 1 year (test:52-65) and 2 years (test:67-80)
    out1, m1 = ccdc.select_annual(cc, ["tStart", "tEnd", "BLUE_mag"],
                                  2000, 2000, "middle")
    assert out1.shape == (1, 1, 1, 3) and m1.shape == (1, 1, 1)
    out2, m2 = ccdc.select_annual(cc, ["tStart", "tEnd", "BLUE_mag"],
                                  2000, 2001, "middle")
    assert out2.shape == (2, 1, 1, 3) and m2.shape == (2, 1, 1)


def test_ccdc_padding():
    assert ccdc.pad_segments([1.0, 2.0], 4).tolist() == [1, 2, 0, 0]
    assert ccdc.pad_segments(np.ones((2, 8)), 3).shape == (3, 8)
    assert ccdc.pad_segments([1.0, 2.0, 3.0], 2).tolist() == [1, 2]


# --- times (times_test.py semantics) ---------------------------------------

def test_outer_dates():
    ranges = [("2018-06-01", 12), ("2017-01-01", 3)]
    lo, hi = times.outer_dates(ranges)
    assert (lo, hi) == ("2017-01-01", "2019-06-01")


def test_tza_roundtrip():
    d = times.to_datetime("2021-05-05")
    assert times.is_tza(d)
    assert d.tzinfo == datetime.timezone.utc
    assert times.to_datestr(d) == "2021-05-05"
    assert times.to_datestr(1620172800000.0) == "2021-05-05"
