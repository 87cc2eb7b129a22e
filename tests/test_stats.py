"""Port of the reference's exact-value stats tests
(/root/reference/geeflow/stats/stats_util_test.py) against our Spark
aggregation + driver-side derivation."""

import numpy as np
import pytest

from geeflow_spark.operators import stats


def _counter_dict(spark, arr, mask=None):
    import pandas as pd
    pdf = pd.DataFrame({"v": np.asarray(arr, dtype=np.float64)})
    if mask is not None:
        pdf["m"] = np.asarray(mask, dtype=np.int32)
    df = spark.createDataFrame(pdf)
    moments, bins = stats.counter_agg(
        df, "v", mask_col="m" if mask is not None else None)
    m = moments.collect()[0].asDict()
    b = [(r["bin"], r["count"]) for r in bins.collect()]
    return m, b, stats.counter_as_dict(m, b)


def _bins_list(c: dict, mn: int, mx: int):
    """CounterAccumulator.bins (stats_util.py:254-263)."""
    return stats._hist(c, mn, mx)[1]


def test_hist_quantile_reference_values():
    # stats_util_test.py:171-181
    arr = np.array([0, 1, 2, 3, 4, 5, 6, 7, 8, 1000])
    c = {int(v): 1 for v in arr}
    x, b = stats._hist(c, 0, 1000)
    q25, med, q75 = stats.hist_quantile(x, b, (0.25, 0.5, 0.75))
    assert (q25, med, q75) == (2.5, 4.5, 7.5)


def test_counter_scalar_values(spark):
    # stats_util_test.py:38-55 + :153-169
    arr = [2, 4, 4, 4, 5, 5, 7, 9]
    m, b, d = _counter_dict(spark, arr)
    assert d["mode"] == 4
    c = {bin_: cnt for bin_, cnt in b}
    assert _bins_list(c, int(d["min"]), int(d["max"])) == \
        [1, 0, 3, 2, 0, 1, 0, 1]
    a = np.array(arr)
    assert d["mean"] == a.mean()
    assert d["std"] == a.std()
    assert d["var"] == a.var()
    assert d["min"] == a.min() and d["max"] == a.max()
    assert d["total"] == a.sum() and d["size"] == a.size
    assert d["sample_std"] == a.std(ddof=1)
    assert d["sample_var"] == a.var(ddof=1)
    assert d["bins_mean"] == 5
    assert d["bins_median"] == 4.5
    assert d["bins_std"] == 2
    assert d["bins_iqr"] == 5
    assert d["bins_mad"] == 1
    assert d["bins_iqr_std"] == pytest.approx(3.7064492216456637)
    assert d["bins_mad_std"] == pytest.approx(1.4826)


def test_counter_floats(spark):
    # stats_util_test.py:57-71: floats truncate to int bins; moments on
    # original values.
    arr = [-1.9, 3.1, 3.7]
    m, b, d = _counter_dict(spark, arr)
    assert d["mode"] == 3
    c = {bin_: cnt for bin_, cnt in b}
    assert _bins_list(c, int(d["min"]), int(d["max"])) == [1, 0, 0, 0, 2]
    a = np.array(arr)
    assert d["min"] == -1.9 and d["max"] == 3.7
    assert d["mean"] == a.mean()
    assert d["std"] == a.std()


def test_counter_direct_masking(spark):
    # stats_util_test.py:87-102
    arr = [2, 5, 4, 5, 99]
    mask = [1, 0, 1, 0, 0]
    m, b, d = _counter_dict(spark, arr, mask)
    kept = np.array([2, 4])
    assert d["n_masked"] == 3
    assert d["mean"] == kept.mean()
    assert d["bins_mean"] == 3
    assert d["std"] == kept.std()
    assert d["bins_std"] == 1
    assert d["min"] == 2 and d["max"] == 4
    c = {bin_: cnt for bin_, cnt in b}
    assert _bins_list(c, 2, 4) == [1, 0, 1]


def test_moments_simple(spark):
    # stats_util_test.py:23-36
    arr = np.array([2, 4, 4, 4, 5, 5, 7, 9], dtype=float)
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({"v": arr}))
    moments, _ = stats.counter_agg(df, "v")
    d = stats.derive_moment_stats(moments.collect()[0].asDict())
    assert d["mean"] == arr.mean()
    assert d["std"] == arr.std()
    assert d["var"] == arr.var()
    assert d["sample_std"] == arr.std(ddof=1)
    assert d["sample_var"] == arr.var(ddof=1)
    assert d["total"] == arr.sum() and d["size"] == arr.size


def test_per_band_counter_stats(spark):
    # BandsAccumulator semantics (stats_util_test.py:104-118): band-
    # interleaved flat array, per-band stats.
    import pandas as pd
    rows = [{"id": i, "feat": [1.0, 10.0, 1.0, 10.0]} for i in range(3)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = stats.per_band_counter_stats(df, "feat", n_bands=2)
    assert set(out) == {0, 1}
    assert out[0]["mean"] == 1.0
    assert out[1]["mean"] == 10.0
    assert out[0]["n"] == 6


def test_counter_wide_range_has_no_hist_quantiles():
    # A range wider than MAX_NUM_BINS gets no histogram (the reference
    # caps its bins too, stats_util.py:257-258); the dict keeps every
    # other key and leaves out the five histogram quantiles.
    m = {"sum": 2e7, "sum2": 4e14, "n": 2, "min": 0, "max": 20000001,
         "n_masked": 0}
    d = stats.counter_as_dict(m, [(0, 1), (20000001, 1)])
    hist_keys = {"bins_median", "bins_iqr", "bins_iqr_std", "bins_mad",
                 "bins_mad_std"}
    assert not hist_keys & d.keys()
    assert d["n"] == 2 and d["min"] == 0 and d["max"] == 20000001
    assert d["mode"] == 0 and d["n_masked"] == 0
    assert d["bins_mean"] == 10000000.5
    assert d["bins_std"] == 10000000.5
    assert d["~c"] == {"0": 1, "20000001": 1}

    narrow = stats.counter_as_dict(m | {"max": 9}, [(0, 1), (9, 1)])
    assert hist_keys <= narrow.keys()


def test_save_json_format():
    # stats_util.py:130 formatting contract
    assert stats.stats_json({"b": 1, "a": {"z": 2, "y": 3}}) == (
        '{\n    "a":{\n        "y":3,\n        "z":2\n    },\n    "b":1\n}')


def test_null_values_count_as_masked(spark):
    # A fully masked pixel reduced with `mean` arrives as null; it must
    # stay out of the moments and the bins and count in n_masked, with or
    # without a mask column.
    rows = [([1.0, None],), ([3.0, 10.0],), ([None, 10.0],), ([5.0, None],)]
    df = spark.createDataFrame(rows, "feat array<double>")
    out = stats.per_band_counter_stats(df, "feat", n_bands=1)
    kept = np.array([1.0, 3.0, 10.0, 10.0, 5.0])
    assert out[0]["n"] == 5 and out[0]["n_masked"] == 3
    assert out[0]["mean"] == kept.mean() and out[0]["min"] == 1.0
    assert out[0]["~c"] == {"1": 1, "3": 1, "5": 1, "10": 2}

    rows = [(2.0, 1), (None, 1), (4.0, 1), (99.0, 0), (None, 0)]
    df = spark.createDataFrame(rows, "v double, m int")
    moments, bins = stats.counter_agg(df, "v", mask_col="m")
    m = moments.collect()[0].asDict()
    b = sorted((r["bin"], r["count"]) for r in bins.collect())
    assert (m["n"], m["n_masked"], m["sum"]) == (2, 3, 6.0)
    assert b == [(2, 1), (4, 1)]

    # A null mask element (here past the end of a short mask array)
    # masks its value too.
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [1, 0])],
                               "feat array<double>, m array<int>")
    out = stats.per_band_counter_stats(df, "feat", n_bands=1, mask_col="m")
    assert out[0]["n"] == 1 and out[0]["n_masked"] == 2
    assert out[0]["~c"] == {"1": 1}
