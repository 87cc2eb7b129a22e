"""Distributed per-band statistics with the reference's exact semantics.

Re-expresses geeflow's stats engine (/root/reference/geeflow/stats/
stats_util.py + compute_stats_beam*.py) as single-pass Spark aggregations:

  - StatsAccumulator (stats_util.py:38-160): (sum, sum2, n, min, max) with
    var = sum2/n - sum^2/n^2 (:137-139) and
    sample_var = (sum2 - sum^2/n)/(n-1) (:146-148) - SAME formulas, kept
    verbatim so JSON outputs match bit-for-bit where the reference's do.
  - CounterAccumulator (stats_util.py:163-375): exact integer-bin
    histogram; float inputs truncated via astype(int) (:212-214); mask
    support with n_masked tally; mode; bins/hist with empty-edge trimming
    (:276-281); bins_median / IQR (/1.349) / MAD (*1.4826) derived through
    the verbatim `hist_quantile` port below (percentile_approx would NOT
    match - the reference's quantile rule is nonstandard).
  - BandsAccumulator (stats_util.py:378-434): per-last-axis-band stats via
    posexplode of the band dimension.
  - The Beam 5-round tree reduce (compute_stats_beam_utils.py:85-106) is
    replaced by Spark's built-in partial+final aggregation - one shuffle.

Output: `as_dict`-shaped python dicts / JSON with the same keys and the
same support-field "~" prefix convention (stats_util.py:225-241).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geeflow_spark.session import job_description

MAX_NUM_BINS = 10_000_000
COLLECT_JOB_DESCRIPTION = "geeflow.operators.stats.collect"


def hist_quantile(x, b, quantiles):
    """Quantiles over histogram data - VERBATIM semantics of the
    reference's nonstandard rule (stats_util.py:475-488):
    target frequency = (total + 1) * q, pick the cumulative bin closest to
    it (argmin abs), return midpoint of that bin position and the next.
    """
    is_scalar = isinstance(quantiles, float)
    if is_scalar:
        quantiles = [quantiles]
    cumulative_frequency = np.cumsum(b)
    out = []
    for q in quantiles:
        q_frequency = (cumulative_frequency[-1] + 1) * q
        ind = np.argmin(np.abs(cumulative_frequency - q_frequency))
        out.append(((x[ind] + x[ind + 1]) / 2) if ind < len(x) - 1 else x[ind])
    return out[0] if is_scalar else out


def _moment_aggs(v) -> list:
    """sum, sum2, n, min, max of the non-null values of column `v`."""
    return [
        F.sum(v).alias("sum"),
        F.sum(v.cast("double") * v.cast("double")).alias("sum2"),
        F.count(v).alias("n"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    ]


def _agg(df: DataFrame, key_cols: list[str], aggs: list) -> DataFrame:
    return df.groupBy(*key_cols).agg(*aggs) if key_cols else df.agg(*aggs)


def derive_moment_stats(row: dict) -> dict:
    """mean/std/var/total/size (+ sample_*) from (sum, sum2, n, min, max)
    with the reference's exact formulas and as_dict key set
    (stats_util.py:102-160)."""
    n = int(row["n"])
    if not n:
        return {}
    s, s2 = float(row["sum"]), float(row["sum2"])
    d = {"sum": s, "sum2": s2, "n": n,
         "min": float(row["min"]), "max": float(row["max"])}
    d["size"] = n
    if s:  # reference gates on total truthiness (stats_util.py:109-112)
        var = s2 / n - (s ** 2) / (n ** 2)
        d.update(mean=s / n, std=float(np.sqrt(var)), var=var, total=s)
        if n >= 2:
            sample_var = (s2 - (s ** 2) / n) / (n - 1)
            d.update(sample_std=float(np.sqrt(sample_var)),
                     sample_var=sample_var)
    return d


def counter_agg(df: DataFrame, value_col: str, key_cols: list[str] = (),
                mask_col: str | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """CounterAccumulator as two aggregations.

    Returns (moments_df, bins_df):
      moments_df - (keys, sum, sum2, n, min, max, n_masked) over UNBINNED
        kept values (reference adds raw floats to the moment accumulator,
        stats_util.py:206-207, while binning astype(int), :212-214);
      bins_df - (keys, bin, count) exact histogram.
    A null value counts as masked (a fully masked pixel reduced to null),
    and so does a value whose mask element is null.
    """
    key_cols = list(key_cols)
    v = F.col(value_col)
    if mask_col:
        keep = F.coalesce(F.col(mask_col) > 0, F.lit(False))
        masked = ~keep | v.isNull()
    else:
        keep, masked = F.lit(True), v.isNull()

    moments = _agg(df, key_cols, _moment_aggs(F.when(keep, v))
                   + [F.count(F.when(masked, 1)).alias("n_masked")])

    # astype(int) truncation toward zero for float dtypes.
    bin_col = v.cast("double").cast("long")
    bins = df.filter(keep & v.isNotNull()) \
             .groupBy(*key_cols, bin_col.alias("bin")) \
             .agg(F.count("*").alias("count"))
    return moments, bins


def counter_as_dict(moment_row: dict, bins_rows: list[tuple[int, int]]
                    ) -> dict:
    """Assembles the reference's CounterAccumulator.as_dict output
    (stats_util.py:225-241) from the two aggregation results.

    A numeric band whose integer range is wider than MAX_NUM_BINS has no
    histogram (`_hist` caps it, as the reference does), so its dict
    leaves out the five histogram-quantile keys (bins_median, bins_iqr,
    bins_iqr_std, bins_mad, bins_mad_std) and keeps every other key."""
    c = {int(b): int(cnt) for b, cnt in bins_rows}
    if not c or not sum(c.values()):
        return {}
    d = derive_moment_stats(moment_row)
    d["n_masked"] = int(moment_row.get("n_masked", 0))
    # mode: most_common(1) - max count, first-inserted on ties; we pin
    # (count desc, bin asc) for determinism.
    d["mode"] = max(sorted(c), key=lambda k: c[k])
    x, b = _hist(c, int(d["min"]), int(d["max"]))
    d["bins_mean"] = _bins_mean(c)
    d["bins_std"] = _bins_std(c)
    if x is not None:
        d["bins_median"] = hist_quantile(x, b, 0.5)
        p25, p75 = hist_quantile(x, b, [0.25, 0.75])
        d["bins_iqr"] = p75 - p25
        d["bins_iqr_std"] = d["bins_iqr"] / 1.349
        med = hist_quantile(x, b, 0.5)
        ax = np.abs(np.array(x) - med)
        ax, ab = zip(*sorted(zip(ax, b)))
        d["bins_mad"] = hist_quantile(ax, ab, 0.5)
        d["bins_mad_std"] = d["bins_mad"] * 1.4826
    # Support fields of a numeric, integer-binned counter.
    d["~c"] = {str(k): v for k, v in sorted(c.items())}
    d["~numeric"] = True
    d["~to_int"] = True
    return d


def _hist(c: dict, mn: int, mx: int):
    """bins/hist with the reference's empty-edge trimming
    (stats_util.py:265-281)."""
    if mx - mn > MAX_NUM_BINS:
        return None, None
    out = [c.get(j, 0) for j in range(mn, mx + 1)]
    if not out[0] or not out[-1]:
        idx = np.where(out)[0]
        out = out[idx.min(): idx.max() + 1]
        mn, mx = mn + int(idx.min()), mn + int(idx.max())
    return list(range(mn, mx + 1)), out


def _bins_mean(c: dict) -> float:
    n = sum(c.values())
    total = sum(k * v for k, v in c.items())
    return total / n


def _bins_std(c: dict) -> float:
    n = sum(c.values())
    total = sum(k * v for k, v in c.items())
    sum2 = sum(k * k * v for k, v in c.items())
    return float(np.sqrt(sum2 / n - (total ** 2) / (n ** 2)))


def stats_json(d: dict) -> str:
    """Byte-compatible JSON formatting (stats_util.py:130):
    indent=4, sort_keys=True, separators=(",", ":")."""
    return json.dumps(d, indent=4, sort_keys=True, separators=(",", ":"))


def per_band_counter_stats(df: DataFrame, array_col: str, n_bands: int,
                           mask_col: str | None = None,
                           key_cols: list[str] = ()) -> dict:
    """BandsAccumulator: stats per last-axis band of a flattened array
    column with band-interleaved layout (..., C). Returns
    {band_index: as_dict} like stats_util.py:416-424. A value past the
    end of a short mask has a null mask element and counts as masked.
    The collecting jobs are described as COLLECT_JOB_DESCRIPTION.
    """
    key_cols = list(key_cols)
    idx = F.posexplode(F.col(array_col)).alias("pos", "val")
    sel = df.select(*key_cols, idx,
                    *([F.col(mask_col).alias("_m")] if mask_col else []))
    sel = sel.withColumn("band", F.pmod(F.col("pos"), F.lit(n_bands)))
    if mask_col:
        sel = sel.withColumn(
            "_mv",
            F.try_element_at(F.col("_m"), (F.col("pos") + 1).cast("int")))
        mask_arg = "_mv"
    else:
        mask_arg = None
    moments, bins = counter_agg(sel, "val", key_cols + ["band"], mask_arg)
    with job_description(df.sparkSession, COLLECT_JOB_DESCRIPTION):
        m_rows = {r["band"]: r.asDict() for r in moments.collect()}
        bin_rows = bins.collect()
    b_rows: dict[int, list] = {}
    for r in bin_rows:
        b_rows.setdefault(r["band"], []).append((r["bin"], r["count"]))
    out = {}
    for band in sorted(m_rows):
        d = counter_as_dict(m_rows[band], b_rows.get(band, []))
        if d:
            out[int(band)] = d
    return out
