"""Spark-level tests: spatial join vs numpy oracle, tile assignment
row-for-row vs the verbatim reference-loop oracle, splits, span-sequence
preservation through every shuffle-bearing op."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geeflow_spark.functions import geometry, s2
from geeflow_spark.operators import spatial_join, tiles
from geeflow_spark.plans import generate
from geeflow_spark.sources import synth

N_DOCS = 1500


def _docs(spark):
    return synth.docs(spark, N_DOCS).cache()


def test_join_points_regions_matches_numpy_oracle(spark):
    # Every point-in-region join - the one-map join, the large-FC
    # sort-merge path and the generate kernel - against one oracle.
    docs = _docs(spark)
    regs = synth.regions_pdf(25)
    pdf = docs.select("doc_id", "lat", "lon").toPandas()
    mat = geometry.points_in_polygon_batch(
        pdf["lon"].to_numpy(), pdf["lat"].to_numpy(),
        [np.asarray(r, dtype=np.float64) for r in regs["ring"]])
    exp = {(pdf["doc_id"].iloc[i], int(regs["region_id"].iloc[k]))
           for i, k in zip(*np.nonzero(mat))}
    assert len(exp) > 0

    joins = {
        "one_map": spatial_join.join_points_regions(docs, regs, level=7),
        "smj": spatial_join.join_points_regions_smj(
            docs, spark.createDataFrame(regs), level=7),
        "generate": generate.generate_examples(docs, regs, cell_level=7),
    }
    for name, j in joins.items():
        got = j.select("doc_id", "region_id").toPandas()
        assert len(got) == len(exp), name
        assert set(map(tuple, got.itertuples(index=False))) == exp, name


def test_smj_path_matches_broadcast_path(spark):
    docs = _docs(spark)
    regs = synth.regions_pdf(25)
    bc = spatial_join.join_points_regions(docs, regs, level=7) \
        .select("doc_id", "region_id").toPandas()
    regs_df = spark.createDataFrame(regs)
    smj = spatial_join.join_points_regions_smj(docs, regs_df, level=7) \
        .select("doc_id", "region_id").toPandas()
    assert set(map(tuple, bc.itertuples(index=False))) == \
        set(map(tuple, smj.itertuples(index=False)))


def test_first_match_deterministic_min_region(spark):
    docs = _docs(spark)
    regs = synth.regions_pdf(25)
    j = spatial_join.join_points_regions(
        docs, regs, level=7, region_cols=("region_id", "gridcode"))
    fm = spatial_join.first_match(j, ["doc_id"],
                                  payload_cols=["gridcode"]).toPandas()
    full = j.select("doc_id", "region_id").toPandas()
    exp = full.groupby("doc_id")["region_id"].min()
    got = fm.set_index("doc_id")["region_id"]
    assert got.sort_index().equals(exp.sort_index())


def tile_assign_pandas_oracle(plots_pdf, zone_bboxes: dict,
                              cell_size: float = 10.0,
                              plot_size_m: float = 960.0,
                              num_splits: int = 4, pred_h: int = 4,
                              pred_w: int = 4):
    """Row-for-row oracle: verbatim port of the reference's assignment
    loop (export_rasters.py:250-289) in plain python over pandas rows.
    Diffed against `tiles.assign_tiles`.
    """
    out = []
    for _, row in plots_pdf.iterrows():
        zone = row["utm_zone"]
        if zone not in zone_bboxes:
            continue
        x0, y0, x1, y1 = zone_bboxes[zone]
        x_splits, y_splits = tiles.get_split_boundaries(
            x0, y0, x1, y1, plot_size_m, num_splits)
        utm_x, utm_y, dx, dy = (row["utm_x"], row["utm_y"], row["dx"],
                                row["dy"])
        try:
            x_split = next(i - 1 for i, xx in enumerate(x_splits)
                           if xx > utm_x)
            y_split = next(i - 1 for i, yy in enumerate(y_splits)
                           if yy > utm_y)
        except StopIteration:
            continue
        assignments = []
        for xs in range(max(0, x_split - 1), min(num_splits, x_split + 2)):
            for ys in range(max(0, y_split - 1),
                            min(num_splits, y_split + 2)):
                x_start = utm_x + dx * cell_size - plot_size_m // 2
                x_stop = x_start + pred_w * cell_size
                if x_stop <= x_splits[xs] or x_start >= x_splits[xs + 1]:
                    continue
                y_end = utm_y - dy * cell_size + plot_size_m // 2
                y_start = y_end - pred_h * cell_size
                if y_end <= y_splits[ys] or y_start >= y_splits[ys + 1]:
                    continue
                assignments.append((zone, xs, ys, row["id"]))
        assert assignments, f"Plot {row['id']} has not been assigned"
        out.extend(assignments)
    return pd.DataFrame(out, columns=["utm_zone", "xs", "ys", "id"])


def test_tile_assignment_row_for_row(spark):
    cm = synth.cells_metadata(spark, 300)
    pr = synth.predictions(spark, 300)
    plots = pr.join(cm, "id").select("id", "utm_x", "utm_y", "dx", "dy",
                                     "utm_zone")
    zb = {"32T": (200000., 1000000., 1160000., 1960000.),
          "18N": (200000., 1000000., 1160000., 1960000.)}
    got = tiles.assign_tiles(plots, zone_bboxes=zb, num_splits=4) \
        .select("utm_zone", "xs", "ys", "id").toPandas()
    exp = tile_assign_pandas_oracle(plots.toPandas(), zb, num_splits=4)
    assert set(map(tuple, got.itertuples(index=False))) == \
        set(map(tuple, exp.itertuples(index=False)))
    # every plot assigned at least once (reference assert :287)
    assert got["id"].nunique() == 300


def test_tile_boundary_multi_assignment(spark):
    # A plot exactly on a split boundary must land in multiple splits.
    zb = {"32T": (200000., 1000000., 1160000., 1960000.)}
    xsb, ysb = tiles.get_split_boundaries(*zb["32T"], 960.0, 4)
    # Plot pixel extent is pred_w*cell = 40 m at x_start = utm_x - 480;
    # place it straddling the interior boundaries.
    bx, by = xsb[2], ysb[2]
    pdf = pd.DataFrame([{"id": 0, "utm_x": bx + 460.0, "utm_y": by - 460.0,
                         "dx": 0, "dy": 0, "utm_zone": "32T"}])
    plots = spark.createDataFrame(pdf)
    got = tiles.assign_tiles(plots, zone_bboxes=zb, num_splits=4) \
        .select("xs", "ys").toPandas()
    exp = tile_assign_pandas_oracle(pdf, zb, num_splits=4)
    assert len(got) == len(exp) >= 2
    assert set(map(tuple, got.itertuples(index=False))) == \
        set((r.xs, r.ys) for r in exp.itertuples())


def test_tile_assignment_zone_worklist(spark):
    # Plots of unlisted or null zones are dropped, as the reference skips
    # zones outside its worklist; the boundaries are literals, so the plan
    # has no join and no broadcast of the worklist.
    zb = {"32T": (200000., 1000000., 1160000., 1960000.)}
    pdf = pd.DataFrame({"id": [0, 1, 2, 3], "utm_x": [300000.0] * 4,
                        "utm_y": [1100000.0] * 4, "dx": [0, 1, 0, 1],
                        "dy": [0, 0, 1, 1],
                        "utm_zone": ["32T", "18N", None, "32T"]})
    plots = spark.createDataFrame(pdf)
    out = tiles.assign_tiles(plots, zone_bboxes=zb, num_splits=4)
    assert out.columns == ["utm_zone", "id", "utm_x", "utm_y", "dx", "dy",
                           "xs", "ys"]
    got = out.select("utm_zone", "xs", "ys", "id").toPandas()
    exp = tile_assign_pandas_oracle(pdf, zb, num_splits=4)
    assert sorted(got["id"].unique()) == [0, 3]
    assert set(map(tuple, got.itertuples(index=False))) == \
        set(map(tuple, exp.itertuples(index=False)))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" not in plan and "Join" not in plan, plan
    none = tiles.assign_tiles(plots, zone_bboxes={}, num_splits=4)
    assert none.columns == out.columns and none.count() == 0


def test_tile_assignment_awkward_names(spark):
    # The plan is SQL text: a zone with a quote and a backslash, and
    # pass-through columns that need quoting, must reach it as data.
    zone = "3'2\\T"
    zb = {zone: (200000., 1000000., 1160000., 1960000.),
          "18N": (200000., 1000000., 1160000., 1960000.)}
    pr = synth.predictions(spark, 300)
    plots = pr.join(synth.cells_metadata(spark, 300), "id").select(
        "id", "utm_x", "utm_y", "dx", "dy",
        F.when(F.col("utm_zone") == "32T", zone).otherwise(
            F.col("utm_zone")).alias("utm_zone"),
        (F.col("id") * 2).alias("my col"), (F.col("id") + 1).alias("a`b"))
    out = tiles.assign_tiles(plots, zone_bboxes=zb, num_splits=4)
    assert out.columns == ["utm_zone", "id", "utm_x", "utm_y", "dx", "dy",
                           "my col", "a`b", "xs", "ys"]
    got = out.toPandas()
    assert (got["my col"] == got["id"] * 2).all()
    assert (got["a`b"] == got["id"] + 1).all()
    exp = tile_assign_pandas_oracle(plots.toPandas(), zb, num_splits=4)
    assert zone in set(got["utm_zone"])
    assert set(map(tuple, got[["utm_zone", "xs", "ys", "id"]]
                   .itertuples(index=False))) == \
        set(map(tuple, exp.itertuples(index=False)))
    assert got["id"].nunique() == 300


def test_span_sequence_preserved_through_shuffles(spark):
    """BASELINE.json per-row invariant: span-sequence equality
    (kind, text, media_ref, order) after shuffle-bearing operators."""
    docs = _docs(spark)
    base = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in r["spans"]]
            for r in docs.select("doc_id", "spans").collect()}

    regs = synth.regions_pdf(25)
    # 1. through the broadcast PIP join + repartition (forced shuffle)
    j = spatial_join.join_points_regions(docs, regs, level=7) \
        .repartition(16, "region_id")
    for r in j.select("doc_id", "spans").collect():
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in r["spans"]]
        assert got == base[r["doc_id"]]

    # 2. through groupBy first-match carrying spans as payload
    fm = j.groupBy("doc_id").agg(
        F.min(F.struct("region_id", "spans")).alias("x"))
    for r in fm.select("doc_id", F.col("x.spans").alias("spans")).collect():
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in r["spans"]]
        assert got == base[r["doc_id"]]

    # 3. through applyInPandas (Arrow round-trip of nested structs)
    sub = docs.select("doc_id", "spans", "lat")

    def _identity(pdf):
        return pdf

    out = sub.groupBy("doc_id").applyInPandas(_identity, sub.schema)
    for r in out.select("doc_id", "spans").collect():
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in r["spans"]]
        assert got == base[r["doc_id"]]


def test_flagship_generate(spark):
    docs = _docs(spark)
    regs = synth.regions_pdf(25)
    ex = generate.generate_examples(docs, regs, cell_level=7)
    pdf = ex.toPandas()
    assert len(pdf) > 0
    assert set(["doc_id", "spans", "region_id", "utm_zone", "tile_x",
                "tile_y", "split"]).issubset(pdf.columns)
    # tiles snapped to the grid
    assert np.allclose(pdf["tile_x"] % 10.0, 0)
    assert set(pdf["split"]).issubset({"train", "val", "test"})


import pytest as _pytest


def test_split_bucket_equals_hashlib_on_wrapped_ids():
    """The one split-bucket implementation (s2.split_bucket) == the
    literal hashlib formula on random cells, including sign-wrapped
    (uint64 > 2^63) ids."""
    import hashlib as _h

    from geeflow_spark.functions import s2 as s2f
    rng = np.random.default_rng(5)
    ids = rng.integers(0, 2**63 - 1, 300, dtype=np.int64)
    ids = np.concatenate([ids, np.array([-1, -2**63, -12345],
                                        dtype=np.int64)])
    got = s2f.split_bucket(ids)
    for c, b in zip(ids, got):
        u = int(np.uint64(np.int64(c)))
        exp = int(_h.md5(str(u).encode()).hexdigest(), 16) % 10
        assert int(b) == exp


def test_generate_split_per_row(spark):
    # Every row's split is the reference formula on the doc's level-9
    # cell; all three splits occur, so swapping val and test fails.
    import hashlib

    from geeflow_spark.functions import s2 as s2f
    docs = synth.docs(spark, 4000)
    regs = synth.regions_pdf(40, radius_scale=2.0)
    pdf = generate.generate_examples(docs, regs).select(
        "lat", "lon", "split").toPandas()
    cells = s2f.parent(s2f.latlon_to_cell_id(pdf["lat"].to_numpy(),
                                             pdf["lon"].to_numpy()), 9)
    names = {9: "test", 8: "val"}
    exp = [names.get(int(hashlib.md5(str(int(c)).encode()).hexdigest(),
                         16) % 10, "train") for c in cells]
    assert pdf["split"].tolist() == exp
    assert set(exp) == {"train", "val", "test"}


def test_generate_plan_one_python_map_no_md5(spark):
    # The split is hashed inside the Arrow kernel: the executed plan has
    # one Python map node and no JVM md5.
    ex = generate.generate_examples(_docs(spark), synth.regions_pdf(25),
                                    cell_level=7)
    ex.write.format("noop").mode("overwrite").save()
    plan = ex._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "md5" not in plan.lower(), plan


def test_join_points_regions_plan_one_arrow_map(spark):
    # Encode, cover lookup, PIP refine and the property gather run in
    # one Arrow map over the point side: no pandas UDF, no broadcast
    # join.
    j = spatial_join.join_points_regions(
        _docs(spark), synth.regions_pdf(25), level=7,
        region_cols=("region_id", "gridcode"))
    j.write.format("noop").mode("overwrite").save()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def cover_bbox(lat_min, lat_max, lon_min, lon_max, level: int):
    """Oracle of `s2.cover_bboxes`: one box's cover, from its own encode
    of its own sample grid."""
    glat, glon = s2._bbox_samples(lat_min, lat_max, lon_min, lon_max, level)
    return np.unique(s2.latlon_to_cell_id(glat, glon, level))


def _cover_pairs(regs, level, buffer_deg):
    got = spatial_join.region_covers_pdf(regs, level, buffer_deg=buffer_deg)
    assert list(got.dtypes) == [np.int64, np.int64]
    return set(zip(got["cell"].tolist(), got["region_id"].tolist()))


@_pytest.mark.parametrize("level", [8, 6], ids=["s2-8", "s2-6"])
@_pytest.mark.parametrize("buffer_deg", [0.0, 0.4])
def test_region_covers_match_per_region_cover_bbox(level, buffer_deg):
    # One batched cover call == a cover_bbox call per region, grown by
    # the buffer; an empty region table gives no pairs.
    regs = synth.regions_pdf(30, seed=3, radius_scale=2.0)
    exp = set()
    for rid, ring in zip(regs["region_id"], regs["ring"]):
        x0, y0, x1, y1 = geometry.polygon_bbox(np.asarray(ring, float))
        g = buffer_deg
        exp |= {(int(c), int(rid)) for c in
                cover_bbox(y0 - g, y1 + g, x0 - g, x1 + g, level)
                .astype(np.int64)}
    assert _cover_pairs(regs, level, buffer_deg) == exp
    assert _cover_pairs(regs.iloc[:0], level, buffer_deg) == set()


def test_synth_splitmix64_matches_numpy_twin(spark):
    # The column splitmix64 (ANSI on) equals the numpy mirror bit for bit:
    # on ids whose products wrap past 2^64 both ways, on docs' lat/lon, and
    # per array element (predictions' tensor, through `_uniform_array`).
    ids = [0, 1, 12345, -1, -(1 << 63), (1 << 63) - 1, 1 << 40]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = [r[0] for r in df.select(synth._uniform(F.col("id"), 7)).collect()]
    assert got == synth.uniform_np(np.array(ids, dtype=np.int64), 7).tolist()

    pdf = synth.docs(spark, 300).toPandas()
    lat, lon = synth.doc_latlon_np(np.arange(300, dtype=np.int64))
    assert (pdf["lat"].to_numpy() == lat).all()
    assert (pdf["lon"].to_numpy() == lon).all()

    t = synth.predictions(spark, 10, 2, 2, 1).orderBy("id").toPandas()
    exp = synth.uniform_np(np.arange(40, dtype=np.int64), 51)
    assert (np.concatenate(t["tensor"].to_list())
            == exp.astype(np.float32)).all()
