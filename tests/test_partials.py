"""Exact-semantics tests for the round-2 partials: polygon buffer,
schema planner, bounded mosaic reducer, labels-writer
cap."""

import numpy as np
import pandas as pd
import pytest

from geeflow_spark.functions import geometry
from geeflow_spark.operators import reducers, spatial_join
from geeflow_spark.plans import labels as labels_mod
from geeflow_spark.plans import schema as schema_mod
from geeflow_spark.sources import synth

import helpers


def test_buffered_polygon_membership_exact():
    # Non-convex L-shape: distance-form Minkowski membership is exact.
    L = np.array([0., 0, 4, 0, 4, 1, 1, 1, 1, 4, 0, 4])
    # NOTE (2.1, 2.05): 1.05 above the notch edge y=1 AND 1.1 right of
    # the notch edge x=1 -> genuinely outside the r=1 buffer. (A point
    # at x=2.0 would be exactly 1.0 from the x=1 edge -> inside.)
    px = np.array([2.0, 2.0, 2.1, 4.8, 5.2, 0.5])
    py = np.array([0.5, 1.5, 2.05, 0.5, 0.5, 5.1])
    r = 1.0
    got = geometry.points_in_buffered_polygon(px, py, L, r)
    # (2,1.5): 0.5 above the notch edge -> inside buffer
    # (2,2.05): 1.05 above notch edge -> outside (> r)
    # (4.8,.5): .8 right of x=4 edge -> in; (5.2,.5) -> out
    # (0.5,5.1): 1.1 above top edge -> out
    assert got.tolist() == [True, True, False, True, False, False]
    # erosion: only points >= 1 from boundary survive
    er = geometry.points_in_buffered_polygon(
        np.array([2.0, 0.4]), np.array([0.5, 0.5]), L, -0.5)
    assert er.tolist() == [True, False]


def test_buffered_spatial_join(spark):
    # Points just OUTSIDE a polygon are captured only by the buffered join.
    regions = pd.DataFrame([{"region_id": 0,
                             "ring": [0.0, 0, 2, 0, 2, 2, 0, 2]}])
    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "lat": [1.0, 2.4, 9.0],     # inside / 0.4 above / far
        "lon": [1.0, 1.0, 9.0],
    }))
    plain = spatial_join.join_points_regions(pts, regions, level=6)
    buf = spatial_join.join_points_regions(pts, regions, level=6,
                                           buffer_deg=0.5)
    assert sorted(plain.toPandas()["doc_id"]) == [1]
    assert sorted(buf.toPandas()["doc_id"]) == [1, 2]


def test_schema_planner():
    row = {"id": np.int64(3), "split": np.str_("train"),
           "s2/B3": np.zeros((2, 4, 4, 1), np.float32),
           "elevation/elevation": np.zeros((4, 4), np.float32),
           "scalar_q": np.float32(0.5)}
    st = schema_mod.plan_schema(row, metadata_keys={"id", "split"},
                                time_varying={"s2"})
    d = {f.name: (f.dataType.simpleString(), f.metadata) for f in st.fields}
    assert d["id"] == ("array<bigint>", {"kind": "metadata"})
    assert d["s2/B3"][0] == "array<array<array<array<float>>>>"
    assert d["s2/B3"][1]["element_shape"] == [4, 4, 1]
    assert d["elevation/elevation"][1] == {"kind": "tensor",
                                           "shape": [4, 4]}
    assert d["scalar_q"] == ("float", {"kind": "scalar"})


def test_mosaic_bounded_buffer_same_result(spark):
    scenes = synth.scenes(spark, n_cells=6, n_times=20, hw=4)
    full = reducers.reduce_scenes(scenes, ["B1", "B2"], "mosaic") \
        .orderBy("cell").toPandas()
    capped = reducers.reduce_scenes(scenes, ["B1", "B2"], "mosaic",
                                    max_scenes=8).orderBy("cell").toPandas()
    # synth mask has ~80% validity: every pixel resolves within 8 scenes,
    # so the bounded fold is byte-identical here.
    for c in ("B1", "B2"):
        for a, b in zip(full[c], capped[c]):
            assert np.array_equal(np.asarray(a), np.asarray(b))


def test_save_labels_cap(spark, tmp_path):
    small = helpers.labels(spark, 50)
    p = str(tmp_path / "l.parquet")
    labels_mod.save_labels(small, p)
    assert pd.read_parquet(p).shape[0] == 50
    with pytest.raises(ValueError, match="not a labels table"):
        labels_mod.save_labels(synth.docs(spark, 30), str(tmp_path / "b.parquet"),
                               max_driver_rows=10)
