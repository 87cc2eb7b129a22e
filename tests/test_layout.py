"""Cell-clustered layout: partition pruning reaches the scan, files are
fine-cell-sorted, and the coarse cell matches the numpy parent."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from geeflow_spark.functions import s2
from geeflow_spark.plans import layout
from geeflow_spark.sources import derived


@pytest.mark.parametrize("index", ["s2", "hex"])
def test_write_read_clustered(spark, tmp_path, index):
    p = str(tmp_path / f"docs_{index}")
    docs = derived.with_geo(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    layout.write_cell_clustered(docs, p, level=8, coarse_level=3,
                                index=index)
    back = spark.read.parquet(p)
    assert back.count() == docs.count()

    # coarse cell really is the parent of the fine cell
    pdf = back.select("cell", "cell_p").toPandas()
    if index == "s2":
        exp = s2.parent(pdf["cell"].to_numpy(np.int64).astype(np.uint64),
                        3).astype(np.int64)
    else:
        from geeflow_spark.functions import hex as hx
        exp = hx.parent(pdf["cell"].to_numpy(np.int64), 3)
    np.testing.assert_array_equal(pdf["cell_p"].to_numpy(np.int64), exp)

    # directory pruning: a cell_p predicate appears as PartitionFilters
    some = [int(pdf["cell_p"].iloc[0])]
    plan = layout.read_cells(spark, p, some)._jdf.queryExecution() \
        .executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]", plan)  # NON-empty
    assert layout.read_cells(spark, p, some).count() == \
        (pdf["cell_p"] == some[0]).sum()


def test_files_are_fine_cell_sorted(spark, tmp_path):
    p = str(tmp_path / "sorted")
    docs = derived.with_geo(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    layout.write_cell_clustered(docs, p, level=10, coarse_level=2)
    import glob
    import pandas as pd
    for f in glob.glob(f"{p}/cell_p=*/*.parquet"):
        cells = pd.read_parquet(f)["cell"].to_numpy()
        assert (np.diff(cells) >= 0).all(), f


def test_clustered_write_resumable_per_cell_partition(spark, tmp_path):
    # North-rule tie-in: the checkpoint/manifest unit IS the layout's
    # coarse-cell partition (the "Iceberg partition"). A clustered
    # write driven through checkpoint.run_partitioned resumes per
    # cell_p with lineage+metrics, and a torn cell directory is
    # recomputed exactly once.
    from pyspark.sql import functions as F

    from geeflow_spark.operators.spatial_join import with_cell
    from geeflow_spark.plans import checkpoint
    from geeflow_spark.plans.layout import coarse_cell_col

    out = str(tmp_path / "clustered_ckpt")
    docs = derived.with_geo(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")) \
        .select("doc_id", "lat", "lon")
    enc = with_cell(docs, 8).withColumn(
        "cell_p", coarse_cell_col(F.col("cell"), 8, 2))
    cells = sorted(r["cell_p"] for r in
                   enc.select("cell_p").distinct().collect())
    assert len(cells) >= 4
    # first launch: half the cells
    recs = checkpoint.run_partitioned(enc, out, "cell_p",
                                      cells[:len(cells) // 2],
                                      id_col="doc_id",
                                      input_fingerprint="sf0.001")
    assert all(r["lineage"]["input_fingerprint"] == "sf0.001"
               for r in recs)
    # relaunch with the FULL worklist: only the remainder runs
    recs2 = checkpoint.run_partitioned(enc, out, "cell_p", cells,
                                       id_col="doc_id")
    assert [r["partition"] for r in recs2] == \
        [str(c) for c in cells[len(cells) // 2:]]
    back = spark.read.parquet(out + "/cell_p=*")
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    # manifest lineage covers every cell partition
    man = checkpoint.load_manifest(out)
    assert set(man) == {str(c) for c in cells}
    assert sum(r["rows"] for r in man.values()) == docs.count()


def test_pruned_join_matches_full_join(spark, tmp_path):
    from geeflow_spark.operators import spatial_join
    from geeflow_spark.sources import synth
    p = str(tmp_path / "clustered")
    docs = derived.with_geo(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    layout.write_cell_clustered(docs, p, level=8, coarse_level=4)
    regions = synth.regions_pdf(6, radius_scale=2.0)

    full = spatial_join.join_points_regions(
        docs.select("doc_id", "lat", "lon"), regions, level=8) \
        .select("doc_id", "region_id").toPandas()
    pruned_df = layout.join_points_regions_pruned(
        spark, p, regions, level=8, coarse_level=4)
    plan = pruned_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]", plan)  # NON-empty
    pruned = pruned_df.select("doc_id", "region_id").toPandas()
    key = ["doc_id", "region_id"]
    import pandas as pd
    pd.testing.assert_frame_equal(
        full.sort_values(key).reset_index(drop=True),
        pruned.sort_values(key).reset_index(drop=True))


def test_clustered_flagship_matches_flat(spark, tmp_path):
    # The clustered-layout FLAGSHIP: generate_examples reading the
    # cell-clustered table through the regions' coarse cover with the
    # stored fine cell reused (precomputed_cell) - no read-time S2
    # encode, partition-pruned scan - must produce row-for-row the
    # same (doc, region, tile, split) output as the flat path.
    import pandas as pd
    from geeflow_spark.functions import geometry
    from geeflow_spark.operators.spatial_join import INDEXES
    from geeflow_spark.plans import generate
    from geeflow_spark.sources import synth

    p = str(tmp_path / "flag_clustered")
    docs = derived.with_geo(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")) \
        .select("doc_id", "lat", "lon")
    # stored level must cover max(cell_level, split_level) = 9
    layout.write_cell_clustered(docs, p, level=10, coarse_level=4)
    regions = synth.regions_pdf(8, radius_scale=2.0)

    coarse = set()
    for _, row in regions.iterrows():
        ring = np.asarray(row["ring"], dtype=np.float64)
        x0, y0, x1, y1 = geometry.polygon_bbox(ring)
        coarse.update(int(c) for c in np.asarray(
            INDEXES["s2"].cover_bbox(y0, y1, x0, x1, 4)).astype("int64"))
    cdocs = layout.read_cells(spark, p, sorted(coarse)).drop("cell_p")

    cols = ["doc_id", "region_id", "utm_zone", "tile_x", "tile_y",
            "split"]
    flat = generate.generate_examples(docs, regions, cell_level=8) \
        .select(*cols).toPandas()
    clus = generate.generate_examples(cdocs, regions, cell_level=8,
                                      precomputed_cell="cell") \
        .select(*cols).toPandas()
    key = ["doc_id", "region_id"]
    pd.testing.assert_frame_equal(
        flat.sort_values(key).reset_index(drop=True),
        clus.sort_values(key).reset_index(drop=True))
    assert len(flat) > 0


def test_precomputed_cell_too_coarse_raises(spark, tmp_path):
    # parent()'s lsb trick only goes coarser: a stored cell COARSER
    # than max(cell_level, split_level) would silently corrupt join
    # cells and split buckets. The kernel must refuse it at runtime.
    import pandas as pd
    from pyspark.errors import PythonException

    from geeflow_spark.plans import generate
    from geeflow_spark.sources import synth

    p = str(tmp_path / "flag_coarse")
    docs = derived.with_geo(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")) \
        .select("doc_id", "lat", "lon")
    # level 6 < max(cell_level=8, split_level=9) -> contract violation
    layout.write_cell_clustered(docs, p, level=6, coarse_level=4)
    regions = synth.regions_pdf(8, radius_scale=2.0)
    cdocs = spark.read.parquet(p).drop("cell_p")
    with pytest.raises(PythonException, match="level-6.*level >= 9"):
        generate.generate_examples(cdocs, regions, cell_level=8,
                                   precomputed_cell="cell") \
            .write.format("noop").mode("overwrite").save()


def test_read_cells_auto_rebalance(spark, tmp_path, monkeypatch):
    # "auto" must round-robin a thin pruned subset (< 2x cores input
    # splits) to 4x cores when the subset clears the byte floor, and
    # must SKIP the shuffle below the floor (measured pure overhead on
    # small tables). Pruned rows identical either way.
    p = str(tmp_path / "auto_rb")
    docs = derived.with_geo(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")) \
        .select("doc_id", "lat", "lon")
    layout.write_cell_clustered(docs, p, level=10, coarse_level=4)
    cells = sorted(r["cell_p"] for r in
                   spark.read.parquet(p).select("cell_p")
                   .distinct().collect())[:3]
    cores = spark.sparkContext.defaultParallelism
    raw = layout.read_cells(spark, p, cells, rebalance=None)
    assert raw.rdd.getNumPartitions() < 2 * cores  # thin by design
    # tiny subset: under the byte floor -> no shuffle inserted
    small = layout.read_cells(spark, p, cells, rebalance="auto")
    assert small.rdd.getNumPartitions() == raw.rdd.getNumPartitions()
    # floor lowered: the thin-but-heavy case -> 4x cores round-robin
    monkeypatch.setattr(layout, "AUTO_REBALANCE_MIN_BYTES", 1)
    auto = layout.read_cells(spark, p, cells, rebalance="auto")
    assert auto.rdd.getNumPartitions() == 4 * cores
    assert sorted(r["doc_id"] for r in auto.collect()) \
        == sorted(r["doc_id"] for r in raw.collect())
