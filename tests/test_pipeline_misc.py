"""rasterize / checkpoint / CLI tests."""

import os

import pandas as pd
from pyspark.sql import functions as F

from geeflow_spark.operators import rasterize
from geeflow_spark.plans import checkpoint
from geeflow_spark.sources import synth


def test_rasterize_first_max_exists(spark):
    # Two overlapping unit squares with different values.
    regs = pd.DataFrame({
        "region_id": [0, 1],
        "ring": [[0.0, 0, 2, 0, 2, 2, 0, 2], [1.0, 0, 3, 0, 3, 2, 1, 2]],
        "class_name": ["a", "b"],
        "gridcode": [10, 20],
    })
    rois = spark.createDataFrame(pd.DataFrame([
        {"x_min": 0.0, "y_min": 0.0, "cell_size": 1.0,
         "width": 3, "height": 2},
    ]))
    got_max = rasterize.rasterize_fc(rois, regs, "gridcode", reducer="max") \
        .collect()[0]["raster"]
    # grid row-major top row first: pixel centers x=.5,1.5,2.5 / y=1.5,0.5
    assert got_max["values"] == [10.0, 20.0, 20.0, 10.0, 20.0, 20.0]
    assert got_max["mask"] == [1, 1, 1, 1, 1, 1]
    got_first = rasterize.rasterize_fc(rois, regs, "gridcode",
                                       reducer="first").collect()[0]["raster"]
    assert got_first["values"] == [10.0, 10.0, 20.0, 10.0, 10.0, 20.0]
    got_ex = rasterize.rasterize_fc(
        rois, regs, rasterize.FEATURE_EXISTS_INTEGER_KEY,
        reducer="max").collect()[0]["raster"]
    assert got_ex["values"] == [1.0] * 6
    # class remap with drop-missing (ee_algo.py:176-183)
    got_cls = rasterize.rasterize_fc(
        rois, regs, "class_name", reducer="max",
        class_names=["b"]).collect()[0]["raster"]
    assert got_cls["mask"] == [0, 1, 1, 0, 1, 1]  # region a dropped
    assert got_cls["values"][1] == 0.0  # class b -> index 0
    # every feature dropped by the remap: no rings, an all-masked raster
    got_none = rasterize.rasterize_fc(
        rois, regs, "class_name", reducer="first",
        class_names=["zzz"]).collect()[0]["raster"]
    assert got_none["mask"] == [0] * 6 and got_none["values"] == [0.0] * 6


def test_checkpoint_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = synth.docs(spark, 300).withColumn(
        "part", (F.crc32(F.col("doc_id")) % 4).cast("int"))
    recs = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3],
                                      id_col="doc_id",
                                      input_fingerprint="docs:300")
    assert len(recs) == 4
    assert all(r["rows"] > 0 for r in recs)
    assert all(r["lineage"]["input_fingerprint"] == "docs:300" for r in recs)
    # Relaunch: nothing to do.
    recs2 = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3])
    assert recs2 == []
    # All rows present exactly once.
    total = spark.read.parquet(out + "/part=*").count()
    assert total == 300
    # Partial resume: drop one manifest -> only that partition re-runs.
    import os
    os.remove(os.path.join(checkpoint.manifest_dir(out), "2.json"))
    recs3 = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3])
    assert [r["partition"] for r in recs3] == ["2"]
    # Each partition's files keep the partition column (readers of one
    # `part=<v>` leaf see the full schema).
    assert spark.read.parquet(out + "/part=0").columns == docs.columns
    # A listed value with no rows still commits: a readable, empty
    # directory with the full schema and a zero-row manifest.
    recs4 = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3, 7],
                                       id_col="doc_id")
    assert [(r["partition"], r["rows"], r["lineage"]["id_min"])
            for r in recs4] == [("7", 0, None)]
    empty = spark.read.parquet(out + "/part=7")
    assert empty.columns == docs.columns and empty.count() == 0
    assert spark.read.parquet(out + "/part=*").count() == 300


def test_checkpoint_resume_torn_partition(spark, tmp_path):
    # Failure injection: a crash mid-write leaves a PARTIAL partition
    # directory (stray temp/garbage files, no manifest record). The
    # relaunch must recompute exactly the uncommitted partitions, and
    # the torn directory must be fully replaced (no leftover rows, no
    # double counting).
    import os
    out = str(tmp_path / "out")
    docs = synth.docs(spark, 300).withColumn(
        "part", (F.crc32(F.col("doc_id")) % 4).cast("int"))
    checkpoint.run_partitioned(docs, out, "part", [0, 1],
                               id_col="doc_id")
    # Simulate the torn write for partition 2: a directory with a
    # half-written (corrupt) parquet file and no manifest.
    torn = os.path.join(out, "part=2")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x00torn")  # truncated garbage
    with open(os.path.join(torn, ".part-00001.parquet.crc"), "wb") as f:
        f.write(b"\x00")
    recs = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3],
                                      id_col="doc_id")
    # exactly the uncommitted partitions re-ran
    assert [r["partition"] for r in recs] == ["2", "3"]
    # the torn file is gone (overwrite replaced the directory) and the
    # dataset reads back complete and exactly-once
    assert not os.path.exists(os.path.join(torn, "part-00000.parquet")) \
        or spark.read.parquet(torn).count() == recs[0]["rows"]
    total = spark.read.parquet(out + "/part=*")
    assert total.count() == 300
    assert total.select("doc_id").distinct().count() == 300


def test_checkpoint_resume_crash_before_manifest(spark, tmp_path,
                                                 monkeypatch):
    # Failure injection: the shared write job has committed, partition 0
    # is in place with its manifest, partition 1 has been moved into
    # place but the crash hits before its manifest is written, and 2-3
    # are still staged. The relaunch re-runs exactly the partitions
    # without a manifest, leaves no staging behind, and the dataset
    # reads back exactly once.
    import os

    import pytest
    out = str(tmp_path / "out")
    docs = synth.docs(spark, 300).withColumn(
        "part", (F.crc32(F.col("doc_id")) % 4).cast("int"))
    write_manifest = checkpoint._write_manifest

    def crash_on_1(files, path, rec):
        if rec["partition"] == "1":
            raise RuntimeError("injected crash")
        write_manifest(files, path, rec)

    monkeypatch.setattr(checkpoint, "_write_manifest", crash_on_1)
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3],
                                       id_col="doc_id")
        # The engine's job label does not leak into the caller's jobs.
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    monkeypatch.undo()
    assert set(checkpoint.load_manifest(out)) == {"0"}
    assert os.path.isdir(os.path.join(out, "part=1"))
    assert os.path.isdir(os.path.join(out, "_staging"))
    # A repeated value is written once.
    recs = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3, 3],
                                      id_col="doc_id")
    assert [r["partition"] for r in recs] == ["1", "2", "3"]
    assert not os.path.exists(os.path.join(out, "_staging"))
    back = spark.read.parquet(out + "/part=*")
    assert back.count() == 300
    assert back.select("doc_id").distinct().count() == 300


def test_checkpoint_missing_staged_partition_raises(spark, tmp_path,
                                                    monkeypatch):
    # A partition the write job counted rows for but whose staged data
    # is gone must fail loudly: no empty directory in its place and no
    # manifest claiming it committed. The relaunch then completes it.
    import os
    import shutil

    import pytest
    out = str(tmp_path / "out")
    docs = synth.docs(spark, 300).withColumn(
        "part", (F.crc32(F.col("doc_id")) % 4).cast("int"))
    staged_write = checkpoint._staged_write

    def lose_staged_1(df, staging, *args):
        stats = staged_write(df, staging, *args)
        shutil.rmtree(os.path.join(staging, "_ckpt_i=1"))
        return stats

    monkeypatch.setattr(checkpoint, "_staged_write", lose_staged_1)
    with pytest.raises(RuntimeError, match="part=1"):
        checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3])
    monkeypatch.undo()
    assert set(checkpoint.load_manifest(out)) == {"0"}
    assert not os.path.exists(os.path.join(out, "part=1"))
    recs = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3])
    assert [r["partition"] for r in recs] == ["1", "2", "3"]
    back = spark.read.parquet(out + "/part=*")
    assert back.count() == 300
    assert back.select("doc_id").distinct().count() == 300


def _rows_checksum(df):
    """(row count, sum of per-row xxhash64 over all columns)."""
    row = df.agg(F.count("*"), F.sum(F.xxhash64(*df.columns)
                                     .cast("decimal(20,0)"))).collect()[0]
    return int(row[0]), row[1]


def test_checkpoint_resume_torn_manifest(spark, tmp_path):
    # A crash between a manifest's create and its close leaves a 0-byte
    # manifest. The relaunch treats it as absent: it re-runs and rewrites
    # only that partition, and the dataset reads back unchanged.
    import json

    out = str(tmp_path / "out")
    docs = synth.docs(spark, 300).withColumn(
        "part", (F.crc32(F.col("doc_id")) % 3).cast("int"))
    checkpoint.run_partitioned(docs, out, "part", [0, 1, 2],
                               id_col="doc_id")
    clean = _rows_checksum(spark.read.parquet(out + "/part=*"))
    man = checkpoint.manifest_dir(out)
    open(os.path.join(man, "1.json"), "wb").close()
    recs = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2],
                                      id_col="doc_id")
    assert [r["partition"] for r in recs] == ["1"]
    assert _rows_checksum(spark.read.parquet(out + "/part=*")) == clean
    assert sorted(os.listdir(man)) == ["0.json", "1.json", "2.json"]
    for p in range(3):
        with open(os.path.join(man, f"{p}.json")) as f:
            assert json.load(f)["partition"] == str(p)
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_checkpoint_awkward_names(spark, tmp_path):
    # Partition values with quotes, backslashes and backticks, and
    # column names that need quoting, reach the write job's SQL index
    # and observers intact: every manifest matches a direct groupBy.
    values = ["it's", "a\\b", "tick`", "x\\'y", "plain"]
    base = synth.docs(spark, 300).select(
        F.col("doc_id").alias("doc id"),
        (F.crc32(F.col("doc_id")) % 5).cast("int").alias("k"))
    part = F.element_at(F.array(*[F.lit(v) for v in values]),
                        F.col("k") + 1)
    cases = [(base.withColumn("p`art", part), "p`art", values),
             (base, "k", [0, 1, 2, 3, 4])]
    for n, (df, col, todo) in enumerate(cases):
        out = str(tmp_path / f"out{n}")
        recs = checkpoint.run_partitioned(df, out, col, todo,
                                          id_col="doc id")
        key = F.col("`" + col.replace("`", "``") + "`")
        exp = {str(r[0]): (r[1], str(r[2]), str(r[3])) for r in
               df.groupBy(key).agg(F.count("*"), F.min("doc id"),
                                   F.max("doc id")).collect()}
        assert len(exp) == 5
        got = {r["partition"]: (r["rows"], r["lineage"]["id_min"],
                                r["lineage"]["id_max"]) for r in recs}
        assert got == exp
        assert sorted(os.listdir(out)) == sorted(
            ["_manifest"] + [f"{col}={p}" for p in todo])


def test_checkpoint_resume_file_uri(spark, tmp_path):
    # An output URI (not a bare path) keeps data, manifests and staging
    # on the filesystem Spark writes to.
    import os
    local = str(tmp_path / "out")
    out = "file://" + local
    docs = synth.docs(spark, 300).withColumn(
        "part", (F.crc32(F.col("doc_id")) % 4).cast("int"))
    recs = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3],
                                      id_col="doc_id")
    assert sum(r["rows"] for r in recs) == 300
    assert sorted(os.listdir(os.path.join(local, "_manifest"))) == \
        ["0.json", "1.json", "2.json", "3.json"]
    assert not os.path.exists(os.path.join(local, "_staging"))
    assert set(checkpoint.load_manifest(out)) == {"0", "1", "2", "3"}
    assert checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3]) == []
    back = spark.read.parquet(local + "/part=*")
    assert back.count() == 300
    assert back.select("doc_id").distinct().count() == 300


def test_cli_generate_summary_line(spark, tmp_path, monkeypatch, capsys):
    # `cli generate` ends with one JSON summary line built from the
    # manifest records; a relaunch reports every partition as skipped.
    # In-process the CLI would stop the shared fixture session - no-op it.
    import json

    from pyspark.sql import SparkSession

    from geeflow_spark import cli
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    docs, out = str(tmp_path / "docs"), str(tmp_path / "out")
    synth.docs(spark, 300).write.parquet(docs)
    argv = ["generate", "--docs", docs, "--out", out]
    cli.main(argv)
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    man = checkpoint.load_manifest(out)
    assert got["out"] == out
    assert (got["partitions_written"], got["partitions_skipped"]) == (3, 0)
    assert got["rows"] == {p: r["rows"] for p, r in man.items()}
    assert got["total_rows"] == spark.read.parquet(out + "/split=*").count()
    assert got["wall_s"] > 0
    cli.main(argv)
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (again["partitions_written"], again["partitions_skipped"],
            again["total_rows"]) == (0, 3, 0)


def _cli_raster_plots(spark, path, n=400):
    # benchmark-shaped plots: two zones over one 960 km bbox, 4x4x2 preds
    synth.cells_metadata(spark, n).join(
        synth.predictions(spark, n, 4, 4, 2), "id").write.parquet(path)
    x0, y0, span = 200_000.0, 1_000_000.0, 99_999 * 9.6
    bb = [x0, y0, x0 + span, y0 + span]
    return {"32T": bb, "18N": bb}


def _raster_rows(df):
    return sorted((r["utm_zone"], r["xs"], r["ys"], tuple(r["geotransform"]),
                   tuple(r["raster"]), tuple(r["mask"]))
                  for r in df.collect())


def test_cli_rasters_cell_size(spark, tmp_path, monkeypatch):
    # `cli rasters --cell-size` reaches both tile assignment and the
    # mosaic: the CLI writes the rows of the library call at that size.
    import json

    from pyspark.sql import SparkSession

    from geeflow_spark import cli
    from geeflow_spark.operators import raster_export, tiles
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    plots, out = str(tmp_path / "plots"), str(tmp_path / "out")
    zb = _cli_raster_plots(spark, plots)
    cli.main(["rasters", "--plots", plots, "--zone-bboxes", json.dumps(zb),
              "--out", out, "--cell-size", "1920"])
    assigned = tiles.assign_tiles(spark.read.parquet(plots), zone_bboxes=zb,
                                  cell_size=1920.0, num_splits=4)
    exp = raster_export.mosaic_assigned_tiles(
        assigned, zone_bboxes=zb, cell_size=1920.0, num_splits=4, pred_c=2)
    got = _raster_rows(spark.read.parquet(out))
    assert got and got == _raster_rows(exp)
    assert {r[3][1] for r in got} == {1920.0}


def test_cli_rasters_summary_line(spark, tmp_path, monkeypatch, capsys):
    # `cli rasters` ends with one JSON summary line whose per-zone counts
    # come from the write job; that job carries the layer description and
    # the caller's description is restored afterwards.
    import json

    from pyspark.sql import SparkSession

    from geeflow_spark import cli
    from geeflow_spark.operators import raster_export
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    plots, out = str(tmp_path / "plots"), str(tmp_path / "out")
    zb = _cli_raster_plots(spark, plots)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        seq = store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    jobs_before = {j.jobId() for j in jobs()}
    sc.setJobDescription("caller")
    try:
        cli.main(["rasters", "--plots", plots, "--zone-bboxes",
                  json.dumps(zb), "--out", out, "--cell-size", "1920"])
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    back = spark.read.parquet(out).groupBy("utm_zone").count().collect()
    assert got["cmd"] == "rasters" and got["out"] == out
    assert got["rasters"] == {r["utm_zone"]: r["count"] for r in back}
    assert set(got["rasters"]) == set(zb)
    assert got["total_rasters"] == sum(got["rasters"].values()) == 32
    assert got["wall_s"] > 0
    descs = {j.description().get() for j in jobs()
             if j.jobId() not in jobs_before and j.description().isDefined()}
    assert raster_export.WRITE_JOB_DESCRIPTION in descs


def _cli_stats_table(spark, path):
    # two bands, band-interleaved; the mask hides one value of each band
    rows = [([float(i), 10.0 + i], [1, 1] if i % 3 else [0, 0])
            for i in range(12)]
    spark.createDataFrame(rows, "feat array<double>, m array<int>") \
        .write.parquet(path)


def test_cli_stats_file_uri_out(spark, tmp_path, monkeypatch):
    # `--out file://...` writes the band files under that path, in the
    # reference's JSON format, and creates no local `file:` directory.
    from pyspark.sql import SparkSession

    from geeflow_spark import cli
    from geeflow_spark.operators import stats
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.chdir(tmp_path)
    table, out = str(tmp_path / "table"), tmp_path / "stats"
    _cli_stats_table(spark, table)
    cli.main(["stats", "--table", table, "--array-col", "feat",
              "--n-bands", "2", "--out", f"file://{out}"])
    exp = stats.per_band_counter_stats(spark.read.parquet(table), "feat", 2)
    assert sorted(os.listdir(out)) == ["stats_band_0.json",
                                       "stats_band_1.json"]
    for band, d in exp.items():
        assert (out / f"stats_band_{band}.json").read_text() == \
            stats.stats_json(d)
    assert not (tmp_path / "file:").exists()


def test_cli_stats_summary_line(spark, tmp_path, monkeypatch, capsys):
    # `cli stats --mask-col` ends with one JSON summary line; its collect
    # jobs carry the layer description and the caller's is restored.
    import json

    from pyspark.sql import SparkSession

    from geeflow_spark import cli
    from geeflow_spark.operators import stats
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    table, out = str(tmp_path / "table"), str(tmp_path / "stats")
    _cli_stats_table(spark, table)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        seq = store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    jobs_before = {j.jobId() for j in jobs()}
    sc.setJobDescription("caller")
    try:
        cli.main(["stats", "--table", table, "--array-col", "feat",
                  "--n-bands", "2", "--mask-col", "m", "--out", out])
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    descs = {j.description().get() for j in jobs()
             if j.jobId() not in jobs_before and j.description().isDefined()}
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    exp = stats.per_band_counter_stats(spark.read.parquet(table), "feat", 2,
                                       mask_col="m")
    assert got["cmd"] == "stats" and got["out"] == out
    assert got["bands"] == [0, 1]
    assert got["n"] == {"0": 8, "1": 8} == {str(b): d["n"]
                                            for b, d in exp.items()}
    assert got["wall_s"] > 0
    assert stats.COLLECT_JOB_DESCRIPTION in descs
    assert json.loads(open(os.path.join(out, "stats_band_1.json")).read()) \
        == exp[1]


def test_cli_binaries_in_stock_session(spark, tmp_path, monkeypatch, capsys):
    # A stock Spark 4 session runs with ANSI on. The three binaries run in
    # it as they are, and building their session through get_spark leaves
    # the caller's setting alone.
    import json

    from pyspark.sql import SparkSession

    from geeflow_spark import cli
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    assert prev == "true"  # get_spark keeps Spark 4's default
    spark.conf.set(key, "true")
    try:
        docs, plots, table = (str(tmp_path / d)
                              for d in ("docs", "plots", "table"))
        synth.docs(spark, 200).write.parquet(docs)
        zb = _cli_raster_plots(spark, plots, n=100)
        _cli_stats_table(spark, table)
        runs = [
            ["generate", "--docs", docs, "--out", str(tmp_path / "ex")],
            ["rasters", "--plots", plots, "--zone-bboxes", json.dumps(zb),
             "--out", str(tmp_path / "rasters"), "--cell-size", "1920"],
            ["stats", "--table", table, "--array-col", "feat",
             "--n-bands", "2", "--mask-col", "m",
             "--out", str(tmp_path / "stats")],
        ]
        got = {}
        for argv in runs:
            cli.main(argv)
            got[argv[0]] = json.loads(
                capsys.readouterr().out.strip().splitlines()[-1])
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, prev)
    gen = got["generate"]
    assert (gen["partitions_written"], gen["partitions_skipped"]) == (3, 0)
    assert gen["total_rows"] == sum(gen["rows"].values()) > 0
    ras = got["rasters"]
    assert set(ras["rasters"]) == set(zb)
    assert ras["total_rasters"] == sum(ras["rasters"].values()) > 0
    assert got["stats"]["bands"] == [0, 1]
    assert got["stats"]["n"] == {"0": 8, "1": 8}
