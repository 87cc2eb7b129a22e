"""dedup / text metrics / rasterize / checkpoint tests."""

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geeflow_spark.operators import dedup, rasterize
from geeflow_spark.plans import checkpoint
from geeflow_spark.sources import synth


def test_exact_dedup(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["Hello  World", "hello world", "unique one",
                 "HELLO WORLD ", "another"],
    })
    out = dedup.exact_dedup(spark.createDataFrame(pdf)).toPandas()
    assert sorted(out["doc_id"]) == [1, 3, 5]  # min id survives


def test_minhash_finds_near_dups(spark):
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the green forest all day long " * 3)
    near = base.replace("green", "dark")
    other = ("completely different content about spark joins and "
             "shuffle partitions in distributed systems " * 3)
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "text": [base, near, other]})
    pairs = dedup.minhash_duplicate_pairs(
        spark.createDataFrame(pdf), num_perm=64, bands=16,
        verify_jaccard=0.5).toPandas()
    assert set(map(tuple, pairs[["a", "b"]].itertuples(index=False))) == \
        {(1, 2)}


def test_simhash_close_for_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    near = base.replace("zeta", "zetaa")
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [base, near]})
    out = spark.createDataFrame(pdf).select(
        dedup.simhash_udf()(F.col("text")).alias("h")).toPandas()
    h1, h2 = int(out["h"][0]), int(out["h"][1])
    hamming = bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")
    assert hamming <= 16


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


def test_exact_dedup_hash_collision_safe(spark):
    # Force a first-digest collision via an injected constant hasher:
    # the second independent digest must keep distinct texts apart.
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "text": ["alpha text", "totally different", "alpha  TEXT"]})
    out = dedup.exact_dedup(
        spark.createDataFrame(pdf),
        key_fns=[lambda c: F.lit(0), lambda c: F.sha2(c, 256)]).toPandas()
    assert sorted(out["doc_id"]) == [1, 2]  # collision did not merge 1 & 2


def test_ngram_jaccard_exact_all_pairs(spark):
    a = "one two three four five six seven eight"
    b = "one two three four five six seven nine"   # high overlap with a
    c = "alpha beta gamma delta epsilon"
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [a, b, c]})
    got = dedup.ngram_jaccard_pairs(
        spark.createDataFrame(pdf), threshold=0.3, shingle_k=3).toPandas()
    assert set(map(tuple, got[["a", "b"]].itertuples(index=False))) == {(1, 2)}
    # exact value: shingles(a)=6, shingles(b)=6, common=5 -> 5/7
    import math
    assert math.isclose(got["jaccard"].iloc[0], 5 / 7, rel_tol=1e-9)


def test_shingle_hashes_jvm_matches_python_semantics(spark):
    # Cardinalities match the python mirror for normal/short/empty text.
    pdf = pd.DataFrame({"text": ["a b c d e", "a b", "", "one"]})
    got = spark.createDataFrame(pdf).select(
        F.size(dedup.shingle_hashes_col(F.col("text"), 3)).alias("n")
    ).toPandas()["n"].tolist()
    exp = [len(dedup._token_shingles(t, 3)) for t in pdf["text"]]
    assert got == exp


def test_hash64_vectorized_matches_scalar():
    strs = ["", "a", "hello world", "x" * 100, "unicode ☃ ümlaut"]
    got = dedup._hash64_strs(strs)
    for s, g in zip(strs, got):
        h = 0xCBF29CE484222325
        for byte in s.encode("utf-8"):
            h = ((h ^ byte) * 0x100000001B3) % (1 << 64)
        assert int(g) == h


def test_simhash_candidate_pairs(spark):
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the green forest all day long " * 2)
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [base, base.replace("green", "dark"),
                 "entirely different words about spark shuffles"]})
    # bands=16 -> pigeonhole guarantees recall for hamming <= 15
    # (4 bands only guarantees hamming <= 3; near-dups here land ~9-15).
    out = dedup.simhash_candidate_pairs(
        spark.createDataFrame(pdf), bands=16, max_hamming=15).toPandas()
    assert set(map(tuple, out[["a", "b"]].itertuples(index=False))) \
        == {(1, 2)}
    assert (out["hamming"] <= 15).all()


def test_connected_components_vs_union_find(spark):
    # random sparse pair graphs vs an independent python union-find
    rng = np.random.default_rng(17)
    for trial in range(3):
        n = 60
        m = rng.integers(20, 60)
        a = rng.integers(0, n, m)
        off = rng.integers(1, n, m)
        b = (a + off) % n
        pdf = pd.DataFrame({"a": a, "b": b}).drop_duplicates()
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in pdf.itertuples(index=False):
            parent[find(int(x))] = find(int(y))
        seen = sorted(set(pdf["a"]) | set(pdf["b"]))
        roots = {}
        expect = {}
        for v in seen:  # ascending: root label = min member
            r = find(v)
            roots.setdefault(r, v)
            expect[v] = roots[r]
        got = dedup.connected_components(
            spark.createDataFrame(pdf)).toPandas()
        got_map = dict(zip(got["id"], got["component"]))
        assert got_map == expect, trial


def test_connected_components_chain_and_empty(spark):
    # worst-case diameter: a pure chain (converges, label = 0) and an
    # empty edge set (empty output, correct schema)
    chain = pd.DataFrame({"a": range(0, 15), "b": range(1, 16)})
    got = dedup.connected_components(
        spark.createDataFrame(chain)).toPandas()
    assert sorted(got["id"]) == list(range(16))
    assert set(got["component"]) == {0}
    empty = spark.createDataFrame([], "a long, b long")
    out = dedup.connected_components(empty)
    assert out.columns == ["id", "component"]
    assert out.count() == 0


def test_connected_components_long_chain_log_rounds(spark):
    # Pointer jumping: a diameter-120 chain must close in O(log d)
    # rounds (plain min-label propagation would need 120 and trip any
    # reasonable max_iter). max_iter=12 both proves the bound and
    # guards against a regression to linear-round propagation.
    chain = pd.DataFrame({"a": range(0, 120), "b": range(1, 121)})
    got = dedup.connected_components(
        spark.createDataFrame(chain), max_iter=12).toPandas()
    assert set(got["component"]) == {0}
    assert len(got) == 121
    assert dedup._last_cc_rounds <= 12


def test_connected_components_releases_checkpoints(spark):
    # Superseded per-round localCheckpoint blocks must be released as
    # the loop advances; after unpersisting the returned frame the
    # session holds no more persisted RDDs than before the call.
    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = dedup._persistent_rdd_ids(sc)
    chain = pd.DataFrame({"a": range(0, 40), "b": range(1, 41)})
    out = dedup.connected_components(spark.createDataFrame(chain))
    assert out.count() == 41
    after = dedup._persistent_rdd_ids(sc) - before
    # only the final round's checkpoint may remain live (the result)
    assert len(after) <= 2, after
    dedup._release_rdds(sc, after)
    assert not (dedup._persistent_rdd_ids(sc) - before)


def test_dedup_survivors(spark):
    # pairs {1-2, 2-3} and {7-9}: components {1,2,3} (survivor 1) and
    # {7,9} (survivor 7); docs 4, 5 appear in no pair and pass through.
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5, 7, 9],
         "text": list("abcdefg")}))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": [1, 2, 7], "b": [2, 3, 9]}))
    out = dedup.dedup_survivors(docs, pairs).toPandas()
    assert sorted(out["doc_id"]) == [1, 4, 5, 7]
    assert list(out.columns) == ["doc_id", "text"]
    assert dedup._last_survivors_path == "broadcast"
    dedup.release_survivors_state()


def test_dedup_survivors_quality(spark):
    # quality_col winner selection: component {1,2,3} keeps 2 (highest
    # quality; null on 3 ranks lowest), component {4,5} ties on
    # quality and falls back to the min-id rule (keeps 4); doc 6 is in
    # no pair and passes through. Winner 2 != min id 1 pins that the
    # argmax actually ran.
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5, 6],
                      "text": list("abcdef"),
                      "q": [5.0, 9.0, None, 7.0, 7.0, 1.0]}))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": [1, 2, 4], "b": [2, 3, 5]}))
    out = dedup.dedup_survivors(docs, pairs, quality_col="q").toPandas()
    assert sorted(out["doc_id"]) == [2, 4, 6]
    assert list(out.columns) == ["doc_id", "text", "q"]
    dedup.release_survivors_state()


def test_dedup_survivors_broadcast_gate(spark):
    # Majority-duplicate corpus (the web-scale regime the gate exists
    # for): 300 docs in 100 chains of 3 -> 200 dropped. With the
    # threshold below the drop count the anti-join must NOT be forced
    # to broadcast (AQE plans it); survivors must be identical on both
    # paths, and neither path may leak drop-list blocks after
    # release_survivors_state().
    sc = spark.sparkContext
    spark.catalog.clearCache()
    docs = spark.range(300).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": [3 * i + j for i in range(100) for j in (0, 1)],
         "b": [3 * i + j for i in range(100) for j in (1, 2)]}))
    before = dedup._persistent_rdd_ids(sc)

    forced = dedup.dedup_survivors(docs, pairs, broadcast_max_rows=50)
    got_shuffle = sorted(r["doc_id"] for r in forced.collect())
    assert dedup._last_survivors_path == "shuffle"
    # the forced path's logical plan carries no broadcast hint
    assert "broadcast" not in forced._jdf.queryExecution() \
        .logical().toString().lower()

    bcast = dedup.dedup_survivors(docs, pairs, broadcast_max_rows=10**6)
    got_bcast = sorted(r["doc_id"] for r in bcast.collect())
    assert dedup._last_survivors_path == "broadcast"

    expect = sorted(3 * i for i in range(100))
    assert got_shuffle == got_bcast == expect
    dedup.release_survivors_state()
    assert not (dedup._persistent_rdd_ids(sc) - before)


def test_block_combo_masks_properties():
    # Pure-python pigeonhole property: for random hash pairs with
    # d <= blocks - t flipped bits, SOME combination mask sees equal
    # masked values; masks jointly cover all 64 bits; count = C(B,t).
    from math import comb
    rng = np.random.default_rng(9)
    for blocks, t in ((6, 3), (8, 4), (4, 2), (5, 5)):
        masks = dedup._block_combo_masks(blocks, t)
        assert len(masks) == comb(blocks, t)
        m_u = [np.uint64(m % (1 << 64)) for m in masks]
        cover = np.uint64(0)
        for m in m_u:
            cover |= m
        if t == blocks:
            assert cover == np.uint64(0xFFFFFFFFFFFFFFFF)
        d_max = blocks - t
        for _ in range(200):
            h = np.uint64(rng.integers(0, 1 << 63))
            flips = rng.choice(64, size=rng.integers(0, d_max + 1),
                               replace=False)
            h2 = h
            for b in flips:
                h2 = h2 ^ (np.uint64(1) << np.uint64(b))
            assert any((h & m) == (h2 & m) for m in m_u), \
                (blocks, t, flips)


def test_simhash_block_combo_recall(spark):
    # Manku block-combination keys (blocks=6, t=3): EVERY pair with
    # hamming <= blocks - t = 3 must be found (pigeonhole guarantee),
    # and nothing above max_hamming may appear. Truth = brute-force
    # popcount over the same simhashes.
    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(500)]
    base = [" ".join(rng.choice(vocab, 30)) for _ in range(40)]
    texts = base + base[:10]  # 10 exact dups (hamming 0)
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    got = dedup.simhash_candidate_pairs(
        df, shingle_k=2, blocks=6, block_t=3, max_hamming=3).toPandas()
    hp = df.select("doc_id", dedup.simhash_udf(2)(F.col("text"))
                   .alias("h")).toPandas().sort_values("doc_id")
    h = hp["h"].to_numpy(np.int64).astype(np.uint64)
    truth = {(a, b) for a in range(len(h)) for b in range(a + 1, len(h))
             if bin(int(h[a] ^ h[b])).count("1") <= 3}
    assert truth  # the exact dups guarantee a non-trivial truth set
    assert set(map(tuple, got[["a", "b"]].itertuples(index=False))) \
        == truth
    assert (got["hamming"] <= 3).all()


def test_xxh64_twin_matches_spark(spark):
    from tools.xxh64 import xxh64_str_signed
    strs = ["", "a", "hello world", "x" * 40, "ünïcode ☃", "y" * 31]
    df = spark.createDataFrame(pd.DataFrame({"s": strs}))
    got = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert got == [xxh64_str_signed(s) for s in strs]


def test_dedup_survivors_quality_string_ids(spark):
    # The (quality DESC, id ASC) tie-break must hold for STRING doc
    # ids too (negating a string id casts to NULL and silently breaks
    # argmax determinism - the bug this pins).
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["doc02", "doc01", "doc03", "doc09"],
        "text": list("abcd"),
        "q": [7.0, 7.0, 9.0, 1.0]}))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": ["doc01", "doc02"], "b": ["doc02", "doc03"]}))
    out = dedup.dedup_survivors(docs, pairs, quality_col="q").toPandas()
    # component {doc01,doc02,doc03}: doc03 wins on quality
    assert sorted(out["doc_id"]) == ["doc03", "doc09"]
    # quality tie between doc01/doc02 alone -> min id wins
    pairs2 = spark.createDataFrame(pd.DataFrame(
        {"a": ["doc01"], "b": ["doc02"]}))
    out2 = dedup.dedup_survivors(docs, pairs2,
                                 quality_col="q").toPandas()
    assert sorted(out2["doc_id"]) == ["doc01", "doc03", "doc09"]
    dedup.release_survivors_state()
