"""End-to-end Structured Streaming test: the streaming tail runs the
SAME kernels as batch and produces identical rows, exactly once, with
incremental pickup of late-arriving files."""

import os

from pyspark.sql import functions as F

from geeflow_spark.plans import generate
from geeflow_spark.sources import synth
from geeflow_spark.streaming import ingest


def test_stream_matches_batch_exactly_once(spark, tmp_path):
    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = synth.docs(spark, 400)
    docs.filter(F.col("doc_id") < "doc0000000200") \
        .write.mode("overwrite").parquet(land)

    regions = synth.regions_pdf(10, radius_scale=3.0)
    schema = docs.schema

    # Batch 1: first 200 docs.
    q = ingest.start_generate_stream(
        ingest.stream_docs(spark, land, schema), regions, out, ckpt,
        cell_level=6)
    q.awaitTermination(120)

    got1 = spark.read.parquet(out)
    exp1 = generate.generate_examples(
        spark.read.parquet(land), regions, cell_level=6)
    assert got1.count() == exp1.count() > 0

    # Late arrivals: 200 more docs land; availableNow picks up ONLY the
    # new files (exactly-once via the checkpoint).
    docs.filter(F.col("doc_id") >= "doc0000000200") \
        .write.mode("append").parquet(land)
    q2 = ingest.start_generate_stream(
        ingest.stream_docs(spark, land, schema), regions, out, ckpt,
        cell_level=6)
    q2.awaitTermination(120)

    got2 = spark.read.parquet(out)
    exp_all = generate.generate_examples(
        spark.read.parquet(land), regions, cell_level=6)
    # Exactly-once: streaming total == full batch recompute (no dupes
    # from batch 1 being reprocessed).
    assert got2.count() == exp_all.count()
    # Span-sequence invariant survives the streaming path shuffle.
    row = got2.filter(F.size("spans") >= 2).limit(1).collect()[0]
    offs = [s["offset"] for s in row["spans"]]
    assert offs == sorted(offs)
    # batch-id partition dirs exist (idempotent overwrite-by-batch sink)
    assert any(d.startswith("batch_id=") for d in os.listdir(out))
    # per-batch lineage/metrics manifests (north rule: lineage on the
    # streaming tail, same layout as the batch checkpoint layer)
    import json
    mdir = os.path.join(out, "_manifest")
    recs = [json.load(open(os.path.join(mdir, f)))
            for f in sorted(os.listdir(mdir))]
    assert len(recs) >= 2  # one per committed micro-batch
    assert sum(r["rows"] for r in recs) == got2.count()
    assert all(r["lineage"]["id_min"] <= r["lineage"]["id_max"]
               for r in recs)


def test_stream_manifest_file_uri(spark, tmp_path, monkeypatch):
    """A `file://` output root gets its stream manifests under
    `<out>/_manifest/`, next to the data, not in a relative `file:`
    directory under the working directory."""
    monkeypatch.chdir(tmp_path)
    land = str(tmp_path / "landing")
    out = tmp_path / "out"
    synth.docs(spark, 100).write.mode("overwrite").parquet(land)
    docs = spark.read.parquet(land)
    q = ingest.start_generate_stream(
        ingest.stream_docs(spark, land, docs.schema),
        synth.regions_pdf(10, radius_scale=3.0), f"file://{out}",
        str(tmp_path / "ckpt"), cell_level=6)
    q.awaitTermination(120)

    assert "stream_0.json" in os.listdir(out / "_manifest")
    assert not (tmp_path / "file:").exists()
