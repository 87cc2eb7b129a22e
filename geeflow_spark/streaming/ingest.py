"""Structured Streaming ingest of interleaved documents.

The reference is batch-only (SURVEY §2.7) - its incremental surface is
skip-existing resume + retries. This module adds the Spark-native
incremental path on top of the same kernels: a file-source stream of doc
parquet, per-microbatch S2 encode + spatial join + split, written
partitioned with exactly-once semantics via checkpointLocation +
idempotent sink paths.

Design notes for the 100 TB deployment:
  - the stream source is the Iceberg/parquet landing zone; maxFilesPerTrigger
    bounds per-batch memory;
  - all kernels are the SAME batch operators (generate_examples) applied
    in foreachBatch - no logic divergence between batch backfill and
    streaming tail;
  - watermarking is irrelevant for the geometry path (no event-time agg);
    the per-batch manifest rows give at-least-once lineage identical to
    the batch checkpoint layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def stream_docs(spark: SparkSession, path: str, schema,
                max_files_per_trigger: int = 16) -> DataFrame:
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def start_generate_stream(docs_stream: DataFrame, regions, out_path: str,
                          checkpoint_path: str, cell_level: int = 8):
    """foreachBatch application of the flagship pipeline; exactly-once
    via the streaming checkpoint + overwrite-by-batch-id directories.

    Each committed micro-batch appends a lineage/metrics manifest row
    (same JSON layout as the batch checkpoint layer, plans/checkpoint)
    under `<out>/_manifest/`: batch id, row count, id min/max, wall
    time - the north rule's per-partition lineage on the streaming tail.
    """
    import json
    import os
    import time

    from pyspark.sql import functions as F

    from geeflow_spark.plans import checkpoint, generate

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        ex = generate.generate_examples(batch_df, regions,
                                        cell_level=cell_level)
        (ex.write.mode("overwrite")
         .parquet(f"{out_path}/batch_id={batch_id}"))
        written = batch_df.sparkSession.read.parquet(
            f"{out_path}/batch_id={batch_id}")
        m = written.agg(F.count("*").alias("rows"),
                        F.min("doc_id").alias("id_min"),
                        F.max("doc_id").alias("id_max")).collect()[0]
        rec = {"partition": f"batch_id={batch_id}",
               "rows": int(m["rows"]),
               "lineage": {"id_min": m["id_min"], "id_max": m["id_max"],
                           "source": "stream"},
               "wall_sec": round(time.monotonic() - t0, 3),
               "engine_version": checkpoint.ENGINE_VERSION}
        files = checkpoint._Files(  # noqa: SLF001
            batch_df.sparkSession, out_path)
        files.write_text(os.path.join(checkpoint.manifest_dir(out_path),
                                      f"stream_{batch_id}.json"),
                         json.dumps(rec))

    return (docs_stream.writeStream
            .option("checkpointLocation", checkpoint_path)
            .foreachBatch(_process)
            .trigger(availableNow=True)
            .start())
