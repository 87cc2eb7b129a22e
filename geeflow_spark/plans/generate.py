"""Flagship end-to-end plan: documents -> spatial join -> tiles -> splits.

The Spark restatement of the reference's dataset-generation lifecycle
(/root/reference/geeflow/export_beam_tfds.py:218-252 +
geeflow/pipelines.py:292-424), over the interleaved-document table of
BASELINE.json input_hint:

  docs(doc_id, spans, lat, lon)
    -> S2 cell encode (Arrow-batched)
    -> point-in-region match against region polygons
       (spatial_join.RegionMatcher; filterBounds semantics)
    -> UTM tile assignment (UtmGridMapping.from_latlon_center grid math)
    -> geographic split (md5(s2_cell) % 10)
  preserving the span-sequence (kind, text, media_ref, order) row-for-row.

One narrow stage end-to-end on the document side: scan -> one Arrow
kernel (encode -> cover lookup -> PIP -> tile math -> split hash). The
document side never shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from geeflow_spark.functions import s2, utm
from geeflow_spark.operators import spatial_join

# Split name of each md5 bucket 0..9 (export_beam_tfds.py:99-109): 9 is
# test, 8 is val, the rest train.
SPLIT_NAMES = ("train",) * 8 + ("val", "test")


def generate_examples(docs: DataFrame, regions: pd.DataFrame, *,
                      cell_level: int = 8, split_level: int = 9,
                      tile_cell_size: float = 10.0, tile_width: int = 96
                      ) -> DataFrame:
    """The flagship query. Returns one row per (doc, containing region):
    doc_id, spans, lat, lon, region_id, gridcode, class_name,
    utm_zone, tile_x, tile_y, split.

    Plan shape (scale-first): scan -> ONE mapInArrow pass (S2 encode +
    `spatial_join.RegionMatcher`, i.e. cover-cell candidate lookup via
    searchsorted + PIP refine, + UTM tile + md5 split bucket of the
    level-`split_level` parent, hashed once per distinct cell in the
    batch) whose output schema is the final column order - nothing runs
    on the JVM after it. The matcher (cover table and rings) travels in
    the task closure - the small broadcast side - so the document rows
    cross the Arrow boundary exactly ONCE and the candidate fan-out (the
    old broadcast hash join, 2.7x row inflation on the JVM side and a
    second Arrow round-trip) happens as a numpy gather inside the kernel.

    Why this topology beats scan->encode UDF->BHJ->fused UDF at N->4N:
    a Python-UDF stage occupies a JVM task thread AND a python worker
    simultaneously; every extra JVM-side row (join fan-out) and Arrow
    pass adds JVM CPU that competes with the python workers for the
    same cores at high parallelism (measured on this box: JVM task CPU
    inflated 30% from local[4] to local[16] on the old plan; see
    BENCH/BASELINE.md). The document side never shuffles; the only wide
    exchange is whatever aggregation the caller adds downstream.
    """
    match = spatial_join.RegionMatcher(regions, cell_level)
    keep = [c for c in ("gridcode", "class_name") if c in regions.columns]
    ids, props = spatial_join.region_props(regions, keep, pa.schema(
        [(c, pa.int64() if c == "gridcode" else pa.string()) for c in keep]))

    doc_fields = list(docs.schema.fields)
    out_schema = StructType(
        doc_fields
        + [StructField("region_id", LongType())]
        + [StructField("gridcode", LongType()) if c == "gridcode"
           else StructField("class_name", StringType()) for c in keep]
        + [StructField("utm_zone", StringType()),
           StructField("tile_x", DoubleType()),
           StructField("tile_y", DoubleType()),
           StructField("split", StringType(), nullable=False)])
    doc_cols = [f.name for f in doc_fields]
    lat_ix = doc_cols.index("lat")
    lon_ix = doc_cols.index("lon")

    # mapInArrow, not mapInPandas: the document payload (spans - nested
    # array<struct> columns) passes through as Arrow buffers and the
    # candidate fan-out gather is one RecordBatch.take - no
    # pandas-object materialization of the payload in either direction.
    # (Measured on the 1M-doc flagship: the pandas round-trip of the
    # spans column was ~30% of wall.)
    # String outputs (utm_zone, class props) are built as C++ takes
    # from small precomputed dictionaries - python never touches a
    # per-row string object (the per-object conversion was the python
    # workers' hottest serial section under 16-way concurrency).
    def _kernel(batches):
        zone_dict = pa.array(utm.ZONE_STRINGS, type=pa.string())
        split_dict = pa.array(SPLIT_NAMES, type=pa.string())
        for rb in batches:
            if rb.num_rows == 0:
                continue
            la = spatial_join.arrow_np(rb, lat_ix, np.float64)
            lo = spatial_join.arrow_np(rb, lon_ix, np.float64)
            # ONE leaf encode serves both levels (parent = bit math).
            leaf = s2.latlon_to_cell_id(la, lo)
            cells = s2.parent(leaf, cell_level).astype(np.int64)
            doc_ix, rid = match(cells, la, lo)
            if len(doc_ix) == 0:
                continue
            # per-DOC tile (computed once per doc, gathered)
            zone_code, x0, y0 = utm.tile_origin(la, lo, tile_cell_size,
                                                tile_width)
            # split bucket: one md5 per distinct split cell of the pairs
            bucket = s2.split_bucket(s2.parent(leaf[doc_ix], split_level))
            base = rb.take(pa.array(doc_ix, type=pa.int64()))
            extras = [pa.array(rid, type=pa.int64())] + props.take(
                pa.array(np.searchsorted(ids, rid))).columns
            extras += [zone_dict.take(pa.array(zone_code[doc_ix],
                                               type=pa.int64())),
                       pa.array(x0[doc_ix], type=pa.float64()),
                       pa.array(y0[doc_ix], type=pa.float64()),
                       split_dict.take(pa.array(bucket, type=pa.int64()))]
            yield pa.RecordBatch.from_arrays(
                [base.column(i) for i in range(base.num_columns)] + extras,
                names=[f.name for f in out_schema.fields])

    return docs.mapInArrow(_kernel, out_schema)
