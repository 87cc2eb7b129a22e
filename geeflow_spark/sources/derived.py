"""Deterministic geometry/spans derived from the driver's `documents`
table via plain integer arithmetic.

The sandbox testdata has no geometry, and the DuckDB oracle can only see
the pre-registered parquet views - so oracle-checkable geo queries derive
lat/lon/utm coordinates from `doc_id` with congruential arithmetic that is
expressible IDENTICALLY in pyspark columns and ANSI SQL (exact in both:
all intermediates < 2^63, divisions produce exactly-representable
doubles). The general engine kernels (ray-casting PIP, cell encodes, tile
math) run on the Spark side; the SQL oracle recomputes the same answers
through independent closed forms (interval logic, half-plane tests,
explicit boundary constants), giving genuine cross-validation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# lat in [-60, 72), lon in [-180, 180).
LAT_SQL = "(-60.0 + ((doc_id * 2654435761) % 4294967296) / 4294967296.0 * 132.0)"
LON_SQL = "(-180.0 + ((doc_id * 40503 + 12345) % 65536) / 65536.0 * 360.0)"
# UTM-meter plot anchors.
UTM_X_SQL = "(200000.0 + ((doc_id * 7919) % 100000) * 4.0)"
UTM_Y_SQL = "(1000000.0 + ((doc_id * 104729) % 100000) * 7.0)"


def lat_col():
    return (F.lit(-60.0) +
            ((F.col("doc_id") * 2654435761) % 4294967296)
            / F.lit(4294967296.0) * 132.0)


def lon_col():
    return (F.lit(-180.0) +
            ((F.col("doc_id") * 40503 + 12345) % 65536)
            / F.lit(65536.0) * 360.0)


def utm_x_col():
    return F.lit(200000.0) + ((F.col("doc_id") * 7919) % 100000) * 4.0


def utm_y_col():
    return F.lit(1000000.0) + ((F.col("doc_id") * 104729) % 100000) * 7.0


def with_geo(documents: DataFrame) -> DataFrame:
    """documents(doc_id bigint, ...) + (lat, lon, utm_x, utm_y)."""
    return (documents
            .withColumn("lat", lat_col())
            .withColumn("lon", lon_col())
            .withColumn("utm_x", utm_x_col())
            .withColumn("utm_y", utm_y_col()))


def with_spans(documents: DataFrame, n_spans: int = 4) -> DataFrame:
    """Adds the interleaved spans column (BASELINE.json input_hint schema)
    derived from the text column: span i = words [2i, 2i+2) for text spans,
    a deterministic media_ref for media spans; offset strictly increasing.
    """
    words = F.split(F.trim(F.col("text")), r"\s+")
    spans = F.transform(
        F.sequence(F.lit(0), F.lit(n_spans - 1)),
        lambda i: F.struct(
            F.when(i % 2 == 0, F.lit("text")).otherwise(F.lit("media"))
             .alias("kind"),
            F.when(i % 2 == 0,
                   F.concat_ws(" ", F.slice(words, i * 2 + 1, 2)))
             .otherwise(F.lit(None).cast("string")).alias("text"),
            F.when(i % 2 == 1,
                   F.concat(F.lit("media/"), F.col("doc_id").cast("string"),
                            F.lit("/"), i.cast("string")))
             .otherwise(F.lit(None).cast("string")).alias("media_ref"),
            (i * 32 + F.pmod(F.col("doc_id"), F.lit(7)).cast("int"))
            .cast("int").alias("offset"),
        ))
    return documents.withColumn("spans", spans)
