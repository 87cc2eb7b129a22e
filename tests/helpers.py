"""Fixtures shared by several test modules."""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geeflow_spark.sources.synth import _uniform


def labels(spark: SparkSession, n: int = 200) -> DataFrame:
    """Demo-labels-shaped point table (reference data/demo_labels.csv):
    index, lat, lon, label_name, label, split."""
    df = spark.range(0, n, 1, 4)
    idc = F.col("id")
    # Zurich-ish and London-ish clusters like the reference demo.
    zurich = (idc % 2) == 0
    lat = F.when(zurich, 47.2 + _uniform(idc, 11) * 0.4) \
           .otherwise(51.3 + _uniform(idc, 11) * 0.4)
    lon = F.when(zurich, 8.4 + _uniform(idc, 12) * 0.5) \
           .otherwise(-0.3 + _uniform(idc, 12) * 0.5)
    u = _uniform(idc, 13)
    return df.select(
        idc.cast("int").alias("index"),
        lat.alias("lat"), lon.alias("lon"),
        F.when(idc % 3 == 0, "apple").otherwise("prune").alias("label_name"),
        (idc % 3 == 0).cast("int").alias("label"),
        F.when(u < 0.7, "train").when(u < 0.85, "val")
        .otherwise("test").alias("split"))
