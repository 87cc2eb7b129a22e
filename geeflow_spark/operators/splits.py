"""Geographic train/val/test split assignment.

Exact semantics of the reference's geographic split
(geeflow/export_beam_tfds.py:99-109): S2 cell at `level`
(default 9, ~14-20 km), bucket = int(md5(str(cell_id)).hexdigest(), 16)
% 10; 9 -> test, 8 -> val, the rest -> train.

The md5 runs over the DECIMAL STRING of the python int cell id - we keep
that exactly (uint64 rendering). The bucket has one implementation,
`functions.s2.split_bucket` (hashlib, once per distinct cell), run in
Arrow-batched Python next to the S2 encode that yields the cell:
`with_split_bucket` here, the generate kernel in `plans/generate`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from geeflow_spark.functions import s2

# Split name of each bucket 0..9.
SPLIT_NAMES = ("train",) * 8 + ("val", "test")


def with_split_bucket(df: DataFrame, level: int = 9, lat_col: str = "lat",
                      lon_col: str = "lon",
                      out_col: str = "split_bucket") -> DataFrame:
    """Adds the 0..9 geographic split bucket column."""

    @pandas_udf(IntegerType())
    def _bucket(lat: pd.Series, lon: pd.Series) -> pd.Series:
        cells = s2.latlon_to_cell_id(lat.to_numpy(np.float64),
                                     lon.to_numpy(np.float64), level)
        return pd.Series(s2.split_bucket(cells).astype(np.int32))

    return df.withColumn(out_col, _bucket(F.col(lat_col), F.col(lon_col)))


def with_split(df: DataFrame, level: int = 9, lat_col: str = "lat",
               lon_col: str = "lon", out_col: str = "split") -> DataFrame:
    """Adds split in {train, val, test}: bucket 9 test, 8 val, rest train."""
    b = with_split_bucket(df, level, lat_col, lon_col, "_bucket")
    names = F.array(*[F.lit(s) for s in SPLIT_NAMES])
    return b.withColumn(out_col, F.element_at(names, F.col("_bucket") + 1)) \
        .drop("_bucket")
