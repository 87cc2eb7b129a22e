"""Geographic train/val/test split assignment.

Exact semantics of the reference's split logic
(/root/reference/geeflow/export_beam_tfds.py:91-111):
  - if a split column exists: equality filter, with "val"=="validation"
    aliasing (:95-97);
  - else: S2 cell at `level` (default 9, ~14-20 km), bucket =
    int(md5(str(cell_id)).hexdigest(), 16) % 10; 9 -> test, 8 -> val,
    the rest -> train (:99-109).

The md5 runs over the DECIMAL STRING of the python int cell id - we keep
that exactly (uint64 rendering), computed by the pure-JVM column
expression `md5_mod10_col`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geeflow_spark.operators.spatial_join import with_cell


def md5_mod10_col(cell_col) -> "F.Column":
    """int(md5(unsigned_decimal_string(cell)), 16) % 10 as a pure-JVM
    column expression (stays in whole-stage codegen - no Python).

    Equivalence to the reference formula via CRT: the 128-bit digest mod 2
    is the last hex digit mod 2; mod 5 is the hex-digit sum mod 5 (since
    16 === 1 mod 5); combine with (6a + 5b) mod 10. Tested against
    hashlib in tests/test_spatial_ops.py.
    """
    # Unsigned decimal rendering of the (possibly sign-wrapped) cell id:
    # conv(hex, 16, 10) treats the 64-bit pattern as unsigned.
    dec = F.conv(F.hex(cell_col), 16, 10)
    hx = F.md5(dec)
    # 128-bit digest split into 60/60/8-bit chunks, each fits a signed
    # long: digest = c1*2^68 + c2*2^8 + c3. Since 2^68 === 2^8 === 1
    # (mod 5): digest % 5 == (c1+c2+c3) % 5, and digest % 2 == c3 % 2.
    # Pure long arithmetic - codegen-friendly; no higher-order functions
    # (those are interpreted per element and ~10x slower) and no decimals
    # (BigDecimal path is ~2x slower).
    c1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
    c2 = F.conv(F.substring(hx, 16, 15), 16, 10).cast("long")
    c3 = F.conv(F.substring(hx, 31, 2), 16, 10).cast("long")
    m5 = (c1 + c2 + c3) % 5
    m2 = c3 % 2
    return ((F.lit(6) * m5 + F.lit(5) * m2) % 10).cast("int")


def with_split_bucket(df: DataFrame, level: int = 9, lat_col: str = "lat",
                      lon_col: str = "lon",
                      out_col: str = "split_bucket") -> DataFrame:
    """Adds the 0..9 geographic split bucket column."""
    enc = with_cell(df, level, lat_col, lon_col, out_col="_s2split")
    return (enc.withColumn(out_col, md5_mod10_col(F.col("_s2split")))
            .drop("_s2split"))


def with_split(df: DataFrame, level: int = 9, lat_col: str = "lat",
               lon_col: str = "lon", out_col: str = "split") -> DataFrame:
    """Adds split in {train, val, test}: bucket 9 test, 8 val, rest train."""
    b = with_split_bucket(df, level, lat_col, lon_col, "_bucket")
    return b.withColumn(
        out_col,
        F.when(F.col("_bucket") == 9, "test")
         .when(F.col("_bucket") == 8, "val")
         .otherwise("train")).drop("_bucket")


def filter_split(df: DataFrame, split: str,
                 split_col: str = "split") -> DataFrame:
    """Split equality filter with the val/validation alias
    (export_beam_tfds.py:95-97)."""
    if split in ("val", "validation"):
        return df.filter(F.col(split_col).isin("val", "validation"))
    return df.filter(F.col(split_col) == split)
