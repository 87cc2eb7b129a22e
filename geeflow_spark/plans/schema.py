"""Static schema planner: derive the output StructType from a config +
one probe row, the analog of `make_tfds_features`
(export_beam_tfds.py:255-287).

The reference runs ONE item through the pipeline and classifies each
output key:
  - metadata keys               -> Sequence(Tensor(shape=()))  (ragged 1-D)
  - time-varying sources        -> Sequence(Tensor(shape=v.shape[-3:]))
    (per-timestep (H, W, C) tensors, ragged along time)
  - everything else             -> fixed Tensor(shape) / Scalar

Spark analog: the same classification onto Spark types - ragged
sequences become ArrayType of the element type, fixed tensors become
nested ArrayType with the shape recorded in the field metadata (Spark
arrays are shapeless; the recorded shape is the assemble-stage
contract, like TFDS's static shape).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql.types import (ArrayType, BooleanType, DataType, DoubleType,
                               FloatType, IntegerType, LongType, StringType,
                               StructField, StructType)

_DTYPE_MAP = {
    "f4": FloatType(), "f8": DoubleType(),
    "i1": IntegerType(), "i2": IntegerType(), "i4": IntegerType(),
    "i8": LongType(), "u1": IntegerType(), "u2": IntegerType(),
    "u4": LongType(), "b1": BooleanType(),
}


def spark_dtype(np_dtype) -> DataType:
    np_dtype = np.dtype(np_dtype)
    if np_dtype.kind in ("U", "S", "O"):
        return StringType()
    key = np_dtype.kind + str(np_dtype.itemsize)
    if key not in _DTYPE_MAP:
        raise ValueError(f"Unsupported dtype {np_dtype}")
    return _DTYPE_MAP[key]


def _nested_array(elem: DataType, ndim: int) -> DataType:
    t = elem
    for _ in range(ndim):
        t = ArrayType(t)
    return t


def plan_schema(probe_row: dict, metadata_keys: set[str],
                time_varying: set[str] | None = None) -> StructType:
    """One probe row (key -> numpy value) -> StructType.

    `time_varying` entries match by source-name prefix the same way the
    reference matches `k.replace("_mask", "")` against source names.
    """
    time_varying = time_varying or set()
    fields = []
    for k, v in probe_row.items():
        v = np.asarray(v)
        elem = spark_dtype(v.dtype)
        src = k.replace("_mask", "").split("/")[0].split("#")[0]
        if k in metadata_keys:
            t = ArrayType(elem)           # ragged 1-D sequence
            meta = {"kind": "metadata"}
        elif src in time_varying:
            # Sequence of per-timestep tensors: ragged time axis, fixed
            # (H, W, C) element shape from the probe.
            t = _nested_array(elem, min(v.ndim, 3) + 1)
            meta = {"kind": "time_varying",
                    "element_shape": list(v.shape[-3:])}
        elif v.shape:
            t = _nested_array(elem, v.ndim)
            meta = {"kind": "tensor", "shape": list(v.shape)}
        else:
            t = elem
            meta = {"kind": "scalar"}
        fields.append(StructField(k, t, metadata=meta))
    return StructType(fields)
