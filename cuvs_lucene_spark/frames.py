"""Small driver-side DataFrames built from Arrow.

``spark.createDataFrame(pyarrow.Table, schema)`` is a ``LocalRelation``:
Spark scans and collects it with no job. A Python list (or a pandas frame
with the Arrow conf off) costs one job and a worker round trip, which is
most of a query's cost when the frame is an empty result or a handful of
segment ids.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

_TYPES = {"long": (pa.int64(), np.int64), "int": (pa.int32(), np.int32),
          "double": (pa.float64(), np.float64), "string": (pa.string(), object),
          "binary": (pa.binary(), object)}


def _fields(schema: str) -> list[tuple[str, str]]:
    """``"a long, b int"`` → [("a", "long"), ("b", "int")] (flat schemas only)."""
    return [tuple(f.split()) for f in schema.split(",")]


def local_frame(spark: SparkSession, schema: str, *cols) -> DataFrame:
    """A small frame of the given flat schema from column sequences, as a
    ``LocalRelation``. No ``cols`` gives the empty frame."""
    fields = _fields(schema)
    cols = cols or [()] * len(fields)
    return spark.createDataFrame(
        pa.table({n: pa.array(c, _TYPES[t][0]) for (n, t), c in zip(fields, cols)}),
        schema,
    )
