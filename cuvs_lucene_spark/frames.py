"""Small driver-side DataFrames built from Arrow.

``spark.createDataFrame(pyarrow.Table, schema)`` is a ``LocalRelation``:
Spark scans and collects it with no job. A Python list (or a pandas frame
with the Arrow conf off) costs one job and a worker round trip, which is
most of a query's cost when the frame is an empty result or a handful of
segment ids.

:func:`reads_head` tells, from the plan alone, whether a ``limit`` over a
caller's frame reads only its first rows.
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


# the logical operators a limit reads a head through: scans and row-wise
# operators, none of which needs its whole input before it emits a row
_ROW_WISE = frozenset({
    "LocalRelation", "LogicalRDD", "LogicalRelation", "DataSourceV2ScanRelation",
    "InMemoryRelation", "Range", "OneRowRelation", "Project", "Filter", "Union",
    "Sample", "Generate", "LocalLimit", "GlobalLimit", "BatchEvalPython",
    "ArrowEvalPython", "MapInPandas", "MapInArrow",
})


def _seq(s) -> list:
    """A Scala ``Seq`` (through Py4J) as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def reads_head(df: DataFrame) -> bool:
    """Whether ``df.limit(n)`` reads only a head of ``df``: its optimized
    plan is row-wise operators over scans, with no subquery and no shuffle
    in an RDD scan's lineage. Over an aggregate, join, sort or shuffle the
    limit would first run that over the whole frame, and a later read of
    all of it would run it again (a cached frame is read once either way).
    Inspects the plan only: no job."""
    plans = [df._jdf.queryExecution().optimizedPlan()]
    rdds = []
    while plans:
        p = plans.pop()
        name = p.getClass().getSimpleName()
        if name not in _ROW_WISE or p.subqueries().nonEmpty():
            return False
        plans += _seq(p.children())
        if name == "LogicalRDD":
            rdds.append(p.rdd())
    while rdds:
        for dep in _seq(rdds.pop().dependencies()):
            if dep.getClass().getSimpleName() == "ShuffleDependency":
                return False
            rdds.append(dep.rdd())
    return True
