"""Small driver-side DataFrames built from Arrow.

``spark.createDataFrame(pyarrow.Table, schema)`` is a ``LocalRelation``:
Spark scans and collects it with no job. A Python list (or a pandas frame
with the Arrow conf off) costs one job and a worker round trip, which is
most of a query's cost when the frame is an empty result or a handful of
segment ids.

:func:`reads_head` tells, from the plan alone, whether a ``limit`` over a
caller's frame reads only its first rows; :func:`small_arrow` reads a
caller's frame into the driver when it holds at most a bound of rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

_TYPES = {"long": (pa.int64(), np.int64), "int": (pa.int32(), np.int32),
          "double": (pa.float64(), np.float64), "string": (pa.string(), object),
          "binary": (pa.binary(), object)}


def _fields(schema: str) -> list[tuple[str, str]]:
    """``"a long, b int"`` → [("a", "long"), ("b", "int")] (flat schemas only)."""
    return [tuple(f.split()) for f in schema.split(",")]


def arrow_schema(schema: str) -> pa.Schema:
    """The Arrow schema of a flat DDL schema string, every field nullable
    (as Spark writes and reads it)."""
    return pa.schema([(n, _TYPES[t][0]) for n, t in _fields(schema)])


def local_frame(spark: SparkSession, schema: str, *cols) -> DataFrame:
    """A small frame of the given flat schema from column sequences, as a
    ``LocalRelation``. No ``cols`` gives the empty frame."""
    fields = _fields(schema)
    cols = cols or [()] * len(fields)
    return spark.createDataFrame(
        pa.table({n: pa.array(c, _TYPES[t][0]) for (n, t), c in zip(fields, cols)}),
        schema,
    )


def small_arrow(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df``'s rows as one Arrow table when it holds at most ``max_rows``
    rows, else None (the caller's Spark path reads it then). Reads:

    - none when the optimized plan knows its row count (a
      ``LocalRelation``, a materialized cache) and it is over the bound;
    - a ``LocalRelation``'s rows through ``collect()``: no job;
    - else one head read, ``limit(max_rows + 1).toArrow()``, and only over
      a plan :func:`reads_head` accepts (None otherwise: the head read
      would run the plan in full, and the Spark path again)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    rows = plan.stats().rowCount()
    if rows.isDefined() and int(str(rows.get())) > max_rows:
        return None
    if plan.getClass().getSimpleName() == "LocalRelation":
        got = df.limit(max_rows + 1).collect()
        if len(got) > max_rows:
            return None
        schema = to_arrow_schema(df.schema)
        return pa.table([pa.array([r[i] for r in got], f.type) for i, f in enumerate(schema)],
                        schema=schema)
    if not reads_head(df):
        return None
    head = df.limit(max_rows + 1).toArrow()
    return head if head.num_rows <= max_rows else None


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
