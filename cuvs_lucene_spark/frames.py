"""Small driver-side DataFrames built from Arrow.

Every small frame the engine builds in the driver (a resident query's
result, an empty result, a handful of segment ids) comes from
:func:`local_frame` as a :class:`LocalResult`: a DataFrame that owns its
rows as one ``pyarrow.Table`` and builds its JVM side only when it is
first needed. Until then it makes no Py4J call:

- ``collect()`` answers from the table, with the field names and Python
  types Spark's collect gives (``long``/``int`` → int, ``double`` →
  float, ``string`` → str, ``binary`` → bytes (bytearray with
  ``spark.sql.execution.pyspark.binaryAsBytes`` off, read only for a
  frame with a binary column), null → None);
- ``schema``, ``columns`` and ``dtypes`` read a ``StructType`` parsed
  once per schema string;
- :func:`small_arrow` and :func:`head_arrow` take the table in hand.

Anything else (``select``, ``join``, ``filter``, ``limit``, ``count``,
``write``, ``explain``, ``toPandas``, ``isLocal``, plan inspection)
forces the JVM side: ``spark.createDataFrame(table, struct)``, a
``LocalRelation`` that Spark scans and collects with no job, built once
per frame, so every derived plan is the one an eager frame gives. (A
Python list, or a pandas frame with the Arrow conf off, costs one job and
a worker round trip.)

:func:`reads_head` tells, from the plan alone, whether a ``limit`` over a
caller's frame reads only its first rows; :func:`small_arrow` reads a
caller's frame into the driver when it holds at most a bound of rows.

A driver tier that takes a keyed frame (one row per id: the dedup and
text-statistics stages) reads its columns with :func:`small_keyed`,
returns its rows with :func:`arrow_frame` and rounds as Spark's
``round`` does with :func:`round_half_up`.

Every per-segment writer (the text flush, positions, the ANN flat rows
and formats) runs its pandas kernel through :func:`run_kernel`, which
picks the transport from its inputs: pandas frames run the kernel in the
driver and give an Arrow table, Spark DataFrames give the Spark plan that
runs it on the executors. ``IndexCatalog.write`` / ``append`` take
either.
"""

from __future__ import annotations

import decimal
import functools
from typing import Callable
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

# DDL type → (Arrow type, numpy dtype, Spark type)
_TYPES = {"long": (pa.int64(), np.int64, LongType()),
          "int": (pa.int32(), np.int32, IntegerType()),
          "double": (pa.float64(), np.float64, DoubleType()),
          "string": (pa.string(), object, StringType()),
          "binary": (pa.binary(), object, BinaryType())}


def _fields(schema: str) -> list[tuple[str, str]]:
    """``"a long, b int"`` → [("a", "long"), ("b", "int")] (flat schemas only)."""
    return [tuple(f.split()) for f in schema.split(",")]


@functools.cache
def arrow_schema(schema: str) -> pa.Schema:
    """The Arrow schema of a flat DDL schema string, every field nullable
    (as Spark writes and reads it)."""
    return pa.schema([(n, _TYPES[t][0]) for n, t in _fields(schema)])


@functools.cache
def _struct(schema: str) -> StructType:
    """The ``StructType`` Spark parses a flat DDL schema string to, built
    in Python (no JVM parse) once per string."""
    return StructType([StructField(n, _TYPES[t][2], True) for n, t in _fields(schema)])


_BINARY_AS_BYTES = "spark.sql.execution.pyspark.binaryAsBytes"


def _frame(parts, schema: str) -> pd.DataFrame:
    """Concatenate a kernel's output frames (typed and empty when none)."""
    parts = list(parts)
    if parts:
        return pd.concat(parts, ignore_index=True)
    return pd.DataFrame({n: np.empty(0, _TYPES[t][1]) for n, t in _fields(schema)})


def _rows(rows: list, schema: str) -> pd.DataFrame:
    """A kernel's output rows (tuples, or dicts keyed by column) as one
    frame of ``schema``'s columns, typed and empty when there are none."""
    cols = [n for n, _ in _fields(schema)]
    return _frame([pd.DataFrame(rows, columns=cols)] if rows else [], schema)


def _arrow(pdf: pd.DataFrame, schema: str) -> pa.Table:
    """A driver-built frame as an Arrow table of ``schema`` (every field
    nullable, as Spark writes it)."""
    return pa.Table.from_pandas(pdf, arrow_schema(schema), preserve_index=False)


def run_kernel(kernel: Callable[..., pd.DataFrame], schema: str, *inputs,
               by: str | None = None):
    """``kernel``'s rows of the flat DDL ``schema`` over ``inputs``, on the
    transport they come on (a grouped-map UDF's function is the same
    function on local pandas):

    - pandas frames run it in the driver and give one Arrow table:
      ``kernel(*inputs)`` once, or with ``by`` once per key of the inputs'
      union, ascending, on each input's rows of that key (an empty frame
      where an input has none);
    - Spark DataFrames give the plan that runs it on the executors: a
      ``mapInPandas`` calling it per Arrow batch when ``by`` is None, else
      a ``groupBy(by).applyInPandas``, or for two inputs their cogroup by
      ``by``."""
    if isinstance(inputs[0], DataFrame):
        if by is None:
            return inputs[0].mapInPandas(lambda it: map(kernel, it), schema)
        if len(inputs) == 1:
            return inputs[0].groupBy(by).applyInPandas(lambda pdf: kernel(pdf), schema)
        left, right = (d.groupby(by) for d in inputs)
        return left.cogroup(right).applyInPandas(lambda _, a, b: kernel(a, b), schema)
    if by is None:
        parts = [kernel(*inputs)]
    else:
        groups = [dict(list(p.groupby(by, sort=True))) for p in inputs]
        keys = sorted(set().union(*groups))
        parts = [kernel(*(g[k] if k in g else p.iloc[:0] for g, p in zip(groups, inputs)))
                 for k in keys]
    return pa.concat_tables([arrow_schema(schema).empty_table()]
                            + [_arrow(part, schema) for part in parts])


class LocalResult(ClassicDataFrame):
    """A DataFrame over rows the driver holds: ``table`` is the result,
    the JVM ``LocalRelation`` is built at the first use that needs it
    (see the module docstring)."""

    def __new__(cls, *args, **kwargs):
        # DataFrame.__new__ runs __init__ with a built JVM frame
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table, schema: StructType):
        # the fields DataFrame.__init__ sets, less _jdf (the property below)
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self.table = table
        # DataFrame.schema is a cached_property: pre-set, it is never read
        # from the JVM; a copy, as the cached one is shared
        self.__dict__["schema"] = StructType(list(schema.fields))
        self._built = None

    @property
    def _jdf(self):
        if self._built is None:
            self._built = self._session.createDataFrame(self.table, self.schema)._jdf
        return self._built

    def collect(self) -> list[Row]:
        """The rows from the table, as Spark's collect returns them."""
        cols = [c.to_pylist() for c in self.table.columns]
        binary = [i for i, f in enumerate(self.table.schema) if pa.types.is_binary(f.type)]
        # Spark's collect gives binary as bytes, or bytearray with this conf off
        if binary and self._session.conf.get(_BINARY_AS_BYTES, "true") != "true":
            for i in binary:
                cols[i] = [None if v is None else bytearray(v) for v in cols[i]]
        row = Row(*self.table.column_names)
        return [row(*v) for v in zip(*cols)]


def _owned(c):
    """A column sequence ``pa.array`` will not wrap zero-copy: a numpy
    array (or anything exposing one) is copied, so a later write to the
    caller's buffer never reaches a frame's rows."""
    return np.array(c, copy=True) if hasattr(c, "__array__") else c


def local_frame(spark: SparkSession, schema: str, *cols) -> DataFrame:
    """A small frame of the given flat schema from column sequences, as a
    :class:`LocalResult`. No ``cols`` gives the empty frame."""
    at = arrow_schema(schema)
    cols = cols or [()] * len(at)
    table = pa.Table.from_arrays([pa.array(_owned(c), f.type) for f, c in zip(at, cols)],
                                 schema=at)
    return LocalResult(spark, table, _struct(schema))


def arrow_frame(spark: SparkSession, table: pa.Table) -> LocalResult:
    """A :class:`LocalResult` over ``table``, its Spark schema read from
    the Arrow one (every field nullable)."""
    return LocalResult(spark, table, from_arrow_schema(table.schema))


def head_arrow(df: DataFrame, n: int) -> pa.Table:
    """At most the first ``n`` rows of ``df`` as one Arrow table: a
    :class:`LocalResult`'s own table (no JVM call), a ``LocalRelation``'s
    rows through ``collect()`` (no job), else one ``limit(n).toArrow()``
    read (one job)."""
    if isinstance(df, LocalResult):
        return df.table.slice(0, n)
    if _jclass(df._jdf.queryExecution().optimizedPlan()) == "LocalRelation":
        got = df.limit(n).collect()
        schema = to_arrow_schema(df.schema)
        return pa.table([pa.array([r[i] for r in got], f.type) for i, f in enumerate(schema)],
                        schema=schema)
    return df.limit(n).toArrow()


def small_arrow(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df``'s rows as one Arrow table when it holds at most ``max_rows``
    rows, else None (the caller's Spark path reads it then). Reads
    (:func:`head_arrow`):

    - a :class:`LocalResult`'s table: no JVM call;
    - none when the row count is known and over the bound: the optimized
      plan knows it (a ``LocalRelation``, a materialized cache), or the
      frame is a bare parquet scan and its files' footers give it;
    - a ``LocalRelation``'s rows through ``collect()``: no job;
    - else one head read, ``limit(max_rows + 1).toArrow()``, and only over
      a plan :func:`reads_head` accepts (None otherwise: the head read
      would run the plan in full, and the Spark path again)."""
    if not isinstance(df, LocalResult):
        plan = df._jdf.queryExecution().optimizedPlan()
        rows = plan.stats().rowCount()
        if (int(str(rows.get())) > max_rows if rows.isDefined()
                else _parquet_over(df, plan, max_rows)):
            return None
        if not reads_head(df):
            return None
    head = head_arrow(df, max_rows + 1)
    return head if head.num_rows <= max_rows else None


def small_columns(df: DataFrame, cols: list[str], max_rows: int) -> pa.Table | None:
    """``df``'s ``cols`` as one Arrow table when it holds at most
    ``max_rows`` rows, else None: a :class:`LocalResult`'s own columns (no
    JVM call), else :func:`small_arrow` over ``df.select(*cols)``."""
    if isinstance(df, LocalResult):
        t = df.table
        ok = t.num_rows <= max_rows and set(cols) <= set(t.column_names)
        return t.select(cols) if ok else None
    return small_arrow(df.select(*cols), max_rows)


def small_keyed(df: DataFrame, id_col: str | None, cols: list[str], max_rows: int,
                nullable: tuple = ()) -> tuple | None:
    """``df``'s ``id_col`` and string ``cols`` in the driver when a keyed
    driver tier takes them (:func:`small_columns`): at most ``max_rows``
    rows, ``long`` ids none null or repeated (no id column read when
    ``id_col`` is None), and no null in a column outside ``nullable``.
    Returns ``(ids, *texts)`` (``texts`` alone with no id column) as an
    int64 array and pandas Series, or None: the caller's Spark plan keeps
    its own handling of other inputs."""
    keyed = [id_col] if id_col is not None else []
    at = small_columns(df, keyed + list(cols), max_rows)
    if at is None:
        return None
    ids = at.columns[:len(keyed)]
    if any(not pa.types.is_int64(c.type) or c.null_count
           or pc.count_distinct(c).as_py() != len(c) for c in ids):
        return None
    texts = at.columns[len(keyed):]
    if any(not (pa.types.is_string(c.type) or pa.types.is_large_string(c.type))
           or (c.null_count and name not in nullable) for name, c in zip(cols, texts)):
        return None
    return (*(c.to_numpy() for c in ids), *(c.to_pandas() for c in texts))


_HALF_UP = decimal.Context(prec=400, rounding=decimal.ROUND_HALF_UP)


def round_half_up(x, scale: int) -> np.ndarray:
    """Spark's ``round(x, scale)`` of doubles, in numpy. Spark rounds
    ``BigDecimal.valueOf(x)`` HALF_UP: the decimal ``x`` prints as, so
    0.0078125 → 0.007813 where numpy's half-even on the binary value gives
    0.007812, and a result rounding to zero is +0.0. The products that fall
    near a half (or past the range where ``x · 10^scale`` keeps its
    fraction) are decided on that decimal string; NaN and ±inf pass
    through."""
    x = np.asarray(x, np.float64)
    finite = np.isfinite(x)
    with np.errstate(over="ignore", invalid="ignore"):
        y = np.abs(np.where(finite, x, 0.0)) * 10.0 ** scale
        r = np.floor(y + 0.5)
        out = np.where(finite, np.where(x < 0, -r, r) / 10.0 ** scale + 0.0, x)
        slow = finite & ((np.abs(y - np.floor(y) - 0.5) <= 1e-6) | ~(y < 2.0 ** 26))
    q = decimal.Decimal(1).scaleb(-scale)
    for i in np.flatnonzero(slow):
        out[i] = float(_HALF_UP.quantize(decimal.Decimal(repr(float(x[i]))), q)) + 0.0
    return out


def _jclass(obj) -> str:
    """A JVM object's simple class name."""
    return obj.getClass().getSimpleName()


def _parquet_over(df: DataFrame, plan, max_rows: int) -> bool:
    """Whether ``df`` is a bare scan of local parquet files (the optimized
    plan a ``LogicalRelation``, at most under a ``Project``: no filter)
    whose footers hold more than ``max_rows`` rows. Reads footers until
    the sum passes the bound: no job."""
    if _jclass(plan) == "Project":
        plan = plan.child()
    if _jclass(plan) != "LogicalRelation":
        return False
    rel = plan.relation()
    if (_jclass(rel) != "HadoopFsRelation"
            or _jclass(rel.fileFormat()) != "ParquetFileFormat"):
        return False
    uris = [urlparse(f) for f in df.inputFiles()]
    if any(u.scheme != "file" for u in uris):
        return False
    rows = 0
    for u in uris:
        rows += pq.read_metadata(unquote(u.path)).num_rows
        if rows > max_rows:
            return True
    return False


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
