"""``frames.local_frame``'s ``LocalResult``: its ``collect()`` answers from
the Arrow table it owns, exactly as Spark's collect of the same rows, and
every derived frame equals the eager ``createDataFrame`` frame's. Tiny
inputs, no index."""

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from cuvs_lucene_spark.frames import _TYPES, head_arrow, local_frame, small_arrow

from tests.conftest import py4j_round_trips

SCHEMA = "l long, i int, d double, s string, b binary"
assert [t for _, t in (f.split() for f in SCHEMA.split(","))] == list(_TYPES)
COLS = (
    [7, -(2**63), 2**63 - 1, None, 0, 1],
    [3, -(2**31), 2**31 - 1, 0, None, -1],
    [float("nan"), float("inf"), float("-inf"), -0.0, None, 1.5],
    ["ascii", "ünïcödé ß", "日本語", "", None, "🙂 tab\t"],
    [b"\x00\xff", b"", None, "é".encode(), b"abc", b"\x80"],
)


def _cells(rows) -> list:
    """Each cell's type and value, floats by ``float.hex`` (NaN, -0.0)."""
    return [[(type(v), v.hex() if isinstance(v, float) else v) for v in r] for r in rows]


def _same_rows(got, want):
    assert _cells(got) == _cells(want)
    assert [list(r.asDict()) for r in got] == [list(r.asDict()) for r in want]


def test_collect_equals_spark_collect(spark):
    """Values, ``type()`` per cell and field names equal Spark's collect
    of the same table, for every ``_TYPES`` type, NaN, ±inf, -0.0, nulls,
    non-ASCII strings, binary (bytes, or bytearray by the session conf)
    and the empty frame. The JVM side is never built, and with no binary
    column (whose type reads the conf) no Py4J call is made."""
    for cols in (COLS, ()):
        lazy = local_frame(spark, SCHEMA, *cols)
        with py4j_round_trips() as n:
            assert lazy.columns == ["l", "i", "d", "s", "b"]
            assert lazy.dtypes == [("l", "bigint"), ("i", "int"), ("d", "double"),
                                   ("s", "string"), ("b", "binary")]
            four = local_frame(spark, SCHEMA.rsplit(",", 1)[0], *cols[:4]).collect()
        assert n[0] == 0
        got = lazy.collect()
        assert lazy._built is None
        assert _cells(four) == _cells(r[:4] for r in got)
        want = spark.createDataFrame(lazy.table, SCHEMA)
        assert lazy.schema == want.schema
        _same_rows(got, want.collect())
        assert len(got) == len(cols and cols[0])
    assert isinstance(got, list)
    key = "spark.sql.execution.pyspark.binaryAsBytes"
    lazy = local_frame(spark, SCHEMA, *COLS)
    try:
        for flag, kind in (("true", bytes), ("false", bytearray)):
            spark.conf.set(key, flag)
            got = lazy.collect()
            _same_rows(got, spark.createDataFrame(lazy.table, SCHEMA).collect())
            assert type(got[0]["b"]) is kind and got[0]["b"] == b"\x00\xff"
    finally:
        spark.conf.unset(key)


def test_derived_frames_equal_the_eager_frames(spark):
    lazy = local_frame(spark, SCHEMA, *COLS)
    eager = spark.createDataFrame(local_frame(spark, SCHEMA, *COLS).table, SCHEMA)
    other = local_frame(spark, "l long, tag string", [1, 7, 8], ["a", "b", "c"])
    for name, derive in {
        "select": lambda df: df.select("s", "l", (F.col("d") * 2).alias("d2")).collect(),
        "filter": lambda df: df.filter(F.col("l") > 0).collect(),
        "join": lambda df: sorted(df.join(other, "l").collect(), key=repr),
        "limit": lambda df: df.limit(2).collect(),
        "self_union": lambda df: df.union(df).collect(),
    }.items():
        _same_rows(derive(lazy), derive(eager))
    assert lazy.count() == eager.count() == len(COLS[0])
    pd.testing.assert_frame_equal(lazy.toPandas(), eager.toPandas())
    assert lazy.isLocal()
    _same_rows(lazy.collect(), eager.collect())


def test_frame_owns_its_rows(spark):
    """A write to the caller's arrays after the build changes neither the
    frame's collect nor its JVM side built later."""
    e, s = np.arange(5, dtype=np.int64), np.linspace(0.0, 1.0, 5)
    df = local_frame(spark, "ext_id long, score double", e, s)
    want = [(int(a), float(b)) for a, b in zip(e, s)]
    e[:], s[:] = -1, 9.0
    assert [tuple(r) for r in df.collect()] == want
    assert [tuple(r) for r in df.select("ext_id", "score").collect()] == want


def test_small_reads_take_the_table_in_hand(spark):
    """``small_arrow`` and ``head_arrow`` over a local frame read its
    table with no Py4J call; over the bound it is None."""
    df = local_frame(spark, "ext_id long", [5, 3, 9])
    with py4j_round_trips() as n:
        assert small_arrow(df, 3).column(0).to_pylist() == [5, 3, 9]
        assert small_arrow(df, 2) is None
        assert head_arrow(df, 2).column(0).to_pylist() == [5, 3]
    assert n[0] == 0
    # a derived frame is a LocalRelation: read by collect, with no job
    assert small_arrow(df.select((F.col("ext_id") + 1).alias("x")), 3).equals(
        pa.table({"x": pa.array([6, 4, 10], pa.int64())}))
