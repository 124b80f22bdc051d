from __future__ import annotations

import contextlib
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("cuvs_lucene_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def docs_df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture()
def index_root(tmp_path):
    return str(tmp_path / "index")


@pytest.fixture()
def spark_tier(monkeypatch):
    """Single ANN searches and BM25 queries take the Spark tier (resident
    budget 0), whose plans and job counts the tests using it pin."""
    import cuvs_lucene_spark.operators.resident as R

    monkeypatch.setattr(R, "RESIDENT_MAX_BYTES", 0)
    monkeypatch.setattr(R, "TEXT_RESIDENT_MAX_BYTES", 0)


@contextlib.contextmanager
def py4j_round_trips():
    """Counts the Py4J commands this thread sends to the JVM inside the
    block (``n[0]`` of the yielded list); py4j's finalizer thread, which
    releases dead JVM references, is not counted."""
    from py4j.clientserver import ClientServerConnection

    n, me, send = [0], threading.get_ident(), ClientServerConnection.send_command

    def counted(self, command):
        n[0] += threading.get_ident() == me
        return send(self, command)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClientServerConnection, "send_command", counted)
        yield n
