"""The two flush tiers of the write path: below
``segments.DRIVER_FLUSH_MAX_DOCS`` input rows, ``build_index``,
``incremental_add``, ``build_positions`` / ``refresh_positions`` and
``delete_docs`` run in the driver and write with pyarrow; above it (the
bound patched to 0) the Spark flush runs. Both must commit the same rows,
read back through Spark with the same types, raise the same errors and
return the same live counts."""

import pandas as pd
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

import cuvs_lucene_spark.operators.segments as S
import cuvs_lucene_spark.sources.catalog as C
from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.fixtures import generate_documents_pdf
from cuvs_lucene_spark.frames import local_frame
from cuvs_lucene_spark.functions.tokenize import doclen_expr, doclen_py
from cuvs_lucene_spark.operators.deletes import delete_docs
from cuvs_lucene_spark.operators.positions import build_positions, refresh_positions
from cuvs_lucene_spark.sources.catalog import IndexCatalog
from cuvs_lucene_spark.streaming.ingest import incremental_add

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=100, block_size=16, term_buckets=8)
TABLES = ("segdata", "terms_global", "positions", "tombstones")


def _corpus(spark, name):
    if name == "sf0.001":
        return spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pdf = generate_documents_pdf(260, seed=7)
    return spark.createDataFrame(pdf.rename(columns={"ext_id": "doc_id", "content": "text"})[
        ["doc_id", "text"]])


def _write_path(spark, docs, root):
    """Build, positions, one epoch (which appends positions) and two
    deletes; returns (catalog, [live counts])."""
    cat = S.build_index(spark, docs, root, CFG, content_col="text", id_col="doc_id")
    build_positions(spark, cat, docs, CFG)
    epoch = docs.where("doc_id < 60").selectExpr("doc_id + 100000 AS doc_id", "text")
    incremental_add(spark, cat, epoch, CFG, epoch=0, content_col="text", id_col="doc_id")
    live = [delete_docs(spark, cat, local_frame(spark, "ext_id long", [1, 2, 100003, 7 << 40])),
            delete_docs(spark, cat, spark.range(0, 40, 7).selectExpr("id AS ext_id"))]
    return cat, live


@pytest.fixture(scope="module", params=["fixture", "sf0.001"])
def tiers(request, spark, tmp_path_factory):
    """The same write path on both flush tiers over one corpus."""
    docs = _corpus(spark, request.param)
    root = tmp_path_factory.mktemp(f"flush_{request.param}")
    driver = _write_path(spark, docs, str(root / "driver"))
    mp = pytest.MonkeyPatch()
    mp.setattr(S, "DRIVER_FLUSH_MAX_DOCS", 0)
    try:
        spark_tier = _write_path(spark, docs, str(root / "spark"))
    finally:
        mp.undo()
    return driver, spark_tier


def _rows(spark, cat, table):
    return sorted(cat.read(spark, table).collect(), key=repr)


def test_driver_equivalents_match_spark_expressions(spark):
    """``sha256_py`` / ``doclen_py`` equal the Spark flush's ``F.sha2``
    and ``doclen_expr`` value for value, null staying null."""
    texts = ["", "Hello, World!", "snake_case x86_64 ÀÉÎ", "İstanbul KELVINK",
             "emoji 🙂 tabs\tand\nnewlines", "  UPPER lower 123 ", None, "ﬁne straße ΣΑΣ"]
    pdf = pd.DataFrame({"t": texts})
    got = spark.createDataFrame(pdf, "t string").select(
        F.sha2("t", 256).alias("sha"), doclen_expr("t").cast("int").alias("dl")
    ).collect()
    assert S.sha256_py(pdf["t"]) == [r["sha"] for r in got]
    assert [None if pd.isna(v) else int(v) for v in doclen_py(pdf["t"])] == [r["dl"] for r in got]


def test_flush_tiers_commit_identical_rows(spark, tiers):
    (d, d_live), (s, s_live) = tiers
    assert d_live == s_live
    for table in TABLES:
        assert _rows(spark, d, table) == _rows(spark, s, table), table
    md, ms = d.read_manifest(), s.read_manifest()
    for key in ("lineage", "corpus_stats"):
        assert md["stages"]["finalize"][key] == ms["stages"]["finalize"][key]
    assert md["tables"]["tombstones"]["lineage"] == ms["tables"]["tombstones"]["lineage"]
    assert {t: e.get("view") for t, e in md["tables"].items()} == {
        t: e.get("view") for t, e in ms["tables"].items()}


def test_flush_tiers_read_back_with_the_same_types(spark, tiers):
    """Spark reads the pyarrow files as it reads its own: int32 stays int,
    int64 long, binary binary, every field nullable."""
    (d, _), (s, _) = tiers
    for table in TABLES + ("doc_map", "postings", "norms", "terms", "segment_stats"):
        sd, ss = d.read(spark, table).schema, s.read(spark, table).schema
        assert sd == ss, table
        assert all(f.nullable for f in sd.fields), table
    types = dict((f.name, f.dataType.simpleString()) for f in d.read(spark, "segdata").schema)
    assert types["n"] == "int" and types["sum_tf"] == "bigint" and types["tfs"] == "binary"


def test_read_arrow_equals_spark_read(spark, tiers):
    """``IndexCatalog.read_arrow`` of a stored table, filtered to a view's
    kind, holds the view's rows; a view name is not resolved."""
    (d, _), (s, _) = tiers
    doc = pc.field("kind") == "doc"
    for cat in (d, s):
        for table, view, cols, where in (
                ("segdata", "doc_map", ["segment_id", "ext_id", "dl"], doc),
                ("tombstones", "tombstones", None, None)):
            got = cat.read_arrow(table, cols, where=where).to_pylist()
            want = [r.asDict() for r in cat.read(spark, view).select(*(cols or ["*"])).collect()]
            assert sorted(got, key=repr) == sorted(want, key=repr), view
    with pytest.raises(FileNotFoundError, match="doc_map"):
        d.read_arrow("doc_map")


@pytest.mark.parametrize("flush", ["driver", "spark"])
def test_positions_coverage_error_on_both_tiers(spark, tmp_path, monkeypatch, flush):
    if flush == "spark":
        monkeypatch.setattr(S, "DRIVER_FLUSH_MAX_DOCS", 0)
    docs = _corpus(spark, "sf0.001").where("doc_id < 200")
    cat = S.build_index(spark, docs, str(tmp_path / "idx"), CFG, content_col="text",
                        id_col="doc_id")
    msg = r"positions build: segment 1 has \d+ source docs for 100 indexed docs"
    with pytest.raises(ValueError, match=msg):
        build_positions(spark, cat, docs.where("doc_id != 150"), CFG)
    with pytest.raises(ValueError, match=msg):
        build_positions(spark, cat, docs.unionByName(docs.where("doc_id = 150")), CFG)
    assert not cat.exists("positions")
    assert refresh_positions(spark, cat, docs, CFG) == 2
    assert refresh_positions(spark, cat, docs, CFG) == 0


def _count_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_flush_runs_no_job_beyond_the_input_read(spark, tmp_path):
    """Below the bound, a build, a positions build, an epoch and a delete
    run no Spark job beyond reading the caller's frame: none for a
    LocalRelation, one head read for a parquet scan."""
    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    local = spark.createDataFrame(pdf[pdf.doc_id < 300])
    assert local._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == \
        "LocalRelation"
    epoch = spark.createDataFrame(pdf[pdf.doc_id >= 300].assign(doc_id=lambda p: p.doc_id + 10**5))
    root = str(tmp_path / "idx")
    holder = {}
    jobs = {
        "build": _count_jobs(spark, "flush_build", lambda: holder.setdefault(
            "cat", S.build_index(spark, local, root, CFG, content_col="text", id_col="doc_id"))),
    }
    cat = holder["cat"]
    jobs["positions"] = _count_jobs(spark, "flush_pos", lambda: build_positions(
        spark, cat, local, CFG))
    jobs["epoch"] = _count_jobs(spark, "flush_epoch", lambda: incremental_add(
        spark, cat, epoch, CFG, epoch=0, content_col="text", id_col="doc_id"))
    jobs["delete"] = _count_jobs(spark, "flush_delete", lambda: delete_docs(
        spark, cat, local_frame(spark, "ext_id long", [3, 4, 100300])))
    scan = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    jobs["build_from_scan"] = _count_jobs(spark, "flush_scan", lambda: S.build_index(
        spark, scan, str(tmp_path / "scan"), CFG, content_col="text", id_col="doc_id"))
    assert jobs == {"build": 0, "positions": 0, "epoch": 0, "delete": 0, "build_from_scan": 1}
    assert cat.read(spark, "doc_map").count() == 500
    assert cat.read_manifest()["tables"]["tombstones"]["lineage"] == {"n": 3}


def test_crash_before_the_manifest_swap_leaves_nothing_visible(spark, tmp_path, monkeypatch):
    """A failure after the pyarrow write but before the manifest swap
    leaves the build, the epoch and the delete invisible; ``resume=True``
    then completes the build, a redelivered epoch and a retried delete
    commit."""
    docs = _corpus(spark, "sf0.001")
    real = C._put_arrow
    fail = set()

    def crashing(at, out, sort_by):
        real(at, out, sort_by)
        if any(f"/{t}/" in out for t in fail):
            raise RuntimeError("simulated crash after the parquet write")

    monkeypatch.setattr(C, "_put_arrow", crashing)
    root = str(tmp_path / "idx")
    fail.add("segdata")
    with pytest.raises(RuntimeError, match="simulated crash"):
        S.build_index(spark, docs, root, CFG, content_col="text", id_col="doc_id")
    cat = IndexCatalog(root)
    assert not cat.exists("segdata") and not cat.exists("doc_map")
    assert "segdata" not in cat.read_manifest()["stages"]
    fail.clear()
    cat = S.build_index(spark, docs, root, CFG, content_col="text", id_col="doc_id",
                        resume=True)
    clean = S.build_index(spark, docs, str(tmp_path / "clean"), CFG, content_col="text",
                          id_col="doc_id")
    for table in ("segdata", "terms_global"):
        assert _rows(spark, cat, table) == _rows(spark, clean, table)

    epoch = docs.where("doc_id < 30").selectExpr("doc_id + 100000 AS doc_id", "text")
    before = _rows(spark, cat, "segdata")
    fail.add("segdata")
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_add(spark, cat, epoch, CFG, epoch=0, content_col="text", id_col="doc_id")
    assert _rows(spark, cat, "segdata") == before
    fail.clear()
    incremental_add(spark, cat, epoch, CFG, epoch=0, content_col="text", id_col="doc_id")
    assert cat.read(spark, "doc_map").count() == 530

    delete_docs(spark, cat, local_frame(spark, "ext_id long", [5]))
    fail.add("tombstones")
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_docs(spark, cat, local_frame(spark, "ext_id long", [6, 7]))
    assert [r[0] for r in cat.read(spark, "tombstones").collect()] == [5]
    fail.clear()
    assert delete_docs(spark, cat, local_frame(spark, "ext_id long", [6, 7])) == 527


def test_index_bound_sends_deletes_and_refreshes_to_spark(spark, tmp_path, monkeypatch):
    """Over ``DRIVER_FLUSH_MAX_INDEX_BYTES`` a small delete and a positions
    refresh run on Spark (their driver work grows with the index) with the
    same results; an epoch still flushes in the driver, and its coverage
    check reads no sidecar row outside its own segment range."""
    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    local = spark.createDataFrame(pdf[pdf.doc_id < 300])
    cat = S.build_index(spark, local, str(tmp_path / "idx"), CFG, content_col="text",
                        id_col="doc_id")
    build_positions(spark, cat, local, CFG)
    assert S.driver_index(cat)
    monkeypatch.setattr(S, "DRIVER_FLUSH_MAX_INDEX_BYTES", 0)
    assert not S.driver_index(cat)
    reads = []
    real = IndexCatalog.read_arrow

    def spy(self, table, columns=None, where=None):
        out = real(self, table, columns, where)
        reads.append((table, out.num_rows))
        return out

    monkeypatch.setattr(IndexCatalog, "read_arrow", spy)
    epoch = spark.createDataFrame(pdf[pdf.doc_id >= 300].assign(doc_id=lambda p: p.doc_id + 10**5))
    jobs = {"epoch": _count_jobs(spark, "bound_epoch", lambda: incremental_add(
        spark, cat, epoch, CFG, epoch=0, content_col="text", id_col="doc_id"))}
    assert reads == [("positions", 0)]
    live = []
    jobs["delete"] = _count_jobs(spark, "bound_delete", lambda: live.append(delete_docs(
        spark, cat, local_frame(spark, "ext_id long", [3, 4, 100300]))))
    jobs["refresh"] = _count_jobs(spark, "bound_refresh", lambda: live.append(
        refresh_positions(spark, cat, local, CFG)))
    assert reads == [("positions", 0)]
    assert jobs["epoch"] == 0 and jobs["delete"] > 0 and jobs["refresh"] > 0
    assert live == [497, 0]
    assert cat.read_manifest()["tables"]["tombstones"]["lineage"] == {"n": 3}
