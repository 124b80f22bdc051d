"""The two tiers of the ANN writes: below ``ann.ANN_DRIVER_MAX_VALUES``
vector values, ``build_ann``, the format builds (PQ, IVF-PQ, graph) and
``incremental_add_vectors`` run each format's kernel in the driver and
write with pyarrow; with the bound patched to 0 the same kernels run on
Spark. Both must commit the same rows with the same types, keep the same
B2 bookkeeping and raise the same errors."""

import dataclasses

import numpy as np
import pandas as pd
import pytest

import cuvs_lucene_spark.operators.ann as A
from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.ann_graph import build_ann_graph
from cuvs_lucene_spark.streaming.ingest import incremental_add_vectors

CFG = IndexConfig(rows_per_segment=30)
N, DIM = 61, 8  # segments of 30 / 30 / 1: the last is below min_ann_index_size (B2)
X = np.round(np.random.default_rng(11).normal(size=(N + 20, DIM)), 1).astype(np.float32)
TABLES = ("ann_flat", "ann_ids", "ann_sq", "ann_bq", "ann_ivf", "ann_pq", "ann_ivfpq",
          "ann_graph")


def _frame(spark, ids, vecs):
    """A LocalRelation of (vec_id, embedding) rows."""
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.asarray(ids, np.int64), "embedding": list(vecs)}),
        "vec_id long, embedding array<float>")


def _write_path(spark, root, cfg):
    """A build, the PQ / IVF-PQ and graph builds and one vector epoch."""
    cat = A.build_ann(spark, _frame(spark, range(N), X[:N]), root, cfg, id_col="vec_id",
                      vector_col="embedding")
    A.build_ann_ivfpq(spark, cat, cfg)  # builds the PQ codebooks first
    build_ann_graph(spark, cat, cfg)
    incremental_add_vectors(spark, cat, _frame(spark, range(1000, 1020), X[N:]), cfg, 0,
                            id_col="vec_id", vector_col="embedding")
    return cat


@pytest.fixture(scope="module", params=["l2", "cosine"])
def tiers(request, spark, tmp_path_factory):
    cfg = dataclasses.replace(CFG, ann=dataclasses.replace(CFG.ann, metric=request.param))
    root = tmp_path_factory.mktemp(f"ann_flush_{request.param}")
    driver = _write_path(spark, str(root / "driver"), cfg)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(A, "ANN_DRIVER_MAX_VALUES", 0)
        spark_tier = _write_path(spark, str(root / "spark"), cfg)
    return driver, spark_tier


def test_tiers_commit_identical_rows_and_types(spark, tiers):
    d, s = tiers
    for table in TABLES:
        rows = [sorted(c.read_arrow(table).to_pylist(), key=repr) for c in (d, s)]
        assert rows[0] == rows[1], table
        assert d.read_arrow(table).schema == s.read_arrow(table).schema, table
        assert d.read(spark, table).schema == s.read(spark, table).schema, table
    stages = [c.read_manifest()["stages"]["ann_ivf"] for c in (d, s)]
    for key in ("bf_fallback_segments", "n_ivf_segments"):
        assert stages[0][key] == stages[1][key], key
    # the B2 segment and its epoch-range counterpart have no IVF lists
    assert stages[0]["bf_fallback_segments"] == [2]
    assert stages[0]["n_ivf_segments"] == 3


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_validation_errors_on_both_tiers(spark, tmp_path, monkeypatch, tier):
    if tier == "spark":
        monkeypatch.setattr(A, "ANN_DRIVER_MAX_VALUES", 0)
    small = dataclasses.replace(CFG, ann=dataclasses.replace(CFG.ann, max_dims=4))
    cases = [
        (_frame(spark, [0, 1], [X[0], X[1][:4]]), CFG, "ragged vector dimensions"),
        (_frame(spark, [0, 1], [X[0], X[1]]), small, "vector dim 8 exceeds max 4"),
        (_frame(spark, [0, 0], [X[0], X[1]]), CFG, r"multiple vectors per doc id"),
    ]
    for i, (df, cfg, msg) in enumerate(cases):
        with pytest.raises(ValueError, match=msg):
            A.build_ann(spark, df, str(tmp_path / f"b{i}"), cfg, id_col="vec_id",
                        vector_col="embedding")
    cat = A.build_ann(spark, _frame(spark, range(4), X[:4]), str(tmp_path / "ok"), CFG,
                      id_col="vec_id", vector_col="embedding")
    with pytest.raises(ValueError, match="multiple vectors per doc id"):
        incremental_add_vectors(spark, cat, _frame(spark, [5, 5], X[:2]), CFG, 0,
                                id_col="vec_id", vector_col="embedding")


def test_null_ids_and_vectors_take_the_spark_path(spark, tmp_path, monkeypatch):
    """A frame with a null id, vector or vector element is left to the
    Spark path (its first step, ``validate_vectors``, is reached); a clean
    one is not."""

    class SparkPath(Exception):
        pass

    def spark_path(*args):
        raise SparkPath

    monkeypatch.setattr(A, "validate_vectors", spark_path)
    schema = "vec_id long, embedding array<float>"
    for rows in ([(0, [1.0, 2.0]), (1, None)], [(0, [1.0, None])], [(None, [1.0, 2.0])]):
        df = spark.createDataFrame(rows, schema)
        with pytest.raises(SparkPath):
            A.build_ann(spark, df, str(tmp_path / "null"), CFG, id_col="vec_id",
                        vector_col="embedding")
    cat = A.build_ann(spark, spark.createDataFrame([(0, [1.0, 2.0])], schema),
                      str(tmp_path / "clean"), CFG, id_col="vec_id", vector_col="embedding")
    assert cat.read_arrow("ann_flat").num_rows == 1
