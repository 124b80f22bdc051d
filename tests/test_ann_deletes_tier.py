"""Round-5 delete surface:

- DataFrame-native ``delete_ann`` with the blob tombstone tier: above
  ``FILTER_BROADCAST_MAX`` registered deletes, NO driver-side id array is
  ever built (poisoned array tier) and every search format still excludes
  the deleted ids — the per-segment liveDocs model
  (``TestCuVSDeletedDocuments.java:83``) at mass-delete scale.
- Absolute tombstone-count merge trigger (a fraction is not a size), read
  from the catalog's PERSISTED config, not the deleting caller's cfg.
- merge_ann refuses overlapping groups (lineage corruption guard).
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

import cuvs_lucene_spark.operators.ann as A
from cuvs_lucene_spark.config import IndexConfig

CFG = IndexConfig(rows_per_segment=100, block_size=16, term_buckets=8)


def _vec(i: int) -> list[float]:
    return [float(i % 13), float(i % 7), float(i % 5), 1.0] * 2


def _build(spark, root, n=120, rps=40, metric="l2", cfg=CFG):
    df = spark.createDataFrame(
        [(i, _vec(i)) for i in range(n)], "vec_id long, embedding array<float>"
    )
    ccfg = dataclasses.replace(cfg, ann=dataclasses.replace(cfg.ann, metric=metric))
    return A.build_ann(
        spark, df, root, ccfg, id_col="vec_id", vector_col="embedding",
        rows_per_segment=rps,
    ), df


def test_dataframe_delete_blob_tier_no_driver_array(spark, tmp_path, monkeypatch):
    """Mass delete > FILTER_BROADCAST_MAX via a DataFrame: the tombstone
    set must resolve through per-segment blobs on EVERY search path —
    poison the closure-array tier and compare against the array-tier
    results captured first."""
    cat, df = _build(spark, str(tmp_path / "massdel"))
    A.build_ann_pq(spark, cat, CFG)
    A.build_ann_ivfpq(spark, cat, CFG)
    from cuvs_lucene_spark.operators.ann_graph import ann_topk_graph, build_ann_graph

    build_ann_graph(spark, cat, CFG)

    # delete every third id, registered as a DataFrame (no driver set)
    dels = df.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    n_del = dels.count()
    n = A.delete_ann(spark, cat, dels, CFG, auto_merge=False)
    assert n == n_del

    q = _vec(1)
    searches = {
        "exact": lambda: A.ann_topk(spark, cat, q, k=8, cfg=CFG, mode="exact"),
        "ivf": lambda: A.ann_topk(spark, cat, q, k=8, cfg=CFG, mode="ivf"),
        "sq": lambda: A.ann_topk_sq(spark, cat, q, k=8, cfg=CFG),
        "pq": lambda: A.ann_topk_pq(spark, cat, q, k=8, cfg=CFG),
        "bq": lambda: A.ann_topk_bq(spark, cat, q, k=8, cfg=CFG),
        "ivfpq": lambda: A.ann_topk_ivfpq(spark, cat, q, k=8, cfg=CFG),
        "graph": lambda: ann_topk_graph(spark, cat, q, k=8, cfg=CFG),
    }
    want = {name: fn().collect() for name, fn in searches.items()}
    for name, rows in want.items():
        assert rows, name
        assert all(r[0] % 3 != 0 for r in rows), (name, rows)

    # force the blob tier (count now exceeds the patched threshold) and
    # poison the closure-array tier — it must never be consulted
    monkeypatch.setattr(A, "FILTER_BROADCAST_MAX", 5)
    monkeypatch.setattr(
        A, "_tombstone_array",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("driver tombstone array built on the blob tier")
        ),
    )
    for name, fn in searches.items():
        got = fn().collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want[name]], name

    # the bucketed kNN join honors blob-tier tombstones too
    qdf = df.filter(F.col("vec_id").isin([1, 2])).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    join_rows = A.knn_join_ivf(spark, cat, qdf, k=3).collect()
    assert join_rows and all(r["vec_id"] % 3 != 0 for r in join_rows)


def test_merge_ann_drops_blob_tier_tombstones(spark, tmp_path, monkeypatch):
    """merge_ann applies tombstones from the BLOB tier (no closure array):
    merged segments physically drop the deleted rows."""
    cat, df = _build(spark, str(tmp_path / "mergedel"))
    A.delete_ann(
        spark, cat,
        df.filter(F.col("vec_id") % 2 == 0).select("vec_id"),
        CFG, auto_merge=False,
    )
    monkeypatch.setattr(A, "FILTER_BROADCAST_MAX", 5)
    monkeypatch.setattr(
        A, "_tombstone_array",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("driver tombstone array built on the blob tier")
        ),
    )
    A.merge_ann(spark, cat, CFG)
    live = sorted(
        r["ext_id"]
        for r in cat.read(spark, "ann_ids").select("ext_id").collect()
    )
    assert live == [i for i in range(120) if i % 2 == 1]
    # physical drop cleared the registered tombstones
    assert cat.table_lineage("ann_tombstones").get("n") == 0


def test_absolute_delete_trigger_from_persisted_config(spark, tmp_path):
    """delete_ann's envelope reads delete_merge_max_count from the
    catalog's persisted config: a delete issued with a DEFAULT cfg still
    auto-merges once the absolute cap (persisted at build) is crossed."""
    tight = dataclasses.replace(
        CFG,
        ann=dataclasses.replace(
            CFG.ann, delete_merge_fraction=1.0, delete_merge_max_count=5
        ),
    )
    cat, df = _build(spark, str(tmp_path / "abstrig"), cfg=tight)
    assert cat.read_manifest()["config"]["delete_merge_max_count"] == 5
    # 6 deletes ≥ the persisted cap of 5 (fraction 1.0 can never fire) —
    # the caller passes a default cfg whose cap is 2M; persisted wins
    remaining = A.delete_ann(spark, cat, list(range(0, 12, 2)), IndexConfig())
    assert remaining == 0  # auto-merge dropped the rows + cleared tombstones
    got = {r["ext_id"] for r in A.ann_topk(
        spark, cat, _vec(1), k=120, cfg=CFG, mode="exact").collect()}
    assert got == {i for i in range(120) if not (i < 12 and i % 2 == 0)}


def test_epoch_records_the_delete_trigger(spark, tmp_path):
    """A vector epoch on a fresh root records the ANN config build_ann
    records, merge-pressure knobs included, so a delete called with a
    DEFAULT cfg auto-merges once the epoch's absolute cap is crossed."""
    from cuvs_lucene_spark.sources.catalog import IndexCatalog
    from cuvs_lucene_spark.streaming.ingest import incremental_add_vectors

    tight = dataclasses.replace(
        CFG, rows_per_segment=40,
        ann=dataclasses.replace(CFG.ann, delete_merge_fraction=1.0, delete_merge_max_count=5),
    )
    df = spark.createDataFrame(
        [(i, _vec(i)) for i in range(120)], "vec_id long, embedding array<float>"
    )
    cat = IndexCatalog(str(tmp_path / "epochtrig"))
    incremental_add_vectors(spark, cat, df, tight, 0, id_col="vec_id", vector_col="embedding")
    built = A.build_ann(spark, df, str(tmp_path / "built"), tight, id_col="vec_id",
                        vector_col="embedding")
    assert cat.read_manifest()["config"] == built.read_manifest()["config"]
    assert A.delete_ann(spark, cat, list(range(0, 12, 2)), IndexConfig()) == 0
    got = {r["ext_id"] for r in A.ann_topk(
        spark, cat, _vec(1), k=120, cfg=CFG, mode="exact").collect()}
    assert got == {i for i in range(120) if not (i < 12 and i % 2 == 0)}


def test_merge_ann_overlapping_groups_raise(spark, tmp_path):
    cat, _ = _build(spark, str(tmp_path / "overlap"))
    segs = sorted(
        int(r["segment_id"])
        for r in cat.read(spark, "ann_flat").select("segment_id").collect()
    )
    assert len(segs) >= 2
    with pytest.raises(ValueError, match="overlap"):
        A.merge_ann(spark, cat, CFG, groups=[[segs[0], segs[1]], [segs[1], segs[0]]])
    with pytest.raises(ValueError, match="overlap"):
        A.merge_ann(spark, cat, CFG, groups=[[segs[0], segs[0], segs[1]]])


def test_delete_ann_dataframe_requires_ext_id_column(spark, tmp_path):
    """delete_docs parity: a multi-column DataFrame without a named
    ext_id column must raise — columns[0] of a (segment_id, ext_id)
    slice would silently tombstone segment ids as ext ids."""
    cat, df = _build(spark, str(tmp_path / "delcol"))
    bad = spark.createDataFrame([(0, 5), (1, 45)], "segment_id long, vec long")
    with pytest.raises(ValueError, match="ext_id"):
        A.delete_ann(spark, cat, bad, CFG, auto_merge=False)
    # named ext_id column wins regardless of position
    ok = spark.createDataFrame(
        [(0, 5), (1, 45)], "segment_id long, ext_id long"
    )
    A.delete_ann(spark, cat, ok, CFG, auto_merge=False)
    got = {r["ext_id"] for r in A.ann_topk(
        spark, cat, _vec(5), k=120, cfg=CFG, mode="exact"
    ).collect()}
    assert 5 not in got and 45 not in got and got


def test_probe_mode_validated_and_shuffle_never_driver(spark, tmp_path, monkeypatch):
    """Unknown probe_mode raises on both entry points, as do an unknown
    ann_topk mode and filter_mode (with or without a filter);
    probe_mode='shuffle' on the single-query path degrades to the
    DISTRIBUTED probe — never the driver tier it was opting out of
    (poisoned driver pack)."""
    cat, df = _build(spark, str(tmp_path / "probemode"))
    with pytest.raises(ValueError, match="probe_mode"):
        A.ann_topk(spark, cat, _vec(1), k=5, cfg=CFG, mode="ivf",
                   probe_mode="bogus")
    q = spark.createDataFrame(
        [(0, _vec(1))], "q_id long, q_vec array<double>"
    )
    with pytest.raises(ValueError, match="probe_mode"):
        A.knn_join_ivf(spark, cat, q, k=3, probe_mode="bogus")
    # unknown search mode / filter tier raise instead of running a default
    with pytest.raises(ValueError, match="mode"):
        A.ann_topk(spark, cat, _vec(1), k=5, cfg=CFG, mode="sq")
    with pytest.raises(ValueError, match="filter_mode"):
        A.ann_topk(spark, cat, _vec(1), k=5, cfg=CFG, filter_mode="dff",
                   filter_ext_ids={1, 2, 3})
    with pytest.raises(ValueError, match="filter_mode"):
        A.ann_topk_sq(spark, cat, _vec(1), k=5, cfg=CFG, filter_mode="dff")

    def poisoned_pack(*a, **k):
        raise AssertionError("driver centroid pack used under probe_mode='shuffle'")

    monkeypatch.setattr(A, "_centroid_pack", poisoned_pack)
    got = A.ann_topk(
        spark, cat, _vec(1), k=5, cfg=CFG, mode="ivf", probe_mode="shuffle"
    ).collect()
    assert len(got) == 5
