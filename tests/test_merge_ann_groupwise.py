"""Group-wise incremental ANN merge (M1-M6 on the sidecar): merge cost is
proportional to the MERGED segments only — untouched segments' blobs are
never read or rewritten (``CuVS2510GPUVectorsWriter.mergeOneField:479-497``
rebuilds just the MergeState's readers), tombstones follow the per-segment
liveDocs envelope (cleared only where rows were physically dropped), and
the logical-drop + compaction scheme mirrors the text segdata path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.ann import (
    ANN_MERGE_BASE,
    ann_topk,
    build_ann,
    build_ann_pq,
    delete_ann,
    merge_ann,
)
from cuvs_lucene_spark.operators.ann_graph import ann_topk_graph, build_ann_graph

CFG = IndexConfig()
N, DIM, RPS = 300, 8, 50  # 6 build segments of 50


@pytest.fixture()
def xdata():
    rng = np.random.default_rng(77)
    return rng.normal(size=(N, DIM)).astype(np.float32)


@pytest.fixture()
def cat(spark, tmp_path, xdata):
    df = spark.createDataFrame(
        [(i, xdata[i].tolist()) for i in range(N)],
        "vec_id long, embedding array<float>",
    )
    c = build_ann(
        spark, df, str(tmp_path / "gw"), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=RPS,
    )
    build_ann_graph(spark, c, CFG)
    build_ann_pq(spark, c, CFG)
    return c


def _flat_blobs(spark, cat):
    return {
        int(r["segment_id"]): (bytes(r["ext_ids"]), bytes(r["vectors"]))
        for r in cat.read(spark, "ann_flat").collect()
    }


def _exact_ids(x, q, k, dead=()):
    alive = np.array([i for i in range(x.shape[0]) if i not in set(dead)])
    d = ((x[alive].astype(np.float64) - np.asarray(q, np.float64)) ** 2).sum(1)
    return [int(alive[i]) for i in np.lexsort((alive, d))[:k]]


def test_groupwise_merge_touches_only_its_groups(spark, cat, xdata):
    before = _flat_blobs(spark, cat)
    assert sorted(before) == [0, 1, 2, 3, 4, 5]
    dead = {3, 260}  # one id in a merged group, one in an untouched segment
    delete_ann(spark, cat, dead)
    # raise the compaction trigger so the logical-drop bookkeeping stays
    # observable (a 4-of-6-segment merge crosses the default 0.3 fraction)
    nc = IndexConfig(compact_dropped_fraction=0.9)
    new_ids = merge_ann(
        spark, cat, nc, groups=[[0, 1], [2, 3]], rows_per_segment=RPS
    )
    after = _flat_blobs(spark, cat)
    # untouched segments 4 and 5: blobs BYTE-identical (never rewritten)
    for seg in (4, 5):
        assert after[seg] == before[seg]
    # merged-away segments invisible; new ids in the merge namespace
    assert all(s not in after for s in (0, 1, 2, 3))
    minted = sorted(s for s in after if s >= ANN_MERGE_BASE)
    assert minted == sorted(i for ids in new_ids.values() for i in ids)
    # merge cost ∝ merged segments: 199 live rows of the 4 merged segments
    # at rps=50 → exactly 4 new segments, and the appended row total equals
    # the merged groups' live vectors (nothing else was written)
    assert len(minted) == 4
    n_new = sum(
        int(r["n_vecs"]) for r in
        cat.read(spark, "ann_flat")
        .filter(F.col("segment_id") >= ANN_MERGE_BASE).collect()
    )
    assert n_new == 199  # 200 - the one tombstone inside the merged groups
    # logical drops committed with the append
    ent = cat.read_manifest()["tables"]["ann_flat"]
    assert set(ent.get("dropped_segments", [])) >= {0, 1, 2, 3}
    # tombstone in the merged groups is physically gone → cleared; the one
    # in untouched segment 5 stays registered (per-segment liveDocs)
    assert cat.table_lineage("ann_tombstones").get("n") == 1
    q = xdata[7]
    got = [r["ext_id"] for r in
           ann_topk(spark, cat, q, k=10, cfg=CFG, mode="exact").collect()]
    assert got == _exact_ids(xdata, q, 10, dead=dead)
    # every derived format still answers over the merged catalog
    for mode in ("ivf",):
        ids = [r["ext_id"] for r in
               ann_topk(spark, cat, q, k=5, cfg=CFG, mode=mode).collect()]
        assert len(ids) == 5 and not (set(ids) & dead)
    gids = [r["ext_id"] for r in
            ann_topk_graph(spark, cat, q, k=5, cfg=CFG).collect()]
    assert len(gids) == 5 and not (set(gids) & dead)
    # a second merge covering the remaining tombstone's segment clears it
    merge_ann(spark, cat, nc, groups=[[4, 5]], rows_per_segment=RPS)
    assert cat.table_lineage("ann_tombstones").get("n") == 0
    got2 = [r["ext_id"] for r in
            ann_topk(spark, cat, q, k=10, cfg=CFG, mode="exact").collect()]
    assert got2 == got


def test_mass_delete_triggers_envelope_merge(spark, cat, xdata):
    """Tombstone envelope: a delete wave above delete_merge_fraction must
    auto-fire a group-wise merge of ONLY the affected segments — clearing
    the tombstone table — while untouched segments stay byte-identical."""
    before = _flat_blobs(spark, cat)
    # 80 of 300 ids (27% > 25%), all inside segments 0 and 1
    doomed = list(range(0, 80))
    n = delete_ann(spark, cat, doomed, CFG)
    assert n == 0  # auto-merge consumed + cleared the tombstones
    assert cat.table_lineage("ann_tombstones").get("n") == 0
    after = _flat_blobs(spark, cat)
    for seg in (2, 3, 4, 5):  # unaffected segments never rewritten
        assert after[seg] == before[seg]
    assert 0 not in after and 1 not in after
    q = xdata[90]
    got = [r["ext_id"] for r in
           ann_topk(spark, cat, q, k=10, cfg=CFG, mode="exact").collect()]
    assert got == _exact_ids(xdata, q, 10, dead=doomed)
    # a small delete wave below the fraction does NOT merge
    blobs = _flat_blobs(spark, cat)
    n2 = delete_ann(spark, cat, [100], CFG)
    assert n2 == 1 and _flat_blobs(spark, cat) == blobs


def test_full_merge_compacts_and_matches_rebuild(spark, cat, xdata):
    """Default groups=None keeps forceMerge semantics: everything collapses
    into dense new segments, the dropped fraction trips auto-compaction,
    and results equal a delete-filtered rebuild."""
    dead = {3, 250}
    merge_ann(spark, cat, CFG, tombstone_ext_ids=dead, rows_per_segment=100)
    ent = cat.read_manifest()["tables"]["ann_flat"]
    # compaction ran: drop list reset, appends folded into one snapshot
    assert not ent.get("dropped_segments")
    assert not ent.get("appends")
    assert cat.read(spark, "ann_flat").count() == 3  # 298 live / 100
    q = xdata[11]
    got = [r["ext_id"] for r in
           ann_topk(spark, cat, q, k=10, cfg=CFG, mode="exact").collect()]
    assert got == _exact_ids(xdata, q, 10, dead=dead)
    # the ann_ids map followed the merge (filter tier stays correct)
    fdf = spark.createDataFrame([(i,) for i in range(0, N, 2)], "ext_id long")
    flt = [r["ext_id"] for r in ann_topk(
        spark, cat, q, k=5, cfg=CFG, mode="exact",
        filter_ext_ids=fdf, filter_mode="df").collect()]
    assert flt == [i for i in _exact_ids(xdata, q, N, dead=dead) if i % 2 == 0][:5]


MERGE_ANN_JOBS = 12  # Spark jobs of a warm group-wise merge_ann


def test_warm_merge_ann_job_count(spark, cat):
    """A warm group-wise merge runs a pinned number of Spark jobs: the
    group key and each group's segment-id base reach the rows through
    literal maps, not broadcast joins (one job per broadcast), and
    ``ann_flat``'s segment sizes are read by pyarrow (no job)."""
    nc = IndexConfig(compact_dropped_fraction=0.99)
    merge_ann(spark, cat, nc, groups=[[0, 1]], rows_per_segment=RPS)
    sc = spark.sparkContext
    sc.setJobGroup("merge_ann_warm", "merge_ann_warm")
    try:
        new_ids = merge_ann(spark, cat, nc, groups=[[2, 3]], rows_per_segment=RPS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(new_ids[0]) == 2  # 100 live rows → two segments of 50
    assert len(sc.statusTracker().getJobIdsForGroup("merge_ann_warm")) <= MERGE_ANN_JOBS
